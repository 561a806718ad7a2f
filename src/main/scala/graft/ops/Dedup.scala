package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** D1–D4: exact and near-duplicate detection over `documents`, built
  * bucketed from day one (SURVEY §4): no stage ever forms an all-pairs
  * join — candidates come from hash buckets whose shuffle records are
  * (doc_id, band_hash) pairs, and quadratic work only happens inside a
  * bucket (size-capped).
  */
object Dedup {

  // ---------- shared text → shingle machinery ----------

  /** Word 3-shingles over an already-projected words array, deduplicated;
    * empty array when the doc has fewer than 3 words.
    *
    * `words` MUST be a bound column (project `split(lower(text), " ")`
    * first), never the split expression inline: Catalyst has no
    * common-subexpression elimination inside higher-order-function
    * lambdas, so an inline split is re-evaluated by every `element_at`
    * of every shingle — measured 150× the per-doc split cost (r8; the
    * whole decontaminate query dropped 14.7s → ~1s at sf0.1 from this).
    * Because the words alias is referenced several times here,
    * CollapseProject keeps the projection materialized per row.
    */
  def shinglesOfWords(words: Column): Column =
    when(size(words) >= 3,
      array_distinct(transform(sequence(lit(0), size(words) - 3), i =>
        concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2), element_at(words, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** (doc_id, sh) shingle relation over a documents-shaped input, with the
    * words array projected once per row (see `shinglesOfWords`); keeps all
    * other columns, drops docs with no shingles.
    */
  def withShingles(documents: DataFrame): DataFrame =
    Tables.fanOut(documents)
      .withColumn("graft_ws", split(lower(col("text")), " "))
      // same set as filter(size(sh) > 0) — a doc shingles iff it has ≥3
      // words — but this predicate pushes down as ONE split() per row,
      // whereas size(sh) > 0 would push past the projections and
      // re-substitute the full duplicated shingle expression into the
      // filter (the 150-splits-per-doc trap this helper exists to avoid)
      .filter(size(col("graft_ws")) >= 3)
      .withColumn("sh", shinglesOfWords(col("graft_ws")))
      .drop("graft_ws")

  // ---------- D1: exact dedup ----------

  /** Exact dedup on whitespace-normalized lowercase text: hash groupBy,
    * keep-min representative. One shuffle on the 128-bit content hash; at
    * 100 TB the payload never moves, only (hash, doc_id).
    */
  def exact(s: SparkSession, d: String): DataFrame =
    exactOn(Tables.documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h")))

  /** D1 over a caller-provided `(doc_id, h)` relation. When that relation
    * is a table BUCKETED (+sorted) on `h` — the warehouse layout a corpus
    * deduped every refresh should be written in — the window's
    * ClusteredDistribution is satisfied by the scan and the plan has ZERO
    * shuffle Exchange (asserted in BucketingSpec; `dedup_bucketed` gates
    * the result against the same oracle as `dedup_exact`).
    */
  def exactOn(hashed: DataFrame): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("h")
    hashed
      // one shuffle on the content hash (a groupBy+join-back would shuffle
      // twice) — and none at all when the input is bucketed on h
      .withColumn("keeper", min("doc_id").over(byHash))
      .select(col("doc_id"), col("keeper"), (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** D1b `dedup_bucketed`: the zero-exchange layout applied end-to-end —
    * hash the corpus once, write it bucketed+sorted on `h` (the
    * per-table-layout discipline a recurring dedup pipeline earns back on
    * every later run), then dedup with NO shuffle: the bucketed scan
    * already clusters rows by hash. Result is bit-identical to
    * `dedup_exact` and gated by the same oracle.
    */
  def exactBucketed(s: SparkSession, d: String): DataFrame = {
    val tag = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_]", "_")
    val table = s"graft_docs_hashed_$tag"
    graft.relational.Bucketing.reset(s, table)
    graft.relational.Bucketing.writeBucketed(
      Tables.documents(s, d).select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h")),
      table, "h")
    exactOn(s.table(table))
  }

  /** D27: incremental exact dedup — dedupe an INCOMING batch against an
    * existing corpus snapshot without re-shuffling the old corpus (the
    * shape every recurring crawl/refresh run needs; full-corpus re-dedup
    * is the thing you stop affording first at 100 TB).
    *
    * Prefilter-then-verify:
    *  1. ONE aggregation over the old corpus builds a Roaring bitmap of
    *     32-bit content-hash prefixes ([[graft.functions.BitmapBuild]]) —
    *     map-side partials merge as compressed runs; the result (KBs–MBs)
    *     ships to the main query as a plan constant, the same way a bloom
    *     prefilter ships. No false negatives, so bitmap-negative incoming
    *     rows (the vast majority on a typical refresh) are provably novel
    *     and never join.
    *  2. Bitmap-positive candidates (true dups + 32-bit collisions) are
    *     verified EXACTLY: the tiny candidate hash set broadcasts back
    *     against the old corpus — a map-side semi-join, so the old corpus
    *     is scanned but never shuffled — and matches carry min(old_id).
    *
    * 32-bit prefix capacity: ~4G distinct keys before saturation (then
    * every row verifies — correct, just no pruning); widen the prefix to
    * taste beyond that. Here old = doc_id % 5 != 0, incoming = % 5 == 0.
    *
    * The driver-side `.head` materializes ONE aggregated row (the bitmap
    * bytes) — the broadcast-build pattern, not a driver-side data loop.
    */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val h = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h")
    incrementalOn(s,
      Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("old_id"), h),
      Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), h))
  }

  /** D27 over caller-provided `base (old_id, h)` / `incoming (doc_id, h)`
    * relations. The old corpus is scanned, never shuffled; when `base` is
    * additionally a table bucketed on `h`, the verify leg's `groupBy(h)`
    * is satisfied by the scan too and the WHOLE plan carries zero shuffle
    * Exchange (BucketingSpec) — the recurring-refresh layout.
    */
  def incrementalOn(s: SparkSession, base: DataFrame, incoming: DataFrame): DataFrame = {
    val k32 = conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("k")
    val bmBytes = base.select(k32)
      .agg(graft.functions.BitmapBuild.column(col("k")))
      .head().getAs[Array[Byte]](0)
    val inc = incoming.withColumn("k", k32)
    val candidates = inc
      .filter(GraftBridge.column(graft.functions.BitmapContains(
        GraftBridge.expression(lit(bmBytes)), GraftBridge.expression(col("k")))))
    // left-semi: dup candidate hashes dedup inside the broadcast build —
    // a .distinct() here would add the plan's only shuffle for nothing
    val matched = base.join(broadcast(candidates.select("h")), Seq("h"), "leftsemi")
      .groupBy("h").agg(min("old_id").as("matched_old"))
    inc.join(broadcast(matched), Seq("h"), "left")
      .select(col("doc_id"), col("matched_old").isNotNull.as("is_dup"), col("matched_old"))
      .orderBy("doc_id")
  }

  /** D27b: exact-dedup maintenance under REMOVALS — the retraction
    * member of the dedup family (r11 theme: ivm_retract, scd2_deletes).
    * Removing a document can orphan its group (keeper removed → the
    * smallest survivor is re-elected) or dissolve it. Hash groups are
    * removal-LOCAL by construction — a deletion can only change its own
    * group's keeper — so maintenance touches O(|affected groups|):
    * untouched keeper rows pass through by anti-join, only groups
    * holding a removed doc re-elect. That locality is exactly what the
    * near-dup candidate graph does NOT have (its bucket caps make the
    * blocking graph globally removal-sensitive — SURVEY §9), which is
    * why the decremental form covers the exact family and near-dup
    * removals take the rebuild-affected-components path instead.
    * Removal set here: doc_id % 23 = 0; the oracle recomputes the
    * post-removal corpus from scratch — equality is the locality proof.
    */
  def decremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val stored = docs.withColumn("keeper", min("doc_id").over(w)) // production: stored relation
    val affected = stored.filter(col("doc_id") % 23 === 0).select("h").distinct()
    val untouched = stored.join(affected, Seq("h"), "left_anti")
    val rebuilt = stored.join(affected, Seq("h"), "left_semi")
      .filter(col("doc_id") % 23 =!= 0)
      .withColumn("keeper", min("doc_id").over(w))
    untouched.unionByName(rebuilt)
      .select(col("doc_id"), col("keeper"), (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy("doc_id")
  }

  val decrementalOracleSql: String = """
    WITH r AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents WHERE doc_id % 23 <> 0)
    SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS keeper,
      doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_dup
    FROM r ORDER BY doc_id"""

  /** Exact ground truth for D27 — the bitmap is a pure prefilter, so the
    * output must equal the plain hash-join answer.
    */
  val incrementalOracleSql: String = """
    WITH hs AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents),
    base AS (SELECT doc_id AS old_id, h FROM hs WHERE doc_id % 5 <> 0),
    inc AS (SELECT doc_id, h FROM hs WHERE doc_id % 5 = 0),
    m AS (SELECT h, min(old_id) AS matched_old FROM base GROUP BY h)
    SELECT doc_id, (matched_old IS NOT NULL) AS is_dup, matched_old
    FROM inc LEFT JOIN m USING (h) ORDER BY doc_id"""

  // ---------- D2: MinHash + LSH ----------

  /** Deterministic universal-hash parameters a·x+b mod P over a 2^32
    * domain; a is kept < 2^29 so a·x never overflows a signed 64-bit long.
    */
  val MinhashP = 4294967311L // smallest prime > 2^32
  val NumPerms = 64
  val NumBands = 16 // 4 rows per band

  def permParams(n: Int, seed: Long = 42L): IndexedSeq[(Long, Long)] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    (0 until n).map { _ =>
      val a = (next() >>> 35) | 1L // odd, < 2^29
      val b = next() >>> 32       // < 2^32 < P
      (a, b)
    }
  }

  private def minhashSig(hx: Column): Column =
    GraftBridge.column(MinhashSig(GraftBridge.expression(hx)))

  /** doc_id + distinct hashed shingles (single-pass kernel). */
  def hashedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      GraftBridge.column(ShingleHashes(GraftBridge.expression(col("text")))).as("hx"))
      .filter(size(col("hx")) > 0)

  /** doc_id + minhash signature (array of NumPerms longs), computed in a
    * single pass over the hashed shingles by the MinhashSig kernel.
    */
  def signatures(docs: DataFrame): DataFrame =
    hashedShingles(docs).select(col("doc_id"), minhashSig(col("hx")).as("sig"))

  /** Candidate pairs from banded signatures. Shuffle payload is one
    * (band_id, band_hash, doc_id) triple per band per doc. Intra-bucket
    * fan-out is quadratic only up to `maxBucket`; a larger bucket (a
    * giant duplicate group, or an adversarial band collision) degrades to
    * a star pattern — first id paired to every other — which keeps the
    * group CONNECTED for downstream clustering at linear cost instead of
    * silently dropping it.
    */
  def candidatePairs(sigs: DataFrame, maxBucket: Int = 64): DataFrame = {
    val rows = NumPerms / NumBands
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(":", (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*)).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .groupBy("band", "bh")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(cappedPairs(col("ids"), maxBucket)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** All i<j pairs up to `maxBucket` ids; beyond that, a first-id star
    * (linear, connectivity-preserving).
    */
  def cappedPairs(ids: Column, maxBucket: Int): Column =
    when(size(ids) <= maxBucket, pairsFromSorted(ids))
      .otherwise(transform(slice(ids, lit(2), size(ids)), y =>
        struct(element_at(ids, 1).as("a"), y.as("b"))))

  /** All ordered pairs (ids[i], ids[j]) with i<j from a sorted id array. */
  def pairsFromSorted(ids: Column): Column =
    flatten(transform(sequence(lit(0), size(ids) - 2), i =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(element_at(ids, i + 1).as("a"), y.as("b")))))

  /** Deterministic (lang, length-band) candidate pairs over a (doc_id,
    * lang, n_chars) relation, CAPPED exactly like the minhash band buckets:
    * each bucket collects its sorted member ids, emits all i<j pairs up to
    * `maxBucket`, and degrades to a first-id star beyond that. A dense
    * band (10k same-length docs in one lang) therefore costs O(n), not
    * O(n²) — the one scale hazard the r3 uncapped self-join had. The cap
    * is fully deterministic (numeric doc_id sort), so the DuckDB oracle
    * replays it: pairs survive iff bucket_size ≤ maxBucket OR a = bucket
    * min. Star pairs still go through the downstream exact verify, so the
    * degrade can only *drop* candidates (same contract as
    * `candidatePairs`), never emit a false positive.
    */
  def bandedCandidates(docs: DataFrame, maxBucket: Int = 64): DataFrame = {
    val slim = docs.select(col("doc_id"), col("lang"),
      explode(array(expr("n_chars DIV 64"), expr("n_chars DIV 64 + 1"))).as("bkt"))
    slim.groupBy("lang", "bkt")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(cappedPairs(col("ids"), maxBucket)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** The D2 pipeline over a (doc_id, hx) hashed-shingle relation:
    * signatures → banded candidates → merge-scan jaccard verify ≥ 0.7.
    * Pure plan construction — no persist, no checkpoint — so PlanDoc and
    * plan tests can inspect the operator's REAL physical plan (ADVICE r7:
    * the checkpointed `minhash` documents only a Scan ExistingRDD).
    */
  def minhashPipeline(sh: DataFrame): DataFrame = {
    val sigs = sh.select(col("doc_id"), minhashSig(col("hx")).as("sig"))
    val cands = candidatePairs(sigs)
    cands
      .join(sh.select(col("doc_id").as("a"), col("hx").as("sh_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("hx").as("sh_b")), Seq("b"))
      // hx arrays are sorted (ShingleHashKernel) → merge-scan count instead
      // of materializing intersection/union arrays per candidate pair
      .select(col("a"), col("b"),
        GraftBridge.column(SortedInterCount(
          GraftBridge.expression(col("sh_a")), GraftBridge.expression(col("sh_b")))).as("inter_n"),
        (size(col("sh_a")) + size(col("sh_b"))).as("size_sum"))
      .select(col("a"), col("b"), col("inter_n"),
        (col("size_sum") - col("inter_n")).as("union_n"))
      .filter(col("inter_n") * 10 >= col("union_n") * 7)
      .orderBy("a", "b")
  }

  /** Lazy, un-persisted form of the D2 plan for plan documentation and
    * plan assertions: identical operator tree to `minhash` minus the
    * cache/checkpoint lifecycle (the shingle kernel would run twice if
    * this were executed — use `minhash` to actually run it).
    */
  def minhashPlan(s: SparkSession, d: String): DataFrame =
    minhashPipeline(hashedShingles(Tables.documents(s, d).select("doc_id", "text")))

  /** D2 query: verified near-dup pairs — jaccard(shingles) ≥ 0.7, checked
    * exactly but only on LSH candidates (never all pairs).
    */
  def minhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // One kernel pass: signatures AND the verify step both read the hashed
    // shingles, so materialize them once (the kernel dominates the cost —
    // without the persist it runs twice over the whole corpus). At full
    // scale the equivalent is staging hx to parquet; MEMORY_AND_DISK is the
    // single-job analog. The cache is self-contained: the (pair-sized)
    // result is materialized eagerly below and the corpus-sized shingle
    // cache is dropped before returning — callers hold only the result.
    val sh = hashedShingles(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      minhashPipeline(sh)
        .localCheckpoint() // eager: pair-sized blocks, reclaimed by ContextCleaner
    } finally sh.unpersist(blocking = false)
  }

  // ---------- D19: substring-level exact dedup (repeated spans) ----------

  /** D19 query: exact repeated ≥k-token spans ACROSS documents — the
    * substring-level member of the dedup family (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): document-level (D1) and
    * near-dup (D2–D5b) dedup miss a boilerplate paragraph pasted into
    * otherwise-distinct documents; this operator finds it. Every k-token
    * window is hashed; a window whose hash occurs in ≥2 DISTINCT documents
    * is duplicated; per document, overlapping/adjacent duplicated windows
    * merge into maximal spans (1-based token positions, inclusive).
    *
    * Shape at 100 TB: window hashing is a narrow per-doc pass. The
    * duplicated-window set comes from ONE hash-keyed aggregation whose
    * partial form is (min, max) doc_id — map-side combinable, never a
    * collect_list, so a window repeated a billion times costs one combiner
    * cell per partition — and the mark-back is a hash-equality join that
    * reuses the aggregation's own shuffle partitioning (ReusedExchange).
    * The only other shuffle keys on doc_id for the island merge. Nothing
    * is ever doc×doc, and no bucket is ever materialized as a list.
    */
  def spans(s: SparkSession, d: String, k: Int = 8): DataFrame =
    spansOn(Tables.documents(s, d).select("doc_id", "text"), k)

  def spansOn(documents: DataFrame, k: Int): DataFrame = {
    // words projected once per row, then referenced as a bound attribute —
    // an inline split would be re-evaluated by every slice() of every
    // window (no CSE inside higher-order-function lambdas; see
    // `shinglesOfWords`)
    val w = col("graft_w")
    // md5 of the k-token window text: identical in DuckDB, so the full
    // pipeline (hash → cross-doc test → island merge) SQL-replays exactly.
    // fanOut: the window hashing is the query's dominant CPU (an md5 per
    // k-token window) and must not be bound to the input split count.
    val wins = Tables.fanOut(documents)
      .select(col("doc_id"), split(lower(col("text")), " ").as("graft_w"))
      .select(col("doc_id"),
        when(size(w) >= k,
          transform(sequence(lit(1), size(w) - (k - 1)), i =>
            struct(i.as("pos"), md5(concat_ws(" ", slice(w, i, lit(k)))).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:string>>")).as("ws"))
      .select(col("doc_id"), explode(col("ws")).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.h").as("h"))
    val dupH = wins.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") < col("mx")) // in ≥2 distinct docs, without countDistinct's Expand
      .select("h")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    wins.join(dupH, Seq("h"))
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk", when(col("prev").isNull || col("pos") > col("prev") + k, 1).otherwise(0))
      .withColumn("island", sum("brk").over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"), (max("pos") + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** D17: benchmark decontamination — the training-corpus hygiene step
    * every LLM pipeline runs before training: flag corpus documents that
    * share ≥ `minHits` distinct word 3-shingles with ANY benchmark/eval
    * document, so eval data never leaks into the training mix. Here the
    * "benchmark" is the deterministic doc_id % 23 == 0 slice (a stand-in
    * for a real eval suite).
    *
    * Shape at 100 TB: the eval set is tiny (benchmarks are thousands of
    * docs) → its exploded (shingle, eval_id) relation BROADCASTS; the
    * corpus explodes its shingles once and the match is a shingle-equality
    * hash join — never a doc×doc comparison — followed by a (doc, eval)
    * hit-count aggregate. Cost: one corpus scan + map-side join, shuffle
    * only the matched (doc_id, eval_id) hits.
    */
  def decontaminate(s: SparkSession, d: String, minHits: Int = 8): DataFrame = {
    val docs = withShingles(Tables.documents(s, d)).select("doc_id", "sh")
    val evalSh = docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("shingle"))
    val corpusSh = docs.filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    corpusSh.join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .orderBy("doc_id", "eval_id")
  }

  /** D17b `decontaminate_bloom`: D17's semantics behind a Bloom-filter
    * prefilter — the shape that survives when the eval suite stops being
    * broadcast-sized. D17 ships the FULL exploded (shingle, eval_id)
    * relation to every executor; at a few hundred million eval shingles
    * that broadcast is gigabytes. Here the eval side first collapses to a
    * FIXED-SIZE Bloom filter (Spark's own `BloomFilterAggregate` over
    * xxhash64(shingle) — partials merge by bitwise OR, the result rides
    * the plan as one scalar-subquery binary), the corpus shingle stream is
    * membership-tested MAP-SIDE — at typical contamination rates ~every
    * clean shingle drops before any join — and only the survivors meet
    * the exact equality join + hit-count threshold. False positives cost
    * a doomed join probe, never a wrong row: the verify join keeps the
    * output bit-identical to D17 (same oracle SQL). numBits is the knob
    * that must grow with |eval shingles| (bits ≈ 10× items for ~1% FP);
    * both knobs surface as parameters.
    */
  def decontaminateBloom(s: SparkSession, d: String, minHits: Int = 8,
      estItems: Long = 1L << 16, numBits: Long = 1L << 20): DataFrame = {
    val docs = withShingles(Tables.documents(s, d)).select("doc_id", "sh")
    val evalSh = docs.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("shingle"))
    val corpusSh = docs.filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    // the bloom must be a scalar subquery: BloomFilterMightContain demands
    // a foldable/subquery filter side (the same contract the runtime-filter
    // rewrite rides), which is exactly what lets it evaluate as a constant
    // per task instead of a join
    val bloom = evalSh.agg(bloomAgg(xxhash64(col("shingle")), estItems, numBits)).scalar()
    corpusSh.filter(mightContain(bloom, xxhash64(col("shingle"))))
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .orderBy("doc_id", "eval_id")
  }

  /** Spark's `BloomFilterAggregate` over a long column: one fixed-size
    * filter of `numBits` bits sized for `estItems` items, as binary.
    */
  def bloomAgg(c: Column, estItems: Long, numBits: Long): Column =
    GraftBridge.column(new BloomFilterAggregate(GraftBridge.expression(c),
      Literal(estItems), Literal(numBits)).toAggregateExpression())

  /** Bloom membership test of a long column against a `bloomAgg` result,
    * which must be foldable or a scalar subquery.
    */
  def mightContain(bloom: Column, c: Column): Column =
    GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(bloom), GraftBridge.expression(c)))

  /** D16: containment pairs — |A∩B| / min(|A|,|B|) ≥ 0.8, the asymmetric
    * metric that catches excerpt/superset near-dups jaccard misses (a
    * short doc fully contained in a long one has low jaccard but
    * containment 1.0). Candidates come from the same deterministic
    * (lang, length-band) buckets as D4 so the DuckDB oracle can replay
    * them; at scale the candidate source is the minhash band buckets
    * (seed-dependent, rows-only), where cross-length pairs also surface.
    * Integer cross-multiplied threshold keeps the compare exact.
    */
  def containment(s: SparkSession, d: String): DataFrame = {
    val docs = withShingles(Tables.documents(s, d))
    val cands = bandedCandidates(docs)
    val sh = docs.select(col("doc_id"), col("sh"))
    cands
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter_n"),
        least(size(col("sh_a")), size(col("sh_b"))).as("min_n"))
      .filter(col("inter_n") * 10 >= col("min_n") * 8)
      .orderBy("a", "b")
  }

  // ---------- D3: SimHash ----------

  /** D3 query: 64-bit simhash near-dups at hamming ≤ 3, candidates from
    * 16-bit chunk buckets (pigeonhole: ≤3 differing bits leave at least
    * one of the 4 chunks identical).
    */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextKernels.simhash64(col("text")).as("sig"))
    val chunks = docs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"), shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("cv"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    val buckets = chunks.groupBy("ci", "cv")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) >= 2)
    val sigsById = docs.select(col("doc_id").as("a"), col("sig").as("sig_a"))
    buckets
      .select(explode(cappedPairs(transform(col("ms"), m => m.getField("doc_id")), 64)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
      .join(sigsById, Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .select(col("a"), col("b"), bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("a", "b")
  }

  // ---------- D4: exact n-gram jaccard on banded candidates ----------

  /** D4 query: exact 3-shingle jaccard for candidates sharing
    * (lang, length-band) — band width 64 chars, each doc probing its own
    * and the next band so boundary-straddling pairs aren't missed.
    * Integer cross-multiplied threshold (j ≥ 0.5 ⇔ 2·inter ≥ union) keeps
    * the compare exact in both engines.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardOn(Tables.documents(s, d))

  /** Same banded exact-jaccard, over an arbitrary (doc_id, lang, n_chars,
    * text) relation, ordered by (a, b).
    */
  def ngramJaccardOn(documents: DataFrame): DataFrame =
    ngramJaccardPairs(documents).orderBy("a", "b")

  /** [[ngramJaccardOn]]'s pairs in no particular order, for callers that
    * consume them as a set — lets them pre-collapse exact duplicates so
    * the within-band quadratic verify runs on unique texts only, and pay
    * no range sort.
    */
  def ngramJaccardPairs(documents: DataFrame): DataFrame = {
    val docs = withShingles(documents)
    val cands = bandedCandidates(docs)
    val sh = docs.select(col("doc_id"), col("sh"))
    cands
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter_n"),
        size(array_union(col("sh_a"), col("sh_b"))).as("union_n"))
      .filter(col("inter_n") * 2 >= col("union_n"))
  }
}
