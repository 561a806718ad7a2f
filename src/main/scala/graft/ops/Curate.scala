package graft.ops

import graft.Tables
import graft.functions.{FrequentItemsSketch, TopKAggregate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E1: end-to-end training-corpus curation — the composition a real
  * LLM-data pipeline runs: exact dedup (keep-min representative) →
  * token-count bounds → stopword-quality floor, in ONE pass over the
  * corpus (single shuffle on the content hash; every predicate is a
  * column expression so the whole filter chain stays in codegen).
  */
object Curate {

  def query(s: SparkSession, d: String): DataFrame = {
    val byHash = Window.partitionBy("h")
    val w = split(lower(col("text")), " ")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .withColumn("keeper", min("doc_id").over(byHash))
      .filter(col("keeper") === col("doc_id"))
      .withColumn("n_tok", size(w))
      .withColumn("n_stop",
        size(filter(w, t => TextAnalysis.stopwords("en").map(x => t === x).reduce(_ || _))))
      .filter(col("n_tok").between(20, 500) && col("n_stop") >= 1)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("n_stop"))
      .orderBy("doc_id")
  }

  /** E22 `curate_cdc`: E1's curation as an INCREMENTAL consumer of the
    * A31 snapshot store — the per-release refresh a 100 TB corpus
    * actually runs, where reprocessing the whole table per drop is the
    * thing that doesn't scale. Documents land as three appended releases
    * (split by doc_id RANGE — each release is a contiguous id band);
    * the consumer processes ONLY `readChanges(n-1, n)` per release:
    * hash → keeper-within-increment (min doc_id) → anti-join against
    * the already-seen hash state → gates on the fresh keepers only.
    * Work per release is O(increment + state probe), never O(corpus).
    *
    * Exactness argument (why the oracle is E1's own relation): E1 keeps
    * the GLOBAL min doc_id per hash, gates applied to that keeper row.
    * With range-split releases, a hash group's global-min doc_id lies in
    * the EARLIEST release containing any member; within that increment
    * the window min recovers it, and the anti-join makes later members
    * invisible — first-seen-wins ≡ global-min-wins. (A hash-partitioned
    * release split would NOT have this property; the range split is the
    * point, and it is also the natural shape of monotonically-ID'd
    * drops.) The hash gate then proves incremental ≡ full recompute.
    */
  /** One CDC release's work unit: hash → keeper-within-increment →
    * anti-join the seen-hash state → gates on fresh keepers only.
    * Returns (fresh keepers incl. hash, gated output rows). Factored so
    * PlanOnly/AllPlansSpec see the un-checkpointed increment tree.
    */
  private[graft] def cdcStep(inc: DataFrame, seen: Option[DataFrame]): (DataFrame, DataFrame) = {
    val w = split(lower(col("text")), " ")
    val keepers = inc
      .select(col("doc_id"), col("lang"), col("text"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("keeper") === col("doc_id")).drop("keeper")
    val fresh = seen.fold(keepers)(st => keepers.join(st, Seq("h"), "left_anti"))
    val gated = fresh
      .withColumn("n_tok", size(w))
      .withColumn("n_stop",
        size(filter(w, t => TextAnalysis.stopwords("en").map(x => t === x).reduce(_ || _))))
      .filter(col("n_tok").between(20, 500) && col("n_stop") >= 1)
      .select(col("doc_id"), col("lang"), col("n_tok"), col("n_stop"))
    (fresh, gated)
  }

  def curateCdc(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_cdc")
    try {
      import graft.etl.Snapshots
      val docs = Tables.documents(s, d)
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      Snapshots.publish(s, root, docs.filter(col("doc_id") <= b1))
      Snapshots.publish(s, root,
        docs.filter(col("doc_id") > b1 && col("doc_id") <= b2), append = true)
      Snapshots.publish(s, root, docs.filter(col("doc_id") > b2), append = true)
      var seen: DataFrame = null
      var kept: DataFrame = null
      (1 to 3).foreach { n =>
        val inc = if (n == 1) Snapshots.readAt(s, root, 1)
                  else Snapshots.readChanges(s, root, n - 1, n)
        val (fresh, gated) = cdcStep(inc, Option(seen))
        // truncate lineage per release: state is a TABLE, not a plan
        val freshH = fresh.select("h")
        seen = (if (seen == null) freshH else seen.union(freshH)).localCheckpoint()
        kept = (if (kept == null) gated else kept.union(gated)).localCheckpoint()
      }
      kept.orderBy("doc_id")
    } finally {
      import scala.collection.JavaConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** E3: deterministic stratified sampling — the corpus-mixing primitive
    * (downsample the dominant language, keep low-resource ones whole).
    * Selection is a pure hash of the doc id (md5 prefix → bucket in
    * [0,1000)), so the sample is reproducible across runs, partitionings
    * and engines — `rand()`-based sampling is none of those.
    */
  val sampleRateX1000: Map[String, Int] = Map("en" -> 200) // others: keep all

  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000).as("bucket")
    val rate = sampleRateX1000.foldLeft(lit(1000)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket)
      .filter(col("bucket") < rate)
      .orderBy("doc_id")
  }

  val sampleOracleSql: String = """
    SELECT doc_id, lang, bucket FROM (
      SELECT doc_id, lang,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket
      FROM documents) t
    WHERE bucket < (CASE WHEN lang = 'en' THEN 200 ELSE 1000 END)
    ORDER BY doc_id"""

  /** E19: weighted sampling WITHOUT replacement — the token-budget subset
    * selector (pick k docs with inclusion probability proportional to
    * token count, so the sample's token mass tracks the corpus's). The
    * Efraimidis–Spirakis one-pass rule: each row draws an exponential
    * priority key ~ Exp(w) and the k SMALLEST keys are the sample; the
    * draw is a pure md5 hash of doc_id, so the sample is reproducible
    * across runs, partitionings and engines.
    *
    * The exponential key −ln(u)/w is computed ENTIRELY in fixed-point
    * integer arithmetic so both engines agree bit-for-bit (no libm
    * drift — the D22 floor-log2 discipline): with u = m/2³² from the
    * md5 prefix, −log2(u)·2²⁰ = 32·2²⁰ − (⌊log2 m⌋·2²⁰ + frac), where
    * ⌊log2 m⌋ = len(bin(m))−1 exactly and frac linearly interpolates
    * the mantissa (m·2²⁰ div 2^⌊log2 m⌋ − 2²⁰). The interpolation is a
    * ≤0.0861-bit piecewise-linear overshoot of true log2 applied
    * IDENTICALLY to every row — a slight, uniform tilt of the key
    * distribution, not a per-row bias.
    *
    * Shape at 100 TB: one corpus scan, zero shuffles before the top-k —
    * the k smallest keys plan as TakeOrderedAndProject (per-partition
    * heaps + k-row driver merge), never a global sort. This is the
    * sampling dual of B30's bounded top-k aggregate.
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val Q = 1048576L // 2^20 fixed-point scale
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") + 1L).as("m")) // u = m/2^32, m in [1, 2^32]
      .withColumn("b", (length(bin(col("m"))) - 1).cast("long")) // floor(log2 m)
      .withColumn("neg_log2u_q",
        lit(32L * Q) - (col("b") * Q
          + expr(s"m * ${Q}L div shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))") - Q))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"neg_log2u_q * ${Q}L div n_tokens").as("priority"))
      .orderBy("priority", "doc_id")
      .limit(100)
  }

  val sampleWeightedOracleSql: String = """
    WITH w AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1 AS m
      FROM documents),
    k AS (SELECT doc_id, n_tokens,
        32 * 1048576 - ((len(bin(m)) - 1) * 1048576
          + m * 1048576 // (CAST(1 AS BIGINT) << (len(bin(m)) - 1)) - 1048576) AS neg_log2u_q
      FROM w)
    SELECT doc_id, n_tokens,
      CAST(neg_log2u_q * 1048576 // n_tokens AS BIGINT) AS priority
    FROM k ORDER BY priority, doc_id LIMIT 100"""

  /** E4: corpus vocabulary top-k — explode tokens, count occurrences and
    * document frequency, keep the 100 heaviest. The classic heavy-shuffle
    * op: explode multiplies rows ~90×, but map-side partial aggregation
    * collapses them back to distinct-tokens-per-partition before the
    * shuffle, so the wire carries the vocabulary, not the corpus.
    */
  def vocabTopk(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("tok"))
      .limit(100)

  /** E5: sequence packing — concatenate-and-chunk docs into fixed
    * token-budget training sequences (GPT-style). Docs are spread over
    * deterministic buckets (at scale: one bucket per output shard), ordered
    * by doc_id within bucket, and assigned seq_id = exclusive-prefix-sum of
    * token counts DIV budget. One window pass; no driver-side loop.
    */
  val PackBudget = 512
  val PackBuckets = 8

  def packSequences(s: SparkSession, d: String): DataFrame = {
    val byBucket = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % PackBuckets).as("bucket"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(byBucket), lit(0L)))
      .select(col("doc_id"), col("bucket"), col("n_tok"),
        expr(s"cum_before DIV $PackBudget").as("seq_id"),
        expr(s"cum_before % $PackBudget").as("seq_off"))
      .orderBy("doc_id")
  }

  val vocabOracleSql: String = """
    SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
    GROUP BY tok ORDER BY n DESC, tok LIMIT 100"""

  val packOracleSql: String = """
    SELECT doc_id, bucket, n_tok,
      CAST(cum_before // 512 AS BIGINT) AS seq_id,
      CAST(cum_before % 512 AS BIGINT) AS seq_off FROM (
      SELECT doc_id, doc_id % 8 AS bucket,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
          PARTITION BY doc_id % 8 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM documents) t
    ORDER BY doc_id"""

  val oracleSql: String = """
    WITH base AS (
      SELECT doc_id, lang, text,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents),
    keep AS (
      SELECT doc_id, lang, text,
        min(doc_id) OVER (PARTITION BY h) AS keeper FROM base),
    feat AS (
      SELECT doc_id, lang,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
        CAST(len(list_filter(string_split(lower(text), ' '),
          t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) AS n_stop
      FROM keep WHERE keeper = doc_id)
    SELECT doc_id, lang, n_tok, n_stop FROM feat
    WHERE n_tok BETWEEN 20 AND 500 AND n_stop >= 1
    ORDER BY doc_id"""

  /** E8: temperature-weighted domain mixing — the corpus-rebalancing step
    * (multilingual α-sampling, GPT-3/PaLM style): stratum s gets a sampling
    * budget ∝ count_s^α with α = 1/2, flattening the head language's
    * dominance while keeping low-resource strata (rate caps at 1).
    *
    * Everything is exact integer arithmetic so the oracle hash-matches:
    *   w_s        = isqrt(count_s)   (floor-sqrt, FP sqrt + ±1 correction —
    *                exact for counts < 2^52 in both engines)
    *   target_s   = (N DIV 2) · w_s DIV Σw      (budget = half the corpus)
    *   rate_x1e6  = min(10⁶, target_s · 10⁶ DIV count_s)
    * and selection is the reproducible md5-bucket of sampleStratified (no
    * rand(): same sample across runs, partitionings and engines).
    *
    * Scale shape: stratum stats are a tiny aggregate broadcast back into
    * the scan; the keep-filter is a per-row hash compare — the corpus is
    * read once and never shuffled.
    */
  def domainMix(s: SparkSession, d: String): DataFrame = {
    // corpus totals WITHOUT a second corpus scan and WITHOUT a global
    // window: the per-stratum frame and its grand total both consume the
    // SAME lang-keyed exchange (partial-agg → shuffle), so ReuseExchange
    // reads the corpus once (asserted in PlanSpec) while the totals ride
    // a broadcast scalar instead of an unpartitioned whole-frame window.
    // lang is filtered non-null EXPLICITLY (a null-lang doc can never be
    // selected — the rate join drops it — so it must not count toward the
    // budget either; the oracle states the same bound): without it the
    // join infers isnotnull into one consumer branch only and the two
    // exchanges stop being canonically equal — no reuse, corpus read 2×
    val strat = Tables.documents(s, d).filter(col("lang").isNotNull)
      .groupBy("lang").agg(count(lit(1)).as("c"))
      .withColumn("r0", expr("CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        "CASE WHEN r0 * r0 > c THEN r0 - 1 WHEN (r0+1) * (r0+1) <= c THEN r0 + 1 ELSE r0 END"))
    val tot = strat.agg(sum("c").as("n_total"), sum("w").as("sum_w"))
    val rates = strat.crossJoin(broadcast(tot))
      .withColumn("target", expr("(n_total DIV 2) * w DIV sum_w"))
      .withColumn("rate_x1e6", expr("least(1000000, target * 1000000 DIV c)"))
      .select("lang", "rate_x1e6")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000).as("bucket"))
      .join(broadcast(rates), "lang")
      .filter(col("bucket") < col("rate_x1e6"))
      .select("doc_id", "lang", "bucket", "rate_x1e6")
      .orderBy("doc_id")
  }

  val domainMixOracleSql: String = """
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents
      WHERE lang IS NOT NULL GROUP BY lang),
    ws AS (
      SELECT lang, c,
        CASE WHEN r0 * r0 > c THEN r0 - 1
             WHEN (r0+1) * (r0+1) <= c THEN r0 + 1 ELSE r0 END AS w
      FROM (SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS r0 FROM counts) t),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, CAST(sum(w) AS BIGINT) AS sum_w FROM ws),
    rates AS (
      SELECT lang,
        least(1000000, ((n_total // 2) * w // sum_w) * 1000000 // c) AS rate_x1e6
      FROM ws, tot)
    SELECT doc_id, lang, bucket, CAST(rate_x1e6 AS BIGINT) AS rate_x1e6 FROM (
      SELECT doc_id, lang,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
      FROM documents) d
    JOIN rates USING (lang)
    WHERE bucket < rate_x1e6
    ORDER BY doc_id"""

  /** E12: ensemble quality gate — the FineWeb-Edu-shaped pattern where
    * INDEPENDENT signals vote instead of one gate deciding: Gopher rules
    * (D21), repetition (D18, dup3 ≤ 0.3), the hashed linear classifier
    * (D25, logit > 0) and the unigram-LM surprisal band (D22,
    * 1.0–8.0 bits/token — outside it is boilerplate or gibberish). Keep
    * = ≥3 of 4 votes, so no single noisy signal can veto or admit alone.
    *
    * The three per-row signals (Gopher rules, dup3 ratio, classifier
    * logit) are FUSED into ONE projection over a single corpus scan —
    * exactly the gate definitions of the oracled unit operators (D21,
    * D18's n=3 leg, D25), whose specs pin each leg independently. Only
    * the surprisal leg stays a join: it genuinely needs the corpus
    * unigram distribution (a second pass by nature). 2 corpus scans
    * total where the r8 join-of-four-queries form paid 4 — measured
    * 2.3× less cluster CPU (12.6 vs 29.2 task-s, 50k docs, Stress
    * curate_fused min-of-3) and half the wall time.
    */
  def qualityVote(s: SparkSession, d: String): DataFrame = {
    val w = col("graft_w")
    // D18's n=3 gram construction, guarded exactly as repetitionScore
    val g3 = when(size(w) >= 3,
      transform(sequence(lit(0), size(w) - 3), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))
      .otherwise(array().cast("array<string>"))
    val perRow = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("graft_w"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("chars_no_ws"),
        TextKernels.classifierLogit(col("text")).as("logit"))
      .select(col("doc_id"), col("chars_no_ws"), col("logit"),
        size(w).cast("long").as("n_tok"),
        TextAnalysis.hits(w, TextAnalysis.stopwords("en")).cast("long").as("n_stop"),
        size(filter(w, t => t.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(g3).cast("long").as("tot3"),
        size(array_distinct(g3)).cast("long").as("uniq3"))
      .select(col("doc_id"),
        (col("n_tok").between(50, 100000) &&
          expr("chars_no_ws * 100 DIV n_tok").between(300, 1000) &&
          col("n_stop") >= 2 &&
          expr("n_alpha * 1000 DIV n_tok") >= 800).as("v_gopher"),
        (expr("CASE WHEN tot3 > 0 THEN (tot3 - uniq3) * 1000 DIV tot3 ELSE 0 END")
          <= 300).as("v_rep"),
        (col("logit") > 0).as("v_clf"))
    val u = TextAnalysis.unigramSurprisal(s, d)
      .select(col("doc_id"), col("bits_per_tok_x1000").between(1000, 8000).as("v_surp"))
    perRow.join(u, Seq("doc_id"), "left")
      .withColumn("v_surp", coalesce(col("v_surp"), lit(false)))
      .withColumn("votes",
        (col("v_gopher").cast("int") + col("v_rep").cast("int") +
          col("v_clf").cast("int") + col("v_surp").cast("int")).cast("long"))
      .withColumn("keep", col("votes") >= 3)
      .select("doc_id", "v_gopher", "v_rep", "v_clf", "v_surp", "votes", "keep")
      .orderBy("doc_id")
  }

  /** E11: heavy hitters via Misra-Gries sketch + exact recount — the
    * scale path for E4's vocab_topk. A full `groupBy(token)` shuffles the
    * entire vocabulary (billions of keys at 100 TB) to find the handful
    * of tokens above a share threshold; this plans two passes instead:
    *
    *   1. sketch: [[graft.functions.FrequentItemsSketch]] (k=64) — O(k)
    *      memory per partition, partial buffers merge as ≤64-entry maps,
    *      one row out. Guaranteed superset of every token with share
    *      > 1/65 of all occurrences.
    *   2. recount: broadcast the candidate array, `array_contains`-filter
    *      the token stream (map-side — non-candidates never shuffle),
    *      exact-count only candidates, threshold share > 1/32.
    *
    * The exact recount + threshold makes the output deterministic — which
    * sub-threshold candidates the sketch happened to retain is filtered
    * out — so the composed operator carries a full SQL oracle even though
    * the sketch itself is order-sensitive.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val sketch = tok.agg(
      FrequentItemsSketch.column(col("tok"), 64).as("cand"),
      count(lit(1)).as("n_total"))
    tok.crossJoin(broadcast(sketch))
      .filter(array_contains(col("cand"), col("tok")))
      .groupBy("tok", "n_total")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * 32 > col("n_total"))
      .select(col("tok"), col("n"), expr("n * 1000 DIV n_total").as("share_x1000"))
      .orderBy("tok")
  }

  val heavyHittersOracleSql: String = """
    WITH tok AS (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS tok
      FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
    SELECT tok, CAST(count(*) AS BIGINT) AS n,
      CAST(count(*) * 1000 // n_total AS BIGINT) AS share_x1000
    FROM tok, tot GROUP BY tok, n_total HAVING count(*) * 32 > n_total
    ORDER BY tok"""

  /** E10: source-reputation aggregation — the domain-level filter every
    * production corpus runs before any per-document gate (a spammy mirror
    * or SEO farm is cheaper to drop wholesale than doc-by-doc): per
    * source, how many of its docs are duplicates of ANYTHING else in the
    * corpus (same normalized content hash as E1), plus mean token count,
    * → a block decision (≥30% dup rate here; a knob).
    *
    * Shape at 100 TB: one shuffle on the content hash (the same one
    * exact dedup pays — payload never moves, the window sees 16-byte
    * keys), then a partial-agg groupBy on source (#sources ≪ corpus).
    * The emitted relation is #sources rows — the broadcast-sized
    * blocklist the NEXT pipeline run joins against at scan time.
    */
  def sourceReputation(s: SparkSession, d: String): DataFrame = {
    val byHash = Window.partitionBy("h")
    Tables.documents(s, d)
      .select(col("source"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("dup", (count(lit(1)).over(byHash) > 1).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("dup").as("n_dup"), sum("n_tok").as("tot_tok"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        expr("n_dup * 1000 DIV n_docs").as("dup_x1000"),
        expr("tot_tok * 100 DIV n_docs").as("mean_tok_x100"))
      .withColumn("blocked", col("dup_x1000") >= 300)
      .orderBy("source")
  }

  val sourceReputationOracleSql: String = """
    WITH d AS (SELECT source,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    f AS (SELECT source, n_tok,
        CASE WHEN count(*) OVER (PARTITION BY h) > 1 THEN 1 ELSE 0 END AS dup
      FROM d),
    a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(dup) AS BIGINT) AS n_dup, CAST(sum(n_tok) AS BIGINT) AS tot_tok
      FROM f GROUP BY source)
    SELECT source, n_docs, n_dup,
      CAST(n_dup * 1000 // n_docs AS BIGINT) AS dup_x1000,
      CAST(tot_tok * 100 // n_docs AS BIGINT) AS mean_tok_x100,
      (n_dup * 1000 // n_docs >= 300) AS blocked
    FROM a ORDER BY source"""

  /** E9: deterministic shard assignment + reproducible training order —
    * the export step after curation/mixing: every doc gets a shard (16
    * here; a knob) and a position within it, both pure functions of
    * doc_id via independent md5 slices (chars 1-8 → shard, 9-16 → order),
    * so ANY subset of machines can regenerate its shards bit-identically
    * with no coordination and no global sort. cum_chars (running bytes at
    * each position) is the shard-fill audit a packing job reads.
    *
    * Shape at 100 TB: one shuffle on shard (the partitionBy a real export
    * writes with — `write.partitionBy(shard)` + sortWithinPartitions
    * replaces the window with a sort the writer already pays); the
    * per-shard window never sees more than corpus/S rows per partition.
    */
  def shardAssign(s: SparkSession, d: String): DataFrame = {
    val S = 16
    val md5hex = md5(col("doc_id").cast("string"))
    val byShard = Window.partitionBy("shard").orderBy("ord_key", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (conv(substring(md5hex, 1, 8), 16, 10).cast("long") % S).as("shard"),
        conv(substring(md5hex, 9, 8), 16, 10).cast("long").as("ord_key"))
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .withColumn("cum_chars", sum("n_chars").over(byShard))
      .select("doc_id", "shard", "pos", "cum_chars")
      .orderBy("shard", "pos")
  }

  val shardAssignOracleSql: String = """
    WITH a AS (SELECT doc_id, n_chars,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) AS ord_key
      FROM documents)
    SELECT doc_id, shard,
      CAST(row_number() OVER w AS BIGINT) AS pos,
      CAST(sum(n_chars) OVER w AS BIGINT) AS cum_chars
    FROM a
    WINDOW w AS (PARTITION BY shard ORDER BY ord_key, doc_id)
    ORDER BY shard, pos"""

  /** E7: the COMPLETE training-corpus pipeline in one DAG — the
    * composition a FineWeb/MassiveText-style production run executes:
    *
    *   eval split-out → exact dedup (keep-min per content hash) →
    *   Gopher doc gates (word count, mean word length, stopword floor,
    *   alpha fraction) → repetition gate (dup3 ≤ 0.3) → benchmark
    *   decontamination (≥8 shared 3-shingles with any eval doc) →
    *   per-language corpus accounting (docs + tokens).
    *
    * One projection computes EVERY per-row metric (content hash, token
    * stats, 3-gram dup ratio, shingles) in a single pass over the words
    * array — the fused corpus scan a 100 TB run wants — then: one window
    * on the content hash (the dedup shuffle), one broadcast
    * shingle-equality join against the tiny eval side (never doc×doc),
    * one anti-join, one final per-lang aggregate. The same gate
    * definitions as the unit operators (D21 `gopher_filter`, D18
    * `repetition_score`, D17 `decontaminate`, D1 `dedup_exact`), so
    * each stage is independently oracle-checked and the composite's
    * per-lang totals pin their composition.
    *
    * At 100 TB: the base projection feeds THREE consuming subtrees (eval
    * side, corpus side, hit join), so it is staged ONCE via an eager
    * `localCheckpoint` — each subtree then reads node-local checkpoint
    * blocks instead of re-scanning the SOURCE (on a cluster, remote
    * storage bandwidth — the expensive side of the trade). The measured
    * local[32] A/B (Stress curate_fused, 50k docs, min-of-3) is a wash on
    * task CPU — 22.3 s staged vs 25.0 s recomputed — because locally the
    * source is also on disk and Catalyst column-prunes `base` per subtree
    * (the gate path never builds `sh`; the two `sh` consumers cover
    * disjoint doc_id%23 slices), so "3 scans" was never 3 kernel passes.
    * `stage = false` keeps the un-staged shape for plan inspection
    * (PlanOnly); checkpoint blocks are reclaimed by ContextCleaner once
    * the result is unreachable.
    */
  private[graft] def fusedBase(s: SparkSession, d: String, stage: Boolean = true): DataFrame = {
    val gw = col("graft_w")
    val projected = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.words(col("text")).as("graft_w"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("chars_no_ws"))
      .select(col("doc_id"), col("lang"), col("h"), col("chars_no_ws"),
        size(gw).cast("long").as("n_tok"),
        TextAnalysis.hits(gw, TextAnalysis.stopwords("en")).cast("long").as("n_stop"),
        size(filter(gw, t => t.rlike("[a-z]"))).cast("long").as("n_alpha"),
        when(size(gw) >= 3,
          transform(sequence(lit(0), size(gw) - 3), i =>
            concat_ws(" ", element_at(gw, i + 1), element_at(gw, i + 2), element_at(gw, i + 3))))
          .otherwise(array().cast("array<string>")).as("g3"))
      .withColumn("tot3", size(col("g3")).cast("long"))
      .withColumn("uniq3", size(array_distinct(col("g3"))).cast("long"))
      .withColumn("dup3_x1000",
        expr("CASE WHEN tot3 > 0 THEN (tot3 - uniq3) * 1000 DIV tot3 ELSE 0 END"))
      .withColumn("sh", array_distinct(col("g3")))
      .select("doc_id", "lang", "h", "chars_no_ws", "n_tok", "n_stop", "n_alpha",
        "dup3_x1000", "sh")
    // stage=false: same plan shape, base re-executed per consuming subtree.
    // DISK_ONLY staging: the checkpoint exists to trade SOURCE bandwidth,
    // not to be a hot cache — at MEMORY_AND_DISK the blocks sit inside
    // the protected storageFraction and STARVE the window/aggregate
    // tasks that follow (the 5M-doc curation_1000x soak died with
    // AGGREGATE_OUT_OF_MEMORY exactly this way: 32 concurrent sorts
    // could not acquire a first page). On disk the blocks ride the OS
    // page cache locally and leave the unified pool to execution.
    if (stage) projected.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    else projected
  }

  def pipeline(s: SparkSession, d: String): DataFrame = pipelineStaged(s, d, stage = true)

  /** Eval-holdout modulus: 1-in-23 docs become the benchmark side. The
    * broadcast decontamination join's contract is a BROADCAST-SIZED eval
    * relation — a real deployment holds the eval benchmark fixed while
    * the corpus grows.
    */
  private val EvalMod = 23L

  private[graft] def pipelineStaged(s: SparkSession, d: String, stage: Boolean): DataFrame = {
    val base = fusedBase(s, d, stage)
    val evalSh = base.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("shingle"))
    val corpus = base.filter(col("doc_id") % EvalMod =!= 0)
    val keepers = corpus
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") === col("keeper"))
    val gated = keepers.filter(
      col("n_tok").between(50, 100000) &&
        expr("chars_no_ws * 100 DIV n_tok").between(300, 1000) &&
        col("n_stop") >= 2 &&
        expr("n_alpha * 1000 DIV n_tok") >= 800 &&
        col("dup3_x1000") <= 300)
    val contaminated = corpus
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= 8)
      .select("doc_id").distinct()
    gated.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("lang")
  }

  val pipelineOracleSql: String = """
    WITH base AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        CAST(length(replace(text, ' ', '')) AS BIGINT) AS cnw
      FROM documents),
    feat AS (
      SELECT doc_id, lang, h, cnw,
        CAST(len(w) AS BIGINT) AS n_tok,
        CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
        CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
        CASE WHEN len(w) >= 3
          THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
          ELSE [] END AS g3
      FROM base),
    m AS (
      SELECT doc_id, lang, h, cnw, n_tok, n_stop, n_alpha,
        CASE WHEN len(g3) > 0
          THEN CAST((len(g3) - len(list_distinct(g3))) * 1000 // len(g3) AS BIGINT)
          ELSE 0 END AS dup3_x1000,
        list_distinct(g3) AS sh
      FROM feat),
    ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM m WHERE doc_id % 23 = 0),
    corpus AS (SELECT * FROM m WHERE doc_id % 23 <> 0),
    keepers AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper FROM corpus) t
      WHERE doc_id = keeper),
    gated AS (
      SELECT * FROM keepers
      WHERE n_tok BETWEEN 50 AND 100000
        AND cnw * 100 // n_tok BETWEEN 300 AND 1000
        AND n_stop >= 2
        AND n_alpha * 1000 // n_tok >= 800
        AND dup3_x1000 <= 300),
    hits AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(sh) AS shingle FROM corpus) c
      JOIN ev USING (shingle)
      GROUP BY c.doc_id, ev.eval_id HAVING count(*) >= 8),
    clean AS (SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM hits))
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM clean GROUP BY lang ORDER BY lang"""

  /** E13: curation-funnel attribution — the ops dashboard of E7: every
    * doc assigned its FIRST failing stage in pipeline order (eval
    * holdout → exact dup → the four Gopher gates → repetition →
    * decontamination → kept), with doc and token counts per stage. The
    * first-fail rule makes the stages a partition of the corpus, so the
    * report sums to the input — the property a loss dashboard needs.
    * Same single fused projection + one hash window + one broadcast
    * shingle join as E7; the attribution is a CASE over already-computed
    * columns, so the funnel costs what the pipeline costs. Staged base
    * by default for the same source-bandwidth reason as E7 (see
    * `pipeline`'s scaladoc; the local[32] A/B is likewise a wash —
    * 27.3 task-s staged vs 24.4 recomputed at 50k docs).
    */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    val base = fusedBase(s, d)
    val evalSh = base.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sh")).as("shingle"))
    val corpus = base.filter(col("doc_id") % EvalMod =!= 0)
    val contaminated = corpus
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= 8)
      .select("doc_id").distinct()
      .withColumn("contam", lit(true))
    val staged = corpus
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("doc_id") =!= col("keeper"), "2_exact_dup")
          .when(!col("n_tok").between(50, 100000), "3_word_count")
          .when(!expr("chars_no_ws * 100 DIV n_tok").between(300, 1000), "4_mean_len")
          .when(col("n_stop") < 2, "5_stopword")
          .when(expr("n_alpha * 1000 DIV n_tok") < 800, "6_alpha")
          .when(col("dup3_x1000") > 300, "7_repetition")
          .when(coalesce(col("contam"), lit(false)), "8_contaminated")
          .otherwise("9_kept"))
      .select("stage", "n_tok")
    base.filter(col("doc_id") % EvalMod === 0)
      .select(lit("1_eval_holdout").as("stage"), col("n_tok"))
      .unionByName(staged)
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("stage")
  }

  val curationFunnelOracleSql: String = """
    WITH base AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        CAST(length(replace(text, ' ', '')) AS BIGINT) AS cnw
      FROM documents),
    feat AS (
      SELECT doc_id, h, cnw,
        CAST(len(w) AS BIGINT) AS n_tok,
        CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
        CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
        CASE WHEN len(w) >= 3
          THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
          ELSE [] END AS g3
      FROM base),
    m AS (
      SELECT doc_id, h, cnw, n_tok, n_stop, n_alpha,
        CASE WHEN len(g3) > 0
          THEN CAST((len(g3) - len(list_distinct(g3))) * 1000 // len(g3) AS BIGINT)
          ELSE 0 END AS dup3_x1000,
        list_distinct(g3) AS sh
      FROM feat),
    ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM m WHERE doc_id % 23 = 0),
    corpus AS (SELECT * FROM m WHERE doc_id % 23 <> 0),
    hits AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(sh) AS shingle FROM corpus) c
      JOIN ev USING (shingle)
      GROUP BY c.doc_id, ev.eval_id HAVING count(*) >= 8),
    staged AS (
      SELECT CASE
          WHEN doc_id <> min(doc_id) OVER (PARTITION BY h) THEN '2_exact_dup'
          WHEN n_tok NOT BETWEEN 50 AND 100000 THEN '3_word_count'
          WHEN cnw * 100 // n_tok NOT BETWEEN 300 AND 1000 THEN '4_mean_len'
          WHEN n_stop < 2 THEN '5_stopword'
          WHEN n_alpha * 1000 // n_tok < 800 THEN '6_alpha'
          WHEN dup3_x1000 > 300 THEN '7_repetition'
          WHEN doc_id IN (SELECT doc_id FROM hits) THEN '8_contaminated'
          ELSE '9_kept' END AS stage,
        n_tok
      FROM corpus),
    allrows AS (
      SELECT '1_eval_holdout' AS stage, n_tok FROM m WHERE doc_id % 23 = 0
      UNION ALL SELECT stage, n_tok FROM staged)
    SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM allrows GROUP BY stage ORDER BY stage"""

  /** E16 `curriculum_order`: quality-curriculum training order — bucket
    * docs into Q score-quantile tiers, then interleave the tiers
    * round-robin so every training-order prefix sees the full quality
    * mix (the data-ordering step between curation and packing; cf.
    * curriculum-learning setups à la Bengio et al. 2009).
    *
    * The scale trick is that NO global sort or global rank ever runs:
    *  - tier boundaries come from the exact score HISTOGRAM (distinct
    *    score values — thousands of rows regardless of corpus size), with
    *    an exclusive-prefix-sum window over that tiny relation;
    *  - each doc gets its tier by a broadcast join on score;
    *  - the within-tier position is a window partitioned by tier (at
    *    100 TB, subdivide tiers by a hash suffix exactly as `pack_
    *    sequences` shards its buckets — positions stay per-subshard);
    *  - the interleaved position is then PURE ARITHMETIC:
    *    seq_pos = (pos_in_tier − 1)·Q + tier — round-robin by
    *    construction, no merge pass. Gaps appear once short tiers are
    *    exhausted; seq_pos is a sort key, not a dense index.
    *
    * Docs sharing a score value share a tier (boundaries cut BETWEEN
    * score values), so the assignment is deterministic and replayable —
    * the DuckDB oracle recomputes it exactly.
    */
  val CurriculumTiers = 8

  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.documents(s, d)
      .groupBy(col("n_chars").as("score")).agg(count(lit(1)).as("n"))
    // Exclusive prefix sum over the histogram WITHOUT a global window
    // (r9 bench logged `WindowExec: No Partition Defined` here — benign
    // at this histogram's size, but the two-level form costs nothing and
    // never degrades): scores fall into range buckets (score DIV 4096 —
    // n_chars-bounded, so ≤ a few dozen buckets), the within-bucket
    // running sum is a bucket-PARTITIONED window, and each bucket's
    // starting offset comes from a broadcast self-join over the
    // bucket-total relation (≤ dozens of rows, never the corpus). The
    // corpus total rides the same join (sum over ALL buckets) instead of
    // a second whole-frame window.
    val bucketed = hist.withColumn("bkt", expr("score DIV 4096"))
    val inBucket = Window.partitionBy("bkt").orderBy("score")
    val bktTotals = bucketed.groupBy("bkt").agg(sum("n").as("bn"))
    val offsets = bktTotals.as("a")
      .join(broadcast(bktTotals.as("b")), expr("b.bkt < a.bkt"), "left")
      .groupBy(col("a.bkt").as("bkt"))
      .agg(coalesce(sum("b.bn"), lit(0L)).as("bkt_before"))
    val total = bktTotals.agg(sum("bn").as("total"))
    val tiers = bucketed
      .withColumn("cum_in_bkt",
        coalesce(sum("n").over(inBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(offsets.select("bkt", "bkt_before")), "bkt")
      .crossJoin(broadcast(total))
      .withColumn("cum_before", col("bkt_before") + col("cum_in_bkt"))
      .select(col("score"), expr(s"cum_before * $CurriculumTiers DIV total").as("tier"))
    val byTier = Window.partitionBy("tier").orderBy("score", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("score"))
      .join(broadcast(tiers), "score")
      .withColumn("pos", row_number().over(byTier).cast("long"))
      .select(col("doc_id"), col("tier"),
        expr(s"(pos - 1) * $CurriculumTiers + tier").as("seq_pos"))
      .orderBy("seq_pos")
  }

  val curriculumOrderOracleSql: String = s"""
    WITH h AS (SELECT n_chars AS score, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1),
    t AS (SELECT score,
        coalesce(sum(n) OVER (ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        sum(n) OVER () AS total
      FROM h),
    m AS (SELECT score,
        CAST(cum_before * $CurriculumTiers // total AS BIGINT) AS tier FROM t),
    j AS (SELECT doc_id, tier,
        CAST(row_number() OVER (PARTITION BY tier ORDER BY d.n_chars, doc_id)
          AS BIGINT) AS pos
      FROM documents d JOIN m ON d.n_chars = m.score)
    SELECT doc_id, tier, (pos - 1) * $CurriculumTiers + tier AS seq_pos
    FROM j ORDER BY seq_pos"""

  /** E17 `shard_manifest`: export-validation manifest — per shard (E9's
    * md5 assignment), row count, char total, doc-id range and an
    * ORDER-INDEPENDENT content checksum (bit_xor of a 48-bit md5 prefix
    * of each doc's text). The corpus-scale analogue of the reference's
    * per-file CHECKSUMS loop (Checksums.pm spirit, A5): a consumer
    * re-reading any shard recomputes count+xor and compares — without
    * assuming anything about row order, task count or file split, because
    * xor commutes. One map-side-combinable aggregation to #shards rows;
    * bit_xor never overflows, so the checksum survives any corpus size.
    */
  def shardManifest(s: SparkSession, d: String): DataFrame = {
    val S = 16
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % S).as("shard"),
        conv(substring(md5(col("text")), 1, 12), 16, 10)
          .cast("long").as("content_h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tot_chars"),
        expr("bit_xor(content_h)").as("content_xor"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")
  }

  val shardManifestOracleSql: String = """
    WITH a AS (SELECT doc_id, n_chars,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard,
        CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS content_h
      FROM documents)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS tot_chars,
      bit_xor(content_h) AS content_xor,
      min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM a GROUP BY shard ORDER BY shard"""

  /** E20 `sample_group_k`: EXACT-k deterministic per-stratum sample — the
    * fixed-budget companion to E3's rate-based `sample_stratified` (a
    * rate can only hit k in expectation; an eval holdout or labelling
    * budget wants exactly k per language). Selection order is the E9
    * md5 slice of doc_id — reproducible on any engine, any partitioning,
    * no rand() — and the "top k by hash" is the B30 bounded heap
    * aggregate, NOT a window: O(k) state per stratum at any corpus size,
    * map-side partial heaps, only ~k·partitions rows ever shuffle, and
    * nothing sorts the corpus (the window form's map-side sort is the
    * cost topk_10x measured at 1.7×). Groups holding < k docs return
    * all of them, ranked.
    */
  def sampleGroupK(s: SparkSession, d: String, k: Int = 50): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        conv(substring(md5(col("doc_id").cast("string")), 9, 8), 16, 10)
          .cast("long").as("ord_key"),
        col("doc_id"))
      .groupBy("lang")
      .agg(TopKAggregate.column(col("ord_key"), col("doc_id"), k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank_in_lang"),
        col("col.payload").as("doc_id"))
      .orderBy("lang", "rank_in_lang")

  val sampleGroupKOracleSql: String = """
    SELECT lang, CAST(rn AS BIGINT) AS rank_in_lang, doc_id FROM (
      SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang
          ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT) DESC,
                   doc_id) AS rn
      FROM documents) t
    WHERE rn <= 50 ORDER BY lang, rank_in_lang"""

  /** E21 `split_leakproof`: dup-group-aware train/val/test split — the
    * leakage gate every training pipeline needs: a random PER-DOC split
    * puts one copy of a duplicated document in train and another in val,
    * and the eval is contaminated before decontamination (D17) even
    * runs. The unit of assignment is therefore the DUP GROUP (exact
    * content groups here via md5(text) — D14's near-dup group ids plug
    * into the same shape), and the split is a deterministic hash of the
    * group id (80/10/10) — no rand(), reproducible on any engine and any
    * partitioning. One shuffle on the content hash builds the groups;
    * the assignment joins back on the same key (same exchange under
    * AQE). The output carries the audited `straddle_groups` count
    * computed from the DOC-level assignments — structurally zero when
    * the split keys on the group, and the column is exactly what catches
    * a future regression to per-doc splitting; the oracle recomputes it
    * independently in SQL.
    */
  def splitLeakproof(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), md5(col("text")).as("h"))
    val groups = docs.groupBy("h").agg(min(col("doc_id")).as("group_id"))
    val assigned = docs.join(groups, Seq("h"))
      .withColumn("bucket", (col("group_id") % 100003L) * 40503L % 100L)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
    val perSplit = assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("group_id")).as("n_groups"))
    val straddle = assigned.groupBy("group_id")
      .agg(countDistinct(col("split")).as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("straddle_groups"))
    perSplit.crossJoin(broadcast(straddle)).orderBy("split")
  }

  val splitLeakproofOracleSql: String = """
    WITH g AS (
      SELECT doc_id, md5(text) AS h FROM documents),
    grp AS (SELECT h, min(doc_id) AS group_id FROM g GROUP BY h),
    a AS (
      SELECT doc_id, group_id,
        CASE WHEN (group_id % 100003) * 40503 % 100 < 80 THEN 'train'
             WHEN (group_id % 100003) * 40503 % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM g JOIN grp USING (h)),
    per AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups
      FROM a GROUP BY split),
    st AS (
      SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS straddle_groups
      FROM (SELECT group_id, count(DISTINCT split) AS ns FROM a GROUP BY group_id))
    SELECT split, n_docs, n_groups, straddle_groups FROM per, st ORDER BY split"""
}
