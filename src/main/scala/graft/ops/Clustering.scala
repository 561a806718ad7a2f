package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** D14: duplicate-group resolution — the step the reference pipeline (and
  * any near-dup detector) needs AFTER candidate pairs are verified: collapse
  * the pair list into connected components so each dup group gets one
  * canonical representative.
  *
  * Size gate: the edge list is materialized once and counted. A list of
  * at most [[DriverEdges]] edges (64 MiB of (a, b) long pairs, the
  * `Snapshots.PosMergeDriverBytes` budget) is collected and labelled by
  * union-by-min union-find on the driver — two scans of the cached list
  * instead of several Spark jobs per round — and the result is a frame
  * over driver-built rows that leaves no checkpoint blocks behind. Every
  * LSH dedup graph of a gate corpus is far below the cap.
  *
  * Above the cap, [[distributedComponents]] runs iterative min-label
  * propagation with per-round pointer jumping. Every vertex starts
  * labelled with itself; each round every vertex takes the min label over
  * itself and its neighbours, then follows its label one extra hop
  * (comp := label[comp]) — the jump compounds progress geometrically, so
  * rounds are O(log diameter) rather than O(diameter) (the same doubling
  * idea as Shiloach-Vishkin / the large-star contraction of Kiveris et
  * al.). Converged when no label changes. Per round the work is one
  * shuffle join (edges ⋈ labels), one shuffle min-agg, and one self-join
  * on the (shrinking-entropy) label relation, all keyed on the vertex id;
  * the edge list is cached once and `localCheckpoint` truncates the
  * lineage each round so the plan doesn't grow with iteration count. The
  * default 25-round cap covers diameters up to ~2^25 and non-convergence
  * throws rather than returning partial labels.
  */
object Clustering {

  /** Free the RDD blocks behind a `localCheckpoint`'d Dataset NOW.
    * `Dataset.unpersist` is a silent no-op here: localCheckpoint persists
    * the backing RDD directly (RDD-level), which the CacheManager never
    * registers, so only ContextCleaner-after-GC would reclaim the blocks.
    * The checkpointed plan is a `LogicalRDD` leaf — unpersist its RDD.
    * Caller must guarantee no later consumer: the lineage is truncated,
    * so a dropped block cannot be recomputed.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Largest edge list, in edges, that finishes on the driver: 64 MiB of
    * collected (a, b) long pairs. Union-find adds a sorted endpoint copy,
    * one parent int and one label long per vertex, so the driver's
    * working set stays a small multiple of that budget.
    */
  private val DriverEdges: Long = (64L << 20) / 16

  /** Rows per partition of a driver-built frame ([[driverFrame]]). */
  private val FrameChunk = 1 << 16

  /** Connected components of the undirected graph given by `edges` (cols
    * `a`, `b`, long vertex ids). Returns (id, comp) for every vertex that
    * appears in an edge, where comp = min vertex id reachable.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    connectedComponents(edges, DriverEdges)

  /** [[connectedComponents]] with the driver gate at `cap` edges. */
  private[graft] def connectedComponents(edges: DataFrame, cap: Long): DataFrame = {
    val s = edges.sparkSession
    labelled(edges, cap) { (ids, root) =>
      driverFrame(s, Seq("id", "comp"), Seq(ids, root.map(ids(_))))
    }(distributedComponents(_))
  }

  /** Materialize `edges` (cols `a`, `b`) ONCE and label its components.
    * A list of at most `cap` edges is collected and labelled by
    * [[unionFind]] on the driver, and `small` gets (ids ascending, root
    * index per id); a larger one goes to `large` as the materialized
    * list. The list is unpersisted before returning, so `large` must
    * materialize what it returns (the distributed loop checkpoints its
    * result). Count and collect are scans of the cached blocks.
    */
  private def labelled[T](edges: DataFrame, cap: Long)(
      small: (Array[Long], Array[Int]) => T)(large: DataFrame => T): T = {
    val e = edges.select(col("a"), col("b")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = e.queryExecution.toRdd
      if (rows.count() <= cap) {
        val packed = rows.mapPartitions { it =>
          val buf = Array.newBuilder[Long]
          it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
          Iterator.single(buf.result())
        }.collect()
        val (ids, root) = unionFind(packed)
        small(ids, root)
      } else large(e)
    } finally e.unpersist()
  }

  /** Union-by-min union-find over packed (a, b) pairs: returns the
    * distinct vertex ids ascending and, per id, the index of its
    * component's min id. Ids are sorted first, so an index orders like
    * its id and linking the larger root under the smaller keeps every
    * root its set's min; path halving keeps finds near-constant.
    */
  private def unionFind(packed: Array[Array[Long]]): (Array[Long], Array[Int]) = {
    val ends = Array.concat(packed.toIndexedSeq: _*)
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    sorted.indices.foreach { i =>
      if (i == 0 || sorted(i) != sorted(i - 1)) { sorted(n) = sorted(i); n += 1 }
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var v = x
      while (parent(v) != v) { parent(v) = parent(parent(v)); v = parent(v) }
      v
    }
    def root(id: Long): Int = find(java.util.Arrays.binarySearch(ids, id))
    for (i <- ends.indices by 2) {
      val (ra, rb) = (root(ends(i)), root(ends(i + 1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (ids, Array.tabulate(n)(find))
  }

  /** A frame of non-null long columns built on the driver, shipped as
    * chunks of [[FrameChunk]] rows (one per partition) so no Row exists
    * on the driver and no block is persisted. Row order is array order.
    */
  private def driverFrame(s: SparkSession, names: Seq[String], cols: Seq[Array[Long]]): DataFrame = {
    val chunks = (0 until cols.head.length by FrameChunk)
      .map(i => cols.map(_.slice(i, i + FrameChunk)))
    val rows = s.sparkContext.parallelize(chunks, math.max(1, chunks.size))
      .flatMap(c => c.head.indices.iterator.map(j => Row.fromSeq(c.map(_(j)))))
    s.createDataFrame(rows, StructType(names.map(StructField(_, LongType, nullable = false))))
  }

  /** The distributed min-label loop (see the object scaladoc) over any
    * edge list; [[connectedComponents]] runs it above the driver cap.
    */
  private[graft] def distributedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val und = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Seed labels with least(id, min neighbor) rather than id: the
    // groupBy costs exactly what the old vertex-distinct init cost (one
    // shuffle on the same key), but it IS round 1's min-propagation —
    // one fewer full label-relation shuffle round at any scale (r10;
    // ClusteringPropSpec pins equivalence against union-find).
    var labels = und.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
      .localCheckpoint()
    // the checkpoint block that currently backs `labels` — round i's blocks
    // can be dropped once round i+1's `changed` count has consumed them,
    // else checkpoint RDDs accumulate linearly with iteration count
    var backing = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      // checkpoint before the self-join below: truncates lineage AND gives
      // the two join sides independent plans (a raw self-join of the
      // union+agg plan trips Catalyst's Union constraint rewrite)
      val prop = labels.union(msgs).groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      // Pointer jump: every label value is itself a vertex id, so follow it
      // one hop (comp := label[comp]). Label propagation alone needs
      // diameter rounds; the jump compounds the progress geometrically,
      // which is what keeps round counts sane on chain-shaped components.
      // Materialized ONCE per round WITH the per-vertex changed flag
      // fused in (comp != previous label): the old loop left the jump
      // lazy, so the changed-count job ran the self-join once and the
      // next round's propagation ran it again — twice the label-relation
      // shuffle per round. The convergence probe is now a scan of the
      // materialized blocks, and the payload every round shuffles stays
      // two longs + a boolean per vertex.
      val next = prop.as("p")
        .join(prop.select(col("id").as("jid"), col("comp").as("jcomp")).as("j"),
          col("p.comp") === col("j.jid"), "left")
        .join(labels.select(col("id").as("oid"), col("comp").as("ocomp")),
          col("p.id") === col("oid"))
        .select(col("p.id").as("id"),
          coalesce(col("j.jcomp"), col("p.comp")).as("comp"),
          (coalesce(col("j.jcomp"), col("p.comp")) =!= col("ocomp")).as("chg"))
        .localCheckpoint()
      val changed = next.filter(col("chg")).limit(1).count()
      // `next` is materialized, so neither `prop`'s blocks nor the
      // previous round's have a remaining consumer — drop both at the
      // RDD level (Dataset.unpersist wouldn't; see unpersistCheckpoint)
      unpersistCheckpoint(prop)
      unpersistCheckpoint(backing)
      backing = next
      labels = next.select("id", "comp")
      converged = changed == 0
      iter += 1
    }
    und.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds")
    // `labels` is a projection over the LAST round's checkpoint blocks;
    // materialize the (tiny — one (id, comp) pair per vertex) result into
    // its own checkpoint so that round's blocks can be freed too. The
    // returned Dataset's own blocks are reclaimed by ContextCleaner once
    // the caller drops the reference.
    val out = labels.localCheckpoint()
    unpersistCheckpoint(backing)
    out
  }

  /** Incremental connected components: merge a batch of new edges into an
    * existing (id, comp) labelling WITHOUT recomputing over the full edge
    * set — the daily-increment shape of a 100 TB dedup corpus (yesterday's
    * groups + today's crawl's new pair edges).
    *
    * Correctness: contracting every existing component to its label is
    * component-preserving (labels partition the old graph into connected
    * pieces), so CC over the CONTRACTED new edges — each endpoint replaced
    * by its existing label, unseen vertices by themselves — yields exactly
    * the merged components. Because old labels are min-member-ids and new
    * vertices carry their own ids, the merged component label is again the
    * global min id, i.e. bit-identical to a full recompute (asserted in
    * ClusteringSpec and the 500k-doc stress).
    *
    * Cost: two hash joins of the new-edge batch against the labelling
    * (shuffle bounded by |batch| + |labels|) plus iterative CC on a graph
    * with one vertex per TOUCHED component/new vertex — typically orders
    * of magnitude smaller than the corpus. Unreferenced components pass
    * through untouched.
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("comp"))
    val contracted = newEdges.select(col("a"), col("b"))
      .join(l.select(col("id").as("a"), col("comp").as("ca")), Seq("a"), "left")
      .join(l.select(col("id").as("b"), col("comp").as("cb")), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"), coalesce(col("cb"), col("b")).as("b"))
    val merged = connectedComponents(contracted)
    // old members re-label through their component's new label; components
    // the batch never touched fall through the left join unchanged
    val relabeled = l
      .join(merged.select(col("id").as("comp"), col("comp").as("newcomp")), Seq("comp"), "left")
      .select(col("id"), coalesce(col("newcomp"), col("comp")).as("comp"))
    // vertices the batch introduced (present in the contracted graph but
    // not in the old labelling)
    val fresh = merged.join(l.select("id"), Seq("id"), "left_anti")
    relabeled.unionByName(fresh)
  }

  /** E6/D14b: best-representative selection — the step AFTER group
    * resolution in a real curation pipeline: instead of keeping the
    * min-id doc of each dup group, keep the HIGHEST-QUALITY one
    * (quality_score, ties to min doc_id). Pure composition of
    * `dedupGroups` and `TextAnalysis.qualityScore`: one join on doc_id +
    * a rank-1 window over the (tiny, one row per grouped doc) labelled
    * relation — the expensive parts are the operators already measured.
    */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val quality = TextAnalysis.qualityScore(s, d).select(col("doc_id"), col("score"))
    val w = Window.partitionBy("comp").orderBy(col("score").desc, col("doc_id"))
    dedupGroups(s, d)
      .join(quality, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("comp"), col("doc_id").as("best_doc"), col("score"), col("group_n"))
      .orderBy("comp")
  }

  /** D31: PageRank-style centrality over the candidate-pair similarity
    * graph — the "most central representative" signal next to E6's
    * dedup_keep_best: inside a near-dup neighbourhood, the doc similar to
    * the most other docs. Fixed-point integer arithmetic throughout
    * (rank ×1e6, damping 85/100, truncating DIV), so the 3 unrolled
    * iterations replay bit-exactly in DuckDB CTEs — no FP convergence
    * tolerance anywhere.
    *
    * Shape at 100 TB: edges are D4's capped banded candidates (never
    * doc×doc), checkpointed ONCE; each iteration is one vertex-keyed
    * shuffle join + one partial-agg sum, and the plan stays 3 joins deep
    * instead of growing with a convergence loop. The bucket cap also
    * bounds degree, which bounds every per-vertex contribution sum well
    * below long overflow at any corpus size. Dangling mass is absent by
    * construction (every vertex has deg ≥ 1 — it came from an edge).
    */
  def graphRankOn(und: DataFrame): DataFrame = {
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var ranks = deg.select(col("src").as("v"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(deg, "src")
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), expr("r DIV deg").as("c"))
        .groupBy("v").agg(sum("c").as("in_sum"))
      ranks = deg.select(col("src").as("v"))
        .join(contrib, Seq("v"), "left")
        .select(col("v"), expr("150000 + 85 * coalesce(in_sum, 0) DIV 100").as("r"))
    }
    deg.select(col("src").as("v"), col("deg"))
      .join(ranks, "v")
      .select(col("v").as("doc_id"), col("deg"), col("r").as("rank_x1e6"))
      .orderBy("doc_id")
  }

  /** D31 registered query: candidates from the same (lang, length-band)
    * blocking as D4, eager-checkpointed (pair-sized — the minhash cache
    * precedent) so the three iterations re-read a materialized edge list
    * instead of re-deriving candidates seven times.
    */
  def graphRank(s: SparkSession, d: String): DataFrame =
    graphRankOn(Dedup.bandedCandidates(
      Tables.documents(s, d).select("doc_id", "lang", "n_chars")).localCheckpoint())

  /** D14 query: dup groups over the union of exact-dup pairs (normalized
    * content hash) and verified n-gram-jaccard near-dup pairs. Output one
    * row per grouped doc: (doc_id, comp = min id in group, group_n).
    *
    * The jaccard stage runs on RAW-text representatives only: byte-equal
    * texts have identical length bands AND identical shingle sets, so a
    * copy's near-dup link is implied by rep—rep link + exact edges and
    * the connected components are provably unchanged — while the
    * within-band quadratic verify shrinks from (copies·uniques)² to
    * uniques² (the replicated 10× stress: 100×). Two subtleties, both
    * caught by the sf0.1 oracle run: the collapse key must be the RAW
    * text (a whitespace/case variant keeper can sit in a different length
    * band than its members), and the representative must inherit EVERY
    * lang label of its raw group — the corpus carries byte-identical
    * texts under different langs, and banding keys on lang, so a
    * single-label rep would lose its twins' cross-lang candidates. With
    * one rep row per (raw text, lang), every band input of every member
    * (lang, n_chars, shingle set) survives the collapse and the
    * components are exactly those of the full edge set.
    */
  def dedupGroups(s: SparkSession, d: String): DataFrame = {
    // fanOut: both normalization hashes (md5 over regexp-normalized full
    // text) are computed map-side before any exchange — keep that CPU
    // off the input split count (identity at real split counts)
    val docs = Tables.fanOut(Tables.documents(s, d))
    // Shuffle KEYS, not payloads (guide §2.3): every grouping below moves
    // ~50-byte (doc_id, lang, hash) rows, never the text. `slim` computes
    // both hashes in one map pass and both keepers as windows over them —
    // `keeper`, the min doc_id of each normalized-text group, and `rep`,
    // the min doc_id of each byte-identical group — and is materialized
    // once. The text is re-attached ONLY for the representatives, via a
    // join the planner can broadcast (reps ≪ corpus), so at any scale the
    // payload crosses the wire at most once here.
    val slim = docs
      .select(col("doc_id"), col("lang"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h1"),
        md5(col("text")).as("h2"))
      .select(col("doc_id"), col("lang"),
        min("doc_id").over(Window.partitionBy("h1")).as("keeper"),
        min("doc_id").over(Window.partitionBy("h2")).as("rep"))
      .localCheckpoint()
    val exactPairs = slim.filter(col("doc_id") =!= col("keeper"))
      .select(col("keeper").as("a"), col("doc_id").as("b"))
    // one row per (raw text, lang): the rep inherits EVERY lang label its
    // byte-identical group carries (banding keys on lang — see scaladoc)
    val rawReps = slim.select(col("rep").as("doc_id"), col("lang")).distinct()
      .join(docs.select("doc_id", "n_chars", "text"), "doc_id")
      .select("doc_id", "lang", "n_chars", "text")
    // no distinct and no sort: both component paths take the list as a
    // multiset (the distributed loop dedups its symmetric edges itself)
    val edges = exactPairs.union(Dedup.ngramJaccardPairs(rawReps).select("a", "b"))
    // neither result reads `slim`: both paths materialize their own labels
    try labelled(edges, DriverEdges) { (ids, root) =>
      val size = new Array[Long](ids.length)
      root.foreach(r => size(r) += 1)
      driverFrame(s, Seq("doc_id", "comp", "group_n"),
        Seq(ids, root.map(ids(_)), root.map(size(_))))
    } { e =>
      distributedComponents(e)
        .withColumn("group_n", count(lit(1)).over(Window.partitionBy("comp")))
        .select(col("id").as("doc_id"), col("comp"), col("group_n"))
        .orderBy("doc_id")
    } finally unpersistCheckpoint(slim)
  }
}
