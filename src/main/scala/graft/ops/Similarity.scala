package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D5–D7: embedding similarity.
  *
  * Float math is engine- and order-dependent, so every similarity here is
  * computed over *quantized* vectors (round(x·10⁴) as int64): integer dot
  * products are exact and order-independent, and the final
  * dot/(√na·√nb) is a fixed sequence of IEEE ops on identical inputs —
  * DuckDB reproduces it bit-for-bit.
  *
  * Scale story (SURVEY §4): brute force is the correctness baseline only;
  * the 100 TB path is hyperplane-LSH bucketing (`annLsh`) where each
  * vector shuffles once into its bucket and queries probe a handful of
  * buckets (multi-probe on hamming-1 neighbors).
  */
object Similarity {

  /** round(x·10⁴) per element, as long. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 10000).cast("long"))

  // Both through the codegen'd VecKernel expressions (identical integer
  // semantics to the aggregate/zip_with higher-order forms they replaced,
  // but inlined into whole-stage codegen instead of interpreted lambdas —
  // the verify stages evaluate these per candidate pair).
  def sqNorm(qv: Column): Column = GraftBridge.column(SqNormLong(GraftBridge.expression(qv)))

  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotLong(GraftBridge.expression(a), GraftBridge.expression(b)))

  def cosine(dotC: Column, na: Column, nb: Column): Column =
    dotC.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("nq", sqNorm(col("qv")))

  /** D5: embedding cosine near-dup pairs (threshold 0.45). Pairwise here —
    * fine at verification scale; at 100 TB use annLsh buckets as the
    * candidate generator and this as the verifier.
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d)
    val a = e.select(col("vec_id").as("i"), col("qv").as("qa"), col("nq").as("na"))
    val b = e.select(col("vec_id").as("j"), col("qv").as("qb"), col("nq").as("nb"))
    a.join(b, col("i") < col("j"))
      .withColumn("cos", cosine(dot(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cos") > 0.45)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos_r"))
      .orderBy("i", "j")
  }

  /** D5 at scale: LSH-bucketed embedding near-dup — the documented 100 TB
    * composite. Candidates come from hyperplane-LSH buckets across
    * `NumTables` independent tables (OR-amplification: one 6-plane table
    * collides only ~(1−θ/π)^6 of threshold-level pairs, ~7% at cos 0.45;
    * eight tables lift that to a usable recall, measured vs the all-pairs
    * ground truth in SimilaritySpec). Each vector shuffles once per table
    * — a constant ×8 on a (vec_id, 8-byte bucket) record, never the
    * all-pairs cross join of `dedupEmbedding` — candidate id-pairs are
    * deduped BEFORE the vectors are rejoined for the exact quantized-
    * cosine verify, so each surviving pair is verified exactly once. The
    * hyperplanes are deterministic integer vectors, so the DuckDB oracle
    * replays every table's bucket assignment bit-for-bit and the pair
    * set is fully SQL-checkable. At 100 TB, `NumPlanes` scales with
    * log₂(corpus/target-bucket) to keep per-bucket joins bounded (and
    * the Dedup.bandedCandidates cap pattern applies to pathological
    * buckets); `NumTables` buys recall at linear cost.
    */
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d)
    val entries = e.select(col("vec_id"),
      posexplode(array((0 until NumTables).map(t =>
        bucketOf(col("qv"), planes(n = NumPlanes, seed = tableSeed(t)))): _*)).as(Seq("t", "bkt")))
    val a = entries.select(col("t"), col("bkt"), col("vec_id").as("i"))
    val b = entries.select(col("t"), col("bkt"), col("vec_id").as("j"))
    val cand = a.join(b, Seq("t", "bkt")).filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val vi = e.select(col("vec_id").as("i"), col("qv").as("qa"), col("nq").as("na"))
    val vj = e.select(col("vec_id").as("j"), col("qv").as("qb"), col("nq").as("nb"))
    cand.join(vi, "i").join(vj, "j")
      .withColumn("cos", cosine(dot(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cos") > 0.45)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos_r"))
      .orderBy("i", "j")
  }

  /** D6: brute-force cosine top-k (k=10) for query vectors vec_id < 5 —
    * the small query side is broadcast, the corpus streams.
    */
  def annBruteforce(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qq"), col("nq").as("nqq"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(dot(col("qq"), col("qv")), col("nqq"), col("nq")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rnk")
  }

  // ---------- D7: hyperplane LSH ----------

  val NumPlanes = 6

  /** Deterministic pseudo-random hyperplanes (integer coords in ±1000). */
  def planes(dim: Int = 64, n: Int = NumPlanes, seed: Long = 7L): Seq[Seq[Long]] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Seq.fill(n)(Seq.fill(dim)((next() >>> 40) % 2001L - 1000L))
  }

  /** Sign-pattern bucket id of a quantized vector under the planes. */
  def bucketOf(qv: Column, ps: Seq[Seq[Long]] = planes()): Column =
    ps.zipWithIndex.map { case (p, i) =>
      when(dot(qv, typedlit(p)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** OR-amplification: independent hash tables for the pair-generation
    * path (table 0 = the `annLsh` planes).
    */
  val NumTables = 8
  def tableSeed(t: Int): Long = 7L + 13L * t

  // ---------- D13: IVF-style ANN ----------

  /** D13: IVF (inverted-file) ANN — the other classic scale path next to
    * LSH. Coarse quantizer: per-cluster centroids of the quantized
    * vectors (exact integer sums ÷ count → deterministic doubles); each
    * query probes its `nprobe` nearest centroids and exact-reranks only
    * those clusters' vectors. At 100 TB the corpus is partitioned by
    * cluster id once (one shuffle at index build), queries touch
    * nprobe/k of the data. Here the given `label` column is the cluster
    * assignment (k-means would produce it in a real index build).
    */
  /** Centroid per cluster: elementwise mean of quantized vectors, built
    * scale-safe — posexplode to (label, dim) cells, exact integer sum +
    * count per cell (partial-agg map-side; each agg buffer holds ONE
    * long, never a cluster's vector list), then re-assemble the 64-dim
    * array by sorting the (dim, mean) structs (tiny: one row per label).
    * A skewed billion-vector cluster costs a bigger shuffle, not a
    * bigger buffer. Input needs (label, qv) columns.
    */
  def ivfCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum("v").as("sv"), count(lit(1)).as("cn"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), (col("sv").cast("double") / col("cn")).as("cv")))),
        t => t.getField("cv")).as("centroid"))

  /** D13b `ann_incremental`: IVF index MAINTENANCE — the path that keeps
    * a vector index growing without re-clustering. Centroids are built
    * from the base corpus only (vec_id % 17 != 0 here; in production the
    * last full build) and the incoming batch (the % 17 == 0 slice)
    * assigns to its nearest EXISTING centroid: centroids broadcast
    * (#clusters rows), distances computed map-side over the batch scan,
    * and the argmin is a `min(struct(cdist, label))` aggregate — map-side
    * combinable, so the only shuffle carries one pre-reduced row per
    * incoming vector, and nothing sorts or windows. Cost is
    * O(batch · #centroids) CPU + one batch-sized shuffle, independent of
    * the indexed corpus size — the same contract as D27's incremental
    * dedup. Periodic full re-clustering (drift repair) remains the
    * batch ivfCentroids path.
    */
  def annIncremental(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d)
      .join(Tables.embeddings(s, d).select("vec_id", "label"), "vec_id")
    val cents = ivfCentroids(e.filter(col("vec_id") % 17 =!= 0))
    e.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id"), col("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("cdist",
        aggregate(zip_with(col("qv"), col("centroid"),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v))
      .groupBy("vec_id")
      .agg(min(struct(col("cdist"), col("label"))).as("m"))
      .select(col("vec_id"), col("m.label").as("assigned"),
        round(col("m.cdist"), 6).as("cdist_r"))
      .orderBy("vec_id")
  }

  val annIncrementalOracleSql: String = """
    WITH q0 AS (SELECT vec_id, label,
        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings),
    px AS (SELECT label, qv, unnest(range(1, len(qv)+1)) AS pos
           FROM q0 WHERE vec_id % 17 <> 0),
    cell AS (SELECT label, pos, qv[pos] AS v FROM px),
    cent AS (SELECT label, pos, CAST(sum(v) AS DOUBLE) / count(*) AS cv
             FROM cell GROUP BY label, pos),
    cl AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label),
    inc AS (SELECT vec_id, qv FROM q0 WHERE vec_id % 17 = 0),
    d AS (SELECT vec_id, cl.label,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip(inc.qv, cl.centroid),
              t -> (CAST(t[1] AS DOUBLE) - t[2]) * (CAST(t[1] AS DOUBLE) - t[2]))),
          (acc, v) -> acc + v) AS cdist
      FROM inc CROSS JOIN cl)
    SELECT vec_id, label AS assigned, round(cdist, 6) AS cdist_r
    FROM d QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cdist, label) = 1
    ORDER BY vec_id"""

  def annIvf(s: SparkSession, d: String, nprobe: Int = 3): DataFrame = {
    val e = quantized(s, d)
      .join(Tables.embeddings(s, d).select("vec_id", "label"), "vec_id")
    val cents = ivfCentroids(e)
    // assign each query to its nprobe nearest centroids (tiny cross join)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qq"), col("nq").as("nqq"))
    val cw = Window.partitionBy("qid").orderBy(col("cdist"), col("label"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cdist",
        aggregate(zip_with(col("qq"), col("centroid"), (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v))
      .withColumn("crnk", row_number().over(cw))
      .filter(col("crnk") <= nprobe)
      .select(col("qid"), col("qq"), col("nqq"), col("label"))
    // exact rerank within the probed clusters only
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(dot(col("qq"), col("qv")), col("nqq"), col("nq")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rnk")
  }

  /** D7: LSH-bucketed ANN — each corpus vector lands in one bucket;
    * queries multi-probe their own bucket plus all hamming-1 buckets,
    * then exact-rerank the candidates. Rows-only oracle; recall vs
    * brute force asserted in SimilaritySpec.
    */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d).withColumn("bucket", bucketOf(col("qv")))
    val probes = array((lit(0) +: (0 until NumPlanes).map(i => lit(1 << i))): _*)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("qv").as("qq"), col("nq").as("nqq"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(dot(col("qq"), col("qv")), col("nqq"), col("nq")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
      .orderBy("qid", "rnk")
  }

  /** D20: SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication") — semantic dedup via
    * cluster-then-prune: embeddings are first coarsely clustered (here the
    * `label` column stands in for the k-means assignment, same convention
    * as `annIvf`), then near-duplicates are removed WITHIN each cluster
    * only, keeping the lowest-id member of each near-dup pair. The cluster
    * constraint is what makes semantic dedup tractable at 100 TB: no
    * cross-cluster pair is ever considered.
    *
    * Within a cluster the candidate pairs come from the same 8-table
    * OR-amplified hyperplane buckets as `dedupEmbeddingLsh` — bucket key
    * (label, table, bucket) — so even a billion-vector cluster never goes
    * all-pairs; the exact quantized-cosine verify runs once per distinct
    * candidate pair. Deterministic planes → the full pipeline (clustering,
    * buckets, verify, keep rule) replays in the DuckDB oracle.
    *
    * Output: one row per DROPPED vector — (vec_id, label, kept_by =
    * lowest-id near-dup partner, max_cos_r).
    */
  def semDedup(s: SparkSession, d: String, threshold: Double = 0.45): DataFrame = {
    val e = quantized(s, d)
      .join(Tables.embeddings(s, d).select("vec_id", "label"), "vec_id")
    val entries = e.select(col("label"), col("vec_id"),
      posexplode(array((0 until NumTables).map(t =>
        bucketOf(col("qv"), planes(n = NumPlanes, seed = tableSeed(t)))): _*)).as(Seq("t", "bkt")))
    val a = entries.select(col("label"), col("t"), col("bkt"), col("vec_id").as("i"))
    val b = entries.select(col("label"), col("t"), col("bkt"), col("vec_id").as("j"))
    val cand = a.join(b, Seq("label", "t", "bkt")).filter(col("i") < col("j"))
      .select("label", "i", "j").distinct()
    val vi = e.select(col("vec_id").as("i"), col("qv").as("qa"), col("nq").as("na"))
    val vj = e.select(col("vec_id").as("j"), col("qv").as("qb"), col("nq").as("nb"))
    cand.join(vi, "i").join(vj, "j")
      .withColumn("cos", cosine(dot(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cos") > threshold)
      .groupBy(col("label"), col("j").as("vec_id"))
      .agg(min("i").as("kept_by"), max(round(col("cos"), 6)).as("max_cos_r"))
      .select(col("vec_id"), col("label"), col("kept_by"), col("max_cos_r"))
      .orderBy("vec_id")
  }

  /** D26: int8 symmetric quantization of the embedding column — the
    * storage/transport path for 100 TB of vectors (4× smaller than f32,
    * 8× smaller than the int64 verify form; IVF/LSH rerank quality is set
    * by the max reconstruction error this emits per vector).
    *
    * All arithmetic is integer over the exact round(x·10⁴) grid:
    *   code_i = sgn(q_i) · (|q_i|·127 DIV max|q|)   ∈ [−127, 127]
    *   err_i  = |q_i − sgn(code_i)·(|code_i|·max|q| DIV 127)|
    * Signs are factored out so truncating division only ever sees
    * non-negative operands — Spark DIV truncates toward zero while
    * DuckDB // floors, and they only agree on non-negatives.
    * Zero-shuffle single pass; emitted stats are the audit a quantized
    * store needs (code checksums + worst/mean reconstruction error).
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("maxabs", array_max(transform(col("qv"), x => abs(x))))
      .withColumn("codes", expr(
        "CASE WHEN maxabs = 0 THEN transform(qv, x -> 0L) " +
          "ELSE transform(qv, x -> (CASE WHEN x < 0 THEN -1L ELSE 1L END) * ((abs(x) * 127) DIV maxabs)) END"))
      .withColumn("errs", expr(
        "zip_with(qv, codes, (q, c) -> abs(q - (CASE WHEN c < 0 THEN -1L ELSE 1L END) * ((abs(c) * maxabs) DIV 127)))"))
      .select(col("vec_id"), col("maxabs"),
        expr("aggregate(codes, 0L, (a, x) -> a + x)").as("sum_code"),
        expr("aggregate(codes, 0L, (a, x) -> a + x * x)").as("sumsq_code"),
        array_max(col("errs")).as("max_err"),
        expr("aggregate(errs, 0L, (a, x) -> a + x) * 100 DIV size(errs)").as("mean_err_x100"))
      .orderBy("vec_id")

  val quantizeOracleSql: String = """
    WITH q AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings),
    m AS (
      SELECT vec_id, qv, list_max(list_transform(qv, x -> abs(x))) AS maxabs FROM q),
    c AS (
      SELECT vec_id, qv, maxabs,
        CASE WHEN maxabs = 0 THEN list_transform(qv, x -> CAST(0 AS BIGINT))
             ELSE list_transform(qv, x ->
               (CASE WHEN x < 0 THEN -1 ELSE 1 END) * ((abs(x) * 127) // maxabs)) END AS codes
      FROM m),
    e AS (
      SELECT vec_id, maxabs, codes,
        list_transform(list_zip(qv, codes), t ->
          abs(t[1] - (CASE WHEN t[2] < 0 THEN -1 ELSE 1 END) * ((abs(t[2]) * maxabs) // 127))) AS errs
      FROM c)
    SELECT vec_id, CAST(maxabs AS BIGINT) AS maxabs,
      CAST(list_sum(codes) AS BIGINT) AS sum_code,
      CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS sumsq_code,
      CAST(list_max(errs) AS BIGINT) AS max_err,
      CAST(list_sum(errs) * 100 // len(errs) AS BIGINT) AS mean_err_x100
    FROM e ORDER BY vec_id"""
}
