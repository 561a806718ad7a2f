package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Central table catalog over a scale-factor directory.
  *
  * Every read in the engine goes through here so that column pruning and
  * filter pushdown are uniform: callers `.select(...)` immediately and
  * Catalyst prunes the parquet scan (verified in PlanSpec).
  *
  * Spark-first analog of the reference's catalog surface
  * (`SHOW DATABASES` hash in RunnableDB/Database.pm:55-62 and the dir
  * listings in RunnableDB/DatabaseFactory.pm:101-150).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet` of `<dir>/<name>.parquet` with the schema
    * resolved up front ([[footerSchema]]), so building the frame starts
    * no Spark job. Reads Spark would infer differently — schema merging
    * on, summary files or partition directories present, no data file —
    * keep the inferring read.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema a non-merging `spark.read.parquet(path)` infers, from ONE
    * footer read on the driver: the path itself when it is a file, else
    * its first visible data file by path — the file Spark's inference
    * reads when no summary file exists — converted under the session's
    * conf (`GraftParquetShim.readSchema`, so `nanosAsLong` and NTZ
    * inference apply alike). None where inference would read otherwise.
    */
  private def footerSchema(s: SparkSession, path: String): Option[StructType] = {
    if (s.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val conf = graft.etl.Snapshots.footerConf(s)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val st = fs.getFileStatus(p)
    val file =
      if (!st.isDirectory) Some(st)
      else {
        val listed = fs.listStatus(p).toSeq
        val visible = listed.filterNot { f =>
          val n = f.getPath.getName
          n.startsWith(".") || (n.startsWith("_") && !n.contains("=")) || n.endsWith("._COPYING_")
        }
        val summary = listed.exists(f => Set("_metadata", "_common_metadata")(f.getPath.getName))
        if (summary || visible.exists(_.isDirectory)) None
        else visible.sortBy(_.getPath.toString).headOption
      }
    file.map { f =>
      val footer = new Footer(f.getPath, graft.etl.Snapshots.footer(s, f.getPath))
      GraftParquetShim.readSchema(Seq(footer), s)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** events.parquet has carried `ts` in three physical shapes across
    * testdata generations: TIMESTAMP(NANOS) (surfaced as long via
    * `spark.sql.legacy.parquet.nanosAsLong`, floor-truncated to µs here —
    * the same truncation DuckDB applies casting ns→µs), naive
    * TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ by the parquet NTZ
    * inference), and tz-adjusted micros (already TimestampType). All are
    * normalized to TimestampType: the session timezone is pinned to UTC
    * (GraftSession), so the NTZ→LTZ cast relabels the same wall-clock
    * instant and every downstream `unix_micros`/`date_format`/window
    * agrees with the DuckDB oracle's naive-timestamp reading.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Decouple MAP parallelism from input splits ahead of a CPU-heavy
    * per-row transform (shingling, window hashing, tokenization).
    *
    * Guide §2.5 (input skew): a table that arrives as fewer splits than
    * the cluster has slots runs the whole transform on those few tasks —
    * the gate corpus is ONE parquet file, so every expensive map stage
    * was serial no matter the core count. Scale-adaptive by
    * construction: when the scan already yields >= defaultParallelism
    * splits (any real 100 TB table), this is the identity — no exchange
    * is added at scale, the shuffle only exists exactly when the input
    * is too few splits to feed the machine. HASH partitioning over
    * every column, not round-robin: a keyless repartition(n) first
    * pays a LOCAL SORT of its input inside the (single!) map task
    * (sortBeforeRepartition, guide §2.5) — measured to eat the whole
    * parallelism win on a 6M-row input. Hashing the full row spreads
    * as evenly (the call sites all carry a unique id or near-unique
    * measures), costs one murmur3 per row, is deterministic under
    * task retry by construction, and results never depend on
    * partitioning.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Decide WITHOUT executing anything (`.rdd.getNumPartitions` on an
    // AQE plan materializes its shuffle stages eagerly — a whole extra
    // execution). A plan that already contains an exchange runs at the
    // configured shuffle parallelism — identity. Otherwise the input is
    // a narrow chain over the scan, whose task count is the file-split
    // count: estimate it from the leaf files' sizes (driver-cheap: we
    // only stat when there are FEWER files than cores).
    val hasExchange = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }
    if (hasExchange) return df
    val files = df.inputFiles
    // no file leaves (a checkpointed or local frame): no split count to
    // fix, and a shuffle would only add a full-row exchange
    if (files.isEmpty || files.length >= target) return df
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val splits = files.map { f =>
      val size = try {
        val u = new java.net.URI(f)
        if (u.getScheme == null || u.getScheme == "file")
          java.nio.file.Files.size(java.nio.file.Paths.get(u.getPath))
        else maxSplit * target // non-local: assume enough splits, skip
      } catch { case scala.util.control.NonFatal(_) => maxSplit * target }
      (size + maxSplit - 1) / maxSplit
    }.sum
    if (splits >= target) df
    else df.repartition(target, df.columns.map(df.col).toIndexedSeq: _*)
  }
}
