package graft.sources

import java.nio.file.{Files, Path}

import scala.collection.JavaConverters._

import graft.TestSpark
import graft.etl.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed catalog tables — `PARTITIONED BY (bucket(n, c))`: the
  * `_pv=<bucket id>` layout (id = pmod(murmur3(c), n), served by the
  * catalog's own FunctionCatalog `bucket`), key-grouped scan output, and
  * the storage-partitioned join on a HIGH-cardinality key — plus the
  * loud refusals (morkey composition, widening/dropping the bucket
  * column) and the graceful SPJ decline once a copy-on-write rewrite
  * de-buckets a file.
  */
class GraftBucketedSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private var n = 0
  private def freshCatalog(): (String, Path) = {
    n += 1
    val cat = s"gbkt$n"
    val root = Files.createTempDirectory(s"graft_gbkt$n")
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (cat, root)
  }

  private def rm(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  private def countShuffles(p: SparkPlan): Int = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p match {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => 1
      case _ => 0
    }) + kids.map(countShuffles).sum
  }

  private def withSpj[A](f: => A): A = {
    val prevSpj = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally {
      prevSpj match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None    => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bucketed CREATE + INSERT land _pv=<id> files; reads are exact") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
      s.range(0, 10000).select(col("id").as("k"), (col("id") * 3).as("v"))
        .writeTo(s"$cat.t").append()
      val entries = Snapshots.manifest(root.resolve("t"), 1)
      assert(entries.nonEmpty)
      val ids = entries.flatMap(e => GraftScan.pvOfPath(e.relPath))
      assert(ids.size == entries.size, "every bucketed file must carry _pv=")
      assert(ids.toSet.subsetOf((0 until 8).map(_.toString).toSet))
      assert(ids.toSet.size == 8, "10k sequential keys must hit all 8 buckets")
      val got = s.table(s"$cat.t").agg(count(lit(1)), sum("v")).head
      assert(got.getLong(0) == 10000L && got.getLong(1) == 3L * (9999L * 10000L / 2))
    } finally rm(root)
  }

  test("storage-partitioned join on the bucket SOURCE column: zero shuffles") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) PARTITIONED BY (bucket(8, k))")
      s.range(0, 20000).select(col("id").as("k"), col("id").as("v"))
        .writeTo(s"$cat.a").append()
      s.range(0, 20000, 2).select(col("id").as("k"), (col("id") * 10).as("w"))
        .writeTo(s"$cat.b").append()
      withSpj {
        // group on the join key: the per-key aggregate rides the same
        // key-grouped distribution, so the WHOLE plan is exchange-free
        // (a global aggregate would add its unavoidable SinglePartition
        // exchange above the join and prove nothing about the join)
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("svw"))
        val rows = joined.collect()
        assert(rows.length == 10000)
        assert(rows.map(_.getLong(1)).sum == (0L until 20000L by 2).map(k => k + k * 10).sum)
        val sh = countShuffles(joined.queryExecution.executedPlan)
        assert(sh == 0,
          s"bucketed join still shuffled ($sh):\n${joined.queryExecution.executedPlan}")
      }
    } finally rm(root)
  }

  test("runtime filter prunes bucket files from a dim join's keys") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.fact (k BIGINT, v BIGINT) PARTITIONED BY (bucket(16, k))")
      s.range(0, 100000).select(col("id").as("k"), col("id").as("v"))
        .repartition(4).writeTo(s"$cat.fact").append()
      val dimPath = Files.createTempDirectory("gbkt_dim")
      s.range(0, 100000).select(col("id").as("dk"), (col("id") % 50000).as("dg"))
        .write.mode("overwrite").parquet(dimPath.toString)
      // the SELECTIVE dim filter is applied IN the query — dynamic
      // pruning only plants a runtime filter when the build side is
      // filtered (an unfiltered dim carries every key; pruning would
      // keep everything). Two keys → at most two bucket ids survive.
      GraftScan.resetRuntimePrune(root.resolve("fact"))
      val joined = s.table(s"$cat.fact")
        .join(s.read.parquet(dimPath.toString).filter(col("dk").isin(7L, 12345L)),
          col("k") === col("dk"))
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val row = joined.collect().head
      assert(row.getLong(0) == 2L && row.getLong(1) == 7L + 12345L)
      val (kept, total) = GraftScan.lastRuntimePruneFor(root.resolve("fact"))
      assert(total > 0, "runtime filter never fired on the bucketed fact")
      assert(kept < total, s"bucket runtime filter pruned nothing: $kept of $total")
      rm(dimPath)
    } finally rm(root)
  }

  test("loud refusals: widen/drop of the bucket column") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.t (k INT, v BIGINT) PARTITIONED BY (bucket(4, k))")
      s.range(0, 10).select(col("id").cast("int").as("k"), col("id").as("v"))
        .writeTo(s"$cat.t").append()
      val widen = scala.util.Try(s.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT"))
      assert(widen.isFailure, "widening the bucket column must refuse " +
        "(murmur3(int) != murmur3(bigint): keys would scatter across buckets)")
      val drop = scala.util.Try(s.sql(s"ALTER TABLE $cat.t DROP COLUMN k"))
      assert(drop.isFailure, "dropping the bucket column must refuse")
      // v is free to go
      s.sql(s"ALTER TABLE $cat.t DROP COLUMN v")
      assert(s.table(s"$cat.t").columns.toSeq == Seq("k"))
    } finally rm(root)
  }

  test("rename of the bucket column is metadata-only; SPJ keeps working") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
      s.range(0, 5000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 5000).select(col("id").as("k"), col("id").as("w")).writeTo(s"$cat.b").append()
      s.sql(s"ALTER TABLE $cat.a RENAME COLUMN k TO key")
      withSpj {
        val joined = s.table(s"$cat.a")
          .join(s.table(s"$cat.b"), col("key") === col("k"))
          .groupBy("key").agg(count(lit(1)).as("n"))
        assert(joined.collect().length == 5000)
        val sh = countShuffles(joined.queryExecution.executedPlan)
        assert(sh == 0, s"renamed bucket column broke SPJ ($sh shuffles)")
      }
    } finally rm(root)
  }

  private def countSorts(p: SparkPlan): Int = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p match {
      case _: org.apache.spark.sql.execution.SortExec => 1
      case _ => 0
    }) + kids.map(countSorts).sum
  }

  test("sorted bucketed tables: the merge join runs with zero exchanges AND zero sorts") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('sortcol'='k')")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 20000).select(col("id").as("k"), col("id").as("v"))
        .writeTo(s"$cat.a").append()
      s.range(0, 20000, 2).select(col("id").as("k"), (col("id") * 10).as("w"))
        .writeTo(s"$cat.b").append()
      withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("svw"))
        val rows = joined.collect()
        assert(rows.length == 10000)
        assert(rows.map(_.getLong(1)).sum == (0L until 20000L by 2).map(k => k + k * 10).sum)
        val plan = joined.queryExecution.executedPlan
        assert(countShuffles(plan) == 0, s"sorted SPJ shuffled:\n$plan")
        assert(countSorts(plan) == 0,
          s"reported ordering did not elide the merge join's sorts:\n$plan")
      }
    } finally rm(root)
  }

  test("disjoint appends keep the ordering; overlapping appends decline it") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 5000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(5000, 10000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 10000).select(col("id").as("k"), col("id").as("w")).writeTo(s"$cat.b").append()
      def runJoin(): (Long, SparkPlan) = withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        val n = joined.collect().length.toLong
        (n, joined.queryExecution.executedPlan)
      }
      val (n1, p1) = runJoin()
      assert(n1 == 10000L)
      // the two appends' key ranges are disjoint PER BUCKET (hash
      // scatters them, but zone ranges [0,4999] vs [5000,9999] per file
      // stay disjoint), so the ordering claim survives the append
      assert(countSorts(p1) == 0, s"disjoint appends lost the ordering:\n$p1")
      assert(countShuffles(p1) == 0)
      // an OVERLAPPING append: same key range again (duplicate keys)
      s.range(0, 5000).select(col("id").as("k"), lit(7L).as("v")).writeTo(s"$cat.a").append()
      val (n2, p2) = runJoin()
      assert(n2 == 10000L, "overlap leg lost rows")
      assert(countSorts(p2) > 0,
        s"overlapping file ranges MUST decline the ordering claim:\n$p2")
      assert(countShuffles(p2) == 0, "the partitioning claim should survive")
      // CALL system.compact is bucket-aware: it folds each bucket to one
      // sorted file, RESTORING the ordering claim the overlap declined
      s.sql(s"CALL $cat.system.compact('a', 4)")
      val entries = Snapshots.manifest(root.resolve("a"),
        Snapshots.currentId(root.resolve("a")).get)
      assert(entries.forall(e => GraftScan.pvOfPath(e.relPath).isDefined),
        "bucket-aware compact lost the _pv= layout")
      assert(entries.size == 4, s"compact should fold to one file per bucket, " +
        s"got ${entries.size}")
      val (n3, p3) = runJoin()
      assert(n3 == 10000L, "post-compact join lost rows")
      val sumAfter = withSpj {
        s.table(s"$cat.a").agg(sum("v")).head.getLong(0)
      }
      assert(sumAfter == (0L until 10000L).sum + 5000L * 7L, "compact changed rows")
      assert(countSorts(p3) == 0, s"compact must RESTORE the ordering claim:\n$p3")
      assert(countShuffles(p3) == 0)
    } finally rm(root)
  }

  test("sortcol refusals: non-bucketed, nullable, late declaration") {
    val (cat, root) = freshCatalog()
    try {
      assert(scala.util.Try(s.sql(
        s"CREATE TABLE $cat.p (k BIGINT NOT NULL, v BIGINT) TBLPROPERTIES ('sortcol'='k')"))
        .isFailure, "sortcol on a non-bucketed table must refuse")
      assert(scala.util.Try(s.sql(
        s"CREATE TABLE $cat.q (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k)) " +
          "TBLPROPERTIES ('sortcol'='k')")).isFailure,
        "a NULLABLE sortcol must refuse (per-file nulls-first breaks concatenation)")
      s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) PARTITIONED BY (bucket(4, k))")
      s.range(0, 100).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.t").append()
      assert(scala.util.Try(s.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('sortcol'='k')")).isFailure,
        "declaring sortcol over existing (unsorted) data must refuse")
      // SPEC EVOLUTION: layout-property changes over existing data are
      // allowed as METADATA — `specfrom` stamps the base id so carried
      // files are never judged under the new spec (claims decline
      // until maintenance migrates them; catalog_respec drives the
      // full lifecycle)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bucketn'='8')")
      val props = s.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("bucketn").contains("8") && props.contains("specfrom"),
        s"spec evolution must stamp specfrom: $props")
      // incoherent transitions still refuse: identity AND bucket never
      // coexist, and a layout column must exist with pinned hash
      // semantics
      assert(scala.util.Try(s.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('partitioncol'='v')")).isFailure,
        "bucketed AND identity-partitioned must refuse")
      assert(scala.util.Try(s.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('bucketcol'='nope')")).isFailure,
        "a bucketcol naming no column must refuse")
      // an EMPTY table may still declare layout properties (no specfrom)
      s.sql(s"CREATE TABLE $cat.e (k BIGINT NOT NULL, v BIGINT)")
      s.sql(s"ALTER TABLE $cat.e SET TBLPROPERTIES ('bucketcol'='k', 'bucketn'='4')")
      val eProps = s.sql(s"SHOW TBLPROPERTIES $cat.e").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(!eProps.contains("specfrom"),
        "an empty table's layout declaration needs no spec stamp")
    } finally rm(root)
  }

  test("runtime prune to an EMPTY set under key-grouped output keeps the files") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.fact (p BIGINT, v BIGINT) PARTITIONED BY (p)")
      s.range(0, 4000).select((col("id") % 4).as("p"), col("id").as("v"))
        .writeTo(s"$cat.fact").append()
      val dimPath = Files.createTempDirectory("gbkt_nodim")
      s.range(0, 200).select(col("id").as("dk")).write.mode("overwrite")
        .parquet(dimPath.toString)
      withSpj {
        // the dim's surviving key (99) matches NO fact partition: the
        // runtime IN-set would prune every file — under key-grouped
        // output the scan must keep them (pruning is an I/O
        // optimization; zero groups would break group alignment) and
        // the join still correctly returns nothing
        val joined = s.table(s"$cat.fact")
          .join(s.read.parquet(dimPath.toString).filter(col("dk") === 99),
            col("p") === col("dk"))
          .groupBy("p").agg(count(lit(1)).as("n"))
        assert(joined.collect().isEmpty)
      }
      rm(dimPath)
    } finally rm(root)
  }

  test("add_files adoption de-buckets; bucket-aware compact re-buckets") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 4000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 8000).select(col("id").as("k"), col("id").as("w")).writeTo(s"$cat.b").append()
      // an external producer's files adopted zero-copy: they carry no
      // _pv= proof, so the scan DECLINES key-grouped output (correct,
      // not fast) until maintenance re-buckets them
      val ext = Files.createTempDirectory("gbkt_adopt")
      s.range(4000, 8000).select(col("id").as("k"), col("id").as("v"))
        .coalesce(1).write.mode("overwrite").parquet(ext.toString)
      s.sql(s"CALL $cat.system.add_files('a', '$ext')")
      def runJoin(): (Long, SparkPlan) = withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        (joined.collect().length.toLong, joined.queryExecution.executedPlan)
      }
      val (n1, p1) = runJoin()
      assert(n1 == 8000L, "adopted rows missing from the join")
      assert(countShuffles(p1) > 0, "adopted files cannot claim bucket grouping")
      s.sql(s"CALL $cat.system.compact('a', 4)")
      val (n2, p2) = runJoin()
      assert(n2 == 8000L)
      assert(countShuffles(p2) == 0 && countSorts(p2) == 0,
        s"compact must re-bucket adopted files into the SPJ layout:\n$p2")
      rm(ext)
    } finally rm(root)
  }

  test("SPJ and runtime filtering compose: pruned key groups re-align") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) PARTITIONED BY (bucket(8, k))")
      s.range(0, 8000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 8000).select(col("id").as("k"), (col("id") * 3).as("w")).writeTo(s"$cat.b").append()
      val dimPath = Files.createTempDirectory("gbkt_compose")
      s.range(0, 8000).select(col("id").as("dk"), (col("id") % 4000).as("dg"))
        .write.mode("overwrite").parquet(dimPath.toString)
      withSpj {
        // the dim join plants a runtime IN-set on ONE key-grouped side;
        // its pruned groups must re-align with the other side's full
        // set (Spark pads pruned keys with empty partitions) — the
        // composed answer stays exact
        GraftScan.resetRuntimePrune(root.resolve("a"))
        val joined = s.table(s"$cat.a")
          .join(s.read.parquet(dimPath.toString)
            .filter(col("dk").isin(5L, 17L, 4242L)), col("k") === col("dk"))
          .join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        val rows = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(rows == Map(5L -> 20L, 17L -> 68L, 4242L -> 16968L))
      }
      rm(dimPath)
    } finally rm(root)
  }

  test("skewed buckets chunk: partially-clustered SPJ stays exact, keeps splits") {
    val (cat, root) = freshCatalog()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.files.maxPartitionBytes")
    val prev = confs.map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
      // skew: 50k rows on ONE key (one bucket), a trickle elsewhere;
      // repartition(8) scatters the hot bucket across 8 files
      val skewed = s.range(0, 50000).select(lit(1L).as("k"), col("id").as("v"))
        .union(s.range(0, 300).select((col("id") % 7 + 2).as("k"), col("id").as("v")))
        .repartition(8)
      skewed.writeTo(s"$cat.a").append()
      s.range(0, 9).select(col("id").as("k"), (col("id") * 5).as("w"))
        .writeTo(s"$cat.b").append()
      val expected = skewed.join(
        s.range(0, 9).select(col("id").as("k"), (col("id") * 5).as("w")), "k")
        .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // a tiny split budget forces the hot bucket into many chunks
      s.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        val got = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, "partially-clustered skew join drifted")
        // the hot side planned MORE partitions than it has keys — the
        // chunks partially-clustered execution parallelizes over
        def scansOf(p: SparkPlan): Seq[
            org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
            case other => other.children
          }
          (p match {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
            case _ => Nil
          }) ++ kids.flatMap(scansOf)
        }
        val scans = scansOf(joined.queryExecution.executedPlan)
        assert(scans.exists(_.inputPartitions.length > 4),
          s"skewed bucket did not chunk: ${scans.map(_.inputPartitions.length)}")
      }
    } finally {
      confs.foreach(k => prev(k) match {
        case Some(v) => s.conf.set(k, v)
        case None    => s.conf.unset(k)
      })
      rm(root)
    }
  }

  test("INSERT OVERWRITE on a bucketed table keeps layout and history") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 1000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.t").append()
      s.sql(s"INSERT OVERWRITE $cat.t SELECT id, id * 9 FROM range(0, 500)")
      val store = root.resolve("t")
      assert(Snapshots.currentId(store).contains(2))
      val cur = Snapshots.manifest(store, 2)
      assert(cur.forall(e => GraftScan.pvOfPath(e.relPath).isDefined),
        "overwrite lost the bucket layout")
      assert(s.table(s"$cat.t").count() == 500L)
      assert(s.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1").head.getLong(0) == 1000L,
        "overwrite must keep history readable")
      // the overwritten table still plays the full SPJ game
      s.sql(s"CREATE TABLE $cat.u (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 500).select(col("id").as("k"), col("id").as("w")).writeTo(s"$cat.u").append()
      withSpj {
        val joined = s.table(s"$cat.t").join(s.table(s"$cat.u"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        assert(joined.collect().length == 500)
        assert(countShuffles(joined.queryExecution.executedPlan) == 0)
        assert(countSorts(joined.queryExecution.executedPlan) == 0)
      }
    } finally rm(root)
  }

  test("morkey composes: MoR UPDATE stays bucket-pure, compact restores the claims") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('morkey'='k', 'sortcol'='k')")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('morkey'='k', 'sortcol'='k')")
      s.range(0, 5000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 5000).select(col("id").as("k"), (col("id") * 2).as("w")).writeTo(s"$cat.b").append()
      val store = root.resolve("a")
      val base = Snapshots.manifest(store, 1)
      // merge-on-read UPDATE: zero base files rewritten, delta bucket-pure
      s.sql(s"UPDATE $cat.a SET v = v + 1000000 WHERE k < 500")
      val after = Snapshots.manifest(store, 2)
      base.foreach(b0 => assert(after.exists(e =>
        e.relPath == b0.relPath && e.md5 == b0.md5),
        s"MoR UPDATE rewrote base file ${b0.relPath}"))
      val (tombs, datas) = after.filter(_.seq == 2).partition(Snapshots.isDelete)
      assert(tombs.nonEmpty && datas.nonEmpty, "expected tombstone + delta rows")
      datas.foreach(e => assert(GraftScan.pvOfPath(e.relPath).isDefined,
        s"delta file ${e.relPath} poisons the bucket layout"))
      def runJoin(): (Map[Long, Long], SparkPlan) = withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        (joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          joined.queryExecution.executedPlan)
      }
      val expected = (0L until 5000L).map(k =>
        k -> ((if (k < 500) k + 1000000L else k) + k * 2)).toMap
      // tombstones live: claims DECLINE (merged read), answers exact
      val (got1, p1) = runJoin()
      assert(got1 == expected, "merged bucketed join drifted")
      assert(countShuffles(p1) > 0,
        "a tombstone-bearing snapshot must not claim key-grouped output")
      // compact folds the tombstones AND restores SPJ + ordering
      s.sql(s"CALL $cat.system.compact('a', 4)")
      val folded = Snapshots.manifest(store, Snapshots.currentId(store).get)
      assert(!folded.exists(Snapshots.isDelete), "compact left tombstones")
      val (got2, p2) = runJoin()
      assert(got2 == expected, "post-compact join drifted")
      assert(countShuffles(p2) == 0 && countSorts(p2) == 0,
        s"compact must restore the zero-exchange zero-sort join:\n$p2")
    } finally rm(root)
  }

  test("position deletes compose: pairs never touch the layout, compact folds them") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('mordelete'='position', 'sortcol'='k')")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 5000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 5000).select(col("id").as("k"), (col("id") * 2).as("w")).writeTo(s"$cat.b").append()
      val store = root.resolve("a")
      val base = Snapshots.manifest(store, 1)
      // a FILTER-TRANSLATABLE predicate routes through deleteWhere's
      // position-pair path (an untranslatable one takes the group
      // rewrite, which de-buckets honestly — the CoW spec covers that)
      s.sql(s"DELETE FROM $cat.a WHERE v >= 1000 AND v < 1500")
      val after = Snapshots.manifest(store, 2)
      base.foreach(b0 => assert(after.exists(e =>
        e.relPath == b0.relPath && e.md5 == b0.md5),
        s"position DELETE rewrote base file ${b0.relPath}"))
      assert(after.exists(Snapshots.isDelete), "expected position pair files")
      def runJoin(): (Map[Long, Long], SparkPlan) = withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("s"))
        (joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
          joined.queryExecution.executedPlan)
      }
      val expected = (0L until 5000L).filterNot(k => k >= 1000 && k < 1500)
        .map(k => k -> (k + k * 2)).toMap
      val (got1, p1) = runJoin()
      assert(got1 == expected, "pair-merged bucketed join drifted")
      assert(countShuffles(p1) > 0,
        "a pair-bearing snapshot must not claim key-grouped output")
      s.sql(s"CALL $cat.system.compact('a', 4)")
      val folded = Snapshots.manifest(store, Snapshots.currentId(store).get)
      assert(!folded.exists(Snapshots.isDelete), "compact left position pairs")
      assert(folded.forall(e => GraftScan.pvOfPath(e.relPath).isDefined),
        "compact lost the bucket layout")
      val (got2, p2) = runJoin()
      assert(got2 == expected, "post-compact join drifted")
      assert(countShuffles(p2) == 0 && countSorts(p2) == 0,
        s"compact must restore the zero-exchange zero-sort join:\n$p2")
    } finally rm(root)
  }

  test("copy-on-write UPDATE de-buckets: SPJ declines, answers stay exact") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
      s.range(0, 5000).select(col("id").as("k"), col("id").as("v")).writeTo(s"$cat.a").append()
      s.range(0, 5000).select(col("id").as("k"), (col("id") * 2).as("w")).writeTo(s"$cat.b").append()
      // the group rewrite stages files with no _pv= proof — the scan
      // must DECLINE key-grouped output (correctness first), not claim
      // a grouping the files no longer honor
      s.sql(s"UPDATE $cat.a SET v = v + 1000000 WHERE k < 100")
      withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("svw"))
        val row = joined.collect().head
        assert(row.getLong(0) == 5000L)
        val expected = (0L until 5000L).map(k =>
          (if (k < 100) k + 1000000L else k) + k * 2).sum
        assert(row.getLong(1) == expected, "post-UPDATE join drifted")
        assert(countShuffles(joined.queryExecution.executedPlan) > 0,
          "SPJ must decline once files lost their bucket proof")
      }
    } finally rm(root)
  }

  test("insert-only MERGE lands SORTED delta files: the ordering claim stays true") {
    // Regression: an insert-only MERGE commits NO tombstones, so the
    // very next scan is the claiming one. If the delta file were staged
    // unsorted yet zone-mapped on the sort column, disjoint per-bucket
    // ranges (the classic append-new-keys shape) would "prove" an
    // ordering the bytes don't have and the elided-sort merge join
    // would return wrong results.
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a (k BIGINT NOT NULL, v BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('morkey'='k', 'sortcol'='k')")
      s.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('sortcol'='k')")
      s.range(0, 5000).select(col("id").as("k"), col("id").as("v"))
        .writeTo(s"$cat.a").append()
      s.range(0, 10000).select(col("id").as("k"), (col("id") * 2).as("w"))
        .writeTo(s"$cat.b").append()
      // new keys 5000..9999 arrive DESCENDING — per-bucket zone ranges
      // are disjoint from the existing files', so the ordering claim is
      // live right after the commit (no tombstones to decline it)
      s.sql(s"MERGE INTO $cat.a t USING " +
        "(SELECT (9999 - id) AS k, (9999 - id) * 3 AS v FROM range(0, 5000)) s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
      val store = root.resolve("a")
      val m = Snapshots.manifest(store, Snapshots.currentId(store).get)
      assert(!m.exists(Snapshots.isDelete), "insert-only MERGE staged tombstones")
      m.filter(_.seq == 2).foreach(e => assert(GraftScan.pvOfPath(e.relPath).isDefined,
        s"delta file ${e.relPath} poisons the bucket layout"))
      withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("svw"))
        val got = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val plan = joined.queryExecution.executedPlan
        // the claim SHOULD hold (delta is sorted like every bucketed
        // write) — and with it held, the join must still be exact
        assert(countShuffles(plan) == 0 && countSorts(plan) == 0,
          s"sorted delta should keep the zero-exchange zero-sort join:\n$plan")
        val expected = (0L until 5000L).map(k => k -> (k + k * 2)).toMap ++
          (5000L until 10000L).map(k => k -> (k * 3 + k * 2)).toMap
        assert(got == expected, "elided-sort merge join drifted")
      }
    } finally rm(root)
  }

  test("DSv2 write contract: engine plans the bucket shuffle, AQE sizes it") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.kv (k BIGINT NOT NULL, v STRING) " +
        "PARTITIONED BY (bucket(8, k)) " +
        "TBLPROPERTIES ('sortcol'='k', 'statscol'='k')")
      val captured = new java.util.concurrent.CopyOnWriteArrayList[
        org.apache.spark.sql.execution.QueryExecution]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          captured.add(qe)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      s.listenerManager.register(listener)
      val insertQe = try {
        s.sql(s"INSERT INTO $cat.kv SELECT id, concat('v', id) FROM range(0, 20000)")
        // the listener bus delivers asynchronously
        var waited = 0
        def find = captured.asScala.find(
          _.executedPlan.toString.contains("GraftBucketedBatchWrite"))
        while (find.isEmpty && waited < 20000) { Thread.sleep(100); waited += 100 }
        find.getOrElse(fail("INSERT's query execution never reached the listener"))
      } finally s.listenerManager.unregister(listener)
      val str = insertQe.executedPlan.toString
      // the exchange is the ENGINE's, clustering on the catalog's own
      // bucket function (RequiresDistributionAndOrdering resolved
      // through the FunctionCatalog), inside the INSERT's one pipeline
      assert(str.contains("applyfunctionexpression") && str.contains("Exchange"),
        s"write plan lacks the connector-negotiated bucket exchange:\n$str")
      assert(str.contains("Sort ["),
        s"write plan lacks the declared [bucket, sortcol] ordering:\n$str")
      // AQE chose the write-shuffle partition count: 20k tiny rows
      // coalesce far below the static spark.sql.shuffle.partitions
      def reads(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        (p match {
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => Seq(r)
          case _ => Nil
        }) ++ kids.flatMap(reads)
      }
      val rs = reads(insertQe.executedPlan)
      assert(rs.nonEmpty, s"no AQE shuffle read in the write plan:\n$str")
      val chosen = rs.head.partitionSpecs.length
      assert(chosen < s.sessionState.conf.numShufflePartitions,
        s"AQE did not size the write shuffle: $chosen partitions")
      // and the layout claims hold off files written by THIS path:
      // bucket-pure, per-bucket sorted — the co-located merge join runs
      // zero exchanges AND zero sorts
      val store = root.resolve("kv")
      Snapshots.manifest(store, 1).foreach(e =>
        assert(GraftScan.pvOfPath(e.relPath).isDefined,
          s"clustered write landed a layout-less file ${e.relPath}"))
      s.sql(s"CREATE TABLE $cat.kw (k BIGINT NOT NULL, w BIGINT) " +
        "PARTITIONED BY (bucket(8, k)) " +
        "TBLPROPERTIES ('sortcol'='k', 'statscol'='k')")
      s.sql(s"INSERT INTO $cat.kw SELECT id, id * 2 FROM range(0, 20000)")
      withSpj {
        val joined = s.table(s"$cat.kv").join(s.table(s"$cat.kw"), "k")
        val got = joined.count()
        val plan = joined.queryExecution.executedPlan
        assert(countShuffles(plan) == 0 && countSorts(plan) == 0,
          s"claims written by the DSv2 path must hold:\n$plan")
        assert(got == 20000L)
      }
    } finally rm(root)
  }

  test("partitions metadata table reports live sorted_disjoint claims") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.kv (k BIGINT NOT NULL, v STRING) " +
        "PARTITIONED BY (bucket(4, k)) " +
        "TBLPROPERTIES ('sortcol'='k', 'statscol'='k')")
      s.sql(s"INSERT INTO $cat.kv SELECT id, concat('v', id) FROM range(0, 4000)")
      def meta() = s.sql(
        s"SELECT partition, n_files, n_rows, sorted_disjoint FROM $cat.kv.partitions")
        .collect().map(r => (Option(r.getString(0)),
          r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3))))
      val m1 = meta()
      assert(m1.length == 4 && m1.forall(_._4.contains(true)),
        s"sorted write should prove every bucket disjoint: ${m1.mkString(",")}")
      assert(m1.map(_._3).sum == 4000L)
      // an OVERLAPPING append flips the claim to FALSE (provably held
      // zones, provably overlapping) — exactly when the scan declines
      // the ordering
      s.sql(s"INSERT INTO $cat.kv SELECT id, concat('w', id) FROM range(0, 4000)")
      val m2 = meta()
      assert(m2.forall(_._4.contains(false)),
        s"overlapping append should flip sorted_disjoint to false: ${m2.mkString(",")}")
      // bucket-aware compact RESTORES it — the metadata table is how an
      // operator sees that a compact is due, and that it worked
      s.sql(s"CALL $cat.system.compact(tbl => 'kv', target_files => 4)")
      val m3 = meta()
      assert(m3.length == 4 && m3.forall(_._4.contains(true)),
        s"compact should restore the claim: ${m3.mkString(",")}")
      assert(m3.map(_._3).sum == 8000L)
      // SPEC EVOLUTION visibility: after an ALTER the partitions report
      // under_current_spec = false (a compact is due); after the compact
      // they report true again
      def spec() = s.sql(
        s"SELECT partition, under_current_spec FROM $cat.kv.partitions")
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(spec().values.forall(_ == true))
      s.sql(s"ALTER TABLE $cat.kv SET TBLPROPERTIES ('bucketn'='8')")
      assert(spec().values.forall(_ == false),
        "post-evolution partitions must report under_current_spec = false")
      s.sql(s"CALL $cat.system.compact(tbl => 'kv', target_files => 8)")
      assert(spec().values.forall(_ == true),
        "compact must migrate every partition to the current spec")
    } finally rm(root)
  }

  test("CTAS into a bucketed sorted table: claims live from snapshot 1") {
    val (cat, root) = freshCatalog()
    try {
      s.sql(s"CREATE TABLE $cat.a PARTITIONED BY (bucket(8, k)) " +
        "TBLPROPERTIES ('sortcol'='k', 'statscol'='k') AS " +
        "SELECT id AS k, id * 3 AS v FROM range(0, 20000)")
      s.sql(s"CREATE TABLE $cat.b PARTITIONED BY (bucket(8, k)) " +
        "TBLPROPERTIES ('sortcol'='k', 'statscol'='k') AS " +
        "SELECT id AS k, id * 5 AS w FROM range(0, 20000)")
      val entries = Snapshots.manifest(root.resolve("a"), 1)
      assert(entries.forall(e => GraftScan.pvOfPath(e.relPath).isDefined),
        "CTAS must stage bucket-pure")
      withSpj {
        val joined = s.table(s"$cat.a").join(s.table(s"$cat.b"), "k")
          .groupBy("k").agg(sum(col("v") + col("w")).as("svw"))
        assert(joined.collect().length == 20000)
        val plan = joined.queryExecution.executedPlan
        assert(countShuffles(plan) == 0 && countSorts(plan) == 0,
          s"CTAS-staged claims should hold immediately:\n$plan")
      }
    } finally rm(root)
  }

  test("catalog_spj and catalog_bucket stay exact running concurrently on one session") {
    // Each query sets bucketing on and broadcast off for its own join;
    // run side by side on ONE session, neither may see the other's
    // settings (or a restore of them) mid-plan. The in-query
    // `shuffles == 0` requires make any cross-talk throw.
    val names = Seq("catalog_spj", "catalog_bucket")
    def run(name: String) = graft.SparkEntry.queries(name)(s, TestSpark.sf).collect().toSeq
    val serial = names.map(q => q -> run(q)).toMap
    val pool = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(names.size))
    try {
      val rounds = names.map(q => q -> scala.concurrent.Future(Seq.fill(3)(run(q)))(pool))
      rounds.foreach { case (q, f) =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(10, "min"))
          .zipWithIndex.foreach { case (rows, i) =>
            assert(rows == serial(q), s"$q round ${i + 1} differs from its serial result")
          }
      }
    } finally pool.shutdownNow()
  }
}
