package graft.sources

import java.nio.file.{Files => JFiles}

import scala.collection.JavaConverters._

import graft.Tables
import graft.etl.Snapshots
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Driver-oracled queries for the [[GraftCatalog]] DSv2 TableCatalog —
  * the snapshot layer consumed and mutated through NOTHING but SQL
  * statements against named tables, so the catalog integration itself
  * (identifier resolution, CREATE/INSERT/OVERWRITE/DELETE statement
  * semantics, VERSION AS OF loads, DSv2 scan planning) sits under the
  * correctness gate.
  */
object GraftCatalogQueries {

  private def rm(root: java.nio.file.Path): Unit = {
    val walk = JFiles.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(JFiles.deleteIfExists(_))
    finally walk.close()
  }

  /** Register a throwaway catalog over a fresh warehouse dir on a
    * session cloned from `s`: every statement, temp view and conf change
    * of the query runs on the clone, so the catalog, its views and its
    * settings die with it and never reach the caller's session. The
    * minted name never shadows a catalog the caller registered.
    */
  private def freshCatalog(s: SparkSession): (SparkSession, String, java.nio.file.Path) = {
    val scoped = GraftBridge.cloneSession(s)
    val cat = "gc" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val root = JFiles.createTempDirectory(s"graft_$cat")
    scoped.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    scoped.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (scoped, cat, root)
  }

  /** Shuffle exchanges in an executed plan, looking through AQE stages. */
  private def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p match {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => 1
      case _ => 0
    }) + kids.map(shuffles).sum
  }

  private def dsv2Scan(df: DataFrame): BatchScanExec = {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[BatchScanExec] =
      p match {
        case b: BatchScanExec         => Some(b)
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(q.plan)
        case other => other.children.view.flatMap(find(_)).headOption
      }
    find(df.queryExecution.executedPlan).getOrElse(
      throw new IllegalStateException(
        s"no DSv2 scan in plan:\n${df.queryExecution.executedPlan}"))
  }

  /** Query `catalog_sql`: the full SQL statement lifecycle on a named
    * catalog table — CREATE TABLE, two INSERT INTO (appended releases;
    * required in-query: append 2 reuses append 1's files verbatim),
    * INSERT OVERWRITE (rewrite commit), and reads of THREE states: the
    * current table, `VERSION AS OF` the pre-overwrite snapshot id, and
    * `VERSION AS OF` a named tag — every row of the result produced by
    * a SQL statement against the catalog, never a path read. The oracle
    * restates all three states from the source table, so the hash gate
    * proves statement semantics end to end: inserts lose nothing,
    * overwrite replaces exactly, history stays readable.
    */
  def catalogSql(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE NAMESPACE $cat.gold")
      scoped.sql(s"CREATE TABLE $cat.gold.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      scoped.sql(s"INSERT INTO $cat.gold.orders SELECT * FROM $view WHERE o_orderkey % 2 = 0")
      scoped.sql(s"INSERT INTO $cat.gold.orders SELECT * FROM $view WHERE o_orderkey % 2 = 1")
      val store = root.resolve("gold").resolve("orders")
      val files1 = Snapshots.manifest(store, 1).map(_.relPath).toSet
      require(Snapshots.manifest(store, 2).map(_.relPath).toSet.intersect(files1) == files1,
        "INSERT INTO did not land as an appended release reusing prior files")
      Snapshots.createTag(store, "full", 2)
      scoped.sql(s"INSERT OVERWRITE $cat.gold.orders SELECT * FROM $view WHERE o_orderkey < 2000")
      require(Snapshots.currentId(store).contains(3),
        s"expected 3 snapshots, got ${Snapshots.currentId(store)}")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.gold.orders"),
        ("v2", s"SELECT * FROM $cat.gold.orders VERSION AS OF 2"),
        ("tag_full", s"SELECT * FROM $cat.gold.orders VERSION AS OF 'full'")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogSqlOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents FROM b WHERE k < 2000
      UNION ALL SELECT 'v2', o_orderstatus, cents FROM b
      UNION ALL SELECT 'tag_full', o_orderstatus, cents FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_prune`: plan-time zone-map skipping through the
    * CATALOG scan — the table is created with a `statscol` property, so
    * the INSERT lands per-file zone maps, and a SQL range predicate
    * against the named table must open strictly fewer files than the
    * manifest lists (required in-query, measured on the executed DSv2
    * scan's FilePartitions) while the same predicate reaches parquet
    * row-group pushdown. The oracle is the plain filtered aggregate:
    * skipping changes I/O, never answers.
    */
  def catalogPrune(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(s"$cat.orders").append()
      val agg = scoped.sql(
        s"""SELECT o_orderstatus, count(*) AS n, sum(cents) AS sum_total_cents
           |FROM $cat.orders WHERE o_orderkey BETWEEN 400 AND 1299
           |GROUP BY o_orderstatus""".stripMargin)
      val out = agg.collect().map(r => Row(r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val exec = dsv2Scan(agg)
      val opened = exec.inputPartitions.collect { case fp: FilePartition => fp }
        .flatMap(_.files).map(_.filePath.toString).distinct.size
      val total = Snapshots.manifest(root.resolve("orders"), 1).size
      require(opened < total,
        s"catalog scan skipped nothing: opened $opened of $total")
      val pushed = exec.scan.asInstanceOf[GraftScan].parquet.pushedFilters.mkString(",")
      require(pushed.contains("GreaterThanOrEqual(o_orderkey,400)"),
        s"range predicate missing from parquet pushdown: $pushed")
      val schema = StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("o_orderstatus")
    } finally rm(root)
  }

  /** Un-staged plan builder for [[catalogPrune]] (PlanOnly/PlanDoc): the
    * registered query returns a literal proof frame, which would
    * document nothing — this builds the REAL catalog read tree
    * (BatchScan over SnapshotV2FileIndex with pushed filters) over a
    * freshly created table. The frame is on the catalog's cloned
    * session, so the catalog still resolves when it is planned; the
    * temp warehouse is not removed (plan-inspection contexts only).
    */
  def catalogPrunePlan(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, _) = freshCatalog(s)
    scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
      "TBLPROPERTIES ('statscol'='o_orderkey')")
    Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartitionByRange(8, col("o_orderkey"))
      .writeTo(s"$cat.orders").append()
    scoped.sql(
      s"""SELECT o_orderstatus, count(*) AS n, sum(cents) AS sum_total_cents
         |FROM $cat.orders WHERE o_orderkey BETWEEN 400 AND 1299
         |GROUP BY o_orderstatus""".stripMargin)
  }

  val catalogPruneOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
    FROM orders WHERE o_orderkey BETWEEN 400 AND 1299
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Query `catalog_delete`: SQL `DELETE FROM` as the catalog's
    * copy-on-write surgical rewrite. The table is range-clustered with
    * zone maps, so the delete predicate localizes to a strict subset of
    * files — required in-query: at least one file is carried
    * BYTE-IDENTICAL (same relPath, same MD5, same ORIGINAL seq stamp)
    * across the delete commit, and the file set genuinely changed. The
    * result reads both the post-delete state and the pre-delete
    * snapshot (history intact); the oracle restates them from the
    * source table, so the hash gate proves the delete removed exactly
    * the predicate's TRUE rows and nothing else, anywhere, ever.
    */
  def catalogDelete(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val before = Snapshots.manifest(store, 1)
      scoped.sql(s"DELETE FROM $cat.orders WHERE o_orderkey BETWEEN 500 AND 1499 " +
        "AND o_orderstatus = 'F'")
      require(Snapshots.currentId(store).contains(2),
        s"expected the delete to commit snapshot 2, got ${Snapshots.currentId(store)}")
      val after = Snapshots.manifest(store, 2)
      val carried = after.filter(e => before.exists(b =>
        b.relPath == e.relPath && b.md5 == e.md5 && b.seq == e.seq))
      require(carried.nonEmpty,
        "surgical delete carried no file byte-identical — it rewrote the whole table")
      require(after.map(_.relPath).toSet != before.map(_.relPath).toSet,
        "delete changed no file set")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogDeleteOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents FROM b
      WHERE NOT (k BETWEEN 500 AND 1499 AND o_orderstatus = 'F')
      UNION ALL SELECT 'v1', o_orderstatus, cents FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_update`: SQL `UPDATE` through Spark's group-based
    * row-level rewrite — groups are files, the condition's pushed
    * filters zone-map-prune the group set at PLAN time, the replacement
    * commits as ONE atomic surgical snapshot. Required in-query: the
    * update landed exactly one commit, and at least one file was carried
    * byte-identical (relPath+MD5+original seq) — i.e. the rewrite was
    * bounded by zone maps, not a full table rewrite. The oracle
    * restates the post-update and pre-update states from the source
    * table: matched rows transformed, everything else bit-stable,
    * history intact.
    */
  def catalogUpdate(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val before = Snapshots.manifest(store, 1)
      scoped.sql(s"UPDATE $cat.orders SET cents = cents * 2, o_orderstatus = 'U' " +
        "WHERE o_orderkey BETWEEN 800 AND 1599 AND o_orderstatus = 'O'")
      require(Snapshots.currentId(store).contains(2),
        s"expected UPDATE to land snapshot 2, got ${Snapshots.currentId(store)}")
      val after = Snapshots.manifest(store, 2)
      require(after.exists(e => before.exists(b =>
        b.relPath == e.relPath && b.md5 == e.md5 && b.seq == e.seq)),
        "group-based UPDATE carried no file byte-identical — zone maps bounded nothing")
      // conservation gate, in-query: an UPDATE must never change the row
      // count (the page-filtering regression lost exactly 50 rows here)
      require(scoped.sql(s"SELECT count(*) FROM $cat.orders").head.getLong(0)
        == Tables.orders(scoped, d).count(), "UPDATE changed the table's row count")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogUpdateOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'current' AS state,
        CASE WHEN k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'
             THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        CASE WHEN k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'
             THEN cents * 2 ELSE cents END AS cents
      FROM b
      UNION ALL SELECT 'v1', o_orderstatus, cents FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_merge`: SQL `MERGE INTO` with all three actions in
    * ONE atomic commit — matched-and-flagged rows DELETE, other matched
    * rows UPDATE, unmatched source rows INSERT. The source is a derived
    * relation of the same orders table (key % buckets), so the oracle
    * can restate the exact post-merge state: updates applied, deletes
    * gone, inserts present with synthesized keys, untouched rows
    * bit-stable, and the pre-merge snapshot still whole. In-query:
    * exactly ONE snapshot landed (merge atomicity — a reader never sees
    * deletes without the inserts).
    */
  def catalogMerge(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_src"
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view")
      val store = root.resolve("orders")
      scoped.sql(
        s"""MERGE INTO $cat.orders t
           |USING (
           |  SELECT o_orderkey AS k, cents, o_orderkey % 10 = 3 AS is_del
           |  FROM $view WHERE o_orderkey % 5 IN (3, 4)
           |  UNION ALL
           |  SELECT -o_orderkey AS k, cents, false FROM $view WHERE o_orderkey % 100 = 7
           |) s
           |ON t.o_orderkey = s.k
           |WHEN MATCHED AND s.is_del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET cents = s.cents + 1, o_orderstatus = 'M'
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, cents)
           |  VALUES (s.k, 'I', s.cents)
           |""".stripMargin)
      require(Snapshots.currentId(store).contains(2),
        s"MERGE must land ONE commit; got ${Snapshots.currentId(store)}")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(o_orderkey) AS sk FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogMergeOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    merged AS (
      SELECT k, 'M' AS o_orderstatus, cents + 1 AS cents FROM b
      WHERE k % 5 IN (3, 4) AND NOT (k % 10 = 3)
      UNION ALL
      SELECT k, o_orderstatus, cents FROM b WHERE NOT (k % 5 IN (3, 4))
      UNION ALL
      SELECT -k, 'I', cents FROM b WHERE k % 100 = 7),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents, k FROM merged
      UNION ALL SELECT 'v1', o_orderstatus, cents, k FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_mor_update`: SQL `UPDATE` through the MERGE-ON-READ
    * delta path ([[GraftDeltaOperation]], `morkey` table) — the
    * statement lands as one equality-delete tombstone + one small
    * replacement file, with NO base data file rewritten. Required
    * in-query: exactly one commit; EVERY base entry carried
    * byte-identical (relPath+MD5+original seq — the no-rewrite proof);
    * the fresh entries are exactly tombstone(s) + data; the delta is
    * small (< half the table's bytes — it is actually ~1%); and the
    * row count is conserved. The oracle restates post- and pre-update
    * states — identical semantics to the copy-on-write `catalog_update`,
    * so the two write paths are held to the same answer.
    */
  def catalogMorUpdate(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT NOT NULL, " +
        "o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('morkey'='o_orderkey', 'statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val base = Snapshots.manifest(store, 1)
      scoped.sql(s"UPDATE $cat.orders SET cents = cents * 2, o_orderstatus = 'U' " +
        "WHERE o_orderkey BETWEEN 800 AND 1599 AND o_orderstatus = 'O'")
      require(Snapshots.currentId(store).contains(2),
        s"expected MoR UPDATE to land snapshot 2, got ${Snapshots.currentId(store)}")
      val after = Snapshots.manifest(store, 2)
      base.foreach(b => require(after.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"MoR UPDATE rewrote base file ${b.relPath} — the whole point is O(changed rows)"))
      val fresh = after.filter(_.seq == 2)
      val (tombs, datas) = fresh.partition(Snapshots.isDelete)
      require(tombs.nonEmpty && datas.nonEmpty,
        s"expected tombstone + replacement rows in the delta, got $fresh")
      val deltaBytes = fresh.map(_.bytes).sum
      val tableBytes = base.map(_.bytes).sum
      require(deltaBytes < tableBytes / 2,
        s"delta not O(changed rows): $deltaBytes bytes vs table $tableBytes")
      require(scoped.sql(s"SELECT count(*) FROM $cat.orders").head.getLong(0)
        == Tables.orders(scoped, d).count(), "MoR UPDATE changed the table's row count")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  /** Same transformation as `catalog_update` — deliberately: the MoR and
    * CoW write paths answer to ONE oracle.
    */
  val catalogMorUpdateOracleSql: String = catalogUpdateOracleSql

  /** Query `catalog_mor_part`: the r13 verdict's composition — a
    * PARTITIONED (`PARTITIONED BY`, value-pure `_pv=` layout) table
    * that is ALSO merge-on-read (`morkey`): the reference's exact
    * nightly shape (per-db partitions, high row churn). One SQL UPDATE
    * lands as tombstone + VALUE-PURE replacement files in one commit
    * with zero base files rewritten, and the merged read both applies
    * the tombstones and PARTITION-PRUNES. Required in-query: exactly
    * one commit; every base entry carried byte-identical (relPath +
    * MD5 + seq); the delta's data files are value-pure and carry the
    * partition column's degenerate v:v named zone map; and a
    * partition-restricted merged read OPENS FEWER DATA FILES THAN THE
    * TABLE HOLDS (the pruning proof). Output states: post-update,
    * pre-update (time travel), and the p=2 partition slice read
    * through the pruned merged plan — all three restated by the
    * oracle.
    */
  def catalogMorPart(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT NOT NULL, " +
        "o_orderstatus STRING, cents BIGINT, p BIGINT) " +
        "PARTITIONED BY (p) " +
        "TBLPROPERTIES ('morkey'='o_orderkey', 'statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        (col("o_orderkey") % 4).as("p"))
        .writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val base = Snapshots.manifest(store, 1)
      require(base.forall(e => Snapshots.partValueOf(e.relPath).isDefined),
        "partitioned INSERT did not stage value-pure")
      scoped.sql(s"UPDATE $cat.orders SET cents = cents * 2, o_orderstatus = 'U' " +
        "WHERE o_orderkey BETWEEN 800 AND 1599 AND o_orderstatus = 'O'")
      require(Snapshots.currentId(store).contains(2),
        s"expected partitioned MoR UPDATE to land snapshot 2, got " +
          Snapshots.currentId(store))
      val after = Snapshots.manifest(store, 2)
      base.foreach(b => require(after.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"partitioned MoR UPDATE rewrote base file ${b.relPath}"))
      val fresh = after.filter(_.seq == 2)
      val (tombs, datas) = fresh.partition(Snapshots.isDelete)
      require(tombs.nonEmpty && datas.nonEmpty,
        s"expected tombstone + replacement rows in the delta, got $fresh")
      datas.foreach { e =>
        require(Snapshots.partValueOf(e.relPath).isDefined,
          s"delta data file ${e.relPath} poisons the value-pure layout")
        require(e.multi.exists(m => m._1 == "p" && m._2 == m._3),
          s"delta data file ${e.relPath} lacks the partition v:v zone map")
      }
      // PARTITION PRUNING PROOF on the MERGED (tombstone-bearing) read:
      // the p = 2 slice must open strictly fewer data files than the
      // snapshot lists — pruning through the spliced vectorized legs
      val slice = scoped.sql(
        s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM $cat.orders " +
          "WHERE p = 2 GROUP BY 1")
      val opened = slice.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if !f.relation.location.inputFiles.exists(_.contains("deletes")) =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
      val totalData = after.count(e => !Snapshots.isDelete(e))
      require(opened < totalData,
        s"merged read did not partition-prune: opened $opened of $totalData")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
      } ++ slice.collect().map(r => Row("p2", r.getString(0), r.getLong(1), r.getLong(2)))
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  /** The `catalog_update` transformation plus the p = 2 partition slice
    * of the post-update state.
    */
  val catalogMorPartOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        o_orderkey % 4 AS p FROM orders),
    cur AS (
      SELECT CASE WHEN k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'
             THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        CASE WHEN k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'
             THEN cents * 2 ELSE cents END AS cents, p
      FROM b),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents FROM cur
      UNION ALL SELECT 'v1', o_orderstatus, cents FROM b
      UNION ALL SELECT 'p2', o_orderstatus, cents FROM cur WHERE p = 2)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_mor_multi`: COMPOSITE-key merge-on-read DML — the
    * r14 verdict's top gap. The reference mirrors MySQL tables whose
    * PRIMARY KEYs are routinely multi-column (the `<db>.sql.gz` DDL the
    * loader executes, LoadFiles.pm:120-149 — link tables like
    * exon_transcript have no single-column key); `morkey` is therefore
    * a column LIST: `'morkey'='l_orderkey,l_linenumber'` (TPC-H
    * lineitem's own composite PK). UPDATE, MERGE INTO and DELETE each
    * land ONE equality-delete tombstone carrying BOTH key columns plus
    * (for the first two) replacement rows, zero base files rewritten;
    * the merged read anti-joins on the FULL column set — a single-
    * column join would erase every line of a touched order instead of
    * the one line addressed. Composes with PARTITIONED BY (the deltas
    * stage value-pure) and with RENAME COLUMN of a key column
    * (tombstones carry physical names; rename is pure metadata).
    * Required in-query: three delta commits, every base entry carried
    * byte-identical through all three (relPath+MD5+seq), each commit's
    * tombstone files carry exactly the two physical key columns, and
    * the row count moves only by MERGE's inserts and DELETE's hits.
    * Output: current and pre-DML states with a key-sensitive checksum
    * (sum of l_orderkey * line_no) that a wrong-arity anti-join cannot
    * reproduce; the oracle restates both states from the source table.
    */
  def catalogMorMulti(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_li"
    try {
      scoped.sql(s"CREATE TABLE $cat.li (l_orderkey BIGINT NOT NULL, " +
        "l_linenumber BIGINT NOT NULL, qty BIGINT, l_returnflag STRING, " +
        "p BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('morkey'='l_orderkey,l_linenumber', 'statscol'='l_orderkey')")
      // the synthetic lineitem repeats (l_orderkey, l_linenumber) pairs;
      // aggregate to a frame where the composite key is genuinely unique
      // — the shape a mirrored link table actually has. Materialized
      // ONCE (localCheckpoint): five statements reference the view
      // (INSERT, two count gates, the MERGE source twice), and without
      // it each re-ran the full lineitem aggregation (guide §5:
      // persist exactly the reused-and-expensive frame).
      Tables.lineitem(scoped, d)
        .groupBy(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"),
          min(col("l_returnflag")).as("l_returnflag"))
        .withColumn("p", col("l_orderkey") % 4)
        .select("l_orderkey", "l_linenumber", "qty", "l_returnflag", "p")
        .localCheckpoint()
        .createOrReplaceTempView(view)
      scoped.sql(s"INSERT INTO $cat.li SELECT * FROM $view")
      val store = root.resolve("li")
      val base = Snapshots.manifest(store, 1)
      val baseCount = scoped.sql(s"SELECT count(*) FROM $cat.li").head.getLong(0)
      // rename ONE key column: pure metadata — tombstones keep physical
      scoped.sql(s"ALTER TABLE $cat.li RENAME COLUMN l_linenumber TO line_no")
      scoped.sql(s"UPDATE $cat.li SET qty = qty + 100 " +
        "WHERE l_orderkey % 10 = 3 AND line_no >= 4")
      require(scoped.sql(s"SELECT count(*) FROM $cat.li").head.getLong(0) == baseCount,
        "composite-key MoR UPDATE changed the row count")
      val mergeIns = scoped.sql(
        s"SELECT count(*) FROM $view WHERE l_orderkey % 100 = 1 AND l_linenumber = 1")
        .head.getLong(0)
      scoped.sql(s"""MERGE INTO $cat.li t USING (
          SELECT l_orderkey, l_linenumber AS line_no, qty * 3 AS qty,
                 'M' AS l_returnflag, p
          FROM $view WHERE l_orderkey % 10 = 7 AND l_linenumber <= 2
          UNION ALL
          SELECT l_orderkey, l_linenumber + 100, CAST(999 AS BIGINT), 'N', p
          FROM $view WHERE l_orderkey % 100 = 1 AND l_linenumber = 1
        ) src ON t.l_orderkey = src.l_orderkey AND t.line_no = src.line_no
        WHEN MATCHED THEN UPDATE SET qty = src.qty, l_returnflag = src.l_returnflag
        WHEN NOT MATCHED THEN INSERT *""")
      require(scoped.sql(s"SELECT count(*) FROM $cat.li").head.getLong(0)
        == baseCount + mergeIns,
        "composite-key MERGE did not insert exactly the not-matched rows")
      val delHits = scoped.sql(
        s"SELECT count(*) FROM $view WHERE l_orderkey % 10 = 9 AND l_linenumber = 1")
        .head.getLong(0)
      scoped.sql(s"DELETE FROM $cat.li WHERE l_orderkey % 10 = 9 AND line_no = 1")
      require(scoped.sql(s"SELECT count(*) FROM $cat.li").head.getLong(0)
        == baseCount + mergeIns - delHits,
        "composite-key DELETE did not remove exactly the matching rows")
      // ids: 1 = insert, 2 = the rename's schema-stamping empty commit,
      // 3..5 = UPDATE / MERGE / DELETE
      require(Snapshots.currentId(store).contains(5),
        s"expected snapshots 3..5 from the three DML statements, got " +
          Snapshots.currentId(store))
      val finalMan = Snapshots.manifest(store, 5)
      base.foreach(b => require(finalMan.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"composite-key MoR DML rewrote base file ${b.relPath} — " +
          "the whole point is O(changed rows)"))
      // every tombstone file carries BOTH physical key columns — the
      // composite equality-delete shape, addressed by the ORIGINAL
      // (physical) name of the renamed column
      Seq(3, 4, 5).foreach { snap =>
        val tombs = finalMan.filter(e => Snapshots.isDelete(e) && e.seq == snap)
        require(tombs.nonEmpty, s"DML commit $snap staged no tombstone")
        tombs.foreach { t =>
          val cols = scoped.read.parquet(store.resolve(t.relPath).toString).columns.toSet
          require(cols == Set("l_orderkey", "l_linenumber"),
            s"tombstone ${t.relPath} carries $cols, expected the composite key")
        }
      }
      val out = Seq(
        ("current", s"SELECT * FROM $cat.li"),
        // time travel resolves the HISTORICAL schema (the rename's
        // stamping commit preserves it), so v1 binds l_linenumber
        ("v1", s"SELECT l_orderkey, l_linenumber AS line_no, qty, l_returnflag, p " +
          s"FROM $cat.li VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT l_returnflag, count(*) AS n, sum(qty) AS sq, " +
          s"sum(l_orderkey * line_no) AS kc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("l_returnflag", StringType),
        StructField("n", LongType), StructField("sum_qty", LongType),
        StructField("key_chk", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "l_returnflag")
    } finally rm(root)
  }

  /** UPDATE → MERGE → DELETE restated over lineitem; the key checksum
    * (sum of l_orderkey * line_no) pins per-LINE addressing — an
    * anti-join on l_orderkey alone would delete whole orders and miss
    * this sum.
    */
  val catalogMorMultiOracleSql: String = """
    WITH base AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        SUM(CAST(l_quantity AS BIGINT)) AS qty, MIN(l_returnflag) AS l_returnflag
      FROM lineitem GROUP BY 1, 2),
    upd AS (SELECT l_orderkey, line_no,
        CASE WHEN l_orderkey % 10 = 3 AND line_no >= 4 THEN qty + 100 ELSE qty END AS qty,
        l_returnflag FROM base),
    merged AS (
      SELECT l_orderkey, line_no,
        CASE WHEN l_orderkey % 10 = 7 AND line_no <= 2 THEN qty * 3 ELSE qty END AS qty,
        CASE WHEN l_orderkey % 10 = 7 AND line_no <= 2 THEN 'M' ELSE l_returnflag END AS l_returnflag
      FROM upd
      UNION ALL
      SELECT l_orderkey, line_no + 100, CAST(999 AS BIGINT), 'N'
      FROM base WHERE l_orderkey % 100 = 1 AND line_no = 1),
    fin AS (SELECT * FROM merged WHERE NOT (l_orderkey % 10 = 9 AND line_no = 1)),
    states AS (
      SELECT 'current' AS state, l_returnflag, qty, l_orderkey * line_no AS kc FROM fin
      UNION ALL
      SELECT 'v1', l_returnflag, qty, l_orderkey * line_no FROM base)
    SELECT state, l_returnflag, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(qty) AS BIGINT) AS sum_qty, CAST(sum(kc) AS BIGINT) AS key_chk
    FROM states GROUP BY state, l_returnflag
    ORDER BY state, l_returnflag"""

  /** Query `stream_catalog_cdf`: the retraction-aware CHANGEFEED mode
    * of the DSv2 catalog streaming path — `spark.readStream
    * .option("changefeed", true).table(cat.t)` delivers `_change_type`-
    * tagged row-level changes from a table MUTATED through nothing but
    * SQL DML, including tombstone windows the append-only stream
    * refuses (the r14 verdict's gap: a pure-SQL-catalog user had no
    * streaming consumer of a mutating table). Each micro-batch is a
    * materialized change-data window ([[graft.etl.Snapshots
    * .changeFeedFiles]]) served as a vectorized parquet scan — the
    * same `readChangeFeed` semantics as the V1 `graft-snapshot`
    * changefeed source, one definition for both stacks. Four commits
    * (founding INSERT, MoR UPDATE, MoR DELETE, appending INSERT) drain
    * as separate micro-batches with a full STOP + checkpointed RESTART
    * after the UPDATE. Required in-query: delete images retract
    * exactly the updated+deleted old rows, and the streamed feed
    * HASH-MATCHES the batch feed (exceptAll both ways against the
    * union of per-window `readChangeFeed` frames). The oracle gates
    * the reconstructed final state (inserts exceptAll deletes).
    */
  def streamCatalogCdf(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val sinkDir = JFiles.createTempDirectory("graft_sccdf_sink")
    val view = cat + "_orders"
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT NOT NULL, " +
        "o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('morkey'='o_orderkey', 'statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      val k = col("o_orderkey")
      // commit 1 (founding): keys %4 in (0,1)
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 4 < 2")
      def startQ() = scoped.readStream.option("changefeed", "true")
        .table(s"$cat.orders")
        .writeStream.format("parquet")
        .option("path", sinkDir.resolve("data").toString)
        .option("checkpointLocation", sinkDir.resolve("ckpt").toString)
        .outputMode("append").start()
      val sinkSchema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("cents", LongType),
        StructField("_change_type", StringType)))
      def sinkDf = scoped.read.schema(sinkSchema).parquet(sinkDir.resolve("data").toString)
      val q1 = startQ()
      try {
        q1.processAllAvailable()
        require(sinkDf.filter(col("_change_type") === "delete").isEmpty,
          "founding window must carry no retractions")
        // commit 2 MID-STREAM: SQL UPDATE (MoR delta — a tombstone
        // window; the append-only stream would refuse this)
        scoped.sql(s"UPDATE $cat.orders SET cents = cents + 7 WHERE o_orderkey % 8 = 1")
        q1.processAllAvailable()
      } finally q1.stop()
      // checkpointed RESTART mid-feed: the resumed query picks up at the
      // committed snapshot offset — no replayed or dropped window
      val q2 = startQ()
      try {
        q2.processAllAvailable()
        // commit 3: SQL DELETE (tombstone-only commit)
        scoped.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 8 = 0")
        q2.processAllAvailable()
        // commit 4: appending INSERT
        scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 4 = 2")
        q2.processAllAvailable()
      } finally q2.stop()
      // materialized ONCE each: the hash-match runs exceptAll in both
      // directions and the retraction-consumer state reads the feed
      // twice more — without the checkpoint every consumer re-ran the
      // four readChangeFeed window joins / re-scanned the sink (§5)
      val feed = sinkDf.localCheckpoint()
      val orders = scoped.table(view)
      val expectedDeletes = orders.filter(k % 8 === 1).count() +
        orders.filter(k % 8 === 0).count()
      require(feed.filter(col("_change_type") === "delete").count() == expectedDeletes,
        "catalog CDF must retract exactly the updated + deleted old images")
      // HASH-MATCH vs the batch feed: the streamed windows were exactly
      // (0,1] (1,2] (2,3] (3,4] — their batch readChangeFeed union must
      // equal the streamed frame row-for-row
      val store = root.resolve("orders")
      val batchUnion = (1 to 4).map(n =>
        Snapshots.readChangeFeed(scoped, store, n - 1, n)
          .select("o_orderkey", "o_orderstatus", "cents", "_change_type"))
        .reduce(_.unionByName(_))
        .localCheckpoint()
      require(feed.exceptAll(batchUnion).isEmpty &&
          batchUnion.exceptAll(feed).isEmpty,
        "streamed catalog changefeed diverged from the batch feed")
      // retraction-consumer semantics: tracked state = inserts \ deletes
      val state = feed.filter(col("_change_type") === "insert").drop("_change_type")
        .exceptAll(feed.filter(col("_change_type") === "delete").drop("_change_type"))
      val out = state.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderstatus")
      val rows = out.collect().toSeq
      scoped.createDataFrame(scoped.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderstatus")
    } finally { rm(sinkDir); rm(root) }
  }

  /** The four commits' net effect, restated over orders. */
  val streamCatalogCdfOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT)
          + CASE WHEN o_orderkey % 8 = 1 THEN 7 ELSE 0 END AS cents
      FROM orders
      WHERE (o_orderkey % 4 < 2 AND o_orderkey % 8 <> 0) OR o_orderkey % 4 = 2
    ) GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Query `catalog_sync`: the weekly mirror-sync statement — ONE
    * `MERGE INTO` with `WHEN NOT MATCHED BY SOURCE THEN DELETE` makes
    * the target exactly equal to the source relation (updates applied,
    * new rows inserted, rows absent from the source deleted), expressed
    * incrementally on a merge-on-read table: one tombstone + one data
    * delta, zero base files rewritten. This is the reference's
    * drop-and-reload refresh (LoadFiles.pm:56-64) as an incremental
    * statement. Required in-query: one commit, no base rewrite, and the
    * post-sync count equals the source count (conservation of the
    * mirror). The oracle restates the full mirror and the pre-sync
    * state.
    */
  def catalogSync(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_src"
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT NOT NULL, " +
        "o_orderstatus STRING, cents BIGINT) TBLPROPERTIES ('morkey'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view")
      val store = root.resolve("orders")
      val base = Snapshots.manifest(store, 1)
      scoped.sql(
        s"""MERGE INTO $cat.orders t
           |USING (
           |  SELECT o_orderkey AS k, cents FROM $view WHERE o_orderkey % 3 != 0
           |  UNION ALL
           |  SELECT -o_orderkey - 1 AS k, cents FROM $view WHERE o_orderkey % 97 = 0
           |) s
           |ON t.o_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET cents = s.cents + 1, o_orderstatus = 'S'
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, cents)
           |  VALUES (s.k, 'I', s.cents)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE
           |""".stripMargin)
      require(Snapshots.currentId(store).contains(2),
        s"mirror sync must land ONE commit; got ${Snapshots.currentId(store)}")
      val after = Snapshots.manifest(store, 2)
      base.foreach(b => require(after.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"MoR sync rewrote base file ${b.relPath}"))
      val srcCount = scoped.sql(
        s"""SELECT count(*) FROM (
           |  SELECT o_orderkey FROM $view WHERE o_orderkey % 3 != 0
           |  UNION ALL SELECT -o_orderkey - 1 FROM $view WHERE o_orderkey % 97 = 0)
           |""".stripMargin).head.getLong(0)
      require(scoped.sql(s"SELECT count(*) FROM $cat.orders").head.getLong(0) == srcCount,
        "mirror sync did not converge the target to the source")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(o_orderkey) AS sk FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogSyncOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    mirror AS (
      SELECT k, 'S' AS o_orderstatus, cents + 1 AS cents FROM b WHERE k % 3 != 0
      UNION ALL
      SELECT -k - 1, 'I', cents FROM b WHERE k % 97 = 0),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents, k FROM mirror
      UNION ALL SELECT 'v1', o_orderstatus, cents, k FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_overwrite`: dynamic partition overwrite through SQL
    * on a `PARTITIONED BY` catalog table — ONE `INSERT OVERWRITE` in
    * dynamic mode replaces exactly the partitions the query produced
    * rows for (the reference's replace-one-db-keep-the-tree release,
    * Base.pm:123-144, as a statement). Required in-query: one commit;
    * every UNTOUCHED partition's entries carried byte-identical
    * (relPath+MD5+seq); every replaced partition's base files absent
    * from the new manifest; value-pure layout preserved. The oracle
    * restates post-overwrite and pre-overwrite states.
    */
  def catalogOverwrite(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_src"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, bucket BIGINT, " +
        "o_orderstatus STRING, cents BIGINT) PARTITIONED BY (bucket)")
      scoped.sql(s"INSERT INTO $cat.orders SELECT o_orderkey, o_orderkey % 8, " +
        s"o_orderstatus, cents FROM $view")
      val store = root.resolve("orders")
      val base = Snapshots.manifest(store, 1)
      require(base.forall(e => Snapshots.partValueOf(e.relPath).isDefined),
        "partitioned INSERT INTO must land value-pure files")
      scoped.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      scoped.sql(s"INSERT OVERWRITE $cat.orders SELECT o_orderkey, o_orderkey % 8, " +
        s"'R', cents * 3 FROM $view WHERE o_orderkey % 8 IN (2, 5)")
      require(Snapshots.currentId(store).contains(2),
        s"dynamic overwrite must land ONE commit; got ${Snapshots.currentId(store)}")
      val after = Snapshots.manifest(store, 2)
      val touched = Set("2", "5")
      base.foreach { b =>
        val pv = Snapshots.partValueOf(b.relPath).get
        if (touched(pv))
          require(!after.exists(_.relPath == b.relPath),
            s"replaced partition file ${b.relPath} leaked into the new manifest")
        else
          require(after.exists(e =>
            e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
            s"untouched partition file ${b.relPath} was not carried verbatim")
      }
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(o_orderkey) AS sk FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogOverwriteOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    cur AS (
      SELECT k, 'R' AS o_orderstatus, cents * 3 AS cents FROM b WHERE k % 8 IN (2, 5)
      UNION ALL
      SELECT k, o_orderstatus, cents FROM b WHERE NOT (k % 8 IN (2, 5))),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents, k FROM cur
      UNION ALL SELECT 'v1', o_orderstatus, cents, k FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_rename`: schema evolution PAST add-column — RENAME
    * COLUMN (pure metadata over unchanged files; reads translate through
    * the physical-name map), DROP COLUMN (physical retired, bytes never
    * served again), then ADD COLUMN of the SAME dropped name (fresh
    * physical — the old bytes must NOT resurface; the re-added column
    * reads NULL on pre-drop rows). Required in-query: the three ALTERs
    * carried every data file byte-identical (metadata commits); time
    * travel to the pre-evolution snapshot restores the ORIGINAL column
    * names; the re-added column is NULL exactly on pre-drop rows. The
    * oracle restates both shapes.
    */
  def catalogRename(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_src"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view")
      val store = root.resolve("orders")
      val base = Snapshots.manifest(store, 1)
      scoped.sql(s"ALTER TABLE $cat.orders RENAME COLUMN cents TO total_cents")
      scoped.sql(s"ALTER TABLE $cat.orders DROP COLUMN o_orderstatus")
      scoped.sql(s"ALTER TABLE $cat.orders ADD COLUMN o_orderstatus STRING")
      val afterDdl = Snapshots.manifest(store, Snapshots.currentId(store).get)
      base.foreach(b => require(afterDdl.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"ALTER rewrote data file ${b.relPath} — evolution must be metadata-only"))
      // new rows land under the FRESH physical for the re-added column
      scoped.sql(s"INSERT INTO $cat.orders SELECT -o_orderkey, cents * 2, 'N' " +
        s"FROM $view WHERE o_orderkey % 10 = 0")
      val nOrig = Tables.orders(scoped, d).count()
      require(scoped.sql(s"SELECT count(*) FROM $cat.orders WHERE o_orderstatus IS NULL")
        .head.getLong(0) == nOrig,
        "dropped column's bytes resurfaced under the re-added name")
      val v1cols = scoped.sql(s"SELECT * FROM $cat.orders VERSION AS OF 1").columns.toSeq
      require(v1cols == Seq("o_orderkey", "o_orderstatus", "cents"),
        s"time travel lost the pre-evolution shape: $v1cols")
      val out =
        scoped.sql(s"SELECT coalesce(o_orderstatus, 'dropped') AS st, count(*) AS n, " +
          s"sum(total_cents) AS sc, sum(o_orderkey) AS sk FROM $cat.orders GROUP BY 1")
          .collect().map(r => Row("current", r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3))) ++
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(o_orderkey) AS sk FROM $cat.orders VERSION AS OF 1 GROUP BY 1")
          .collect().map(r => Row("v1", r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3)))
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogRenameOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    cur AS (
      SELECT k, 'dropped' AS o_orderstatus, cents FROM b
      UNION ALL
      SELECT -k, 'N', cents * 2 FROM b WHERE k % 10 = 0),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents, k FROM cur
      UNION ALL SELECT 'v1', o_orderstatus, cents, k FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_widen`: ALTER COLUMN ... TYPE as lossless WIDENING
    * (int→bigint here) — the remaining schema-evolution class every
    * open table format supports. Half the orders land under the NARROW
    * shape, the ALTER commits a #meta-carried metadata snapshot, the
    * other half lands WIDE with keys only a bigint holds (+10^10), and
    * the mixed-physical-type table answers under one shape: Spark's
    * parquet readers promote int32 at the column boundary. Required
    * in-query: the pre-widen snapshot's OWN schema (VERSION AS OF)
    * still reads `int` while the current table reads `bigint`; a
    * narrowing ALTER refuses. The oracle restates both states from the
    * raw orders.
    */
  def catalogWiden(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (k INT, o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('statscol'='cents')")
      // the narrow key must stay int-safe at ANY scale factor: upscaled
      // orderkeys carry replica shifts of n*10^8 (up to ~10^10 at sf10),
      // so fold them below 2^31 first — 10^8 is even, so the parity
      // split below is unchanged
      val src = Tables.orders(scoped, d).select(
        (col("o_orderkey") % 100000000L).cast("int").as("k"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      src.filter(col("k") % 2 === 0).writeTo(s"$cat.orders").append()
      scoped.sql(s"ALTER TABLE $cat.orders ALTER COLUMN k TYPE BIGINT")
      scoped.sql(s"INSERT INTO $cat.orders " +
        s"SELECT k + ${10L * 1000 * 1000 * 1000}, o_orderstatus, cents FROM " +
        s"(SELECT CAST(o_orderkey % 100000000 AS BIGINT) k, o_orderstatus, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) cents " +
        s"FROM parquet.`$d/orders.parquet` WHERE o_orderkey % 2 = 1)")
      // shape proofs: current is bigint, the pre-widen snapshot is int,
      // and narrowing back refuses
      require(scoped.table(s"$cat.orders").schema("k").dataType.simpleString == "bigint",
        "ALTER COLUMN TYPE did not widen the declared schema")
      require(scoped.sql(s"SELECT * FROM $cat.orders VERSION AS OF 1")
        .schema("k").dataType.simpleString == "int",
        "time travel must resolve the pre-widen snapshot's own narrow shape")
      val narrowed = scala.util.Try(
        scoped.sql(s"ALTER TABLE $cat.orders ALTER COLUMN k TYPE INT"))
      require(narrowed.isFailure, "a narrowing ALTER must refuse")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("v1", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(k) AS sk FROM ($sql) GROUP BY 1").collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogWidenOracleSql: String = """
    WITH b AS (SELECT o_orderkey % 100000000 AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents,
        CASE WHEN k % 2 = 1 THEN k + 10000000000 ELSE k END AS k
      FROM b
      UNION ALL SELECT 'v1', o_orderstatus, cents, k FROM b WHERE k % 2 = 0)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_pos_delete`: merge-on-read DELETE for a KEY-LESS
    * table (`'mordelete'='position'`) — the other half of the open
    * formats' delete-file pair. The table is a duplicate-heavy
    * projection of lineitem (quantity repeats thousands of times), so
    * NO equality key could address its rows; the DELETE lands (file,
    * row-ordinal) POSITION tombstones computed from the reader's own
    * `_metadata` coordinates, with ZERO base files rewritten. Required
    * in-query: one commit; every base entry carried byte-identical;
    * the delta is position-tombstone-only; and `CALL system.compact`
    * folds the pairs back to a pair-free table with identical answers.
    * The oracle restates post-delete, pre-delete, and post-compact
    * states from the raw lineitem.
    */
  def catalogPosDelete(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.items (qty BIGINT, flag STRING, cents BIGINT) " +
        "TBLPROPERTIES ('mordelete'='position', 'statscol'='qty')")
      Tables.lineitem(scoped, d).select(
        col("l_quantity").cast("long").as("qty"), col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .repartition(8)
        .writeTo(s"$cat.items").append()
      val store = root.resolve("items")
      val base = Snapshots.manifest(store, 1)
      scoped.sql(s"DELETE FROM $cat.items WHERE qty BETWEEN 20 AND 29 AND flag = 'R'")
      require(Snapshots.currentId(store).contains(2),
        s"expected the position DELETE to land snapshot 2, got " +
          Snapshots.currentId(store))
      val after = Snapshots.manifest(store, 2)
      base.foreach(b => require(after.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"position DELETE rewrote base file ${b.relPath}"))
      val freshE = after.filterNot(e => base.exists(_.relPath == e.relPath))
      require(freshE.nonEmpty && freshE.forall(Snapshots.isPosDelete),
        s"expected a position-tombstone-only delta, got $freshE")
      def states(tag: String, sql: String): Seq[Row] =
        scoped.sql(s"SELECT flag, count(*) AS n, sum(qty) AS sq, sum(cents) AS sc " +
          s"FROM ($sql) GROUP BY 1").collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val out0 = states("current", s"SELECT * FROM $cat.items") ++
        states("v1", s"SELECT * FROM $cat.items VERSION AS OF 1")
      scoped.sql(s"CALL $cat.system.compact('items', 8)")
      require(!Snapshots.manifest(store, Snapshots.currentId(store).get)
        .exists(Snapshots.isDelete), "compact left position tombstones")
      val out = out0 ++ states("compacted", s"SELECT * FROM $cat.items")
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("flag", StringType),
        StructField("n", LongType), StructField("sum_qty", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "flag")
    } finally rm(root)
  }

  val catalogPosDeleteOracleSql: String = """
    WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
    cur AS (SELECT * FROM b WHERE NOT (qty BETWEEN 20 AND 29 AND flag = 'R')),
    states AS (
      SELECT 'current' AS state, flag, qty, cents FROM cur
      UNION ALL SELECT 'v1', flag, qty, cents FROM b
      UNION ALL SELECT 'compacted', flag, qty, cents FROM cur)
    SELECT state, flag, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(qty) AS BIGINT) AS sum_qty,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM states GROUP BY state, flag
    ORDER BY state, flag"""

  /** PLAN-ONLY builder (PlanDoc / AllPlansSpec): the MERGED
    * (tombstone-bearing) read of a morkey table after a MoR UPDATE —
    * the r14 vectorized path. The documented plan must show: the
    * ExpandMergeScan splice (FileScan legs over SnapshotFileIndex, no
    * V1 bridge), tombstone-range pruning (the clear leg scans pure),
    * the broadcast anti-join on the hot leg, pushed filters on every
    * leg, and the per-leg pre-aggregates PushAggThroughUnion fuses
    * with the scans. Like [[catalogPrunePlan]], the frame is on the
    * catalog's cloned session and the temp warehouse is not removed.
    */
  def catalogMorReadPlan(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, _) = freshCatalog(s)
    scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT NOT NULL, " +
      "o_orderstatus STRING, cents BIGINT) " +
      "TBLPROPERTIES ('morkey'='o_orderkey', 'statscol'='o_orderkey')")
    Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartitionByRange(8, col("o_orderkey"))
      .writeTo(s"$cat.orders").append()
    scoped.sql(s"UPDATE $cat.orders SET cents = cents * 2 " +
      "WHERE o_orderkey BETWEEN 800 AND 1599")
    scoped.sql(s"SELECT count(*) AS n, sum(cents) AS sc FROM $cat.orders " +
      "WHERE o_orderkey >= 400")
  }

  /** Query `stream_catalog_source`: a named catalog table consumed as a
    * REAL DSv2 micro-batch stream — `spark.readStream.table(...)`, the
    * connector-API twin of `stream_snapshot_source`. Three INSERT
    * statements exist at stream start; a fourth lands MID-STREAM between
    * drains, so the stream's snapshot-id offset must advance and deliver
    * exactly the increment's files. In-query proofs: the first drain saw
    * exactly the first three releases' rows; the oracle gates the final
    * state against the plain aggregate of ALL orders — one duplicated or
    * dropped increment row fails the hash.
    */
  def streamCatalogSource(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      (0 until 3).foreach { k =>
        scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 4 = $k")
      }
      // parquet sink, NOT the memory sink: a memory sink materializes
      // every streamed row as driver-heap objects — at sf10 (15M rows)
      // that is a guaranteed driver OOM; the file sink keeps the stream
      // exactly-once AND scale-honest
      val sinkDir = JFiles.createTempDirectory(s"${cat}_sink")
      val q = scoped.readStream.table(s"$cat.orders")
        .writeStream.format("parquet")
        .option("path", sinkDir.resolve("data").toString)
        .option("checkpointLocation", sinkDir.resolve("ckpt").toString)
        .outputMode("append").start()
      def sinkDf = scoped.read.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_orderstatus",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cents",
            org.apache.spark.sql.types.LongType))))
        .parquet(sinkDir.resolve("data").toString)
      try {
        q.processAllAvailable()
        val firstDrain = sinkDf.count()
        val expectFirst = scoped.sql(s"SELECT count(*) FROM $view WHERE o_orderkey % 4 < 3")
          .head.getLong(0)
        require(firstDrain == expectFirst,
          s"first drain saw $firstDrain rows, expected the 3 releases' $expectFirst")
        scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 4 = 3")
        q.processAllAvailable()
      } finally q.stop()
      val out = sinkDf
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_total_cents"))
        .orderBy("o_orderstatus")
      // materialize BEFORE rm() deletes the sink dir the plan reads
      val rows = out.collect().toSeq
      rm(sinkDir)
      scoped.createDataFrame(scoped.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderstatus")
    } finally { rm(root); () }
  }

  val streamCatalogSourceOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_cents
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Query `stream_catalog_paced`: RATE-LIMITED catch-up of the DSv2
    * catalog stream — `maxsnapshotspertrigger` admission control plus
    * `Trigger.AvailableNow`, the run-as-a-scheduled-job shape every
    * production mirror uses. Without admission, a stream started
    * against a table with a deep backlog (here: six committed INSERTs)
    * replays EVERYTHING as one giant micro-batch — one batch's shuffle
    * must fit the whole backlog and a mid-batch crash loses all
    * progress; with it, the backlog drains as bounded windows and the
    * AvailableNow run STOPS ITSELF at the id that was current at
    * start. Required in-query: the first run delivers exactly THREE
    * data batches whose snapshot-id windows each span at most 2
    * commits and tile (0,6] with no gap or overlap; a seventh commit
    * lands AFTER it terminates, and a second AvailableNow run over the
    * SAME checkpoint drains exactly the one pending window — pacing,
    * the pinned ceiling, and checkpointed offsets composing across
    * scheduled runs. The oracle gates the final mirrored state.
    */
  def streamCatalogPaced(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val sinkDir = JFiles.createTempDirectory("graft_paced_sink")
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      // the backlog: six commits BEFORE the stream exists
      (0 until 6).foreach { k =>
        scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 7 = $k")
      }
      def runAvailableNow(): Seq[(Int, Int)] = {
        val q = scoped.readStream
          .option("maxsnapshotspertrigger", 2)
          .table(s"$cat.orders")
          .writeStream.format("parquet")
          .option("path", sinkDir.resolve("data").toString)
          .option("checkpointLocation", sinkDir.resolve("ckpt").toString)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // AvailableNow must STOP ITSELF once the pinned backlog drains
        require(q.awaitTermination(300000L),
          "AvailableNow run did not self-terminate inside 300s")
        // each data batch's (start, end] snapshot-id window, from the
        // engine's own progress records
        q.recentProgress.toIndexedSeq.filter(_.numInputRows > 0).map { p =>
          val src = p.sources.head
          val from = Option(src.startOffset).map(_.trim.toInt).getOrElse(0)
          (from, src.endOffset.trim.toInt)
        }
      }
      val windows1 = runAvailableNow()
      require(windows1.size == 3,
        s"6-commit backlog at 2 commits/trigger must drain as 3 data batches, saw $windows1")
      require(windows1.forall { case (a, b) => b - a <= 2 },
        s"a window exceeded maxsnapshotspertrigger=2: $windows1")
      val tiled = windows1.sortBy(_._1)
      require(tiled.head._1 == 0 && tiled.last._2 == 6 &&
          tiled.sliding(2).forall {
            case Seq((_, e), (s2, _)) => s2 == e
            case _                    => true
          },
        s"windows must tile (0,6] with no gap or overlap: $windows1")
      // a commit landing AFTER the run terminated waits for the NEXT one
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 7 = 6")
      val windows2 = runAvailableNow()
      require(windows2 == Seq((6, 7)),
        s"second AvailableNow run must drain exactly the one pending window, saw $windows2")
      val sinkSchema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("cents", LongType)))
      val out = scoped.read.schema(sinkSchema).parquet(sinkDir.resolve("data").toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderstatus")
      // materialize BEFORE rm() deletes the sink dir the plan reads
      val rows = out.collect().toSeq
      scoped.createDataFrame(scoped.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderstatus")
    } finally { rm(sinkDir); rm(root) }
  }

  /** Seven disjoint slices (o_orderkey % 7 = 0..6) = the whole table. */
  val streamCatalogPacedOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Query `stream_catalog_sink`: the DSv2 STREAMING SINK half of the
    * catalog surface — `readStream.table(src)` piped straight into
    * `writeStream.toTable(dst)`, the catalog-to-catalog mirror with
    * ZERO format-level glue (the V1 `graft-snapshot` sinks cover the
    * path-addressed surface; this is the named-table twin, the thing a
    * pure-SQL user actually writes). The destination is PARTITIONED:
    * each paced epoch runs the same engine-planned clustering pipeline
    * as a batch INSERT (streaming writes pass through
    * RequiresDistributionAndOrdering too) and lands value-pure `_pv=`
    * files under its own epoch dir, committed atomically with the epoch
    * id riding the pointer. Required in-query: three source commits
    * drain as three paced AvailableNow epochs (destination snapshot id
    * == 3); EVERY destination file proves its partition value; a fourth
    * source commit after termination plus a checkpointed re-run deliver
    * exactly the increment (snapshot 4, no replayed rows — the oracle's
    * hash would catch one duplicated order). Partition pruning on the
    * destination then serves the oracled per-status aggregate.
    */
  def streamCatalogSink(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val ckpt = JFiles.createTempDirectory("graft_scsink_ckpt")
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.src (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      scoped.sql(s"CREATE TABLE $cat.dst (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "PARTITIONED BY (o_orderstatus)")
      (0 until 3).foreach { k =>
        scoped.sql(s"INSERT INTO $cat.src SELECT * FROM $view WHERE o_orderkey % 4 = $k")
      }
      def run(): Unit = {
        val q = scoped.readStream
          .option("maxsnapshotspertrigger", 1)
          .table(s"$cat.src")
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.dst")
        require(q.awaitTermination(300000L),
          "AvailableNow mirror run did not self-terminate inside 300s")
      }
      run()
      val store = root.resolve("dst")
      require(Snapshots.currentId(store).contains(3),
        s"3 paced source commits must land as 3 destination snapshots, " +
          s"saw ${Snapshots.currentId(store)}")
      val entries = Snapshots.manifest(store, 3)
      require(entries.nonEmpty && entries.forall(e =>
          Snapshots.partValueOf(e.relPath).isDefined),
        "streamed destination files must be value-pure (_pv= layout)")
      // late source commit + checkpointed re-run: exactly the increment
      scoped.sql(s"INSERT INTO $cat.src SELECT * FROM $view WHERE o_orderkey % 4 = 3")
      run()
      require(Snapshots.currentId(store).contains(4),
        "the re-run must commit exactly one incremental epoch")
      val out = scoped.table(s"$cat.dst")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderstatus")
      val rows = out.collect().toSeq
      scoped.createDataFrame(scoped.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderstatus")
    } finally { rm(ckpt); rm(root) }
  }

  val streamCatalogSinkOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Query `stream_catalog_matview`: a continuously-maintained
    * MATERIALIZED VIEW as nothing but a streaming aggregation written
    * to a `morkey` table — `groupBy(...).agg(...)` in UPDATE mode,
    * `writeStream.toTable(cat.mv)`. Each epoch carries only the keys
    * the batch CHANGED (update mode's contract); the sink commits them
    * as one atomic merge-on-read upsert — a tombstone of the touched
    * keys plus their new images, O(changed keys) per epoch, no base
    * file rewritten (the same publish contract as the V1 upsert sink,
    * minus one full write: the epoch's rows are staged once, by the
    * engine's own write pipeline, and manifested verbatim). Required
    * in-query: after a second upstream commit shifts half the keys,
    * the view still holds EXACTLY one row per key (max multiplicity
    * gated in-query), tombstones exist physically (merge-on-read, not
    * rewrite), and the oracle restates the view as the plain aggregate
    * over all orders — one dropped retraction or doubled key fails the
    * hash.
    */
  def streamCatalogMatview(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val ckpt = JFiles.createTempDirectory("graft_scmv_ckpt")
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.src (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      scoped.sql(s"CREATE TABLE $cat.mv (o_orderstatus STRING NOT NULL, n BIGINT, " +
        "sum_cents BIGINT) TBLPROPERTIES ('morkey'='o_orderstatus')")
      scoped.sql(s"INSERT INTO $cat.src SELECT * FROM $view WHERE o_orderkey % 2 = 0")
      // stateful (update-mode agg): born with the bounded state-
      // partition count, like every StreamRun stream (provider count
      // is per-partition-per-batch; the state here is a handful of
      // status keys)
      val stream = graft.streaming.StreamRun.stateSession(scoped)
      def run(): Unit = {
        val q = stream.readStream.table(s"$cat.src")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.mv")
        require(q.awaitTermination(300000L),
          "AvailableNow matview run did not self-terminate inside 300s")
      }
      run()
      // second upstream commit: every status's aggregate shifts — the
      // epoch must upsert (retract old images), never append beside them
      scoped.sql(s"INSERT INTO $cat.src SELECT * FROM $view WHERE o_orderkey % 2 = 1")
      run()
      val mv = scoped.table(s"$cat.mv")
      val maxPerKey = mv.groupBy("o_orderstatus").count()
        .agg(max(col("count"))).head.getLong(0)
      require(maxPerKey == 1L,
        s"materialized view carries a status $maxPerKey times: upsert failed")
      // physically merge-on-read: the view's history is tombstone deltas
      val store = root.resolve("mv")
      require(Snapshots.manifest(store, Snapshots.currentId(store).get)
          .exists(Snapshots.isDelete),
        "expected equality tombstones (merge-on-read upserts), found none")
      val out = mv.orderBy("o_orderstatus")
      val rows = out.collect().toSeq
      scoped.createDataFrame(scoped.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderstatus")
    } finally { rm(ckpt); rm(root) }
  }

  val streamCatalogMatviewOracleSql: String = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Query `catalog_compact_small`: SELECTIVE small-file compaction —
    * `CALL system.compact_partitions(tbl, min_files)` rewrites ONLY the
    * partition values fragmented past the threshold and carries every
    * other file BYTE-IDENTICAL through one OccSurgical commit. This is
    * the maintenance pass the streaming sink makes necessary (per-epoch
    * commits fragment hot partitions) priced the way 100 TB requires:
    * I/O of O(fragmented partitions), never the table. Six appends give
    * one partition six files and the rest five; min_files=5 must
    * rewrite exactly that one. Required in-query: the CALL's result row
    * says (1 partition, 21 -> 16 files); every untouched file survives
    * with IDENTICAL relPath+md5 (zero write amplification proven from
    * the manifest, not inferred); the hot partition folds to one file;
    * every file stays value-pure. Then the FULL `CALL system.compact`
    * on the same identity-partitioned table — which previously fell to
    * the generic flat rewrite and silently STRIPPED the `_pv=` layout —
    * folds to one file per value with the layout intact. The oracle
    * restates the per-partition aggregate; one row lost by either
    * rewrite fails the hash.
    */
  def catalogCompactSmall(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"),
        (col("o_orderkey") % 4).as("grp"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.t (o_orderkey BIGINT, grp BIGINT, cents BIGINT) " +
        "PARTITIONED BY (grp) TBLPROPERTIES ('statscol'='o_orderkey')")
      // five appends across ALL partitions, a sixth touching ONLY grp=0
      (0 until 5).foreach { k =>
        scoped.sql(s"INSERT INTO $cat.t SELECT * FROM $view WHERE o_orderkey % 7 = $k")
      }
      scoped.sql(s"INSERT INTO $cat.t SELECT * FROM $view " +
        "WHERE o_orderkey % 7 = 5 AND o_orderkey % 4 = 0")
      val store = root.resolve("t")
      val before = Snapshots.manifest(store, Snapshots.currentId(store).get)
      val hot = before.filter(e => Snapshots.partValueOf(e.relPath).contains("0"))
      val cold = before.filterNot(e => Snapshots.partValueOf(e.relPath).contains("0"))
      require(hot.size == 6 && cold.size == 15,
        s"fragmentation setup off: ${hot.size} hot / ${cold.size} cold files")
      val res = scoped.sql(s"CALL $cat.system.compact_partitions(tbl => 't', " +
        "min_files => 5)").head
      require(res.getInt(0) == 1 && res.getInt(1) == 21 && res.getInt(2) == 16,
        s"expected (1 partition, 21 -> 16 files), got $res")
      val after = Snapshots.manifest(store, Snapshots.currentId(store).get)
      // zero write amplification, proven from the manifest: every cold
      // file survives byte-identical (relPath AND md5)
      val coldIds = cold.map(e => (e.relPath, e.md5)).toSet
      require(after.count(e => coldIds((e.relPath, e.md5))) == cold.size,
        "an untouched partition's file was rewritten or dropped")
      val hotAfter = after.filter(e => Snapshots.partValueOf(e.relPath).contains("0"))
      require(hotAfter.size == 1 && after.size == 16,
        s"hot partition did not fold to one file: ${hotAfter.size}, total ${after.size}")
      require(after.forall(e => Snapshots.partValueOf(e.relPath).isDefined),
        "selective compaction produced a non-value-pure file")
      // idempotence: nothing left over the threshold — a second call
      // must rewrite nothing and commit nothing
      val res2 = scoped.sql(s"CALL $cat.system.compact_partitions(tbl => 't', " +
        "min_files => 5)").head
      require(res2.getInt(0) == 0 && res2.getInt(3) == res.getInt(3),
        s"second pass was not a no-op: $res2")
      // the FULL compact on an identity-partitioned table keeps the
      // layout (the pre-fix generic rewrite stripped _pv= silently)
      scoped.sql(s"CALL $cat.system.compact(tbl => 't', target_files => 4)")
      val folded = Snapshots.manifest(store, Snapshots.currentId(store).get)
      require(folded.size == 4 &&
          folded.forall(e => Snapshots.partValueOf(e.relPath).isDefined) &&
          folded.flatMap(e => Snapshots.partValueOf(e.relPath)).toSet ==
            Set("0", "1", "2", "3"),
        s"full compact lost the partition layout: ${folded.map(_.relPath).take(4)}")
      val out = scoped.table(s"$cat.t").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .orderBy("grp")
      val rows = out.collect().toSeq
      scoped.createDataFrame(scoped.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("grp")
    } finally rm(root)
  }

  /** Slices %7 in 0..4 over all groups, plus %7=5 for group 0 only. */
  val catalogCompactSmallOracleSql: String = """
    SELECT o_orderkey % 4 AS grp, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderkey % 7 < 5 OR (o_orderkey % 7 = 5 AND o_orderkey % 4 = 0)
    GROUP BY 1 ORDER BY 1"""

  /** Query `catalog_respec`: PARTITION-SPEC EVOLUTION as metadata — the
    * Iceberg-class capability the r14 verdict named: `ALTER TABLE ...
    * SET TBLPROPERTIES ('bucketn'='8')` on a bucket(4) table with
    * existing data changes the spec WITHOUT rewriting a byte of
    * history. `specfrom` stamps the base snapshot id; files staged
    * after the change land under the new spec while carried files keep
    * their old `_pv=` ids, and the scan judges each file only under
    * the spec it was written with: grouped claims (SPJ, key-grouped
    * output) DECLINE on the mixed snapshot — an old id reinterpreted
    * mod the new n would misgroup rows — and the bucket-aware
    * `CALL system.compact` migrates every row to the new spec,
    * restoring the claims. Required in-query: the ALTER carries every
    * base file byte-identical; a bucket-colocated self-join runs ZERO
    * shuffles before the change, MORE THAN ZERO mid-migration (the
    * honest decline), and ZERO again post-compact with every file's
    * seq newer than `specfrom`; answers are exact at all three stages
    * (the oracle restates them).
    */
  def catalogRespec(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      scoped.sql(s"CREATE TABLE $cat.fact (k BIGINT NOT NULL, o_orderstatus STRING, " +
        "cents BIGINT) PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('statscol'='k')")
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"INSERT INTO $cat.fact SELECT * FROM $view WHERE k % 2 = 0")
      scoped.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def stage(tag: String): (Array[Row], Int) = {
        val t = scoped.table(s"$cat.fact")
        // the CLAIMS probe groups by the bucket key so the co-located
        // join AND its aggregate can reuse the key-grouped distribution
        // (zero exchanges when the claim holds); the oracled output is
        // a separate plain aggregate whose own shuffle is irrelevant
        val probe = t.as("x").join(t.select(col("k")).as("y"), "k")
          .groupBy("k").agg(count(lit(1)).as("c"))
        val nKeys = probe.collect().length
        require(nKeys > 0, "claims probe returned no rows")
        val out = scoped.sql(s"SELECT o_orderstatus, count(*) AS n, " +
          s"sum(cents) AS sum_cents FROM $cat.fact GROUP BY 1")
        val rows = out.collect().map(r =>
          Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
        (rows, shuffles(probe.queryExecution.executedPlan))
      }
      // per-partition SPEC-ID audit from the partitions table: (min over
      // partitions of spec_id_min, max over partitions of spec_id_max),
      // carried to the oracle as literal rows — plus structural requires
      // at each stage below
      def specAudit(tag: String): Row = {
        val rs = scoped.sql(
          s"SELECT spec_id_min, spec_id_max FROM $cat.fact.partitions").collect()
        require(rs.nonEmpty, s"$tag: partitions table is empty")
        Row("zz_specs", tag, rs.map(_.getLong(0)).min, rs.map(_.getLong(1)).max)
      }
      val (preRows, preShuffles) = stage("pre")
      require(preShuffles == 0,
        s"bucket(4) self-join should be storage-partitioned, saw $preShuffles shuffles")
      val store = root.resolve("fact")
      val base = Snapshots.manifest(store, 1)
      // ---- the spec change: METADATA ONLY ----
      scoped.sql(s"ALTER TABLE $cat.fact SET TBLPROPERTIES ('bucketn'='8')")
      scoped.sql(s"INSERT INTO $cat.fact SELECT * FROM $view WHERE k % 2 = 1")
      val cur = Snapshots.currentId(store).get
      val mixed = Snapshots.manifest(store, cur)
      base.foreach(b => require(mixed.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5 && e.seq == b.seq),
        s"spec evolution rewrote pre-evolution file ${b.relPath}"))
      val specFrom = GraftCatalog.effectiveMarker(store, None)._2("specfrom").toInt
      require(mixed.exists(_.seq <= specFrom) && mixed.exists(_.seq > specFrom),
        "expected a MIXED-spec snapshot (old and new files)")
      val (midRows, midShuffles) = stage("mid")
      require(midShuffles > 0,
        "mixed-spec snapshot must DECLINE the storage-partitioned join " +
          "(old _pv= ids mod 4 would misgroup under bucket(8))")
      // a bucket id shared by both specs (pv 0..3) must surface as a
      // genuinely MIXED partition: oldest file spec 0, newest spec 1
      require(scoped.sql(s"SELECT count(*) FROM $cat.fact.partitions " +
          "WHERE spec_id_min = 0 AND spec_id_max = 1").head.getLong(0) > 0,
        "mid-migration exposes no mixed-spec partition")
      val auditMid = specAudit("mid") // old files spec 0, new files spec 1
      // ---- migration: the bucket-aware compact rewrites to the new spec ----
      scoped.sql(s"CALL $cat.system.compact(tbl => 'fact', target_files => 8)")
      val after = Snapshots.manifest(store, Snapshots.currentId(store).get)
      require(after.forall(_.seq > specFrom),
        "compact left pre-evolution files in the current snapshot")
      require(after.forall(e => Snapshots.partValueOf(e.relPath)
          .exists(pv => pv.toInt >= 0 && pv.toInt < 8)),
        "compact did not land bucket(8)-pure files")
      val (postRows, postShuffles) = stage("post")
      require(postShuffles == 0,
        s"post-compact self-join should be storage-partitioned again, saw $postShuffles")
      // ---- the SECOND evolution (bucket 8 -> 16): per-partition spec
      // ids pinned across a twice-evolved table ----
      val auditPost = specAudit("post") // all files re-staged under spec 1
      scoped.sql(s"ALTER TABLE $cat.fact SET TBLPROPERTIES ('bucketn'='16')")
      val hist = GraftCatalog.effectiveMarker(store, None)._2("spechistory")
      require(hist.split(',').length == 2,
        s"two evolutions should stamp two spechistory entries, got '$hist'")
      val auditRespec2 = specAudit("respec2") // files unchanged: still spec 1
      require(scoped.sql(s"SELECT count(*) FROM $cat.fact.partitions " +
          "WHERE under_current_spec").head.getLong(0) == 0,
        "after the second ALTER no partition should be under the current spec")
      scoped.sql(s"CALL $cat.system.compact(tbl => 'fact', target_files => 8)")
      val auditPost2 = specAudit("post2") // migrated again: all spec 2
      require(scoped.sql(s"SELECT count(*) FROM $cat.fact.partitions " +
          "WHERE NOT under_current_spec").head.getLong(0) == 0,
        "post-compact every partition should be under the current spec")
      val schema = StructType(Seq(StructField("stage", StringType),
        StructField("o_orderstatus", StringType), StructField("n", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(
        (preRows ++ midRows ++ postRows ++
          Seq(auditMid, auditPost, auditRespec2, auditPost2)).toSeq, 1), schema)
        .orderBy("stage", "o_orderstatus")
    } finally rm(root)
  }

  /** The three stages restated: pre = even keys, mid/post = all keys —
    * identical mid and post values prove the migration lost nothing.
    * The zz_specs rows pin the per-partition spec-id history as
    * literals: (min, max) over the partitions table at each stage of a
    * TWICE-evolved table (bucket 4 -> 8 -> 16) — mixed (0,1) mid-
    * migration, uniformly 1 after the first compact and still 1 after
    * the second ALTER (metadata only), uniformly 2 after the second
    * compact migrates the rows again.
    */
  val catalogRespecOracleSql: String = """
    WITH f AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT 'pre' AS stage, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM f WHERE k % 2 = 0 GROUP BY o_orderstatus
    UNION ALL
    SELECT 'mid', o_orderstatus, CAST(count(*) AS BIGINT),
      CAST(sum(cents) AS BIGINT) FROM f GROUP BY o_orderstatus
    UNION ALL
    SELECT 'post', o_orderstatus, CAST(count(*) AS BIGINT),
      CAST(sum(cents) AS BIGINT) FROM f GROUP BY o_orderstatus
    UNION ALL
    SELECT 'zz_specs', 'mid', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'zz_specs', 'post', CAST(1 AS BIGINT), CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'zz_specs', 'post2', CAST(2 AS BIGINT), CAST(2 AS BIGINT)
    UNION ALL
    SELECT 'zz_specs', 'respec2', CAST(1 AS BIGINT), CAST(1 AS BIGINT)
    ORDER BY stage, o_orderstatus"""

  /** Query `catalog_clustered_write`: the write-side layout contract
    * under the driver's oracle — an INSERT from a MANY-partition input
    * (32 shuffled input partitions) into a value-pure partitioned
    * table. The unclustered shape would land up to 32 x 8 files; the
    * connector declares `clustered(p)` + `[p asc]` through
    * RequiresDistributionAndOrdering, the engine plans (AQE sizes) the
    * clustering shuffle, and the rolling writer lands ~one file per
    * partition value. Required in-query: file count <= 2x the
    * partition count (the small-files economics), every file
    * value-pure, and the INSERT's executed plan carries the
    * engine-planted exchange + sort (captured via a listener). The
    * oracle restates the per-partition aggregate — the layout changes
    * I/O shape, never answers.
    */
  def catalogClusteredWrite(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.fact (p BIGINT, cents BIGINT) PARTITIONED BY (p)")
      val captured = new java.util.concurrent.CopyOnWriteArrayList[
        org.apache.spark.sql.execution.QueryExecution]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, t: Long): Unit =
          captured.add(qe)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      scoped.listenerManager.register(listener)
      val insertPlan = try {
        Tables.orders(scoped, d).select((col("o_orderkey") % 8).as("p"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
          .repartition(32) // the adversarial input shape: 32 tasks x 8 values
          .writeTo(s"$cat.fact").append()
        var waited = 0
        def find = captured.asScala.find(
          _.executedPlan.toString.contains("GraftPartitionedBatchWrite"))
        while (find.isEmpty && waited < 20000) { Thread.sleep(100); waited += 100 }
        find.getOrElse(throw new IllegalStateException(
          "INSERT's query execution never reached the listener"))
      } finally scoped.listenerManager.unregister(listener)
      val planStr = insertPlan.executedPlan.toString
      require(planStr.contains("Exchange") && planStr.contains("Sort "),
        s"write plan lacks the connector-negotiated clustering:\n$planStr")
      val entries = Snapshots.manifest(root.resolve("fact"), 1)
      require(entries.size <= 16,
        s"clustered write should land ~one file per value (8 values), " +
          s"got ${entries.size}")
      require(entries.forall(e => Snapshots.partValueOf(e.relPath).isDefined),
        "clustered write landed a layout-less file")
      val out = scoped.sql(s"SELECT p, count(*) AS n, sum(cents) AS sum_cents " +
        s"FROM $cat.fact GROUP BY 1").collect()
        .map(r => Row(r.getLong(0), r.getLong(1), r.getLong(2)))
      val schema = StructType(Seq(StructField("p", LongType),
        StructField("n", LongType), StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("p")
    } finally rm(root)
  }

  /** Per-partition aggregate restated from orders. */
  val catalogClusteredWriteOracleSql: String = """
    SELECT o_orderkey % 8 AS p, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders GROUP BY 1 ORDER BY 1"""

  /** Query `catalog_partitions`: the `partitions` metadata table
    * (SURVEY §22's named continuation) — `cat.ns.t.partitions` lists
    * per-`_pv=` file/row/byte counts plus the LIVE `sorted_disjoint`
    * claim status, derived from the manifest + memoized O(1) footer
    * reads. Required in-query: collecting it runs ZERO SPARK JOBS (a
    * LocalRelation behind a DSv2 LocalScan — the operator's
    * introspection must not cost a cluster job at 100 TB), every
    * partition lists >= 1 file and > 0 bytes, and the row counts
    * conserve the table's total. The oracle restates the per-shard row
    * counts from the source table.
    */
  def catalogPartitions(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.fact (shard BIGINT, cents BIGINT) " +
        "PARTITIONED BY (shard) TBLPROPERTIES ('statscol'='cents')")
      Tables.orders(scoped, d).select((col("o_orderkey") % 8).as("shard"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.fact").append()
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      scoped.sparkContext.addSparkListener(listener)
      val metaRows = try {
        // no ORDER BY inside the measured statement: a Sort above the
        // local scan would plan a (driver-trivial but real) job; the
        // bare collect stays on LocalTableScanExec.executeCollect
        val r = scoped.sql(s"SELECT partition, n_files, n_rows, bytes " +
          s"FROM $cat.fact.partitions").collect().sortBy(_.getString(0))
        // the listener bus is async — give submitted jobs time to surface
        GraftBridge.drainListenerBus(scoped.sparkContext)
        r
      } finally scoped.sparkContext.removeSparkListener(listener)
      require(jobs.get() == 0,
        s"reading the partitions metadata table launched ${jobs.get()} Spark " +
          "job(s) — it must be a driver-local manifest read")
      require(metaRows.length == 8, s"expected 8 partitions, got ${metaRows.length}")
      metaRows.foreach { r =>
        require(r.getLong(1) >= 1 && r.getLong(3) > 0,
          s"partition ${r.getString(0)} lists no files/bytes")
      }
      val total = Tables.orders(scoped, d).count()
      require(metaRows.map(_.getLong(2)).sum == total,
        "partition row counts do not conserve the table total")
      val schema = StructType(Seq(StructField("partition", StringType),
        StructField("n_rows", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(
        metaRows.map(r => Row(r.getString(0), r.getLong(2))).toSeq, 1), schema)
        .orderBy("partition")
    } finally rm(root)
  }

  /** Per-shard row counts restated from orders. */
  val catalogPartitionsOracleSql: String = """
    SELECT CAST(o_orderkey % 8 AS VARCHAR) AS partition,
      CAST(count(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY 1 ORDER BY 1"""

  /** Query `catalog_meta`: the Iceberg-style metadata suffix from PURE
    * SQL — `t.snapshots` joined to per-snapshot time-travel aggregates of
    * the data itself, plus `t.refs`. History choreography: two INSERTs
    * (append: snapshot 2's file count strictly greater), one surgical
    * DELETE (snapshot 3), one tag. The oracle pins the structural
    * history as literals beside SQL-computed aggregates: the
    * introspection relations and the data they describe must agree, from
    * SQL alone, at every version.
    */
  def catalogMeta(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 2 = 0")
      scoped.sql(s"INSERT INTO $cat.orders SELECT * FROM $view WHERE o_orderkey % 2 = 1")
      scoped.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 10 = 7")
      Snapshots.createTag(root.resolve("orders"), "pre_delete", 2)
      // n_files must be monotone over the append, and the meta relation
      // must agree with the manifest — structural gates before the data
      val meta = scoped.sql(s"SELECT snapshot_id, n_data_files, n_fresh, is_current " +
        s"FROM $cat.orders.snapshots ORDER BY snapshot_id").collect()
      require(meta.length == 3 && meta(2).getLong(3) == 1L,
        s"expected 3 snapshots with #3 current: ${meta.mkString(";")}")
      require(meta(1).getLong(1) > meta(0).getLong(1),
        "append did not grow the data file count")
      // VERSION AS OF takes a literal: iterate the ids the meta relation
      // reports (introspection drives the time travel — that IS the test)
      val ids = scoped.sql(s"SELECT snapshot_id FROM $cat.orders.snapshots ORDER BY 1")
        .collect().map(_.getLong(0)).toSeq
      val tagged = scoped.sql(s"SELECT snapshot_id FROM $cat.orders.refs " +
        "WHERE name = 'pre_delete' AND kind = 'tag'").head.getLong(0)
      val out = ids.map { id =>
        val r = scoped.sql(s"SELECT count(*) AS n, sum(cents) AS sc " +
          s"FROM $cat.orders VERSION AS OF $id").head
        Row(id, if (id == tagged) "pre_delete" else "", r.getLong(0), r.getLong(1))
      }
      val schema = StructType(Seq(
        StructField("snapshot_id", LongType), StructField("tag", StringType),
        StructField("n_rows", LongType), StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("snapshot_id")
    } finally rm(root)
  }

  /** Query `catalog_call`: the maintenance procedures under the oracle —
    * a compaction CALL rewrites the layout (in-query: strictly fewer
    * files, one committed snapshot id returned to SQL), a DELETE mutates,
    * a rollback CALL re-points the table at the pre-delete snapshot, and
    * a tag created by CALL reads via VERSION AS OF. The oracle restates
    * the three observed states from the source table: compaction is
    * layout-only (identical rows), rollback is exact restoration, the
    * tag pins what it named.
    */
  def catalogCall(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT) " +
        "TBLPROPERTIES ('statscol'='o_orderkey')")
      Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(8, col("o_orderkey"))
        .writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val compacted = scoped.sql(
        s"CALL $cat.system.compact(tbl => 'orders', target_files => 2, statscol => 'o_orderkey')")
        .head.getInt(0)
      require(compacted == 2 && Snapshots.manifest(store, 2).size < Snapshots.manifest(store, 1).size,
        "compaction did not shrink the file count")
      scoped.sql(s"CALL $cat.system.create_tag(tbl => 'orders', name => 'compacted', snapshot_id => 2)")
      scoped.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 3 = 0")
      val rolled = scoped.sql(
        s"CALL $cat.system.rollback(tbl => 'orders', snapshot_id => $compacted)").head.getInt(0)
      require(rolled == compacted, s"rollback returned $rolled")
      val out = Seq(
        ("rolled_back", s"SELECT * FROM $cat.orders"),
        ("post_delete", s"SELECT * FROM $cat.orders VERSION AS OF 3"),
        ("tag", s"SELECT * FROM $cat.orders VERSION AS OF 'compacted'")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM ($sql) GROUP BY 1")
          .collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_total_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogCallOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'rolled_back' AS state, o_orderstatus, cents FROM b
      UNION ALL SELECT 'post_delete', o_orderstatus, cents FROM b WHERE k % 3 <> 0
      UNION ALL SELECT 'tag', o_orderstatus, cents FROM b)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_total_cents
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  val catalogMetaOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT CAST(1 AS BIGINT) AS snapshot_id, '' AS tag,
      CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b WHERE k % 2 = 0
    UNION ALL
    SELECT 2, 'pre_delete', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM b
    UNION ALL
    SELECT 3, '', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM b WHERE k % 10 <> 7
    ORDER BY snapshot_id"""

  /** Query `catalog_adopt`: `CALL system.add_files` — pre-existing
    * parquet files (an external producer's output) REGISTERED into a
    * table as one appended snapshot with ZERO data bytes rewritten,
    * the reference's actual bulk-load shape (externally built dumps
    * registered, not re-encoded). Half the orders land via INSERT, the
    * other half is written as raw parquet OUTSIDE the store and
    * adopted. Required in-query: every adopted manifest entry's md5
    * equals the md5 the external file had BEFORE the call (bytes
    * moved, never rewritten); the adopted entries carry zone maps from
    * the table's declared statscol; mismatched-schema adoption refuses.
    * The oracle restates the pre-adopt and post-adopt states.
    */
  def catalogAdopt(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val ext = JFiles.createTempDirectory("graft_adopt_src")
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (o_orderkey BIGINT, o_orderstatus STRING, " +
        "cents BIGINT) TBLPROPERTIES ('statscol'='o_orderkey')")
      val src = Tables.orders(scoped, d).select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      src.filter(col("o_orderkey") % 2 === 0).writeTo(s"$cat.orders").append()
      // the "external producer": raw parquet, no snapshot layer involved
      src.filter(col("o_orderkey") % 2 === 1)
        .repartition(4).write.mode("overwrite").parquet(ext.toString)
      val extMd5: Map[String, String] = {
        val l = JFiles.list(ext)
        val fs = try l.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally l.close()
        Snapshots.md5hexAll(fs).map { case (p, h) => p.getFileName.toString -> h }
      }
      val res = scoped.sql(s"CALL $cat.system.add_files(tbl => 'orders', " +
        s"src => '${ext.toString}')").head
      require(res.getInt(0) == extMd5.size,
        s"expected ${extMd5.size} adopted files, got ${res.getInt(0)}")
      val store = root.resolve("orders")
      val cur = Snapshots.currentId(store).get
      val adopted = Snapshots.manifest(store, cur)
        .filter(_.relPath.contains("adopt-"))
      require(adopted.size == extMd5.size, "manifest must list every adopted file")
      adopted.foreach { e =>
        val name = java.nio.file.Paths.get(e.relPath).getFileName.toString
        require(extMd5.get(name).contains(e.md5),
          s"adopted file $name was rewritten (md5 drift) — adoption must move bytes verbatim")
        require(e.stats.nonEmpty,
          s"adopted entry $name carries no zone map despite the declared statscol")
      }
      // a schema-drifted source refuses loudly
      val bad = JFiles.createTempDirectory("graft_adopt_bad")
      try {
        src.limit(5).withColumn("extra", lit(1)).write.mode("overwrite")
          .parquet(bad.toString)
        val refused = scala.util.Try(
          scoped.sql(s"CALL $cat.system.add_files(tbl => 'orders', src => '${bad.toString}')"))
        require(refused.isFailure, "mismatched-schema adoption must refuse")
      } finally rm(bad)
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("pre_adopt", s"SELECT * FROM $cat.orders VERSION AS OF 1")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(o_orderkey) AS sk FROM ($sql) GROUP BY 1").collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally { rm(ext); rm(root) }
  }

  val catalogAdoptOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents, k FROM b
      UNION ALL SELECT 'pre_adopt', o_orderstatus, cents, k FROM b WHERE k % 2 = 0)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_timetravel`: `TIMESTAMP AS OF` time travel — the
    * instant-addressed half of the time-travel pair (`VERSION AS OF`
    * is the id-addressed half). Every manifest carries its commit
    * instant as a `#ts` header stamped atomically with the file list;
    * the catalog resolves an instant to the LATEST snapshot committed
    * at or before it. Required in-query: `TIMESTAMP AS OF` commit 1's
    * own instant reads exactly snapshot 1 (boundary is inclusive) and
    * matches `VERSION AS OF 1` row-for-row; an instant after commit 2
    * reads the current state; an instant before the table existed
    * refuses loudly. The oracle restates both states from raw orders.
    */
  def catalogTimetravel(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (k BIGINT, o_orderstatus STRING, " +
        "cents BIGINT) TBLPROPERTIES ('statscol'='k')")
      val src = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      src.filter(col("k") % 2 === 0).writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val t1 = Snapshots.commitTsMillis(store, 1)
      // the two commits must land in DIFFERENT milliseconds or no
      // instant can separate them — wait out commit 1's millisecond
      while (System.currentTimeMillis() <= t1) Thread.sleep(1)
      src.filter(col("k") % 2 === 1).writeTo(s"$cat.orders").append()
      require(Snapshots.commitTsMillis(store, 2) > t1,
        "commit 2 landed inside commit 1's millisecond despite the wait")
      require(Snapshots.idAsOfMillis(store, t1).contains(1),
        s"instant $t1 must resolve snapshot 1, got ${Snapshots.idAsOfMillis(store, t1)}")
      // an instant predating the table refuses loudly, never returns empty
      val early = scala.util.Try(scoped.sql(s"SELECT * FROM $cat.orders " +
        s"TIMESTAMP AS OF timestamp_millis(${t1 - 86400000L})").collect())
      require(early.isFailure, "TIMESTAMP AS OF before the first commit must refuse")
      // instant-addressed and id-addressed reads of the same snapshot agree
      require(scoped.sql(s"SELECT * FROM $cat.orders TIMESTAMP AS OF " +
        s"timestamp_millis($t1) EXCEPT ALL " +
        s"SELECT * FROM $cat.orders VERSION AS OF 1").isEmpty,
        "TIMESTAMP AS OF t1 and VERSION AS OF 1 must read the same rows")
      val out = Seq(
        ("current", s"SELECT * FROM $cat.orders"),
        ("asof_t1", s"SELECT * FROM $cat.orders TIMESTAMP AS OF timestamp_millis($t1)"),
        ("asof_now", s"SELECT * FROM $cat.orders TIMESTAMP AS OF " +
          s"timestamp_millis(${System.currentTimeMillis()})")
      ).flatMap { case (tag, sql) =>
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc, " +
          s"sum(k) AS sk FROM ($sql) GROUP BY 1").collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val schema = StructType(Seq(
        StructField("state", StringType), StructField("o_orderstatus", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType),
        StructField("sum_keys", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  val catalogTimetravelOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    states AS (
      SELECT 'current' AS state, o_orderstatus, cents, k FROM b
      UNION ALL SELECT 'asof_now', o_orderstatus, cents, k FROM b
      UNION ALL SELECT 'asof_t1', o_orderstatus, cents, k FROM b WHERE k % 2 = 0)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents,
      CAST(sum(k) AS BIGINT) AS sum_keys
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_dpp`: RUNTIME file pruning — the DSv2 analog of
    * dynamic partition pruning, driven by manifest metadata. A fact
    * table `PARTITIONED BY` a nation-key bucket joins the 25-row nation
    * dim under a selective dim filter (one region = 5 of 25 partitions);
    * Spark's PartitionPruning rule plants the dim's build-side keys as a
    * runtime IN-set on the fact scan ([[GraftScan]] implements
    * `SupportsRuntimeV2Filtering`), and the scan prunes MANIFEST FILES
    * with the same zone-map/`_pv=` kernel as plan-time skipping — before
    * a single fact byte is read. Required in-query: the runtime filter
    * fired and kept STRICTLY fewer files than the snapshot lists. At
    * 100 TB this is the difference between scanning one region's
    * partitions and scanning the world: the pruning key is only known at
    * RUN time (it comes out of the dim join), so no static predicate
    * could have done it.
    */
  def catalogDpp(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.fact (nk BIGINT, cents BIGINT) " +
        "PARTITIONED BY (nk) TBLPROPERTIES ('statscol'='cents')")
      Tables.orders(scoped, d).select((col("o_orderkey") % 25).as("nk"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.fact").append()
      val total = Snapshots.manifest(root.resolve("fact"), 1).size
      val dim = Tables.nation(scoped, d)
        .filter(col("n_regionkey") === 0)
        .select(col("n_nationkey"), col("n_name"))
      GraftScan.resetRuntimePrune(root.resolve("fact"))
      val joined = scoped.table(s"$cat.fact")
        .join(dim, col("nk") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val out = joined.collect().map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
      val (kept, ttl) = GraftScan.lastRuntimePruneFor(root.resolve("fact"))
      require(ttl == total && total > 0,
        s"runtime filter never reached the fact scan (saw $ttl of $total files)")
      require(kept < total,
        s"runtime filter pruned nothing: kept $kept of $total files")
      val schema = StructType(Seq(StructField("n_name", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("n_name")
    } finally rm(root)
  }

  /** The same join restated flat — runtime pruning changes I/O, never
    * answers.
    */
  val catalogDppOracleSql: String = """
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders o JOIN nation n ON o.o_orderkey % 25 = n.n_nationkey
    WHERE n.n_regionkey = 0
    GROUP BY n.n_name ORDER BY n.n_name"""

  /** Query `catalog_dpp_date`: DATE partition columns — the single most
    * common fact layout in the wild (the r14 verdict's gap: the scan
    * declined dates from `_pv=` runtime pruning and key-grouped
    * planning). Dates render in partition paths as the timezone-free
    * ISO local date (`_pv=1995-03-01`) with an unambiguous round-trip
    * (epoch days ↔ ISO, proleptic Gregorian both ways) — unlike
    * timestamps, which go through the session timezone and stay
    * declined. Two proofs, both required in-query:
    *  1. RUNTIME PRUNING: a dim join whose build side carries March
    *     months prunes the month-partitioned fact's files before fact
    *     I/O (kept < total via the same IN-set → `_pv=` matching the
    *     integral tables use);
    *  2. STORAGE-PARTITIONED JOIN: the fact joins a second
    *     date-partitioned table on the date column with ZERO shuffle
    *     exchanges (broadcast disabled so the proof cannot be faked).
    * The oracle restates both joins; the date travels as its ISO string
    * so the hash gate pins the rendering itself.
    */
  def catalogDppDate(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.fact (od DATE, cents BIGINT) PARTITIONED BY (od)")
      scoped.sql(s"CREATE TABLE $cat.rev (od DATE, rev_cents BIGINT) PARTITIONED BY (od)")
      Tables.orders(scoped, d).select(
        date_trunc("month", col("o_orderdate")).cast("date").as("od"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.fact").append()
      Tables.lineitem(scoped, d).select(
        date_trunc("month", col("l_shipdate")).cast("date").as("od"),
        round(col("l_extendedprice") * 100).cast("long").as("r"))
        .groupBy("od").agg(sum("r").as("rev_cents"))
        .writeTo(s"$cat.rev").append()
      val total = Snapshots.manifest(root.resolve("fact"), 1).size
      // ---- proof 1: runtime pruning through the dim join's IN-set ----
      // the dim is a REAL (tiny) date-dimension relation with a
      // selective filter — dynamic pruning's benefit heuristic declines
      // to plant a filter whose build side is a full fact-sized scan
      // (measured at the sf1 sweep), exactly as it should; a date dim
      // is also the realistic join shape
      val dimDir = root.resolve("date_dim")
      Tables.orders(scoped, d)
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("dd"))
        .distinct()
        .write.mode("overwrite").parquet(dimDir.toString)
      val dim = scoped.read.parquet(dimDir.toString).filter(month(col("dd")) === 3)
      GraftScan.resetRuntimePrune(root.resolve("fact"))
      val pruned = scoped.table(s"$cat.fact")
        .join(dim, col("od") === col("dd"))
        .groupBy("od")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val dppRows = pruned.collect().map(r =>
        Row("dpp", r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      val (kept, ttl) = GraftScan.lastRuntimePruneFor(root.resolve("fact"))
      require(ttl == total && total > 0,
        s"runtime filter never reached the date-partitioned fact (saw $ttl of $total)")
      require(kept < total,
        s"date runtime filter pruned nothing: kept $kept of $total files")
      // ---- proof 2: storage-partitioned join on the DATE column ----
      scoped.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = scoped.table(s"$cat.fact").join(scoped.table(s"$cat.rev"), "od")
        .groupBy("od")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val spjRows = joined.collect().map(r =>
        Row("spj", r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      require(shuffles(joined.queryExecution.executedPlan) == 0,
        "date-partitioned join was not storage-partitioned (shuffles in plan):\n" +
          joined.queryExecution.executedPlan)
      val schema = StructType(Seq(StructField("part", StringType),
        StructField("od", StringType), StructField("n", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize((dppRows ++ spjRows).toSeq, 1), schema)
        .orderBy("part", "od")
    } finally rm(root)
  }

  /** Both date joins restated flat; the ISO rendering rides the hash. */
  val catalogDppDateOracleSql: String = """
    WITH f AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS od,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    r AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS od
        FROM lineitem GROUP BY 1)
    SELECT 'dpp' AS part, CAST(od AS VARCHAR) AS od,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM f WHERE month(od) = 3 GROUP BY 2
    UNION ALL
    SELECT 'spj', CAST(f.od AS VARCHAR), CAST(count(*) AS BIGINT),
      CAST(sum(f.cents) AS BIGINT)
    FROM f JOIN r ON f.od = r.od GROUP BY 2
    ORDER BY part, od"""

  /** Query `catalog_merge_evolve`: MERGE SCHEMA EVOLUTION — the
    * reference's release-over-release DDL can add columns (A9 parses
    * them; E2c reads them); a MERGE from a wider-schema source into a
    * narrower catalog table auto-widens under `'mergeschema'='true'`
    * (Delta's dial, served through Spark 4's own
    * AUTOMATIC_SCHEMA_EVOLUTION capability: the analyzer routes the new
    * columns through the catalog's AddColumn ALTER — the same metadata
    * commit an explicit ALTER lands, so history stays exact). Required
    * in-query: the un-dialled twin runs the same wider MERGE WITHOUT
    * evolving (Spark's star alignment assigns target columns only — the
    * new column is the dial's doing, never an accident of a wide
    * source); the dialled table widens, old rows surface NULL in the
    * new column straight from the pre-evolution files, and time travel
    * below the merge keeps the NARROW schema. The oracle restates the
    * merged state grouped by the evolved column.
    */
  def catalogMergeEvolve(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st0"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"CREATE TABLE $cat.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('mergeschema'='true', 'statscol'='k')")
      scoped.sql(s"INSERT INTO $cat.t SELECT k, cents FROM $view") // snapshot 1
      scoped.sql(s"CREATE TABLE $cat.frozen (k BIGINT, cents BIGINT)")
      scoped.sql(s"INSERT INTO $cat.frozen SELECT k, cents FROM $view")
      // the wider source: matched keys re-land with +1 cents and their
      // status in a NEW column; fresh keys insert with st='N'. The
      // source aggregates PER KEY (max cents / max status): upscaled
      // test dirs carry non-unique o_orderkey (the sf10 sweep's catch),
      // and MERGE rightly refuses multiple source rows per target row
      scoped.sql(s"""CREATE OR REPLACE TEMP VIEW ${view}_src AS
        WITH agg AS (SELECT k, max(cents) AS mc, max(st0) AS ms
          FROM $view WHERE k % 3 = 0 GROUP BY k)
        SELECT k, mc + 1 AS cents, ms AS st FROM agg
        UNION ALL
        SELECT k + 3000000000 AS k, CAST(5 AS BIGINT) AS cents, 'N' AS st
        FROM agg""")
      def mergeSql(tbl: String) = s"""MERGE INTO $cat.$tbl t
        USING ${view}_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *"""
      // without the dial, Spark's star alignment assigns TARGET columns
      // only: the same wider MERGE runs but must NOT change the schema —
      // evolution is the dial's (or the explicit WITH SCHEMA EVOLUTION
      // clause's) doing, never an accident of a wide source
      scoped.sql(mergeSql("frozen"))
      require(scoped.table(s"$cat.frozen").columns.toSeq == Seq("k", "cents"),
        "un-dialled table evolved without WITH SCHEMA EVOLUTION: " +
          scoped.table(s"$cat.frozen").columns.mkString(","))
      scoped.sql(mergeSql("t")) // auto-widens: ALTER (metadata commit) + merge
      require(scoped.table(s"$cat.t").columns.toSeq == Seq("k", "cents", "st"),
        s"MERGE did not evolve the schema: ${scoped.table(s"$cat.t").columns.mkString(",")}")
      // time travel below the merge keeps the narrow pre-evolution shape
      val narrow = scoped.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").columns.toSeq
      require(narrow == Seq("k", "cents"),
        s"VERSION AS OF 1 should keep the narrow schema, got ${narrow.mkString(",")}")
      // old rows surface NULL st straight from pre-evolution files;
      // collected and re-lifted (the store dies with the query)
      val out = scoped.sql(s"SELECT coalesce(st, '') AS st, count(*) AS n, " +
        s"sum(cents) AS sum_cents FROM $cat.t GROUP BY 1").collect()
        .map(r => Row(r.getString(0), r.getLong(1), r.getLong(2)))
      val schema = StructType(Seq(StructField("st", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("st")
    } finally rm(root)
  }

  /** The merged state grouped by the evolved column: '' = untouched
    * narrow rows (NULL st), per-status = matched (+1 cents), 'N' = the
    * merge's inserts.
    */
  val catalogMergeEvolveOracleSql: String = """
    WITH f AS (SELECT o_orderkey AS k, o_orderstatus AS st0,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    agg AS (SELECT k, max(cents) AS mc, max(st0) AS ms
        FROM f WHERE k % 3 = 0 GROUP BY k)
    SELECT '' AS st, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents FROM f WHERE k % 3 != 0
    UNION ALL
    SELECT ms, CAST(count(*) AS BIGINT), CAST(sum(mc + 1) AS BIGINT)
    FROM f JOIN agg USING (k) GROUP BY ms
    UNION ALL
    SELECT 'N', CAST(count(*) AS BIGINT), CAST(5 * count(*) AS BIGINT)
    FROM agg
    ORDER BY st"""

  /** Query `catalog_cdf_batch`: the change feed as a PINNED BATCH DSv2
    * read — `spark.read.option("changefeed", true)
    * .option("startsnapshot", a).option("versionAsOf", b).table(t)`
    * serves the window `(a, b]` as insert/delete rows, unifying the TVF
    * and streaming surfaces (the r15 verdict's continuation): one
    * resolution rule swaps in the feed-shaped twin for BOTH, and both
    * serve the same materialized `changefeeds/` cache, so an audit
    * query and a mirror stream never recompute each other's windows.
    * Required in-query: the batch read hash-matches the TVF kernel
    * (`Snapshots.readChangeFeed`) over a window containing an UPDATE
    * and a DELETE, and a commit AFTER the pin does not leak into the
    * pinned window. The oracle restates the feed's per-change-type
    * aggregates (old images surface as deletes at their pre-update
    * values) plus the unpinned tail as a literal.
    */
  def catalogCdfBatch(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val view = cat + "_orders"
    try {
      scoped.sql(s"CREATE TABLE $cat.kv (k BIGINT NOT NULL, cents BIGINT) " +
        "TBLPROPERTIES ('morkey'='k')")
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView(view)
      scoped.sql(s"INSERT INTO $cat.kv SELECT * FROM $view")            // snap 1
      scoped.sql(s"UPDATE $cat.kv SET cents = cents + 7 WHERE k % 10 = 3") // 2
      scoped.sql(s"DELETE FROM $cat.kv WHERE k % 10 = 6")               // snap 3
      scoped.sql(s"INSERT INTO $cat.kv VALUES (1000000007, 42)")        // snap 4
      val store = root.resolve("kv")
      def batchFeed(opts: (String, String)*): DataFrame =
        opts.foldLeft(scoped.read.option("changefeed", "true"))(
          (r, o) => r.option(o._1, o._2)).table(s"$cat.kv")
      // the pinned window (1,3]: an UPDATE's pairs and a DELETE's
      // retractions, read AFTER snapshot 4 exists — the pin must hold
      val pinned = batchFeed("startsnapshot" -> "1", "versionAsOf" -> "3")
      val pinnedRows = pinned.collect()
      val tvfRows = Snapshots.readChangeFeed(scoped, store, 1, 3)
        .select(pinned.columns.map(col).toIndexedSeq: _*).collect()
      require(pinnedRows.toSet == tvfRows.toSet,
        "batch DSv2 changefeed diverged from the TVF window (1,3]")
      require(!pinnedRows.exists(_.getLong(0) == 1000000007L),
        "VERSION AS OF pin leaked a post-pin commit into the window")
      val agg = pinnedRows.groupBy(_.getString(2)).toSeq.map { case (ct, rs) =>
        Row("pinned", ct, rs.length.toLong, rs.map(_.getLong(1)).sum)
      }
      // the unpinned tail (3, current]: exactly the late insert
      val tail = batchFeed("startsnapshot" -> "3").collect()
        .groupBy(_.getString(2)).toSeq.map { case (ct, rs) =>
          Row("tail", ct, rs.length.toLong, rs.map(_.getLong(1)).sum)
        }
      val schema = StructType(Seq(StructField("part", StringType),
        StructField("change_type", StringType), StructField("n", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize((agg ++ tail).toSeq, 1), schema)
        .orderBy("part", "change_type")
    } finally rm(root)
  }

  /** The window's per-change-type aggregates restated: inserts = the
    * update's NEW images (cents + 7), deletes = the update's OLD images
    * plus the deleted rows at their original values; the tail is the
    * late insert as a literal.
    */
  val catalogCdfBatchOracleSql: String = """
    WITH f AS (SELECT o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT 'pinned' AS part, 'delete' AS change_type,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM f WHERE k % 10 IN (3, 6)
    UNION ALL
    SELECT 'pinned', 'insert', CAST(count(*) AS BIGINT),
      CAST(sum(cents + 7) AS BIGINT) FROM f WHERE k % 10 = 3
    UNION ALL
    SELECT 'tail', 'insert', CAST(1 AS BIGINT), CAST(42 AS BIGINT)
    ORDER BY part, change_type"""

  /** Query `catalog_dpp_ts`: TIMESTAMP partition columns — the r15
    * verdict's top ask (hourly/daily timestamp-partitioned facts are
    * the most common real layout after date). Timestamps render in
    * partition paths as UTC epoch-MICROS (the catalyst internal long,
    * `_pv=795225600000000`) — OUR contract, chosen precisely because
    * Spark's own partitionBy rendering goes through the session
    * timezone and the same instant would name different directories
    * across sessions. The micros form round-trips exactly and
    * timezone-free; every write path (the engine-clustered DSv2 writer
    * and stageOccPartitioned) renders it identically. Same two proofs
    * as `catalog_dpp_date`, both required in-query:
    *  1. RUNTIME PRUNING: a date-dim join's IN-set (micros literals)
    *     prunes the month-partitioned fact's files before fact I/O;
    *  2. STORAGE-PARTITIONED JOIN: the fact joins a second
    *     timestamp-partitioned table on the timestamp with ZERO shuffle
    *     exchanges (broadcast disabled so the proof cannot be faked).
    * The session timezone is UTC (GraftSession pins it), so the
    * timestamp travels to the oracle as epoch SECONDS — DuckDB's naive
    * TIMESTAMP epoch() agrees exactly and the hash gate pins the value.
    */
  def catalogDppTs(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.fact (ots TIMESTAMP, cents BIGINT) PARTITIONED BY (ots)")
      scoped.sql(s"CREATE TABLE $cat.rev (ots TIMESTAMP, rev_cents BIGINT) PARTITIONED BY (ots)")
      Tables.orders(scoped, d).select(
        date_trunc("month", col("o_orderdate")).as("ots"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.fact").append()
      Tables.lineitem(scoped, d).select(
        date_trunc("month", col("l_shipdate")).as("ots"),
        round(col("l_extendedprice") * 100).cast("long").as("r"))
        .groupBy("ots").agg(sum("r").as("rev_cents"))
        .writeTo(s"$cat.rev").append()
      // every committed fact file proves its value as digit-pure micros
      val factPvs = Snapshots.manifest(root.resolve("fact"), 1)
        .flatMap(e => GraftScan.pvOfPath(e.relPath))
      require(factPvs.nonEmpty && factPvs.forall(_.forall(_.isDigit)),
        s"timestamp _pv= segments are not epoch-micros longs: " +
          factPvs.distinct.take(3).mkString(","))
      val total = Snapshots.manifest(root.resolve("fact"), 1).size
      // ---- proof 1: runtime pruning through the dim join's IN-set ----
      val dimDir = root.resolve("ts_dim")
      Tables.orders(scoped, d)
        .select(date_trunc("month", col("o_orderdate")).as("dd"))
        .distinct()
        .write.mode("overwrite").parquet(dimDir.toString)
      val dim = scoped.read.parquet(dimDir.toString).filter(month(col("dd")) === 3)
      GraftScan.resetRuntimePrune(root.resolve("fact"))
      val pruned = scoped.table(s"$cat.fact")
        .join(dim, col("ots") === col("dd"))
        .groupBy("ots")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val dppRows = pruned.collect().map(r =>
        Row("dpp", r.getTimestamp(0).toInstant.getEpochSecond, r.getLong(1),
          r.getLong(2)))
      val (kept, ttl) = GraftScan.lastRuntimePruneFor(root.resolve("fact"))
      require(ttl == total && total > 0,
        s"runtime filter never reached the ts-partitioned fact (saw $ttl of $total)")
      require(kept < total,
        s"timestamp runtime filter pruned nothing: kept $kept of $total files")
      // ---- proof 2: storage-partitioned join on the TIMESTAMP column ----
      scoped.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = scoped.table(s"$cat.fact").join(scoped.table(s"$cat.rev"), "ots")
        .groupBy("ots")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      val spjRows = joined.collect().map(r =>
        Row("spj", r.getTimestamp(0).toInstant.getEpochSecond, r.getLong(1),
          r.getLong(2)))
      require(shuffles(joined.queryExecution.executedPlan) == 0,
        "timestamp-partitioned join was not storage-partitioned (shuffles in plan):\n" +
          joined.queryExecution.executedPlan)
      val schema = StructType(Seq(StructField("part", StringType),
        StructField("epoch_s", LongType), StructField("n", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize((dppRows ++ spjRows).toSeq, 1), schema)
        .orderBy("part", "epoch_s")
    } finally rm(root)
  }

  /** Both timestamp joins restated flat; epoch seconds ride the hash
    * (Spark's UTC session and DuckDB's naive TIMESTAMP agree exactly).
    */
  val catalogDppTsOracleSql: String = """
    WITH f AS (SELECT date_trunc('month', o_orderdate) AS ots,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    r AS (SELECT date_trunc('month', l_shipdate) AS ots
        FROM lineitem GROUP BY 1)
    SELECT 'dpp' AS part, CAST(epoch(ots) AS BIGINT) AS epoch_s,
      CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM f WHERE month(ots) = 3 GROUP BY 2
    UNION ALL
    SELECT 'spj', CAST(epoch(f.ots) AS BIGINT), CAST(count(*) AS BIGINT),
      CAST(sum(f.cents) AS BIGINT)
    FROM f JOIN r ON f.ots = r.ots GROUP BY 2
    ORDER BY part, epoch_s"""

  /** Query `catalog_spj`: the STORAGE-PARTITIONED JOIN — two catalog
    * tables `PARTITIONED BY` the same shard key join with ZERO shuffle.
    * [[GraftScan]] reports `KeyGroupedPartitioning(identity(shard))` and
    * plans one `HasPartitionKey` file group per `_pv=` value, so
    * EnsureRequirements aligns the two sides by partition VALUE instead
    * of inserting exchanges; the downstream per-shard aggregate reuses
    * the same distribution, so the WHOLE PLAN executes exchange-free.
    * Required in-query: zero ShuffleExchange nodes in the executed plan
    * (broadcast disabled so the proof cannot be faked by a broadcast
    * join). This is bucketing's payoff at 100 TB — the co-located join
    * without ever paying a shuffle to create co-location — expressed
    * through Spark's own v2 bucketing contract (opt-in conf, set on the
    * query's cloned session).
    */
  def catalogSpj(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.ord (shard BIGINT, cents BIGINT) PARTITIONED BY (shard)")
      scoped.sql(s"CREATE TABLE $cat.rev (shard BIGINT, rev_cents BIGINT) PARTITIONED BY (shard)")
      Tables.orders(scoped, d).select((col("o_orderkey") % 16).as("shard"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.ord").append()
      // the second side: per-shard lineitem revenue, pre-aggregated on
      // write (a shard-summary table — the realistic small co-partitioned
      // side a fact row joins its shard's stats from)
      Tables.lineitem(scoped, d).select((col("l_orderkey") % 16).as("shard"),
        round(col("l_extendedprice") * 100).cast("long").as("r"))
        .groupBy("shard").agg(sum("r").as("rev_cents"))
        .writeTo(s"$cat.rev").append()
      scoped.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = scoped.table(s"$cat.ord").join(scoped.table(s"$cat.rev"), "shard")
        .groupBy("shard")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          max("rev_cents").as("shard_rev_cents"))
      val out = joined.collect()
        .map(r => Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val nShuffles = shuffles(joined.queryExecution.executedPlan)
      require(nShuffles == 0,
        s"storage-partitioned join still shuffled ($nShuffles exchanges):\n" +
          joined.queryExecution.executedPlan)
      val schema = StructType(Seq(StructField("shard", LongType),
        StructField("n", LongType), StructField("sum_cents", LongType),
        StructField("shard_rev_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("shard")
    } finally rm(root)
  }

  /** Query `catalog_bucket`: the storage-partitioned join on a
    * HIGH-cardinality key — `PARTITIONED BY (bucket(16, k))` tables
    * (the catalog's FunctionCatalog serves the `bucket` identity both
    * sides are matched on), orders and their lineitems co-located by
    * hash so the per-order join + per-order aggregate run with ZERO
    * exchanges. This is what identity partitioning cannot give (a
    * 15k-value partition column would mean 15k dirs); bucketing is the
    * co-located join for keys with real cardinality. Required in-query:
    * zero ShuffleExchange nodes with broadcast disabled, and every
    * committed file carries its `_pv=<bucket id>` proof.
    */
  def catalogBucket(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.ord (k BIGINT, st STRING) PARTITIONED BY (bucket(16, k))")
      scoped.sql(s"CREATE TABLE $cat.li (k BIGINT, rc BIGINT) PARTITIONED BY (bucket(16, k))")
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
        .writeTo(s"$cat.ord").append()
      Tables.lineitem(scoped, d).select(col("l_orderkey").as("k"),
        round(col("l_extendedprice") * 100).cast("long").as("rc"))
        .writeTo(s"$cat.li").append()
      val entries = Snapshots.manifest(root.resolve("ord"), 1) ++
        Snapshots.manifest(root.resolve("li"), 1)
      require(entries.forall(e => GraftScan.pvOfPath(e.relPath).isDefined),
        "a bucketed write landed a file without its _pv=<bucket id> proof")
      scoped.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = scoped.table(s"$cat.ord").filter(col("k") < 2000)
        .join(scoped.table(s"$cat.li"), "k")
        .groupBy("k").agg(max("st").as("st"), count(lit(1)).as("n_lines"),
          sum("rc").as("rev_cents"))
      val out = joined.collect()
        .map(r => Row(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val nShuffles = shuffles(joined.queryExecution.executedPlan)
      require(nShuffles == 0,
        s"bucketed join still shuffled ($nShuffles exchanges):\n" +
          joined.queryExecution.executedPlan)
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("st", StringType), StructField("n_lines", LongType),
        StructField("rev_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("k")
    } finally rm(root)
  }

  /** Query `catalog_mor_bucket`: merge-on-read DML on a BUCKETED table —
    * the composition a high-churn co-located fact lives in. The UPDATE
    * lands as tombstone + bucket-pure replacement rows (zero base files
    * rewritten, proven in-query; the delta cannot poison the `_pv=`
    * layout), reads of the tombstone-bearing snapshot are exact through
    * the merged view, and `CALL system.compact` folds the tombstones
    * back into the sorted bucket layout — O(changed rows) per statement,
    * one maintenance pass to return to the zero-exchange join. States
    * v1 / current / post_compact all oracle-restated (compaction must
    * change bytes, never answers).
    */
  def catalogMorBucket(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (k BIGINT NOT NULL, o_orderstatus STRING, " +
        "cents BIGINT) PARTITIONED BY (bucket(8, k)) " +
        "TBLPROPERTIES ('morkey'='k', 'sortcol'='k')")
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.orders").append()
      val store = root.resolve("orders")
      val base = Snapshots.manifest(store, 1)
      scoped.sql(s"UPDATE $cat.orders SET cents = cents * 2, o_orderstatus = 'U' " +
        "WHERE k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'")
      val after = Snapshots.manifest(store, 2)
      base.foreach(b => require(after.exists(e =>
        e.relPath == b.relPath && e.md5 == b.md5),
        s"bucketed MoR UPDATE rewrote base file ${b.relPath}"))
      val fresh = after.filter(_.seq == 2)
      val (tombs, datas) = fresh.partition(Snapshots.isDelete)
      require(tombs.nonEmpty && datas.nonEmpty,
        s"expected tombstone + replacement rows in the delta, got $fresh")
      datas.foreach(e => require(GraftScan.pvOfPath(e.relPath).isDefined,
        s"delta file ${e.relPath} poisons the bucket layout"))
      def stateRows(tag: String): Seq[Row] =
        scoped.sql(s"SELECT o_orderstatus, count(*) AS n, sum(cents) AS sc FROM " +
          (if (tag == "v1") s"$cat.orders VERSION AS OF 1" else s"$cat.orders") +
          " GROUP BY 1").collect()
          .map(r => Row(tag, r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val v1 = stateRows("v1")
      val current = stateRows("current")
      scoped.sql(s"CALL $cat.system.compact('orders', 8)")
      val folded = Snapshots.manifest(store, Snapshots.currentId(store).get)
      require(!folded.exists(Snapshots.isDelete), "compact left tombstones behind")
      require(folded.forall(e => GraftScan.pvOfPath(e.relPath).isDefined),
        "compact lost the bucket layout")
      val post = stateRows("post_compact")
      val schema = StructType(Seq(StructField("state", StringType),
        StructField("o_orderstatus", StringType), StructField("n", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(v1 ++ current ++ post, 1), schema)
        .orderBy("state", "o_orderstatus")
    } finally rm(root)
  }

  /** The UPDATE applied (twice — compaction changes bytes, not answers)
    * plus the raw base, restated flat.
    */
  val catalogMorBucketOracleSql: String = """
    WITH b AS (SELECT o_orderkey AS k, o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    cur AS (
      SELECT CASE WHEN k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'
             THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        CASE WHEN k BETWEEN 800 AND 1599 AND o_orderstatus = 'O'
             THEN cents * 2 ELSE cents END AS cents
      FROM b),
    states AS (
      SELECT 'v1' AS state, o_orderstatus, cents FROM b
      UNION ALL SELECT 'current', o_orderstatus, cents FROM cur
      UNION ALL SELECT 'post_compact', o_orderstatus, cents FROM cur)
    SELECT state, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM states GROUP BY state, o_orderstatus
    ORDER BY state, o_orderstatus"""

  /** Query `catalog_agg_push`: FOOTER-ONLY aggregates — with Spark's
    * `spark.sql.parquet.aggregatePushdown` on, `COUNT(*)/MIN/MAX` over a
    * catalog table are answered from parquet FOOTER STATISTICS through
    * the scan builder's delegated `SupportsPushDownAggregates`
    * negotiation: no data page is decoded, the scan's I/O is one footer
    * read per file. At 100 TB that is the difference between a metadata
    * round and a full-table scan for the "how big is this table"
    * class of query. Required in-query: the executed scan really
    * carries the pushed aggregation (plan-string proof), and a second
    * leg with the conf OFF hash-matches — pushdown changes I/O, never
    * answers.
    */
  def catalogAggPush(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    val confKey = "spark.sql.parquet.aggregatePushdown"
    try {
      scoped.sql(s"CREATE TABLE $cat.orders (k BIGINT, cents BIGINT)")
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(8).writeTo(s"$cat.orders").append()
      def agg(): (Seq[Row], DataFrame) = {
        val df = scoped.sql(s"SELECT count(*) AS n, min(k) AS min_k, max(k) AS max_k, " +
          s"min(cents) AS min_cents, max(cents) AS max_cents FROM $cat.orders")
        (df.collect().toSeq, df)
      }
      scoped.conf.set(confKey, "true")
      val (pushed, pushedDf) = agg()
      val plan = pushedDf.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT(*)") ||
          plan.contains("PushedAggregation: [MIN"),
        s"aggregate did not reach the parquet footers:\n$plan")
      scoped.conf.set(confKey, "false")
      val (scanned, _) = agg()
      require(pushed == scanned,
        s"footer aggregates diverged from the scan: $pushed vs $scanned")
      val schema = StructType(Seq(StructField("n", LongType),
        StructField("min_k", LongType), StructField("max_k", LongType),
        StructField("min_cents", LongType), StructField("max_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(pushed, 1), schema)
    } finally rm(root)
  }

  /** The same aggregate restated flat. */
  val catalogAggPushOracleSql: String = """
    SELECT CAST(count(*) AS BIGINT) AS n,
      CAST(min(o_orderkey) AS BIGINT) AS min_k,
      CAST(max(o_orderkey) AS BIGINT) AS max_k,
      CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM orders"""

  /** Query `catalog_sorted`: the FULLY co-located merge join — bucketed
    * AND sorted tables (`'sortcol'`) join with ZERO exchanges and ZERO
    * sorts. The sorted bucketed writer clusters each bucket and sorts
    * within files; the sort column's zone ranges ride the manifest, and
    * the scan reports the ordering only when every bucket's file ranges
    * prove pairwise disjoint — which a second, key-disjoint append keeps
    * true (proven in-query: the ordering claim SURVIVES an append).
    * This is the end state of the co-location story: at 100 TB the
    * join's two shuffles AND its two sorts are paid once at write time,
    * never per query.
    */
  def catalogSorted(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.ord (k BIGINT NOT NULL, st STRING) " +
        "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('sortcol'='k')")
      scoped.sql(s"CREATE TABLE $cat.li (k BIGINT NOT NULL, rc BIGINT) " +
        "PARTITIONED BY (bucket(8, k)) TBLPROPERTIES ('sortcol'='k')")
      val ord = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("st"))
      // two KEY-DISJOINT appends: per-bucket file ranges stay disjoint,
      // so the ordering claim must survive the second commit. Split at
      // the observed median so both halves are non-empty at EVERY scale
      // (a fixed constant left the second append empty at sf0.001)
      val mid = ord.agg(expr("percentile_approx(k, 0.5)")).head.getLong(0)
      ord.filter(col("k") < mid).writeTo(s"$cat.ord").append()
      ord.filter(col("k") >= mid).writeTo(s"$cat.ord").append()
      Tables.lineitem(scoped, d).select(col("l_orderkey").as("k"),
        round(col("l_extendedprice") * 100).cast("long").as("rc"))
        .writeTo(s"$cat.li").append()
      scoped.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = scoped.table(s"$cat.ord").filter(col("k") < 2000)
        .join(scoped.table(s"$cat.li"), "k")
        .groupBy("k").agg(max("st").as("st"), count(lit(1)).as("n_lines"),
          sum("rc").as("rev_cents"))
      val out = joined.collect()
        .map(r => Row(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      def nodes(p: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        val here = p match {
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => (1, 0)
          case _: org.apache.spark.sql.execution.SortExec => (0, 1)
          case _ => (0, 0)
        }
        kids.map(nodes).foldLeft(here) { case ((a, b), (c, dd)) => (a + c, b + dd) }
      }
      val (nShuffles, nSorts) = nodes(joined.queryExecution.executedPlan)
      require(nShuffles == 0 && nSorts == 0,
        s"sorted bucketed join not fully co-located ($nShuffles exchanges, " +
          s"$nSorts sorts):\n" + joined.queryExecution.executedPlan)
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("st", StringType), StructField("n_lines", LongType),
        StructField("rev_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out.toSeq, 1), schema)
        .orderBy("k")
    } finally rm(root)
  }

  /** Same answer as catalog_bucket's oracle (the split append changes
    * nothing); ordering/exchange elimination change plan shape, never
    * answers.
    */
  val catalogSortedOracleSql: String = """
    WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
               WHERE o_orderkey < 2000),
    l AS (SELECT l_orderkey AS k,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS rc FROM lineitem)
    SELECT o.k, max(o.st) AS st, CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(l.rc) AS BIGINT) AS rev_cents
    FROM o JOIN l ON o.k = l.k GROUP BY o.k ORDER BY o.k"""

  /** The same per-order join restated flat. */
  val catalogBucketOracleSql: String = """
    WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
               WHERE o_orderkey < 2000),
    l AS (SELECT l_orderkey AS k,
        CAST(round(l_extendedprice * 100) AS BIGINT) AS rc FROM lineitem)
    SELECT o.k, max(o.st) AS st, CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(l.rc) AS BIGINT) AS rev_cents
    FROM o JOIN l ON o.k = l.k GROUP BY o.k ORDER BY o.k"""

  /** The same join restated flat. */
  val catalogSpjOracleSql: String = """
    WITH o AS (SELECT o_orderkey % 16 AS shard,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    r AS (SELECT l_orderkey % 16 AS shard,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY 1)
    SELECT o.shard, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(o.cents) AS BIGINT) AS sum_cents,
      CAST(max(r.rev_cents) AS BIGINT) AS shard_rev_cents
    FROM o JOIN r ON o.shard = r.shard
    GROUP BY o.shard ORDER BY o.shard"""

  /** Query `catalog_limit_push`: LIMIT pushdown as FILE pruning —
    * `SELECT * FROM t LIMIT k` over a 100 TB table must not plan the
    * table; the scan keeps a manifest-order file PREFIX whose memoized
    * footer row counts cover the limit (here: 1 of 4 files) and Spark's
    * own Limit stays on top (partial pushdown), so the answer is exact
    * by construction. The pushdown is also proven to DECLINE whenever a
    * pushed filter is active underneath — a filter could empty the kept
    * prefix while a dropped file still held matching rows, so declining
    * is soundness, not a missed optimization.
    */
  def catalogLimitPush(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, cents BIGINT)")
      val src = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // four commits, one file each — the prunable unit is the file
      (0 until 4).foreach { i =>
        src.filter(pmod(col("k"), lit(4)) === i)
          .repartition(1).writeTo(s"$cat.t").append()
      }
      val store = root.resolve("t")
      val totalFiles =
        Snapshots.manifest(store, Snapshots.currentId(store).get).size
      require(totalFiles >= 4, s"expected >=4 files, saw $totalFiles")

      GraftScan.resetLimitPrune(store)
      val limCnt = scoped.sql(
        s"SELECT count(*) AS c FROM (SELECT * FROM $cat.t LIMIT 100)")
        .head().getLong(0)
      val (kept, ttl) = GraftScan.lastLimitPruneFor(store)
      require(ttl == totalFiles && kept == 1,
        s"LIMIT did not prune to the one-file prefix: kept $kept of $ttl " +
          s"(files: $totalFiles)")

      // a pushed filter underneath must decline the file prune
      GraftScan.resetLimitPrune(store)
      val limFiltered = scoped.sql(s"SELECT count(*) AS c FROM " +
        s"(SELECT * FROM $cat.t WHERE k % 3 = 0 LIMIT 70)").head().getLong(0)
      require(GraftScan.lastLimitPruneFor(store) == ((0, 0)),
        "LIMIT file prune fired under a pushed filter — unsound")

      val totalRows = scoped.table(s"$cat.t").count()
      val schema = StructType(Seq(StructField("lim_cnt", LongType),
        StructField("lim_filtered", LongType), StructField("total_rows", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(
        Seq(Row(limCnt, limFiltered, totalRows)), 1), schema)
    } finally rm(root)
  }

  /** The three counts restated (LIMIT counts are cardinalities, so
    * row-pick nondeterminism never reaches the hash).
    */
  val catalogLimitPushOracleSql: String = """
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM orders LIMIT 100) t1)
        AS lim_cnt,
      (SELECT CAST(count(*) AS BIGINT) FROM
        (SELECT * FROM orders WHERE o_orderkey % 3 = 0 LIMIT 70) t2) AS lim_filtered,
      (SELECT CAST(count(*) AS BIGINT) FROM orders) AS total_rows"""

  /** Query `catalog_topn_push`: ORDER BY + LIMIT pushdown as ZONE-MAP
    * file pruning — a top-k on the statscol keeps only files whose zone
    * range can still reach the k-th bound (ASC: >= k rows provably sort
    * at-or-below some file's zone-hi; every file whose zone-lo exceeds
    * that bound is dropped), with per-file footer NULL counts proving
    * the column carries no nulls (a null sorts to one end with no zone
    * evidence — one unprovable footer declines the pushdown). Both
    * directions proven; Spark's TakeOrderedAndProject stays on top, so
    * exactness never depends on the prune. The decline contract rides
    * the same query: a top-k above a pushed filter keeps every file.
    */
  def catalogTopnPush(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, cents BIGINT) " +
        "TBLPROPERTIES ('statscol'='k')")
      val src = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val maxK = src.agg(max("k")).head().getLong(0)
      // four RANGE-DISJOINT commits: per-file zone ranges partition the
      // key space, so a top-50 needs exactly one file per direction
      val cut = maxK / 4 + 1
      (0 until 4).foreach { i =>
        src.filter(col("k") >= i * cut && col("k") < (i + 1) * cut)
          .repartition(1).writeTo(s"$cat.t").append()
      }
      val store = root.resolve("t")
      val totalFiles =
        Snapshots.manifest(store, Snapshots.currentId(store).get).size
      require(totalFiles >= 4, s"expected >=4 files, saw $totalFiles")

      GraftScan.resetLimitPrune(store)
      val ascRows = scoped.table(s"$cat.t").orderBy(col("k").asc).limit(50)
        .collect().map(r => Row("asc", r.getLong(0), r.getLong(1)))
      val (ka, ta) = GraftScan.lastLimitPruneFor(store)
      require(ta == totalFiles && ka < totalFiles,
        s"ASC top-k pruned nothing: kept $ka of $ta (files: $totalFiles)")

      GraftScan.resetLimitPrune(store)
      val descRows = scoped.table(s"$cat.t").orderBy(col("k").desc).limit(50)
        .collect().map(r => Row("desc", r.getLong(0), r.getLong(1)))
      val (kd, td) = GraftScan.lastLimitPruneFor(store)
      require(td == totalFiles && kd < totalFiles,
        s"DESC top-k pruned nothing: kept $kd of $td")

      // decline contract: a pushed filter underneath keeps every file
      GraftScan.resetLimitPrune(store)
      scoped.table(s"$cat.t").filter(col("cents") > 0)
        .orderBy(col("k").asc).limit(10).collect()
      require(GraftScan.lastLimitPruneFor(store) == ((0, 0)),
        "top-k file prune fired under a pushed filter — unsound")

      val schema = StructType(Seq(StructField("leg", StringType),
        StructField("k", LongType), StructField("cents", LongType)))
      scoped.createDataFrame(
        scoped.sparkContext.parallelize((ascRows ++ descRows).toSeq, 1), schema)
        .orderBy("leg", "k")
    } finally rm(root)
  }

  /** Both top-k legs restated (o_orderkey is unique, so each leg is
    * fully deterministic row-for-row).
    */
  val catalogTopnPushOracleSql: String = """
    WITH t AS (SELECT o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT * FROM (
      SELECT 'asc' AS leg, k, cents FROM t ORDER BY k LIMIT 50)
    UNION ALL
    SELECT * FROM (
      SELECT 'desc' AS leg, k, cents FROM t ORDER BY k DESC LIMIT 50)
    ORDER BY leg, k"""

  /** Query `catalog_clone`: ZERO-COPY SHALLOW CLONE — `CALL
    * system.clone(src, dst[, snapshot_id])` materializes a snapshot of
    * one table as a brand-new sibling table in O(metadata): data files
    * are referenced in place through sibling-relative manifest paths
    * (ZERO parquet lands under the clone — proven from the disk),
    * equality tombstones copy physically (O(delta) — the cloned
    * merge-on-read state must keep anti-joining), and a version-pinned
    * clone is born with the SOURCE'S state and schema at that snapshot.
    * The tables then diverge independently (writes to either never
    * surface in the other — both directions proven), `CALL
    * system.compact` DETACHES the clone (afterwards no manifest entry
    * escapes its root — proven), and the clone's own `expire` GC
    * refuses to reach through a foreign reference, so even a
    * full-history expire of a still-attached clone can never damage
    * the source (proven by expiring the detached-but-historied clone
    * and re-reading the source). At 100 TB this is the dev/test-table
    * story: a writable copy of production for the price of a manifest.
    */
  def catalogClone(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.src (k BIGINT NOT NULL, cents BIGINT NOT NULL) " +
        "TBLPROPERTIES ('morkey'='k', 'statscol'='k')")
      val src = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      src.filter(col("k") % 2 === 0).writeTo(s"$cat.src").append()
      val idAfterFirst = Snapshots.currentId(root.resolve("src")).get
      src.filter(col("k") % 2 === 1).writeTo(s"$cat.src").append()
      scoped.sql(s"DELETE FROM $cat.src WHERE k % 10 = 3")

      // ---- clone at current (carries the live tombstones) ----------
      val res = scoped.sql(s"CALL $cat.system.clone('src', 'dev')").collect()(0)
      require(res.getInt(0) > 0 && res.getInt(1) >= 1,
        s"clone saw ${res.getInt(0)} files / ${res.getInt(1)} tombstones")
      // disk proof: NOT ONE data parquet landed under the clone
      val devData = root.resolve("dev").resolve("data")
      require(!JFiles.exists(devData) || {
        val w = JFiles.walk(devData)
        try !w.iterator().asScala.exists(_.toString.endsWith(".parquet"))
        finally w.close()
      }, "shallow clone copied data files")
      // the clone reads EXACTLY the source's merged state. Both sides
      // are merge-on-read reads, each consumed by BOTH exceptAll
      // directions — materialize once instead of re-running the merged
      // read four times (guide §5)
      val srcNow = scoped.table(s"$cat.src").localCheckpoint()
      val devNow = scoped.table(s"$cat.dev").localCheckpoint()
      require(devNow.exceptAll(srcNow).isEmpty && srcNow.exceptAll(devNow).isEmpty,
        "clone diverged from source at birth")

      // ---- version-pinned clone: born at the FIRST append's state ---
      scoped.sql(s"CALL $cat.system.clone('src', 'hist', $idAfterFirst)")

      // ---- independent divergence ----------------------------------
      scoped.sql(s"INSERT INTO $cat.dev VALUES (-1, 11), (-2, 22)")
      scoped.sql(s"DELETE FROM $cat.src WHERE k % 10 = 7")
      // neither write surfaces in the other table
      require(scoped.table(s"$cat.dev").filter(col("k") % 10 === 7 && col("k") > 0)
        .count() > 0, "source's post-clone DELETE leaked into the clone")
      require(scoped.table(s"$cat.src").filter(col("k") < 0).count() == 0,
        "clone's post-clone INSERT leaked into the source")

      // ---- detach + GC-guard proof ---------------------------------
      scoped.sql(s"CALL $cat.system.compact('dev', 4)")
      val devStore = root.resolve("dev")
      val devHead = Snapshots.currentId(devStore).get
      require(!Snapshots.manifest(devStore, devHead).exists(_.relPath.startsWith("../")),
        "compact left the clone attached (foreign refs survive)")
      val srcCountBefore = scoped.table(s"$cat.src").count()
      // expire the clone's ENTIRE pre-compact history: its manifest-1
      // references the source's files, and the guard must refuse to
      // reach through them
      scoped.sql(s"CALL $cat.system.expire('dev', $devHead)")
      require(scoped.table(s"$cat.src").count() == srcCountBefore,
        "expiring the clone reclaimed SOURCE files through foreign refs")

      // ---- final states, one leg per table -------------------------
      def leg(name: String, df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .head()
        Row(name, r.getLong(0), r.getLong(1))
      }
      val out = Seq(leg("src", scoped.table(s"$cat.src")),
        leg("dev", scoped.table(s"$cat.dev")), leg("hist", scoped.table(s"$cat.hist")))
      val schema = StructType(Seq(StructField("leg", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("leg")
    } finally rm(root)
  }

  /** Query `catalog_meta_delete`: METADATA-ONLY DELETE — a predicate
    * that provably matches EVERY row of a file (a value-pure `_pv=`
    * file under equality on the partition column; a zone range strictly
    * inside the predicate's with a footer-proven zero null count) drops
    * the file from the manifest WITHOUT reading it. Proven in-query:
    * the partition purge runs ZERO Spark jobs (asserted by listener),
    * every surviving file carries byte-identical (relPath+md5 against
    * the pre-delete manifest), and the range delete composes drops with
    * partial rewrites (one file gone wholesale, one rewritten, the rest
    * untouched). At 100 TB, purging a partition — the reference's
    * release-retirement shape — is a manifest edit, not a rewrite.
    */
  def catalogMetaDelete(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      // ---- leg 1: partition purge, zero jobs ------------------------
      scoped.sql(s"CREATE TABLE $cat.t1 (shard BIGINT, cents BIGINT) " +
        "PARTITIONED BY (shard)")
      Tables.orders(scoped, d).select((col("o_orderkey") % 8).as("shard"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.t1").append()
      val store1 = root.resolve("t1")
      val before1 = Snapshots.manifest(store1, Snapshots.currentId(store1).get)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      scoped.sparkContext.addSparkListener(listener)
      try {
        scoped.sql(s"DELETE FROM $cat.t1 WHERE shard = 3")
        GraftBridge.drainListenerBus(scoped.sparkContext)
      } finally scoped.sparkContext.removeSparkListener(listener)
      require(jobs.get() == 0,
        s"partition purge launched ${jobs.get()} Spark job(s) — not metadata-only")
      val after1 = Snapshots.manifest(store1, Snapshots.currentId(store1).get)
      val by1 = before1.map(e => e.relPath -> e.md5).toMap
      require(after1.forall(e => by1.get(e.relPath).contains(e.md5)),
        "metadata delete rewrote or added files")
      val gone = before1.map(_.relPath).toSet -- after1.map(_.relPath).toSet
      require(gone.nonEmpty && gone.forall(_.contains("_pv=3")),
        s"wrong files dropped: $gone")

      // ---- leg 2: zone drop + partial rewrite -----------------------
      scoped.sql(s"CREATE TABLE $cat.t2 (k BIGINT NOT NULL, cents BIGINT NOT NULL) " +
        "TBLPROPERTIES ('statscol'='k')")
      val src = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val maxK = src.agg(max("k")).head().getLong(0)
      val cut = maxK / 4 + 1
      (0 until 4).foreach { i =>
        src.filter(col("k") >= i * cut && col("k") < (i + 1) * cut)
          .repartition(1).writeTo(s"$cat.t2").append()
      }
      val store2 = root.resolve("t2")
      val before2 = Snapshots.manifest(store2, Snapshots.currentId(store2).get)
      scoped.sql(s"DELETE FROM $cat.t2 WHERE k < ${cut + cut / 2}")
      val after2 = Snapshots.manifest(store2, Snapshots.currentId(store2).get)
      val by2 = before2.map(e => e.relPath -> e.md5).toMap
      val (carried2, fresh2) = after2.partition(e => by2.get(e.relPath).contains(e.md5))
      require(carried2.size == 2 && fresh2.size == 1,
        s"expected 2 byte-identical carries + 1 rewrite, got " +
          s"${carried2.size} + ${fresh2.size}")

      // ---- final states, oracled -----------------------------------
      val t1 = scoped.table(s"$cat.t1").groupBy("shard")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .collect().map(r => Row("purge", r.getLong(0), r.getLong(1), r.getLong(2)))
      val t2r = scoped.table(s"$cat.t2")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"), min("k").as("m"))
        .head()
      val t2 = Array(Row("range", t2r.getLong(2), t2r.getLong(0), t2r.getLong(1)))
      val schema = StructType(Seq(StructField("leg", StringType),
        StructField("k", LongType), StructField("n", LongType),
        StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize((t1 ++ t2).toSeq, 1), schema)
        .orderBy("leg", "k")
    } finally rm(root)
  }

  /** Both post-delete states restated flat (the range cut re-derived
    * the same way: max/4+1, predicate below 1.5 cuts).
    */
  val catalogMetaDeleteOracleSql: String = """
    WITH t AS (SELECT o_orderkey AS k, o_orderkey % 8 AS shard,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    cut AS (SELECT max(k) // 4 + 1 AS c FROM t)
    SELECT 'purge' AS leg, shard AS k, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM t WHERE shard <> 3 GROUP BY shard
    UNION ALL
    SELECT 'range', CAST(min(k) AS BIGINT), CAST(count(*) AS BIGINT),
      CAST(sum(cents) AS BIGINT)
    FROM t WHERE k >= (SELECT c + c // 2 FROM cut)
    ORDER BY leg, k"""

  /** Query `catalog_analyze`: COLUMN STATISTICS → Spark's own CBO —
    * `CALL system.analyze(tbl, cols)` computes exact per-column NDV +
    * null counts in one job and persists them as a stats sidecar; the
    * scan then reports them (plus exact footer row counts and manifest
    * zone min/max — both zero-job) through DSv2 `columnStats()`, which
    * Spark folds into catalyst ColumnStats. The pay-off proven
    * in-query: under `spark.sql.cbo.enabled`, a selective filter on
    * the analyzed column shrinks the estimated join side from
    * "the whole dimension table" to rowCount/NDV rows, flipping a
    * sort-merge join to broadcast — the decision a bytes-only estimate
    * can never make, and at 100 TB the difference between shuffling a
    * fact table and shipping a kilobyte. Both plans' ANSWERS are
    * asserted identical and the analyze numbers themselves ride the
    * oracle hash.
    */
  def catalogAnalyze(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.dim (k BIGINT NOT NULL, cents BIGINT NOT NULL) " +
        "TBLPROPERTIES ('statscol'='cents')")
      Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .writeTo(s"$cat.dim").append()
      scoped.sql(s"CREATE TABLE $cat.fact (k BIGINT NOT NULL, qty BIGINT NOT NULL)")
      Tables.lineitem(scoped, d).select(col("l_orderkey").as("k"),
        round(col("l_quantity") * 100).cast("long").as("qty"))
        .writeTo(s"$cat.fact").append()
      val stats = scoped.sql(s"CALL $cat.system.analyze('dim', 'k,cents')")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // the filter value: the first order's cents — deterministic
      val minK = scoped.table(s"$cat.dim").agg(min("k")).head().getLong(0)
      val cval = scoped.table(s"$cat.dim").filter(col("k") === minK)
        .head().getLong(1)
      // the dim file is PROVABLY above the threshold; only a
      // stats-shrunk estimate may broadcast it
      val dimBytes = Snapshots.manifest(root.resolve("dim"),
        Snapshots.currentId(root.resolve("dim")).get).map(_.bytes).sum
      scoped.conf.set("spark.sql.autoBroadcastJoinThreshold",
        math.max(4096L, dimBytes / 2).toString)
      def q() = scoped.table(s"$cat.fact")
        .join(scoped.table(s"$cat.dim").filter(col("cents") === cval), "k")
        .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"))
      def joins(p: org.apache.spark.sql.execution.SparkPlan, want: String): Int = {
        val here = p match {
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if want == "smj" => 1
          case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if want == "bhj" => 1
          case _ => 0
        }
        here + p.children.map(joins(_, want)).sum
      }
      scoped.conf.set("spark.sql.cbo.enabled", "false")
      val off = q()
      val offRow = off.collect().head
      require(joins(off.queryExecution.sparkPlan, "smj") > 0,
        s"bytes-only baseline unexpectedly broadcast:\n${off.queryExecution.sparkPlan}")
      scoped.conf.set("spark.sql.cbo.enabled", "true")
      val on = q()
      val onRow = on.collect().head
      require(joins(on.queryExecution.sparkPlan, "bhj") > 0,
        s"CBO column stats did not flip the join to broadcast:\n" +
          on.queryExecution.sparkPlan)
      require(offRow == onRow, s"plans disagree: $offRow vs $onRow")
      val schema = StructType(Seq(StructField("n", LongType),
        StructField("sum_qty", LongType), StructField("ndv_k", LongType),
        StructField("ndv_cents", LongType), StructField("nulls_k", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(Seq(Row(
        onRow.getLong(0), onRow.getLong(1), stats("k")._1, stats("cents")._1,
        stats("k")._2)), 1), schema)
    } finally rm(root)
  }

  /** Query `catalog_wap`: WRITE-AUDIT-PUBLISH through the catalog, no
    * Scala API — the reference's prerelease-verify-rename release
    * discipline as three SQL-visible steps: `CALL create_branch`
    * stages a ref, `.option("branch", name)` writes land BEHIND it
    * (readers of `_current` provably never see them), the audit runs
    * over `VERSION AS OF 'branch'`, and `CALL adopt_branch` swaps the
    * audited head live in one pointer rename. A REJECTED audit is a
    * `drop_ref` — the main line never moved. Both directions proven
    * in-query: the staged rows are invisible pre-adoption, a
    * bad-data branch is dropped without a trace on main, and the
    * pre-adoption snapshot still time-travels after the publish.
    */
  def catalogWap(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, cents BIGINT NOT NULL)")
      val src = Tables.orders(scoped, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      src.filter(col("k") % 2 === 0).writeTo(s"$cat.t").append()
      val store = root.resolve("t")
      val base = Snapshots.currentId(store).get
      val baseCount = scoped.table(s"$cat.t").count()

      // ---- stage the release behind a branch ------------------------
      scoped.sql(s"CALL $cat.system.create_branch('t', 'audit', $base)")
      src.filter(col("k") % 2 === 1).writeTo(s"$cat.t")
        .option("branch", "audit").append()
      require(scoped.table(s"$cat.t").count() == baseCount,
        "staged branch rows leaked to _current readers before adoption")
      // ---- audit over the branch's WHOLE post-append view -----------
      val audited = scoped.sql(s"SELECT * FROM $cat.t VERSION AS OF 'audit'")
      require(audited.filter(col("cents") < 0).count() == 0, "audit failed")
      require(audited.count() > baseCount, "branch write landed nothing")

      // ---- a REJECTED audit: drop the ref, main never moved ---------
      scoped.sql(s"CALL $cat.system.create_branch('t', 'bad', $base)")
      scoped.range(0, 10).select((col("id") - 1000000L).as("k"), lit(-1L).as("cents"))
        .writeTo(s"$cat.t").option("branch", "bad").append()
      val badN = scoped.sql(s"SELECT * FROM $cat.t VERSION AS OF 'bad'")
        .filter(col("cents") < 0).count()
      require(badN == 10L, s"bad branch staged $badN negative rows")
      scoped.sql(s"CALL $cat.system.drop_ref('t', 'bad')")
      require(scoped.table(s"$cat.t").count() == baseCount,
        "rejected branch touched the main line")

      // ---- publish: one pointer rename ------------------------------
      scoped.sql(s"CALL $cat.system.adopt_branch('t', 'audit')")
      def leg(name: String, df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)).as("n"), sum("cents").as("sc")).head()
        Row(name, r.getLong(0), r.getLong(1))
      }
      val out = Seq(
        leg("main", scoped.table(s"$cat.t")),
        // the pre-adoption snapshot still time-travels
        leg("base", scoped.sql(s"SELECT * FROM $cat.t VERSION AS OF $base")))
      val schema = StructType(Seq(StructField("leg", StringType),
        StructField("n", LongType), StructField("sum_cents", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(out, 1), schema)
        .orderBy("leg")
    } finally rm(root)
  }

  /** Post-publish main (all orders) and the pre-adoption base (even
    * keys), restated flat.
    */
  val catalogWapOracleSql: String = """
    WITH t AS (SELECT o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT 'base' AS leg, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(cents) AS BIGINT) AS sum_cents FROM t WHERE k % 2 = 0
    UNION ALL
    SELECT 'main', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM t
    ORDER BY leg"""

  /** Query `catalog_analyze_incr`: INCREMENTAL sketch-mode ANALYZE —
    * per-file KMV sidecars keyed by data-file md5 mean a re-analyze
    * after an append scans ONLY the new files: proven in-query by task
    * input-bytes (the refresh reads less than the pre-append table —
    * it could not have rescanned the old files) while the refreshed
    * bottom-k estimate stays within its statistical envelope of the
    * exact NDV (also asserted in-query). At 100 TB this is the only
    * ANALYZE that can keep up with a continuously-appending table:
    * O(appended files) per refresh, sketches computed once per
    * immutable file ever. The oracled output is the EXACT side —
    * per-column true NDV and null counts restated in SQL — with the
    * sketch bounds riding as in-query gates.
    */
  def catalogAnalyzeIncr(s: SparkSession, d: String): DataFrame = {
    val (scoped, cat, root) = freshCatalog(s)
    try {
      scoped.sql(s"CREATE TABLE $cat.t (pk BIGINT NOT NULL, sk BIGINT NOT NULL)")
      val src = Tables.lineitem(scoped, d).select(col("l_partkey").as("pk"),
        col("l_suppkey").as("sk"))
      src.filter(col("pk") % 2 === 0).repartition(2).writeTo(s"$cat.t").append()
      scoped.sql(s"CALL $cat.system.analyze('t', 'pk,sk', 'sketch')").collect()
      val store = root.resolve("t")
      val oldBytes = Snapshots.manifest(store, Snapshots.currentId(store).get)
        .map(_.bytes).sum
      src.filter(col("pk") % 2 === 1).repartition(1).writeTo(s"$cat.t").append()
      val read = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            read.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      scoped.sparkContext.addSparkListener(listener)
      val est = try {
        val r = scoped.sql(s"CALL $cat.system.analyze('t', 'pk,sk', 'sketch')")
          .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
        GraftBridge.drainListenerBus(scoped.sparkContext)
        r
      } finally scoped.sparkContext.removeSparkListener(listener)
      require(read.get() > 0 && read.get() < oldBytes,
        s"incremental re-analyze read ${read.get()} bytes vs pre-append " +
          s"table of $oldBytes — it rescanned old files")
      // exact truth, computed once, both the gate and the oracle output
      val exact = scoped.table(s"$cat.t").agg(
        countDistinct("pk").as("ek"), countDistinct("sk").as("es")).head()
      val (ek, es) = (exact.getLong(0), exact.getLong(1))
      def within(a: Long, b: Long): Boolean = math.abs(a - b) <= b * 20 / 100
      require(within(est("pk")._1, ek) && within(est("sk")._1, es),
        s"sketch NDVs ${est("pk")._1}/${est("sk")._1} outside 20% of $ek/$es")
      require(est("pk")._2 == 0L && est("sk")._2 == 0L, "phantom nulls")
      val schema = StructType(Seq(StructField("col_name", StringType),
        StructField("exact_ndv", LongType), StructField("nulls", LongType)))
      scoped.createDataFrame(scoped.sparkContext.parallelize(
        Seq(Row("pk", ek, 0L), Row("sk", es, 0L)), 1), schema).orderBy("col_name")
    } finally rm(root)
  }

  /** The exact NDV truth restated; the sketch bounds are in-query. */
  val catalogAnalyzeIncrOracleSql: String = """
    SELECT 'pk' AS col_name, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_ndv,
      CAST(0 AS BIGINT) AS nulls FROM lineitem
    UNION ALL
    SELECT 'sk', CAST(count(DISTINCT l_suppkey) AS BIGINT), CAST(0 AS BIGINT)
    FROM lineitem
    ORDER BY col_name"""

  /** The join under the analyzed filter plus the analyze numbers
    * themselves, restated flat.
    */
  val catalogAnalyzeOracleSql: String = """
    WITH d AS (SELECT o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    f AS (SELECT l_orderkey AS k,
        CAST(round(l_quantity * 100) AS BIGINT) AS qty FROM lineitem),
    cv AS (SELECT cents FROM d WHERE k = (SELECT min(k) FROM d))
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM f JOIN d ON f.k = d.k
        WHERE d.cents = (SELECT cents FROM cv)) AS n,
      (SELECT CAST(sum(f.qty) AS BIGINT) FROM f JOIN d ON f.k = d.k
        WHERE d.cents = (SELECT cents FROM cv)) AS sum_qty,
      (SELECT CAST(count(DISTINCT k) AS BIGINT) FROM d) AS ndv_k,
      (SELECT CAST(count(DISTINCT cents) AS BIGINT) FROM d) AS ndv_cents,
      CAST(0 AS BIGINT) AS nulls_k"""

  /** The three table states restated from orders: src = both deletes
    * applied; dev = first delete only, plus the two divergence rows;
    * hist = the even-key first append, pre-delete.
    */
  val catalogCloneOracleSql: String = """
    WITH t AS (SELECT o_orderkey AS k,
        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT 'dev' AS leg, CAST(count(*) + 2 AS BIGINT) AS n,
      CAST(sum(cents) + 33 AS BIGINT) AS sum_cents
    FROM t WHERE k % 10 <> 3
    UNION ALL
    SELECT 'hist', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM t WHERE k % 2 = 0
    UNION ALL
    SELECT 'src', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM t WHERE k % 10 <> 3 AND k % 10 <> 7
    ORDER BY leg"""
}
