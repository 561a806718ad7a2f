package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ClusteringSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import s.implicits._
    Clustering.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, star and disjoint components all resolve to min-id labels") {
    // chain 1-2-3-4 (diameter 3, needs >1 round), star 10-{11,12,13},
    // isolated pair 20-21
    val labels = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (13L, 10L), (20L, 21L)))
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("two stars linked through their tips merge into one component") {
    val labels = cc(Seq((1L, 5L), (1L, 6L), (2L, 7L), (2L, 8L), (6L, 7L)))
    assert(labels.values.toSet == Set(1L))
    assert(labels.keySet == Set(1L, 2L, 5L, 6L, 7L, 8L))
  }

  /** docs 0 and 1 are byte-identical but labelled zh/en; doc 2 is a
    * near-dup that can only band-pair under lang=en. Returns the dir.
    */
  private lazy val twinCorpus: String = {
    import s.implicits._
    val base = (0 until 12).map(i => s"word$i").mkString(" ")
    val near = base.replace("word5", "changed")
    val docs = Seq(
      (0L, "zh", base.length.toLong, base),
      (1L, "en", base.length.toLong, base),
      (2L, "en", near.length.toLong, near))
      .toDF("doc_id", "lang", "n_chars", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dg").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("dedupGroups keeps near-dup links reachable only through a raw twin's lang") {
    // the jaccard rep (doc 0, zh) must inherit doc 1's en label or the
    // group splits (sf0.1 regression)
    val out = Clustering.dedupGroups(s, twinCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L)), out.toSeq.toString)
  }

  test("dedupGroups runs at most 18 Spark jobs on a small corpus and keeps no blocks") {
    val dir = twinCorpus
    val persisted = s.sparkContext.getPersistentRDDs.keySet.toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      Clustering.dedupGroups(s, dir).collect()
      org.apache.spark.sql.GraftBridge.drainListenerBus(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 18, s"dedupGroups ran ${jobs.get()} jobs")
    // below the cap the result is driver-built: every checkpoint and
    // cache block the pass made is released
    assert((s.sparkContext.getPersistentRDDs.keySet.toSet -- persisted).isEmpty)
  }

  test("iteration checkpoint blocks are freed, not accumulated") {
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.size
    // diameter-19 chain forces several pointer-jumping rounds, each of
    // which localCheckpoints twice — all of those blocks must be gone
    // (Dataset.unpersist alone would silently leak them; see
    // Clustering.unpersistCheckpoint)
    val labels = Clustering.distributedComponents((0L until 19L).map(i => (i, i + 1)).toDF("a", "b"))
    labels.count()
    val after = s.sparkContext.getPersistentRDDs.size
    // only the returned result's own checkpoint may remain
    assert(after - before <= 1, s"persistent RDDs grew $before -> $after")
  }

  test("incremental edge-batch merge equals full recompute") {
    import s.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (30L, 31L))
    val inc = Seq(
      (3L, 10L),  // merges component 1 with component 10
      (40L, 41L), // brand-new component
      (21L, 20L), // duplicate edge inside an existing component
      (11L, 42L)) // new vertex joining the merged component
    val full = Clustering.connectedComponents((base ++ inc).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lab0 = Clustering.connectedComponents(base.toDF("a", "b"))
    val got = Clustering.incrementalComponents(lab0, inc.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
    // untouched component 30-31 must pass through unchanged
    assert(got(30L) == 30L && got(31L) == 30L)
  }

  test("empty edge set yields an empty labelling") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("long path converges within the iteration cap") {
    // path 0-1-2-...-19: worst case for label propagation (diameter 19);
    // the distributed loop must still converge under maxIter=25
    import s.implicits._
    val labels = Clustering.distributedComponents((0L until 19L).map(i => (i, i + 1)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(0L))
    assert(labels.size == 20)
  }

  test("graphRank on a 3-path matches the hand-unrolled fixed-point iterations") {
    import s.implicits._
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2; r0=1e6 each; 3 iterations of
    // r' = 150000 + 85·(Σ r_u DIV deg_u) DIV 100 give 629187 / 1741625 / 629187
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Clustering.graphRankOn(und).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 629187L)), out.toString)
    assert(out(2L) == ((2L, 1741625L)), out.toString)
    assert(out(3L) == ((1L, 629187L)), out.toString)
  }
}
