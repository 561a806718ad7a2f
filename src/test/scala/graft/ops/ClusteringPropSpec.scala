package graft.ops

import graft.TestSpark
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property check for both connected-components paths (driver union-find
  * at or below the cap, the iterative min-label loop above it) against a
  * reference union-find on arbitrary random graphs — the distributed
  * algorithm's pointer-jumping/convergence logic is the most intricate control flow
  * in the library, and the hand-picked ClusteringSpec shapes (chains,
  * stars, merges) can't cover the odd topologies a real candidate-pair
  * graph produces (overlapping cliques, bridges, self-loops, dup edges).
  * (Raw scalacheck Gen with fixed seeds — deterministic, no scalatestplus
  * bridge in the build.)
  */
class ClusteringPropSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  /** Path-compressed union-by-min union-find, the sequential ground
    * truth: the root of every set is its minimum member, matching CC's
    * min-reachable-id labelling.
    */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    touched.map(v => v -> find(v.toInt).toLong).toMap
  }

  private val genGraph: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(2, 40)
    m <- Gen.choose(1, 80)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
    } yield (a.toLong, b.toLong))
  } yield (n, edges)

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def graph(seed: Long): (Int, List[(Long, Long)]) =
    genGraph.apply(Gen.Parameters.default, Seed(seed)).get

  test("connectedComponents equals union-find on random graphs") {
    val sq = s; import sq.implicits._
    (1 to 12).foreach { i =>
      val (n, edges) = graph(i.toLong)
      val df = edges.toDF("a", "b")
      val want = unionFind(n, edges)
      assert(labels(Clustering.connectedComponents(df)) == want, s"seed $i (dispatch): edges=$edges")
      assert(labels(Clustering.distributedComponents(df)) == want, s"seed $i (loop): edges=$edges")
    }
  }

  test("the driver cap is inclusive: at the cap the driver labels, one edge over it the loop does") {
    val sq = s; import sq.implicits._
    val (n, edges) = graph(1L)
    val df = edges.toDF("a", "b")
    val want = unionFind(n, edges)
    def persisted(): Set[Int] = s.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    val atCap = Clustering.connectedComponents(df, cap = edges.size.toLong)
    // the driver path leaves no checkpoint or cache blocks behind
    assert((persisted() -- before).isEmpty)
    assert(labels(atCap) == want)
    val overCap = Clustering.connectedComponents(df, cap = edges.size - 1L)
    // the loop's result is its one local checkpoint
    assert((persisted() -- before).size == 1)
    assert(labels(overCap) == want)
  }
}
