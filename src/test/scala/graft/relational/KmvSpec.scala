package graft.relational

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Accuracy contract of the B11b KMV estimator, independent of the
  * oracle (which pins exact replayability, not estimator quality):
  * k=256 gives relative standard error ≈ 1/√(k−2) ≈ 6.3%, so a fixed
  * deterministic input must land within ±4σ (25%) of the true distinct
  * count — and exactly on it below k.
  */
class KmvSpec extends AnyFunSuite {

  private def hashedIds(g: String, n: Int, dups: Int) = {
    val s = TestSpark.spark
    // dups copies of each of n distinct ids, hashed exactly like the query
    s.range(n.toLong * dups).select(lit(g).as("g"),
      graft.ops.TextKernels.fnv64mix(concat(lit(g), (col("id") % n).cast("string"))).as("uh"))
  }

  test("estimate is exact below k and within 4 sigma above it") {
    val s = TestSpark.spark
    val in = hashedIds("small", 100, 3)
      .unionByName(hashedIds("mid", 5000, 2))
      .unionByName(hashedIds("big", 50000, 1))
    val out = Relational.kmvOn(in).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    // below k: the sketch IS the exact distinct set
    assert(out("small") == ((100L, 100L)), out.toString)
    // above k: |est − n|/n within 4/sqrt(254) ≈ 25%
    for ((g, n) <- Seq(("mid", 5000L), ("big", 50000L))) {
      val (kAct, est) = out(g)
      assert(kAct == 256L, s"$g sketch not full: $kAct")
      val relErr = math.abs(est - n).toDouble / n
      assert(relErr < 0.25, s"$g: est $est vs true $n (relErr $relErr)")
    }
  }

  test("duplicates never change the estimate — only distinct values enter the sketch") {
    val once = Relational.kmvOn(hashedIds("d", 3000, 1)).collect()(0).getLong(3)
    val five = Relational.kmvOn(hashedIds("d", 3000, 5)).collect()(0).getLong(3)
    assert(once == five)
  }

  test("set-algebra estimates land near true union/intersection cardinality") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.01"
    val out = Relational.qKmvSetops(s, d).collect()(0)
    val (estA, estR, estU, estI) =
      (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
    // ground truth from exact distincts on the same slices
    val li = graft.Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select("l_returnflag", "l_partkey")
    val nA = li.filter(col("l_returnflag") === "A")
      .select("l_partkey").distinct().count()
    val nR = li.filter(col("l_returnflag") === "R")
      .select("l_partkey").distinct().count()
    val nU = li.select("l_partkey").distinct().count()
    val nI = nA + nR - nU
    // sides and union: ±4σ ≈ 25% at k=256; intersection error compounds
    // both thetas' noise, so the bound is looser (and the overlap here is
    // near-total, which is the estimator's FAVORABLE regime)
    for ((est, n, tag) <- Seq((estA, nA, "A"), (estR, nR, "R"), (estU, nU, "union"))) {
      val relErr = math.abs(est - n).toDouble / n
      assert(relErr < 0.25, s"$tag: est $est vs true $n (relErr $relErr)")
    }
    val relErrI = math.abs(estI - nI).toDouble / nI
    assert(relErrI < 0.40, s"inter: est $estI vs true $nI (relErr $relErrI)")
  }
}
