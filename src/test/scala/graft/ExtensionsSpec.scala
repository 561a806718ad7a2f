package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions injects the native kernels session-wide via
  * spark.sql.extensions — this exercises every registered function from
  * PLAIN SQL (the path a cluster user without the Scala API takes).
  */
class ExtensionsSpec extends AnyFunSuite {

  test("every injected function resolves and computes from plain SQL") {
    val s = TestSpark.spark
    val row = s.sql(
      """SELECT
        |  bsd_sum(CAST('hello world' AS BINARY)) AS bsd,
        |  mysql_unescape(mysql_escape('a\tb\nc')) AS rt,
        |  simhash64('the quick brown fox') AS sh,
        |  doc_fingerprint('the quick brown fox jumps over the lazy dog') AS fp,
        |  size(shingle_hashes('a b c d')) AS nsh,
        |  sorted_inter_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS ic
        |""".stripMargin).collect()(0)
    assert(row.getString(0) == "07504 1") // validated against BSD `sum`
    assert(row.getString(1) == "a\tb\nc")
    assert(row.getLong(2) == ops.TextKernelImpl.simhash64("the quick brown fox"))
    assert(row.getString(3) == ops.TextKernelImpl.fingerprint("the quick brown fox jumps over the lazy dog"))
    assert(row.getInt(4) == 2) // "a b c" and "b c d"
    assert(row.getInt(5) == 2) // {3, 5}
    val agg = s.sql(
      "SELECT bitmap_distinct(x) FROM VALUES (1), (2), (2), (9) t(x)").collect()(0)
    assert(agg.getLong(0) == 3L)
  }

  test("wrong arity raises the intended wrong-num-args error, not INTERNAL_ERROR") {
    // GraftExtensions.checked hardcodes the WRONG_NUM_ARGS error-class
    // parameter set (incl. docroot); if a Spark upgrade renames the class
    // or its params, every wrong-arity call would degrade to
    // SparkException(INTERNAL_ERROR). This pin makes that upgrade hazard
    // a loud test failure instead (ADVICE r4).
    val s = TestSpark.spark
    // a DataFrame-API kernel call first: the Scala API must leave the
    // injected, arity-checked builder in place, whatever ran before
    val dir = java.nio.file.Files.createTempDirectory("ext-arity")
    val f = java.nio.file.Files.write(dir.resolve("a.txt"), "alpha".getBytes)
    try assert(etl.Checksums.forFiles(s, f.toString).count() == 1)
    finally { java.nio.file.Files.delete(f); java.nio.file.Files.delete(dir) }
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT bsd_sum()").collect()
    }
    assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.toString)
    assert(e.getMessage.contains("bsd_sum") && e.getMessage.contains("1"), e.getMessage)
  }
}
