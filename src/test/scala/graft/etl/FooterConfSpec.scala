package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The shared read-only footer conf follows the session's SQL conf: a
  * key set after the first footer read reaches the next one.
  */
class FooterConfSpec extends AnyFunSuite {

  test("footerConf picks up a session conf change made after the first read") {
    val s = TestSpark.spark
    val key = "graft.test.footer.conf"
    try {
      s.conf.set(key, "first")
      assert(Snapshots.footerConf(s).get(key) == "first")
      assert(Snapshots.footerConf(s) eq Snapshots.footerConf(s), "an unchanged conf is rebuilt")
      s.conf.set(key, "second")
      assert(Snapshots.footerConf(s).get(key) == "second")
    } finally s.conf.unset(key)
  }
}
