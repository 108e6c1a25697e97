package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ConfAbProbe

class ConfAbProbeSpec extends AnyFunSuite with SparkTestBase {

  test("conf parsing: values may contain '=', malformed pairs are rejected") {
    assert(ConfAbProbe.parseConfs("a.b=1,c.d=x=y=z") ===
      Seq("a.b" -> "1", "c.d" -> "x=y=z"))
    assert(ConfAbProbe.parseConfs("k=") === Seq("k" -> ""))
    for (bad <- Seq("novalue", "=v", "a=1,oops")) {
      val e = intercept[IllegalArgumentException](ConfAbProbe.parseConfs(bad))
      assert(e.getMessage.contains("malformed conf"), bad)
    }
  }

  test("unknown entry names are rejected, every one listed") {
    val all: Map[String, ConfAbProbe.Entry] =
      Map("agg_having" -> ((s: SparkSession, d: String) => Tables.nation(s, d)))
    assert(ConfAbProbe.entries(Seq("agg_having"), all).map(_._1) === Seq("agg_having"))
    val e = intercept[IllegalArgumentException](
      ConfAbProbe.entries(Seq("agg_havin", "agg_having", "ext_typo"), all))
    assert(e.getMessage.contains("'agg_havin'") && e.getMessage.contains("'ext_typo'"))
    assert(!e.getMessage.contains("'agg_having'"))
    // the default lookup is the real catalog + bench map
    assert(ConfAbProbe.entries(Seq("agg_having", "bench_sim_topk_fq")).size == 2)
    intercept[IllegalArgumentException](ConfAbProbe.entries(Seq("no_such_entry")))
  }

  test("counterbalanced order: odd rounds A then B, even rounds B then A") {
    for (r <- 1 to 6)
      assert(ConfAbProbe.modeOrder(r) ===
        (if (r % 2 == 1) Seq(false, true) else Seq(true, false)), s"round $r")
  }

  test("confs are restored: unset stays unset, a set key keeps its value") {
    val (unsetKey, setKey) = ("spark.graft.test.confab.unset", "spark.graft.test.confab.set")
    val conf = spark.conf
    conf.unset(unsetKey)
    conf.set(setKey, "before")
    try {
      val confs = Seq(unsetKey -> "alt1", setKey -> "alt2")
      val seen = ConfAbProbe.withConfs(conf, confs)(
        (conf.getOption(unsetKey), conf.getOption(setKey)))
      assert(seen === ((Some("alt1"), Some("alt2"))))
      assert(conf.getOption(unsetKey).isEmpty)
      assert(conf.get(setKey) === "before")
      // a failing B run restores too
      intercept[IllegalStateException](
        ConfAbProbe.withConfs(conf, confs)(throw new IllegalStateException("boom")))
      assert(conf.getOption(unsetKey).isEmpty)
      assert(conf.get(setKey) === "before")
    } finally conf.unset(setKey)
  }
}
