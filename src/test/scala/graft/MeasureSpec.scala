package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Measure.settings]] is what every measurement main's session is
  * built from; a spec reads it directly because `getOrCreate` in the
  * test JVM returns the shared test session.
  */
class MeasureSpec extends AnyFunSuite {
  test("settings: master and shuffle partitions follow cpus unless " +
      "overridden; UTC, no UI, AQE on; codec only when given") {
    val base = Measure.settings(4, None, None).toMap
    assert(base("spark.master") == "local[4]")
    assert(base("spark.sql.shuffle.partitions") == "4")
    assert(base("spark.sql.session.timeZone") == "UTC")
    assert(base("spark.ui.enabled") == "false")
    assert(base("spark.sql.adaptive.enabled") == "true")
    assert(base("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(!base.contains("spark.io.compression.codec"))

    val wide = Measure.settings(4, Some(256), Some("zstd")).toMap
    assert(wide("spark.master") == "local[4]")
    assert(wide("spark.sql.shuffle.partitions") == "256")
    assert(wide("spark.io.compression.codec") == "zstd")
  }

  test("SPARK_GRAFT_CPUS: unset is 32; a non-integer or a count below 1 " +
      "fails naming the variable") {
    assert(Measure.cpus(None) == 32)
    assert(Measure.cpus(Some("8")) == 8)
    for (bad <- Seq("x", "0", "-4", "2.5")) {
      val e = intercept[IllegalArgumentException](Measure.cpus(Some(bad)))
      assert(e.getMessage.contains(s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$bad'"),
        e.getMessage)
    }
  }

  test("rehearsal arguments: a list longer than the usage, or a " +
      "non-integer numeric argument, fails before any session starts") {
    // the old 8-argument LedgerRehearsal form, with the deleted store
    // and bucket-count arguments before dropDocs
    val stale = intercept[IllegalArgumentException](LedgerRehearsal.main(
      Array("dataDir", "4", "out.json", "8", "1", "lc", "64", "120")))
    assert(stale.getMessage.contains("usage: LedgerRehearsal dataDir k"),
      stale.getMessage)
    val badK = intercept[IllegalArgumentException](
      IngestRehearsal.main(Array("dataDir", "four")))
    assert(badK.getMessage.contains("k must be an integer, got 'four'"),
      badK.getMessage)
    val badDrop = intercept[IllegalArgumentException](LedgerRehearsal.main(
      Array("dataDir", "4", "out.json", "8", "1", "lc")))
    assert(badDrop.getMessage.contains("dropDocs must be an integer"),
      badDrop.getMessage)
  }

  test("ScaleBench and ScaleUp arguments: a stale extra argument or a " +
      "non-integer passes, factor or boilerPct fails naming it") {
    val badPasses = intercept[IllegalArgumentException](
      ScaleBench.main(Array("dataDir", "no_such_query", "x")))
    assert(badPasses.getMessage.contains("passes must be an integer, got 'x'"),
      badPasses.getMessage)
    val staleBench = intercept[IllegalArgumentException](ScaleBench.main(
      Array("dataDir", "no_such_query", "3", "out.json", "8", "", "extra")))
    assert(staleBench.getMessage.contains("usage: ScaleBench dataDir namesCsv"),
      staleBench.getMessage)
    val badFactor = intercept[IllegalArgumentException](
      ScaleUp.main(Array("no_such_src", "no_such_out", "ten")))
    assert(badFactor.getMessage.contains("factor must be an integer, got 'ten'"),
      badFactor.getMessage)
    val badBoiler = intercept[IllegalArgumentException](ScaleUp.main(
      Array("no_such_src", "no_such_out", "10", "all", "5%")))
    assert(badBoiler.getMessage.contains("boilerPct must be an integer"),
      badBoiler.getMessage)
    val staleUp = intercept[IllegalArgumentException](ScaleUp.main(
      Array("no_such_src", "no_such_out", "10", "all", "0", "extra")))
    assert(staleUp.getMessage.contains("usage: ScaleUp [srcDir]"),
      staleUp.getMessage)
  }
}
