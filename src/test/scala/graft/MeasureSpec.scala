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
}
