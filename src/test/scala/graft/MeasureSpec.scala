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
}
