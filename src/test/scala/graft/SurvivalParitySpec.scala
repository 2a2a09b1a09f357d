package graft

import graft.queries.{QueryScope, Survival}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** The 13 customer-cohort queries finish on the driver; their
  * distributed plans are the reference. The driver finish must answer
  * exactly as its plan does — the same column names and types, the same
  * row order, and every double equal to the last bit.
  */
class SurvivalParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    new java.io.File("perfbench/data/sf0.1").getAbsolutePath)

  private def driverSide(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  }

  private def run[A](body: => A): A =
    try body finally QueryScope.releaseAll()

  dirs.foreach { dir =>
    val sf = new java.io.File(dir).getName
    test(s"driver finish = distributed plan, bit for bit, on $sf") {
      Survival.cohortQueries.foreach { case (name, q) => run {
        val local = q(spark, dir)
        val dist = q.plan(spark, dir)
        assert(driverSide(local), s"$name: the query finishes on the driver")
        assert(!driverSide(dist), s"$name: the reference plan is distributed")
        assert(local.schema.map(f => (f.name, f.dataType)) ==
          dist.schema.map(f => (f.name, f.dataType)),
          s"$name: ${local.schema.simpleString} vs ${dist.schema.simpleString}")
        val (l, d) = (local.collect(), dist.collect())
        assert(l.nonEmpty && l.length == d.length,
          s"$name: ${l.length} vs ${d.length} rows")
        l.zip(d).zipWithIndex.foreach { case ((a, b), i) =>
          assert(bits(a) == bits(b), s"$name row $i: driver $a, distributed $b")
        }
      }}
    }
  }
}
