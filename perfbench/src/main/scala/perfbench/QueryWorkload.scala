package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pass over a fixed set of registry queries as a benchmark unit.
  * Each query is built through `SparkEntry.queries` (its cache scope
  * included) and collected; its row count and order-insensitive digest
  * must match the committed, oracle-checked expectation.
  */
class QueryWorkload(val name: String, queries: Seq[String], dataDir: String,
    expected: Map[String, Gates.Digest], seed: Long,
    registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
    extends Workload {

  require(queries.forall(registry.contains), "unknown query in workload")
  require(queries.forall(expected.contains), "query without an expected digest")

  /** The seed sets the order the pass runs its queries in. */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(queries.sorted)

  private val tables = Seq("customer", "lineitem")

  /** The inputs are committed parquet files; loading them means resolving
    * their footers and schemas.
    */
  def prepare(spark: SparkSession): Unit =
    tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)

  private var rowsOut = 0L
  private val mismatches = Seq.newBuilder[String]

  def runUnit(spark: SparkSession, unit: Int, traced: Boolean): UnitResult = {
    val sc = spark.sparkContext
    var failed = 0
    var rows = 0L
    val perQuery = Map.newBuilder[String, Double]
    val t0 = System.nanoTime()
    order.foreach { q =>
      val q0 = System.nanoTime()
      sc.setJobGroup(s"$name-$unit-$q", q)
      try {
        val df = Trace.span("queries.build")(registry(q)(spark, dataDir))
        val out = Trace.span("queries.exec")(df.collect())
        rows += out.length
        val got = Gates.digest(df.columns.toSeq, out.iterator)
        if (got != expected(q)) mismatches += s"$name unit $unit $q: got $got, want ${expected(q)}"
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
      } finally {
        sc.clearJobGroup()
        spark.catalog.clearCache()
        perQuery += s"$q.s" -> (System.nanoTime() - q0) / 1e9
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    rowsOut = rows
    UnitResult(seconds, order.size, failed, order.size / seconds, perQuery.result())
  }

  def gate(spark: SparkSession): Seq[String] = mismatches.result()

  def layers(spans: Vector[Trace.Span], spark: Counters.Snapshot, wall: Double): Map[String, Double] = {
    def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    Map(
      "queries.build_s" -> total("queries.build"),
      "queries.plan_s" -> spark.planSeconds,
      "queries.exec_s" -> total("queries.exec"),
      "queries.jobs" -> spark.jobs.size.toDouble,
      "queries.stages" -> spark.stages.toDouble,
      "queries.tasks" -> spark.tasks.size.toDouble,
      "queries.shuffle_write_bytes" -> spark.shuffleWriteBytes.toDouble,
      "queries.shuffle_read_bytes" -> spark.shuffleReadBytes.toDouble,
      "queries.spill_bytes" -> spark.spillBytes.toDouble,
      "queries.task_skew" -> spark.taskSkew,
      "queries.rows_out" -> rowsOut.toDouble)
  }
}

/** Writes `expected/query_survival.json`: each query's row count and
  * digest on the committed inputs. Run it only after the same queries
  * matched the DuckDB oracle on those inputs (see README.md).
  * Usage: `perfbench.Bless <repository root>`.
  */
object Bless {
  def main(args: Array[String]): Unit = {
    val bench = java.nio.file.Path.of(args(0), "perfbench")
    val spark = Main.session(Runtime.getRuntime.availableProcessors, bench.resolve(".work/bless"))
    val dataDir = bench.resolve("data/sf0.1").toString
    val digests = graft.queries.Survival.all.keys.toSeq.sorted.map { q =>
      val df = SparkEntry.queries(q)(spark, dataDir)
      val d = Gates.digest(df.columns.toSeq, df.collect().iterator)
      spark.catalog.clearCache()
      q -> d
    }.toMap
    java.nio.file.Files.writeString(bench.resolve("expected/query_survival.json"),
      Gates.renderExpected(digests) + "\n")
    spark.stop()
  }
}
