package perfbench

import graft.SparkEntry
import graft.fitness.FitnessConfig
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The benchmark's output gates and failure accounting: each gate passes
  * the program's real output and rejects a wrong one.
  */
class GatesSpec extends AnyFunSuite {

  private val work: Path = Files.createDirectories(Path.of("target/spec-work"))
  lazy val spark: SparkSession = Main.session(2, work)

  private def tinyBbha(seed: Long) = new BbhaWorkload("bbha_tiny",
    Inputs.Shape(molecules = 40, samples = 30, signal = 3, nanMolecules = 2,
      infSamples = 2, extraClinical = 3, missingClinical = 2),
    FitnessConfig(), stars = 5, iterations = 3, work.resolve(s"bbha-$seed"), seed)

  test("canonical result.json drops only execution_time and dataset") {
    val a = """{"dataset": "/x/a.tsv", "execution_time": 1.5, "best_metric": 0.7, "model": "svm"}"""
    val b = """{"model": "svm", "best_metric": 0.7, "execution_time": 9.0, "dataset": "/y/b.tsv"}"""
    assert(Gates.canonicalResult(a) == Gates.canonicalResult(b))
    assert(Gates.canonicalResult(a) != Gates.canonicalResult(a.replace("0.7", "0.8")))
  }

  test("inputs are a function of the seed") {
    val a = Inputs.write(work.resolve("in-a"), Inputs.Shape(50, 20), 5)
    val b = Inputs.write(work.resolve("in-b"), Inputs.Shape(50, 20), 5)
    val c = Inputs.write(work.resolve("in-c"), Inputs.Shape(50, 20), 6)
    assert(Files.readString(a.molecules) == Files.readString(b.molecules))
    assert(Files.readString(a.clinical) == Files.readString(b.clinical))
    assert(Files.readString(a.molecules) != Files.readString(c.molecules))
  }

  test("bbha gate accepts Experiment.run and its traced rebuild, and rejects a changed result") {
    val w = tinyBbha(7)
    w.prepare(spark)
    val plain = w.runUnit(spark, 1, traced = false)
    assert(plain.failed == 0 && plain.ops == 5 * 4)
    Trace.enabled = true
    try {
      Trace.drain()
      val traced = w.runUnit(spark, 2, traced = true)
      val spans = Trace.drain()
      val layers = w.layers(spans, Counters.Snapshot(Vector.empty, Vector.empty, Vector.empty),
        traced.seconds)
      assert(layers("fitness.calls") == 20.0)
      assert(layers("dist.rounds") == 4.0)
      assert(layers("trace.coverage") > 0.5 && layers("trace.coverage") <= 1.0)
    } finally Trace.enabled = false
    assert(w.gate(spark).isEmpty)

    val json = Files.readString(work.resolve("bbha-7/results/unit1/result.json"))
    val wrong = Gates.canonicalResult(json.replaceFirst("\"best_metric\": [-0-9.eE]+", "\"best_metric\": 12.5"))
    w.record(3, wrong)
    val failures = w.gate(spark)
    assert(failures.size == 1 && failures.head.contains("unit 3"))
  }

  test("kernel error sentinels are counted apart from empty masks") {
    val metrics = """{"number_of_features": [3, 0, -1, 0, 5], "model": "svm"}"""
    assert(BbhaWorkload.sentinels(metrics) == (2, 1))
  }

  test("query digest ignores row and column order and sees every value") {
    val rows = Seq(Row("a", 1L, 0.5), Row("b", 2L, 1.0 / 3), Row("c", 3L, null))
    val d = Gates.digest(Seq("k", "n", "x"), rows.iterator)
    assert(d.rows == 3)
    assert(Gates.digest(Seq("k", "n", "x"), rows.reverseIterator) == d)
    val swapped = rows.map(r => Row(r.get(1), r.get(0), r.get(2)))
    assert(Gates.digest(Seq("n", "k", "x"), swapped.iterator) == d)
    assert(Gates.digest(Seq("k", "n", "x"), (rows.init :+ Row("c", 3L, 0.0)).iterator) != d)
    assert(Gates.digest(Seq("k", "n", "x"), (rows :+ rows.head).iterator) != d)
  }

  test("query gate rejects a wrong digest; a throwing query is a failure, not a timing") {
    val dataDir = Path.of("data/sf0.1").toString
    val expected = Gates.readExpected(Files.readString(Path.of("expected/query_survival.json")))
    val registry = SparkEntry.queries ++ Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame](
      "boom" -> ((_, _) => throw new IllegalStateException("injected")))
    val good = new QueryWorkload("q", Seq("v1_cindex", "boom"), dataDir,
      expected + ("boom" -> Gates.Digest(0, "0")), 1L, registry)
    val r = good.runUnit(spark, 1, traced = false)
    assert(r.failed == 1 && r.ops == 2)
    assert(good.gate(spark).isEmpty)

    val wrong = new QueryWorkload("q", Seq("v1_cindex"), dataDir,
      Map("v1_cindex" -> expected("v1_cindex").copy(hash = "0000000000000000")), 1L)
    assert(wrong.runUnit(spark, 1, traced = false).failed == 0)
    val failures = wrong.gate(spark)
    assert(failures.size == 1 && failures.head.contains("v1_cindex"))
  }

  test("a unit with a failed operation never counts as a timing") {
    def ran(kind: String, s: Double, failed: Int) =
      Main.Ran(1, kind, UnitResult(s, 10, failed, 10 / s, Map.empty), 100.0, 0.1, Map.empty)
    val units = Seq(ran("cold", 9.0, 0), ran("timed", 5.0, 0), ran("timed", 0.1, 1), ran("timed", 6.0, 0))
    val m = Main.endToEnd(Seq(1.0, 2.0, 3.0), units).map(x => x._1 -> x._2).toMap
    assert(m("unit_s") == 5.5 && m("cold_s") == 9.0 && m("setup_s") == 2.0)
    val allFailed = Main.endToEnd(Seq(1.0), Seq(ran("cold", 9.0, 1), ran("timed", 0.1, 1)))
    assert(allFailed.filter(_._1 != "setup_s").forall(_._2.isNaN))
  }
}
