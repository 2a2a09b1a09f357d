package perfbench

import graft.app.Experiment
import graft.bbha.{Bbha, EvalRound}
import graft.fitness.{Fitness, FitnessResult}
import graft.io.SurvivalDataset
import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Output gates. A benchmark unit whose output fails its gate makes the
  * whole run incorrect; no timing is reported as if it were valid.
  */
object Gates {

  private def renderSorted(v: JValue): String = {
    def sort(j: JValue): JValue = j match {
      case JObject(fields) =>
        JObject(fields.sortBy(_._1).map { case (k, fv) => k -> sort(fv) })
      case JArray(items) => JArray(items.map(sort))
      case other => other
    }
    JsonMethods.compact(JsonMethods.render(sort(v)))
  }

  /** `result.json` without its run-variant fields (`execution_time`, and
    * `dataset`, which is an input path), keys sorted — the same
    * canonical form the golden-parity fixture compares.
    */
  def canonicalResult(resultJson: String): String =
    renderSorted(JsonMethods.parse(resultJson)
      .removeField { case (k, _) => k == "execution_time" || k == "dataset" })

  /** The reference answer for one BBHA problem: `Bbha.run` whose
    * `evaluate` scores every star serially on the calling thread with
    * `Fitness.withChecking` — no Spark, no partitioning. Returns the
    * canonical `result.json` an `Experiment.run` of the same problem
    * must reproduce exactly. A fitness value is a pure function of the
    * mask, so a repeated mask is scored once.
    */
  def serialResult(cfg: Experiment.Config, data: SurvivalDataset): String = {
    val fitCfg = cfg.fitness
    val scored = scala.collection.mutable.HashMap[Seq[Boolean], FitnessResult]()
    def score(mask: Array[Boolean]) = scored.getOrElseUpdate(mask.toSeq,
      Fitness.withChecking(fitCfg, data.x, data.y, mask, -1))
    val nFeatures = data.featureNames.length
    val baseline = score(Array.fill(nFeatures)(true)).fitness
    val outcome = Bbha.run(cfg.bbha, nFeatures, stars =>
      EvalRound(stars.map(s => s.idx -> score(s.mask.map(_ == 1))), 0.0,
        stars.map(s => s.idx -> -1.0).toMap))
    canonicalResult(resultJson(cfg, fitCfg.model, baseline,
      outcome.bestFitness, data.featureNames, outcome.bestMask, 0.0))
  }

  /** `result.json` in `Experiment.run`'s schema. */
  def resultJson(cfg: Experiment.Config, model: String, baseline: Double,
      best: Double, featureNames: Array[String], bestMask: Array[Int],
      seconds: Double): String = {
    val r4 = (v: Double) => math.round(v * 1e4) / 1e4
    val selected = featureNames.zip(bestMask).collect { case (n, 1) => n }
    Experiment.jsonValue(Map(
      "dataset" -> cfg.moleculesPath,
      "improved" -> 0,
      "model" -> model,
      "best_metric_with_all_features" -> r4(baseline),
      "best_metric" -> r4(best),
      "features" -> selected.mkString(" | "),
      "execution_time" -> seconds))
  }

  /** Row count and an order-insensitive digest of a query result:
    * columns sorted by name, each row rendered to text (doubles rounded
    * to 9 decimals, the oracle checker's tolerance), the SHA-256 prefix
    * of each row summed modulo 2^64.
    */
  case class Digest(rows: Long, hash: String)

  def digest(columns: Seq[String], rows: Iterator[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => render(r.get(i))).mkString("\u0001")
      val h = md.digest(text.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    Digest(n, f"$sum%016x")
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, mv) => render(k) + "->" + render(mv) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = java.math.BigDecimal.valueOf(d)
        .setScale(9, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  /** Expected digests, one per query, from `expected/<workload>.json`. */
  def readExpected(json: String): Map[String, Digest] = {
    implicit val formats: Formats = DefaultFormats
    JsonMethods.parse(json).extract[Map[String, Map[String, JValue]]].map {
      case (q, m) => q -> Digest(m("rows").extract[Long], m("hash").extract[String])
    }
  }

  def renderExpected(digests: Map[String, Digest]): String =
    JsonMethods.pretty(JsonMethods.render(JObject(digests.toList.sortBy(_._1).map {
      case (q, d) => q -> JObject("rows" -> JLong(d.rows), "hash" -> JString(d.hash))
    })))
}
