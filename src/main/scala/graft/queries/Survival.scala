package graft.queries

import graft.Tables
import graft.queries.QueryScope.HoldOps
import graft.io.SurvivalClean
import graft.surv.{CIndex, Clinical}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** DataFrame-level exposure of the survival operators so the DuckDB gate
  * covers them too: the concordance index as a typed `Aggregator` (the
  * optional surface SURVEY §2.5 sketches) and the cleaning pipeline as a
  * distributed relational op. The queries over the customer cohort (v1,
  * v3–v14) collect the cohort once and finish on the driver ([[Query]]);
  * their distributed plans stay as the reference they are checked
  * against.
  */
object Survival {

  case class SurvRow(event: Boolean, time: Double, risk: Double)

  /** Harrell's C as a typed Aggregator — the DataFrame-level metric
    * surface SURVEY §2.5 sketches. The buffer collects the group's
    * (event, time, risk) triples (a group = one cohort, the
    * fitness-kernel scale of hundreds of samples); the all-pairs count
    * runs once in `finish`.
    */
  case class CIdxResult(n: Int, cindex: Double)

  /** Counted cohort buffer — the count makes the cap check O(1). */
  case class CBuf(n: Long, rows: List[SurvRow])

  object CIndexAggregator extends Aggregator[SurvRow, CBuf, CIdxResult] {
    /** Hard cohort cap. The exact C-index is a PAIRWISE statistic, so
      * every triple of the group must meet in one buffer; `finish` runs
      * the O(n log n) Fenwick-tree twin of the pairwise loop
      * ([[CIndex.concordanceLogN]] — bit-identical credits), which makes
      * 10⁶-row cohorts compute exactly in seconds. The cap is therefore
      * a MEMORY bound (one serialized buffer per group), not a compute
      * bound; beyond it this aggregator REFUSES loudly instead of
      * OOMing a task — at that scale compute the C-index per stratum
      * (smaller cohorts) or over an upstream sample.
      */
    val MaxCohortRows = 2000000
    private def guard(n: Long): Unit =
      if (n > MaxCohortRows) throw new IllegalStateException(
        s"CIndexAggregator cohort exceeds $MaxCohortRows rows; the exact " +
          "C-index is pairwise — the whole cohort colocates in one " +
          "buffer. Stratify into smaller cohorts or subsample upstream.")
    def zero: CBuf = CBuf(0, Nil)
    def reduce(b: CBuf, a: SurvRow): CBuf = {
      guard(b.n + 1)
      CBuf(b.n + 1, a :: b.rows)
    }
    def merge(a: CBuf, b: CBuf): CBuf = {
      guard(a.n + b.n)
      CBuf(a.n + b.n, a.rows ++ b.rows)
    }
    def finish(b: CBuf): CIdxResult = {
      val arr = b.rows.toArray
      CIdxResult(arr.length, CIndex.concordanceLogN(
        arr.map(r => Clinical(r.event, r.time)), arr.map(_.risk)))
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[CBuf] =
      org.apache.spark.sql.Encoders.kryo[CBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[CIdxResult] =
      org.apache.spark.sql.Encoders.product[CIdxResult]
  }

  /** One cohort row and the columns the plans derive from it. */
  private[graft] final case class Subject(seg: String, key: Long,
      nation: Long, acctbal: Double) {
    def event: Boolean = key % 2 == 0
    def time: Long = key % 97
    def arm: Long = nation % 2
    def cause: Long = key % 4 match { case 0 => 1L; case 2 => 2L; case _ => 0L }
  }

  /** A customer-cohort query. It runs ONE Spark job, [[cohort]]'s
    * collect, and `finish` computes the answer from the collected rows in
    * plain Scala; the result is a local DataFrame (a `LocalRelation`: no
    * exchange, no further job, nothing to compile). `plan` is the
    * query's distributed plan: it is not run by the query, and it stays
    * as the reference the driver finish must match bit for bit
    * (`SurvivalParitySpec`, and `PlanShapeSpec` for its shape). The
    * plans cost about 10 jobs per query, each compiling its own
    * whole-stage code (see SCALE.md on Spark's codegen cache).
    */
  final class Query private[Survival] (schema: StructType,
      finish: Seq[Subject] => Seq[Row],
      private[graft] val plan: (SparkSession, String) => DataFrame)
      extends ((SparkSession, String) => DataFrame) {
    def apply(spark: SparkSession, dir: String): DataFrame =
      spark.createDataFrame(finish(cohort(spark, dir)).asJava, schema)
  }

  /** The cohort every [[Query]] reads: the customers with
    * `c_custkey <= 2000`, projected to (segment, custkey, nationkey,
    * acctbal) and collected. `c_custkey` is a key (TPC-H's; `ScaleUp`
    * shifts it to stay one), so the cohort has at most 2,001 rows at any
    * scale factor and the driver holds it whole. A null in these columns
    * fails the query: the cohort queries are defined over a complete
    * customer table.
    */
  private def cohort(spark: SparkSession, dir: String): Seq[Subject] =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment"), col("c_custkey").cast("long"),
        col("c_nationkey").cast("long"), col("c_acctbal").cast("double"))
      .collect().toSeq.map { r =>
        if (r.anyNull) throw new IllegalArgumentException(
          s"survival cohort row $r has a null; the cohort queries need " +
            "c_mktsegment, c_custkey, c_nationkey and c_acctbal on every row")
        Subject(r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      }

  /** The reporting constants v6, v8, v10 and v11 share with their plans. */
  private val RmstHorizon = 97L
  private val LifeTableBin = 10L
  private val SurvivalHorizons = Seq(30L, 60L, 90L)
  private val SurvivalLevels = Seq(0.75, 0.50, 0.25)

  // ---- the 13 customer-cohort queries (v1, v3–v14) ----
  //
  // The driver finishes follow the plans expression for expression, so
  // the two agree bit for bit:
  //  - `exp` and `log` are `StrictMath`, as in Spark's `Exp` and `Log`;
  //    `round(x, s)` is `halfUp`; a double-to-long cast truncates
  //    (`longOf`);
  //  - long `+ − ×` are the `Math.*Exact` forms, so overflow fails
  //    loudly as under ANSI; `intDiv` is truncating `/`, and every long
  //    divisor here is ≥ 1 (a cell holds at least one subject), so only
  //    v14's DECIMAL divisor can be 0, where the answer is null as in
  //    Spark;
  //  - v14's moments are DECIMAL(38,0): exact, failing past 38 digits;
  //  - rows come out in the plans' `orderBy` order (segments in Spark's
  //    binary string order), under the plans' column names and types.

  val v1CIndex = new Query(
    StructType.fromDDL("seg STRING, n INT, cindex DOUBLE"),
    c => segments(c)(_.seg).map { case (seg, ss) =>
      val res = CIndexAggregator.finish(CBuf(ss.size,
        ss.map(s => SurvRow(s.event, s.time.toDouble, s.acctbal)).toList))
      Row(seg, res.n, halfUp(res.cindex, 6))
    },
    v1Plan)

  val v3CumHazard = new Query(
    StructType.fromDDL("seg STRING, time BIGINT, d BIGINT, n_risk BIGINT, " +
      "h_micro BIGINT, cum_h_micro BIGINT, cum_hazard DOUBLE"),
    c => nelsonAalen(c).map(p => Row(p.seg, p.time, p.d, p.nRisk, p.hMicro,
      p.cumHMicro, halfUp(p.cumHMicro.toDouble / 1e6, 6))),
    v3Plan)

  val v4KaplanMeier = new Query(
    StructType.fromDDL("seg STRING, time BIGINT, d BIGINT, n_risk BIGINT, " +
      "cum_ln_micro BIGINT, survival DOUBLE"),
    c => kaplanMeier(c).map(p =>
      Row(p.seg, p.time, p.d, p.nRisk, p.cumLnMicro, p.survival)),
    v4Plan)

  val v5LogRank = new Query(
    StructType.fromDDL("seg STRING, events_arm1 BIGINT, events_arm2 BIGINT, " +
      "ome_micro BIGINT, var_micro BIGINT, chi2 DOUBLE"),
    c => riskTable(c, _.time)(s => s.event && s.arm == 0,
        s => s.event && s.arm == 1, _.arm == 0, _.arm == 1).flatMap { cells =>
      val terms = cells.filter(x => add(x.n(0), x.n(1)) > 0)
      Option.when(terms.nonEmpty) {
        var (ome, variance) = (0L, 0L)
        terms.foreach { x =>
          val (d1, d2, n1, n2) = (x.n(0), x.n(1), x.atRisk(2), x.atRisk(3))
          val (d, n) = (add(d1, d2), add(n1, n2))
          val e1 = longOf(halfUp(d.toDouble * n1.toDouble / n.toDouble * 1e6, 0))
          val v = if (n > 1) longOf(halfUp(d.toDouble * n1.toDouble *
              n2.toDouble * sub(n, d).toDouble /
              (n.toDouble * n.toDouble * sub(n, 1).toDouble) * 1e6, 0))
            else 0L
          ome = add(ome, sub(mul(d1, 1000000L), e1))
          variance = add(variance, v)
        }
        val chi2 = if (variance > 0) halfUp((ome.toDouble / 1e6) *
          (ome.toDouble / 1e6) / (variance.toDouble / 1e6), 6) else null
        Row(terms.head.seg, total(terms.map(_.n(0))), total(terms.map(_.n(1))),
          ome, variance, chi2)
      }
    },
    v5Plan)

  val v6Rmst = new Query(
    StructType.fromDDL("seg STRING, first_event_time BIGINT, " +
      "n_event_times BIGINT, horizon BIGINT, rmst DOUBLE"),
    c => segments(kaplanMeier(c))(_.seg).map { case (seg, km) =>
      val next = km.drop(1).map(_.time) :+ RmstHorizon
      val auc = total(km.zip(next).map { case (p, t) =>
        mul(longOf(halfUp(p.survival * 1e6, 0)), sub(t, p.time)) })
      val first = km.map(_.time).min
      Row(seg, first, km.size.toLong, RmstHorizon,
        halfUp(add(mul(first, 1000000L), auc).toDouble / 1e6, 6))
    },
    v6Plan)

  val v7GreenwoodCi = new Query(
    StructType.fromDDL("seg STRING, time BIGINT, d BIGINT, n_risk BIGINT, " +
      "survival DOUBLE, se DOUBLE, ci_lo DOUBLE, ci_hi DOUBLE"),
    c => riskTable(c, _.time)(_.event, _ => true).flatMap { cells =>
      val run = productLimit(cells.map(x => kmFactor(x.n(0), x.atRisk(1))))
      val gw = running(cells.map(x => greenwoodNano(x.n(0), x.atRisk(1))))
      cells.indices.filter(cells(_).n(0) > 0).map { i =>
        val (x, (ln, gone)) = (cells(i), run(i))
        val s = survival(ln, gone)
        val se = if (gone) 0.0
          else halfUp(s * StrictMath.sqrt(gw(i).toDouble / 1e9), 6)
        val (lo, hi) = (s - 1.96 * se, s + 1.96 * se)
        // greatest(lo, 0.0) and least(hi, 1.0), as Spark picks them
        Row(x.seg, x.t, x.n(0), x.atRisk(1), s, se,
          halfUp(if (0.0 > lo) 0.0 else lo, 6),
          halfUp(if (1.0 < hi) 1.0 else hi, 6))
      }
    },
    v7Plan)

  val v8LifeTable = new Query(
    StructType.fromDDL("seg STRING, bin BIGINT, t_start BIGINT, t_end BIGINT, " +
      "n_enter BIGINT, d BIGINT, w BIGINT, q DOUBLE, survival DOUBLE"),
    c => riskTable(c, _.time / LifeTableBin)(_.event, !_.event, _ => true)
        .flatMap { cells =>
      // n_eff = n_enter − w/2, carried doubled so it stays an integer
      val qMicro = cells.map { x =>
        val nEffX2 = sub(mul(x.atRisk(2), 2L), x.n(1))
        add(mul(x.n(0), 2000000L), nEffX2 / 2) / nEffX2
      }
      val run = productLimit(qMicro.map { q =>
        val p = sub(1000000L, q)
        (if (p > 0) longOf(halfUp(StrictMath.log(p.toDouble / 1e6) * 1e6, 0))
          else 0L, p == 0)
      })
      cells.indices.map { i =>
        val (x, (ln, gone)) = (cells(i), run(i))
        val start = mul(x.t, LifeTableBin)
        Row(x.seg, x.t, start, add(start, LifeTableBin), x.atRisk(2),
          x.n(0), x.n(1), halfUp(qMicro(i).toDouble / 1e6, 6),
          survival(ln, gone))
      }
    },
    v8Plan)

  val v9CompetingRisks = new Query(
    StructType.fromDDL("seg STRING, time BIGINT, d1 BIGINT, d2 BIGINT, " +
      "n_risk BIGINT, cif_cause1 DOUBLE, cif_cause2 DOUBLE"),
    c => riskTable(c, _.time)(_.cause == 1, _.cause == 2, _ => true)
        .flatMap { cells =>
      val run = productLimit(cells.map(x =>
        kmFactor(add(x.n(0), x.n(1)), x.atRisk(2))))
      // S(t−): the product before this time's own factor, not rounded
      val before = (0L, false) +: run.dropRight(1)
      val inc = cells.indices.map { i =>
        val (x, (ln, gone)) = (cells(i), before(i))
        val s = if (gone) 0.0 else StrictMath.exp(ln.toDouble / 1e6)
        def part(d: Long) = longOf(halfUp(
          s * d.toDouble / x.atRisk(2).toDouble * 1e6, 0))
        (part(x.n(0)), part(x.n(1)))
      }
      val (cif1, cif2) = (running(inc.map(_._1)), running(inc.map(_._2)))
      cells.indices.filter(i => add(cells(i).n(0), cells(i).n(1)) > 0)
        .map { i =>
          val x = cells(i)
          Row(x.seg, x.t, x.n(0), x.n(1), x.atRisk(2),
            halfUp(cif1(i).toDouble / 1e6, 6), halfUp(cif2(i).toDouble / 1e6, 6))
        }
    },
    v9Plan)

  val v10SurvivalAtTimes = new Query(
    StructType.fromDDL(
      "seg STRING, horizon BIGINT, last_event_time BIGINT, survival DOUBLE"),
    c => segments(kaplanMeier(c))(_.seg).flatMap { case (seg, km) =>
      SurvivalHorizons.map(h => km.filter(_.time <= h).lastOption match {
        case Some(p) => Row(seg, h, p.time, p.survival)
        case None => Row(seg, h, -1L, 1.0)
      })
    },
    v10Plan)

  val v11MedianSurvival = new Query(
    StructType.fromDDL(
      "seg STRING, q DOUBLE, cross_time BIGINT, survival_at DOUBLE"),
    c => segments(kaplanMeier(c))(_.seg).flatMap { case (seg, km) =>
      SurvivalLevels.map(q => km.find(_.survival <= q) match {
        case Some(p) => Row(seg, q, p.time, p.survival)
        case None => Row(seg, q, -1L, -1.0)
      })
    },
    v11Plan)

  val v12CoxHazardRatio = new Query(
    StructType.fromDDL("seg STRING, n_events BIGINT, events_arm1 BIGINT, " +
      "beta DOUBLE, hazard_ratio DOUBLE, se DOUBLE, ci_lo DOUBLE, ci_hi DOUBLE"),
    c => riskTable(c, _.time)(s => s.event && s.arm == 1, _.event,
        _.arm == 0, _.arm == 1).flatMap { cells =>
      val terms = cells.filter(_.n(1) > 0)
      Option.when(terms.nonEmpty) {
        val (beta, info) = coxNewton(
          terms.map(x => (x.n(1), x.n(0), x.atRisk(2), x.atRisk(3))))
        val se = Option.when(info > 0)(
          halfUp(1.0 / StrictMath.sqrt(info.toDouble / 1e6), 6))
        val lo = se.map(s => halfUp(StrictMath.exp(beta - 1.96 * s), 6))
        val hi = se.map(s => halfUp(StrictMath.exp(beta + 1.96 * s), 6))
        Row(terms.head.seg, total(terms.map(_.n(1))), total(terms.map(_.n(0))),
          beta, halfUp(StrictMath.exp(beta), 6), se.getOrElse(null),
          lo.getOrElse(null), hi.getOrElse(null))
      }
    },
    v12Plan)

  val v13NelsonAalenCi = new Query(
    StructType.fromDDL("seg STRING, time BIGINT, d BIGINT, n_risk BIGINT, " +
      "cum_hazard DOUBLE, var_hazard DOUBLE, ci_lo DOUBLE, ci_hi DOUBLE"),
    c => riskTable(c, _.time)(_.event, _ => true).flatMap { cells =>
      val cumH = running(cells.map(x => hazardMicro(x.n(0), x.atRisk(1))))
      val cumV = running(cells.map { x =>
        val (d, n) = (x.n(0), x.atRisk(1))
        val n3 = mul(mul(n, n), n)
        add(mul(mul(d, sub(n, d)), 1000000000000L), n3 / 2) / n3
      })
      cells.indices.filter(cells(_).n(0) > 0).map { i =>
        val x = cells(i)
        val h = cumH(i).toDouble / 1e6
        val se = StrictMath.sqrt(cumV(i).toDouble) / 1e6
        Row(x.seg, x.t, x.n(0), x.atRisk(1), halfUp(h, 6),
          halfUp(cumV(i).toDouble / 1e12, 6), halfUp(h - 1.96 * se, 6),
          halfUp(h + 1.96 * se, 6))
      }
    },
    v13Plan)

  val v14WeibullFit = new Query(
    StructType.fromDDL(
      "seg STRING, n_fit BIGINT, shape DOUBLE, ln_h_intercept DOUBLE"),
    c => segments(nelsonAalen(c).filter(_.time > 0))(_.seg).map {
        case (seg, pts) =>
      val xy = pts.map(p => (
        BigInt(longOf(halfUp(StrictMath.log(p.time.toDouble) * 1e6, 0))),
        BigInt(longOf(halfUp(
          StrictMath.log(p.cumHMicro.toDouble / 1e6) * 1e6, 0)))))
      def sumDec(f: ((BigInt, BigInt)) => BigInt) =
        xy.foldLeft(BigInt(0))((acc, p) => dec(acc + f(p)))
      val n = BigInt(pts.size)
      val (sx, sy) = (sumDec(_._1), sumDec(_._2))
      val sxy = sumDec { case (x, y) => dec(x * y) }
      val sxx = sumDec { case (x, _) => dec(x * x) }
      val den = dec(dec(n * sxx) - dec(sx * sx))
      // intDiv(num + intDiv(den, 2), den): each intDiv yields a long
      def fit(num: BigInt): Any =
        if (den == 0) null
        else (dec(num + (den / 2).longValue) / den).longValue.toDouble / 1e6
      Row(seg, pts.size.toLong,
        fit(dec(dec(dec(n * sxy) - dec(sx * sy)) * 1000000)),
        fit(dec(dec(sxx * sy) - dec(sx * sxy))))
    },
    v14Plan)

  /** The 13 cohort queries by registry name ([[raw]] adds v2). */
  private[graft] val cohortQueries: Seq[(String, Query)] = Seq(
    "v1_cindex" -> v1CIndex, "v3_cum_hazard" -> v3CumHazard,
    "v4_kaplan_meier" -> v4KaplanMeier, "v5_logrank" -> v5LogRank,
    "v6_rmst" -> v6Rmst, "v7_greenwood_ci" -> v7GreenwoodCi,
    "v8_life_table" -> v8LifeTable, "v9_competing_risks" -> v9CompetingRisks,
    "v10_survival_at_times" -> v10SurvivalAtTimes,
    "v11_median_survival" -> v11MedianSurvival,
    "v12_cox_hr" -> v12CoxHazardRatio, "v13_nelson_aalen_ci" -> v13NelsonAalenCi,
    "v14_weibull_fit" -> v14WeibullFit)

  // ---- the shared kernels ----

  /** One (segment, time key) cell of the at-risk table: `n(j)` is the
    * cell's count j, and `atRisk(j)` is the segment's total of count j
    * minus its sum over the segment's earlier cells (the plans'
    * `total − Σ over (unbounded preceding, −1)` window).
    */
  private final case class Cell(seg: String, t: Long, n: Array[Long],
      atRisk: Array[Long])

  /** Per segment (in segment order), its cells in key order; each count
    * is the number of the cell's subjects that satisfy it.
    */
  private def riskTable(c: Seq[Subject], key: Subject => Long)(
      counts: (Subject => Boolean)*): Seq[IndexedSeq[Cell]] =
    segments(c)(_.seg).map { case (seg, ss) =>
      val byKey = ss.groupBy(key).toIndexedSeq.sortBy(_._1).map {
        case (t, g) => t -> counts.map(p => g.count(p).toLong).toArray }
      val totals = counts.indices.map(j => total(byKey.map(_._2(j))))
      val earlier = new Array[Long](counts.size)
      byKey.map { case (t, n) =>
        val atRisk = Array.tabulate(n.length)(j => sub(totals(j), earlier(j)))
        n.indices.foreach(j => earlier(j) = add(earlier(j), n(j)))
        Cell(seg, t, n, atRisk)
      }
    }

  /** Rows grouped by segment, segments in Spark's string order
    * (unsigned UTF-8 bytes), each group in its input order.
    */
  private def segments[A](rows: Seq[A])(seg: A => String): Seq[(String, Seq[A])] =
    rows.groupBy(seg).toSeq.sortBy(_._1)(SegOrder)

  private val SegOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  /** One event time of a segment's Nelson–Aalen curve (v3, v14). */
  private final case class HazardPoint(seg: String, time: Long, d: Long,
      nRisk: Long, hMicro: Long, cumHMicro: Long)

  /** One event time of a segment's Kaplan–Meier curve (v4, v6, v10, v11). */
  private final case class KmPoint(seg: String, time: Long, d: Long,
      nRisk: Long, cumLnMicro: Long, survival: Double)

  private def nelsonAalen(c: Seq[Subject]): Seq[HazardPoint] =
    riskTable(c, _.time)(_.event, _ => true).flatMap { cells =>
      val h = cells.map(x => hazardMicro(x.n(0), x.atRisk(1)))
      val cum = running(h)
      cells.indices.filter(cells(_).n(0) > 0).map { i =>
        val x = cells(i)
        HazardPoint(x.seg, x.t, x.n(0), x.atRisk(1), h(i), cum(i))
      }
    }

  private def kaplanMeier(c: Seq[Subject]): Seq[KmPoint] =
    riskTable(c, _.time)(_.event, _ => true).flatMap { cells =>
      val run = productLimit(cells.map(x => kmFactor(x.n(0), x.atRisk(1))))
      cells.indices.filter(cells(_).n(0) > 0).map { i =>
        val (x, (ln, gone)) = (cells(i), run(i))
        KmPoint(x.seg, x.t, x.n(0), x.atRisk(1), ln, survival(ln, gone))
      }
    }

  /** d/n in micro-units by half-up integral division (v3, v13). */
  private def hazardMicro(d: Long, n: Long): Long =
    add(mul(d, 1000000L), n / 2) / n

  /** One product-limit factor: ln((n−d)/n) snapped to micro-nats, and
    * whether the step empties the risk set (v4, v7, v9).
    */
  private def kmFactor(d: Long, n: Long): (Long, Boolean) =
    (if (d < n) longOf(halfUp(
      StrictMath.log(sub(n, d).toDouble / n.toDouble) * 1e6, 0)) else 0L,
      d == n)

  /** The product limit in log space: per step, the running sum of the
    * factors and the sticky extinction flag, both inclusive.
    */
  private def productLimit(
      steps: Seq[(Long, Boolean)]): IndexedSeq[(Long, Boolean)] =
    steps.scanLeft((0L, false)) { case ((ln, gone), (f, dead)) =>
      (add(ln, f), gone || dead) }.tail.toIndexedSeq

  /** S(t) from the log-space product; exactly 0 after extinction. */
  private def survival(cumLnMicro: Long, extinct: Boolean): Double =
    if (extinct) 0.0 else halfUp(StrictMath.exp(cumLnMicro.toDouble / 1e6), 6)

  /** Greenwood's d/(n(n−d)) in nano-units by half-up integral division (v7). */
  private def greenwoodNano(d: Long, n: Long): Long =
    if (d < n) {
      val nn = mul(n, sub(n, d))
      add(mul(d, 1000000000L), nn / 2) / nn
    } else 0L

  /** Three Newton steps from β = 0 on the two-arm Breslow partial
    * likelihood over a segment's event-time terms (d, d1, n0, n1): β
    * after the third step, and the information (Σ i_micro) of the third
    * evaluation (v12).
    */
  private def coxNewton(terms: Seq[(Long, Long, Long, Long)]): (Double, Long) = {
    var beta = 0.0
    var info = 0L
    for (_ <- 1 to 3) {
      val e = StrictMath.exp(beta)
      var score = 0L
      info = 0L
      terms.foreach { case (d, d1, n0, n1) =>
        val p = (n1.toDouble * e) / (n0.toDouble + n1.toDouble * e)
        score = add(score,
          longOf(halfUp((d1.toDouble - d.toDouble * p) * 1e6, 0)))
        info = add(info, longOf(halfUp(d.toDouble * p * (1.0 - p) * 1e6, 0)))
      }
      if (info > 0) beta = halfUp(beta + score.toDouble / info.toDouble, 6)
    }
    (beta, info)
  }

  private def running(xs: Seq[Long]): IndexedSeq[Long] =
    xs.scanLeft(0L)(add).tail.toIndexedSeq
  private def total(xs: Seq[Long]): Long = xs.foldLeft(0L)(add)

  // ---- Spark's arithmetic, on the driver ----

  private def add(a: Long, b: Long): Long = Math.addExact(a, b)
  private def sub(a: Long, b: Long): Long = Math.subtractExact(a, b)
  private def mul(a: Long, b: Long): Long = Math.multiplyExact(a, b)

  /** `round(x, scale)` on a double, as Spark evaluates it. */
  private def halfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** `cast(x as long)` under ANSI: truncation, failing where it overflows. */
  private def longOf(x: Double): Long =
    if (math.floor(x) <= Long.MaxValue.toDouble &&
        math.ceil(x) >= Long.MinValue.toDouble) x.toLong
    else throw new ArithmeticException(s"casting $x to long overflows")

  private val Dec38 = BigInt(10).pow(38)
  /** A DECIMAL(38,0) result under ANSI: exact, failing past 38 digits. */
  private def dec(b: BigInt): BigInt =
    if (b.abs < Dec38) b
    else throw new ArithmeticException(s"$b overflows DECIMAL(38,0)")

  /** Per-segment C-index of "account balance as risk" against a synthetic
    * survival target over the first 2000 customers — exercises the
    * concordance Aggregator end-to-end against a pure-SQL pairwise
    * oracle (which stays cheap at this sample size).
    */
  private def v1Plan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("double").as("time"),
        col("c_acctbal").as("risk"))
      .as[(String, Boolean, Double, Double)]
    c.groupByKey(_._1)
      .mapValues(r => SurvRow(r._2, r._3, r._4))
      .agg(CIndexAggregator.toColumn.name("res"))
      .toDF("seg", "res")
      .select(col("seg"), col("res.n").as("n"),
        round(col("res.cindex"), 6).as("cindex"))
      .orderBy(col("seg"))
  }

  /** The reference's cleaning pipeline as a distributed op over a wide
    * numeric matrix synthesized from lineitem: inject NaN into one
    * column (→ column dropped) and Inf into some rows (→ rows dropped),
    * then run SurvivalClean.cleanDistributed. The oracle hardcodes the
    * same deterministic injection.
    */
  def v2CleanMatrix(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 4000)
      .select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("row_id"),
        col("l_quantity").as("f_qty"),
        // f_price catches Inf for one partkey residue class → rows drop
        when(col("l_partkey") % 1000 === 7, lit(Double.PositiveInfinity))
          .otherwise(col("l_extendedprice")).as("f_price"),
        // f_disc catches NaN for one suppkey residue → whole column drops
        when(col("l_suppkey") % 500 === 3, lit(Double.NaN))
          .otherwise(col("l_discount")).as("f_disc"),
        col("l_tax").as("f_tax"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    // order by every output column for a deterministic limit
    SurvivalClean.cleanDistributed(m, Seq("row_id"))
      .orderBy(col("row_id"), col("f_price"), col("f_qty"), col("f_tax"))
      .limit(3000)
  }

  /** Distributed Nelson–Aalen cumulative hazard (v3): the survival-curve
    * estimator as a relational plan — per segment cohort (v1's synthetic
    * survival frame), at each distinct event time t: d (events at t),
    * n (subjects still at risk), the hazard increment d/n, and the
    * running cumulative hazard H(t) = Σ d_i/n_i. The risk set comes from
    * a running count over the time-ordered window — one shuffle on the
    * segment key — and every hazard increment is snapped to integer
    * micro-units with half-up integral division BEFORE accumulation, so
    * the curve is bit-identical at any partitioning and in both engines
    * (a float Σ d/n would drift with addition order). This extends the
    * reference's survival family (which computes per-task curves inside
    * fitness kernels) to the lake-scale cohort the engine's SQL surface
    * serves.
    */
  /** The synthetic survival cohort shared by v3/v4/v5: per (segment,
    * time) the event count d, the subjects-at-time m, and the risk set
    * n_risk = subjects with time ≥ t, computed by one prefix-sum window
    * per segment — one shuffle on the segment key, never a global sort.
    */
  private[graft] def atRiskFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("m"))
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
    val totals = byTime.groupBy(col("seg")).agg(sum(col("m")).as("n_seg"))
    byTime.join(totals, Seq("seg"))
      .withColumn("n_risk", col("n_seg") - coalesce(
        sum(col("m")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
  }

  private def v3Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
    atRiskFrame(spark, dir)
      // half-up integral division in micro-units: exact, associative
      .withColumn("h_micro",
        intDiv(col("d") * 1000000L + intDiv(col("n_risk"), lit(2L)),
          col("n_risk")))
      .withColumn("cum_h_micro",
        sum(col("h_micro")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        col("h_micro"), col("cum_h_micro"),
        round(col("cum_h_micro").cast("double") / 1e6, 6).as("cum_hazard"))
      .orderBy(col("seg"), col("time"))
  }

  /** Distributed Kaplan–Meier estimator (v4): per segment, the product-
    * limit survival curve S(t) = Π_{t_i ≤ t} (1 − d_i/n_i), evaluated at
    * event times. The product is carried in LOG space as integer
    * micro-nats — each factor's ln((n−d)/n) is snapped to a long ONCE
    * (the t12 discipline), the running sum is exact integer arithmetic,
    * and only the final presentation exponentiates — so the curve is
    * bit-identical at any partitioning and across engines, where a
    * floating product would drift with multiplication order. A time
    * where the whole risk set dies (d = n) sends the curve to exactly 0
    * from that point on (ln is undefined there — handled by a sticky
    * flag, not a sentinel value). Same single-shuffle shape as v3.
    */
  private def v4Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    atRiskFrame(spark, dir)
      .withColumn("lnf_micro", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e6).cast("long")).otherwise(0L))
      .withColumn("dead", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("cum_ln_micro", sum(col("lnf_micro")).over(w))
      .withColumn("extinct", max(col("dead")).over(w))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        col("cum_ln_micro"),
        when(col("extinct") === 1L, 0.0)
          .otherwise(round(exp(col("cum_ln_micro").cast("double") / 1e6), 6))
          .as("survival"))
      .orderBy(col("seg"), col("time"))
  }

  /** Distributed log-rank test (v5): the standard two-sample comparison
    * of survival curves — arms split by nation-key parity WITHIN each
    * segment, observed-minus-expected events and hypergeometric variance
    * accumulated over the pooled event times:
    *   E1(t) = d·n1/n,   V(t) = d·(n1/n)·(n2/n)·(n−d)/(n−1)
    * and χ² = (Σ(d1−E1))²/ΣV. Each per-time term is snapped to integer
    * micro-units once and summed exactly (t12 discipline), so the
    * statistic cannot drift with aggregation order. The per-arm risk
    * sets ride the same prefix-sum window as v3/v4 — still one shuffle
    * on the segment key; the output is one row per segment.
    */
  private def v5Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_nationkey") % 2).cast("long").as("arm"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("event") && col("arm") === 0L, 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("event") && col("arm") === 1L, 1L).otherwise(0L))
          .as("d2"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("m1"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("m2"))
    val totals = byTime.groupBy(col("seg"))
      .agg(sum(col("m1")).as("tot1"), sum(col("m2")).as("tot2"))
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = byTime.join(totals, Seq("seg"))
      .withColumn("n1", col("tot1") - coalesce(sum(col("m1")).over(w), lit(0L)))
      .withColumn("n2", col("tot2") - coalesce(sum(col("m2")).over(w), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("d") > 0)
      .withColumn("e1_micro", round(col("d").cast("double") *
        col("n1").cast("double") / col("n").cast("double") * 1e6)
        .cast("long"))
      .withColumn("v_micro", when(col("n") > 1,
        round(col("d").cast("double") * col("n1").cast("double") *
          col("n2").cast("double") * (col("n") - col("d")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1).cast("double")) * 1e6).cast("long"))
        .otherwise(0L))
    terms.groupBy(col("seg"))
      .agg(sum(col("d1")).as("events_arm1"),
        sum(col("d2")).as("events_arm2"),
        sum(col("d1") * 1000000L - col("e1_micro")).as("ome_micro"),
        sum(col("v_micro")).as("var_micro"))
      .select(col("seg"), col("events_arm1"), col("events_arm2"),
        col("ome_micro"), col("var_micro"),
        when(col("var_micro") > 0,
          round((col("ome_micro").cast("double") / 1e6) *
            (col("ome_micro").cast("double") / 1e6) /
            (col("var_micro").cast("double") / 1e6), 6)).as("chi2"))
      .orderBy(col("seg"))
  }

  /** Two-group Cox proportional-hazards fit (v12): the effect-size
    * companion to v5's log-rank test — the hazard ratio e^β between the
    * nation-parity arms within each segment, fit by THREE unrolled
    * Newton steps on the Breslow partial likelihood. With one binary
    * covariate the score and information collapse to closed forms over
    * the same per-time arm risk sets v5 builds:
    *   p(t) = n₁e^β / (n₀ + n₁e^β),  U = Σ d₁(t) − d(t)·p(t),
    *   I = Σ d(t)·p(t)(1−p(t)),      β ← β + U/I.
    * Each per-time U/I term snaps to integer micro-units (the v5
    * discipline) so the sums are exact under any partitioning; β rounds
    * at 6 decimals between steps so both engines iterate from identical
    * inputs; β₀ = 0 makes step one deterministic. se = 1/√I at the last
    * Newton evaluation; the Wald CI exponentiates β ± 1.96·se using the
    * ROUNDED se. The greedy-unroll price (the s23 lesson): fixed Newton
    * depth is what makes the estimator SQL-expressible — three steps
    * from 0 reach |U/I| < 1e-4 on any non-degenerate two-group split.
    *
    * Scale: one shuffle on the segment key (shared with v3–v5), the
    * per-step β table is |segments| rows broadcast back, and each
    * Newton step is one partial-agg pass over the persisted event-time
    * terms — never the raw rows.
    */
  private def v12Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_nationkey") % 2).cast("long").as("arm"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("event") && col("arm") === 1L, 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("m0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("m1"))
    val totals = byTime.groupBy(col("seg"))
      .agg(sum(col("m0")).as("tot0"), sum(col("m1")).as("tot1"))
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = byTime.join(totals, Seq("seg"))
      .withColumn("n0", col("tot0") - coalesce(sum(col("m0")).over(w), lit(0L)))
      .withColumn("n1", col("tot1") - coalesce(sum(col("m1")).over(w), lit(0L)))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d"), col("d1"),
        col("n0"), col("n1"))
      .held()
    terms.count() // three Newton passes + the final read share one build
    var beta = terms.select(col("seg")).distinct()
      .select(col("seg"), lit(0.0).as("beta"))
    var last: DataFrame = beta
    for (_ <- 1 to 3) {
      val p = (col("n1").cast("double") * exp(col("beta"))) /
        (col("n0").cast("double") + col("n1").cast("double") * exp(col("beta")))
      last = terms.join(broadcast(beta), Seq("seg"))
        .withColumn("p", p)
        .withColumn("u_micro", round((col("d1").cast("double") -
          col("d").cast("double") * col("p")) * 1e6).cast("long"))
        .withColumn("i_micro", round(col("d").cast("double") * col("p") *
          (lit(1.0) - col("p")) * 1e6).cast("long"))
        .groupBy(col("seg"))
        .agg(max(col("beta")).as("beta"), // constant within the segment
          sum(col("u_micro")).as("u_sum"),
          sum(col("i_micro")).as("i_sum"),
          sum(col("d")).as("n_events"),
          sum(col("d1")).as("events_arm1"))
        .localCheckpoint(true) // |segments| rows; cut the step lineage
      beta = last.select(col("seg"),
        when(col("i_sum") > 0, round(col("beta") +
          col("u_sum").cast("double") / col("i_sum").cast("double"), 6))
          .otherwise(col("beta")).as("beta"))
    }
    val se = when(col("i_sum") > 0,
      round(lit(1.0) / sqrt(col("i_sum").cast("double") / 1e6), 6))
    beta.join(last.select(col("seg"), col("u_sum"), col("i_sum"),
        col("n_events"), col("events_arm1")), Seq("seg"))
      .select(col("seg"), col("n_events"), col("events_arm1"), col("beta"),
        round(exp(col("beta")), 6).as("hazard_ratio"), se.as("se"))
      .select(col("seg"), col("n_events"), col("events_arm1"), col("beta"),
        col("hazard_ratio"), col("se"),
        round(exp(col("beta") - lit(1.96) * col("se")), 6).as("ci_lo"),
        round(exp(col("beta") + lit(1.96) * col("se")), 6).as("ci_hi"))
      .orderBy(col("seg"))
  }

  /** Restricted mean survival time (v6): the area under the v4 curve up
    * to the horizon τ — the clinically reportable "expected survival
    * within τ" summary. The KM curve is a step function, so the integral
    * is EXACT: Σ S(t_i)·(t_{i+1}−t_i) plus the unit-survival head
    * [0, t_1), evaluated in integer micro-day-units (S is already
    * snapped to micro-units by v4's 6-decimal presentation; the gaps are
    * integer days), accumulated with one lead() over the same
    * seg-keyed window — no new shuffle beyond v4's. One row per segment.
    */
  private def v6Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizon = RmstHorizon
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
    v4Plan(spark, dir)
      .withColumn("surv_micro", round(col("survival") * 1e6).cast("long"))
      .withColumn("next_time",
        coalesce(lead(col("time"), 1).over(w), lit(horizon)))
      .groupBy(col("seg"))
      .agg(min(col("time")).as("first_event_time"),
        count(lit(1)).as("n_event_times"),
        sum(col("surv_micro") * (col("next_time") - col("time")))
          .as("auc_micro"))
      .select(col("seg"), col("first_event_time"), col("n_event_times"),
        lit(horizon).as("horizon"),
        round((col("first_event_time") * 1000000L + col("auc_micro"))
          .cast("double") / 1e6, 6).as("rmst"))
      .orderBy(col("seg"))
  }

  /** Greenwood confidence band (v7): the KM curve with its standard
    * error — Var(S) = S²·Σ d/(n(n−d)) — and the plain 95% band clamped
    * to [0,1]; what lifelines/sksurv print next to every survival
    * curve. The Greenwood accumulator gets the same integer treatment
    * as the curve itself: each per-time term d/(n(n−d)) is snapped ONCE
    * to NANO-units (micro is too coarse for 1/(n(n−d)) at cohort n) by
    * half-up integral division, the running sum is exact, and only the
    * final se/band multiply through doubles. Extinction rows (S = 0)
    * carry a zero-width band. Same single seg-keyed shuffle as v3–v6.
    */
  private def v7Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    atRiskFrame(spark, dir)
      .withColumn("lnf_micro", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e6).cast("long")).otherwise(0L))
      .withColumn("dead", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("gw_nano", when(col("d") < col("n_risk"),
        intDiv(col("d") * 1000000000L +
            intDiv(col("n_risk") * (col("n_risk") - col("d")), lit(2L)),
          col("n_risk") * (col("n_risk") - col("d")))).otherwise(0L))
      .withColumn("cum_ln_micro", sum(col("lnf_micro")).over(w))
      .withColumn("extinct", max(col("dead")).over(w))
      .withColumn("cum_gw_nano", sum(col("gw_nano")).over(w))
      .filter(col("d") > 0)
      .withColumn("s", when(col("extinct") === 1L, 0.0)
        .otherwise(round(exp(col("cum_ln_micro").cast("double") / 1e6), 6)))
      .withColumn("se", when(col("extinct") === 1L, 0.0)
        .otherwise(round(col("s") *
          sqrt(col("cum_gw_nano").cast("double") / 1e9), 6)))
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        col("s").as("survival"), col("se"),
        round(greatest(col("s") - lit(1.96) * col("se"), lit(0.0)), 6)
          .as("ci_lo"),
        round(least(col("s") + lit(1.96) * col("se"), lit(1.0)), 6)
          .as("ci_hi"))
      .orderBy(col("seg"), col("time"))
  }

  /** Actuarial life table (v8): the interval-binned survival summary —
    * the epidemiology-standard presentation the reference's per-cohort
    * curves feed into (lifelines `survival_table_from_events` has the
    * same columns). Time is binned into width-10 intervals; per
    * (segment, interval): entrants, deaths d, censored w, the actuarial
    * effective at-risk n_eff = n_enter − w/2 (half-censor convention),
    * the conditional death probability q = d/n_eff and the cumulative
    * survival to the interval's END. Exactness discipline: n_eff is
    * carried DOUBLED (2·n_enter − w — an integer, so the w/2 convention
    * never touches a float), q is one half-up micro-unit integral
    * division, and the survival product runs in log space as integer
    * micro-nats with v4's sticky-extinction flag. Same single shuffle
    * on the segment key as v3–v7; the interval grid collapses the
    * per-time rows ~10×, so the life table is CHEAPER than the curve
    * it summarizes.
    */
  private def v8Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val binW = LifeTableBin
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        (col("c_custkey") % 2 === 0).as("event"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byBin = s.withColumn("bin", intDiv(col("time"), lit(binW)))
      .groupBy(col("seg"), col("bin"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("event"), 1L).otherwise(0L)).as("w"),
        count(lit(1)).as("m"))
    val totals = byBin.groupBy(col("seg")).agg(sum(col("m")).as("n_seg"))
    val wPrev = Window.partitionBy(col("seg")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("seg")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byBin.join(totals, Seq("seg"))
      .withColumn("n_enter",
        col("n_seg") - coalesce(sum(col("m")).over(wPrev), lit(0L)))
      // doubled fixed-point: n_eff = n_enter − w/2  ⇒  2·n_eff is integer
      .withColumn("n_eff_x2", col("n_enter") * 2L - col("w"))
      .withColumn("q_micro",
        intDiv(col("d") * 2000000L + intDiv(col("n_eff_x2"), lit(2L)),
          col("n_eff_x2")))
      .withColumn("p_micro", lit(1000000L) - col("q_micro"))
      .withColumn("lnp_micro", when(col("p_micro") > 0L,
        round(log(col("p_micro").cast("double") / 1e6) * 1e6).cast("long"))
        .otherwise(0L))
      .withColumn("dead", when(col("p_micro") === 0L, 1L).otherwise(0L))
      .withColumn("cum_ln_micro", sum(col("lnp_micro")).over(wCum))
      .withColumn("extinct", max(col("dead")).over(wCum))
      .select(col("seg"), col("bin"),
        (col("bin") * binW).as("t_start"),
        (col("bin") * binW + binW).as("t_end"),
        col("n_enter"), col("d"), col("w"),
        round(col("q_micro").cast("double") / 1e6, 6).as("q"),
        when(col("extinct") === 1L, 0.0)
          .otherwise(round(exp(col("cum_ln_micro").cast("double") / 1e6), 6))
          .as("survival"))
      .orderBy(col("seg"), col("bin"))
  }

  /** Aalen–Johansen cumulative incidence (v9): survival's answer to
    * "which FAILURE MODE claims the cohort" — two competing causes
    * (custkey residues; odd keys censor), where the naive per-cause KM
    * is biased because a cause-1 event removes the subject from cause
    * 2's risk set. The estimator weights each cause's hazard increment
    * by overall survival just BEFORE the event time:
    *   ΔF_k(t) = S(t−)·d_k/n,   F_k(t) = Σ_{t_i ≤ t} ΔF_k(t_i).
    * S(t−) rides v4's log-micro machinery over an EXCLUSIVE window
    * (rows to −1, so the factor at t itself is not yet applied); each
    * ΔF_k is snapped to micro-units once (v5's e1_micro discipline) and
    * the running F_k is an exact integer sum — the two curves cannot
    * drift apart with aggregation order. Same single seg-keyed shuffle
    * as the rest of the v-family.
    */
  private def v9Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 2000)
      .select(col("c_mktsegment").as("seg"),
        when(col("c_custkey") % 4 === 0, 1L)
          .when(col("c_custkey") % 4 === 2, 2L)
          .otherwise(0L).as("cause"),
        (col("c_custkey") % 97).cast("long").as("time"))
    val byTime = s.groupBy(col("seg"), col("time"))
      .agg(sum(when(col("cause") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(col("cause") === 2L, 1L).otherwise(0L)).as("d2"),
        count(lit(1)).as("m"))
    val totals = byTime.groupBy(col("seg")).agg(sum(col("m")).as("n_seg"))
    val wPrev = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byTime.join(totals, Seq("seg"))
      .withColumn("n_risk",
        col("n_seg") - coalesce(sum(col("m")).over(wPrev), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("lnf_micro", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")) * 1e6).cast("long")).otherwise(0L))
      .withColumn("dead", when(col("d") === col("n_risk"), 1L).otherwise(0L))
      // S(t−): exclusive accumulation — survival before this time's factor
      .withColumn("s_prev", when(
        coalesce(max(col("dead")).over(wPrev), lit(0L)) === 1L, 0.0)
        .otherwise(exp(
          coalesce(sum(col("lnf_micro")).over(wPrev), lit(0L))
            .cast("double") / 1e6)))
      .withColumn("inc1_micro", round(col("s_prev") *
        col("d1").cast("double") / col("n_risk").cast("double") * 1e6)
        .cast("long"))
      .withColumn("inc2_micro", round(col("s_prev") *
        col("d2").cast("double") / col("n_risk").cast("double") * 1e6)
        .cast("long"))
      .withColumn("cif1_micro", sum(col("inc1_micro")).over(wCum))
      .withColumn("cif2_micro", sum(col("inc2_micro")).over(wCum))
      .filter(col("d") > 0)
      .select(col("seg"), col("time"), col("d1"), col("d2"), col("n_risk"),
        round(col("cif1_micro").cast("double") / 1e6, 6).as("cif_cause1"),
        round(col("cif2_micro").cast("double") / 1e6, 6).as("cif_cause2"))
      .orderBy(col("seg"), col("time"))
  }

  /** Survival at fixed horizons (v10): the KM curve read at the
    * reporting times a clinical summary quotes ("30/60/90-day
    * survival") — for each (segment, horizon), the curve value at the
    * last event time ≤ the horizon, exactly 1.0 when no event precedes
    * it (the step function's left limit, read with `max_by` so the
    * probe never re-sorts the curve). Pure composition over the gated
    * v4 output: the horizon probe is a 3-row broadcast, the per-cell
    * collapse keys on (seg, horizon), and segments without early events
    * re-enter via the left join — the v4 curve is computed once.
    */
  private def v10Plan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val km = v4Plan(spark, dir)
      .select(col("seg"), col("time"), col("survival"))
    val horizons = SurvivalHorizons.toDF("horizon")
    val grid = km.select(col("seg")).distinct()
      .crossJoin(broadcast(horizons))
    val best = km.join(broadcast(horizons), col("time") <= col("horizon"))
      .groupBy(col("seg"), col("horizon"))
      .agg(max(col("time")).as("last_event_time"),
        max_by(col("survival"), col("time")).as("s"))
    grid.join(best, Seq("seg", "horizon"), "left")
      .select(col("seg"), col("horizon"),
        coalesce(col("last_event_time"), lit(-1L)).as("last_event_time"),
        coalesce(col("s"), lit(1.0)).as("survival"))
      .orderBy(col("seg"), col("horizon"))
  }

  /** Median and quartile survival times (v11): the smallest event time
    * where the KM curve first reaches S(t) ≤ q for q ∈ {0.75, 0.5,
    * 0.25} — the "median survival 14 months (IQR 9–21)" headline every
    * clinical abstract quotes, read off the gated v4 curve. v10 probes
    * the curve at fixed TIMES; v11 inverts it at fixed LEVELS. Pure
    * composition: the quantile probe is a 3-row broadcast, the
    * first-crossing collapse keys on (seg, q) with `min_by` (never a
    * re-sort of the curve), and never-crossing (seg, q) cells re-enter
    * via the left join with the −1 sentinel. The v4 survival values are
    * bit-stable across engines (log-micro product, gated), so comparing
    * them to exactly-representable quantile literals is deterministic.
    */
  private def v11Plan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val km = v4Plan(spark, dir)
      .select(col("seg"), col("time"), col("survival"))
    val qs = SurvivalLevels.toDF("q")
    val grid = km.select(col("seg")).distinct().crossJoin(broadcast(qs))
    val crossed = km.join(broadcast(qs), col("survival") <= col("q"))
      .groupBy(col("seg"), col("q"))
      .agg(min(col("time")).as("t_cross"),
        min_by(col("survival"), col("time")).as("s_at"))
    grid.join(crossed, Seq("seg", "q"), "left")
      .select(col("seg"), col("q"),
        coalesce(col("t_cross"), lit(-1L)).as("cross_time"),
        coalesce(col("s_at"), lit(-1.0)).as("survival_at"))
      .orderBy(col("seg"), col("q").desc)
  }

  /** Nelson–Aalen variance + 95 % confidence band (v13): the Klein
    * variance estimator σ²(t) = Σ_{tᵢ≤t} dᵢ(nᵢ−dᵢ)/nᵢ³ over v3's risk
    * frame, with the linear CI band H(t) ± 1.96·σ(t) — the uncertainty
    * companion v3's point estimate lacks, what v7's Greenwood band is
    * to v4's Kaplan–Meier. All cross-row state is exact integers: the
    * per-time variance increment snaps to pico units by one half-up
    * integral division (d(n−d)·10¹² ≤ 10¹⁸ keeps Long headroom at the
    * 2000-row frame; a lake-scale caller promotes to DECIMAL(38,0) the
    * s25 way), the running sums are Long additions, and the only
    * floats are the presentation divisions plus ONE IEEE-exact sqrt of
    * the same integer on both engines, in one shared expression order.
    * Single shuffle on seg like v3; the band is a window cumsum, not a
    * second pass.
    */
  private def v13Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val w = Window.partitionBy(col("seg")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val n3 = col("n_risk") * col("n_risk") * col("n_risk")
    atRiskFrame(spark, dir)
      .withColumn("h_micro",
        intDiv(col("d") * 1000000L + intDiv(col("n_risk"), lit(2L)),
          col("n_risk")))
      .withColumn("v_pico",
        intDiv(col("d") * (col("n_risk") - col("d")) * 1000000000000L
          + intDiv(n3, lit(2L)), n3))
      .withColumn("cum_h_micro", sum(col("h_micro")).over(w))
      .withColumn("cum_v_pico", sum(col("v_pico")).over(w))
      .filter(col("d") > 0)
      .withColumn("se", sqrt(col("cum_v_pico").cast("double")) / 1e6)
      .select(col("seg"), col("time"), col("d"), col("n_risk"),
        round(col("cum_h_micro").cast("double") / 1e6, 6).as("cum_hazard"),
        round(col("cum_v_pico").cast("double") / 1e12, 6).as("var_hazard"),
        round(col("cum_h_micro").cast("double") / 1e6
          - lit(1.96) * col("se"), 6).as("ci_lo"),
        round(col("cum_h_micro").cast("double") / 1e6
          + lit(1.96) * col("se"), 6).as("ci_hi"))
      .orderBy(col("seg"), col("time"))
  }

  /** Weibull fit of the cumulative hazard (v14): per segment, the OLS
    * fit of ln H(t) over ln t across v3's Nelson–Aalen curve — under a
    * Weibull lifetime H(t) = (t/λ)^α the plot is a line with slope α
    * (the shape: α < 1 infant-mortality, α ≈ 1 memoryless, α > 1
    * wear-out) and intercept −α·ln λ, so the fit IS the parametric
    * survival model every reliability pipeline reads next after the
    * nonparametric curve. Composition discipline: the input is the
    * GATED v3 frame (cum_h_micro — exact integers on both engines);
    * both ln snaps are one shared expression per point, the five OLS
    * moments ride the t24 DECIMAL(38,0)/HUGEINT machinery, and shape /
    * intercept come out of the same closed-form half-up divisions.
    * Emitted in the (α, −α·ln λ) parameterization — deriving λ itself
    * would cross exp, which stays out of the gate.
    */
  private def v14Plan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val xy = v3Plan(spark, dir)
      .filter(col("time") > 0)
      .select(col("seg"),
        round(log(col("time").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cum_h_micro").cast("double") / 1e6) * 1e6)
          .cast("long").as("y"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = xy.groupBy(col("seg")).agg(
      count(lit(1)).cast("long").as("n_fit"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    val den = col("n_fit") * col("sxx") - col("sx") * col("sx")
    val slopeNum =
      (col("n_fit") * col("sxy") - col("sx") * col("sy")) * 1000000L
    val interNum = col("sxx") * col("sy") - col("sx") * col("sxy")
    m.select(col("seg"), col("n_fit"),
        (intDiv(slopeNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("shape"),
        (intDiv(interNum + intDiv(den, lit(2L)), den).cast("double") / 1e6)
          .as("ln_h_intercept"))
      .orderBy(col("seg"))
  }

  /** The UNSCOPED registry — plan-inspection specs read it to see the
    * plans before any cache scope pins them. Building a cohort query
    * runs its cohort collect. Every external surface goes through
    * [[all]], whose entries run under [[QueryScope.scoped]] (held
    * intermediates park at scope exit and die at the next gated call or
    * [[QueryScope.releaseAll]] — r15 cache hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] =
    cohortQueries.toMap[String, (SparkSession, String) => DataFrame] +
      ("v2_clean_matrix" -> (v2CleanMatrix _))

  /** Every gated entry runs under a [[QueryScope.scoped]] cache
    * scope: held intermediates park at scope exit and die at the next
    * gated call or `QueryScope.releaseAll()` (r15 cache hygiene).
    */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    QueryScope.scopedAll(raw)
}
