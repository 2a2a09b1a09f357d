package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** In-memory span buffer for the traced run. Spans are recorded by the
  * benchmark around calls into the program's public functions — on the
  * driver, and inside tasks, which in local mode run in this same JVM and
  * therefore reach this object directly. Nothing is written until the
  * run ends.
  */
object Trace {

  /** One timed interval at a layer boundary. `unit` groups the spans of
    * one benchmark unit (an experiment or a query pass); `parent` is the
    * id of the span that caused this one (0 = the unit itself).
    */
  case class Span(id: Long, parent: Long, unit: Int, name: String,
      start: Long, end: Long, partition: Int = -1, tag: String = "") {
    def seconds: Double = (end - start) / 1e9
  }

  private val ids = new AtomicLong(0)
  private val buffer = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled: Boolean = false
  @volatile var unit: Int = 0
  /** Id of the span the driver has open, read by task-side spans. */
  @volatile var open: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open
      open = id
      val t0 = System.nanoTime()
      try body
      finally {
        buffer.add(Span(id, parent, unit, name, t0, System.nanoTime()))
        open = parent
      }
    }

  /** A span recorded by a task thread under the driver's open span. */
  def task(name: String, start: Long, end: Long, partition: Int, tag: String): Unit =
    if (enabled)
      buffer.add(Span(ids.incrementAndGet(), open, unit, name, start, end, partition, tag))

  def drain(): Vector[Span] =
    Iterator.continually(buffer.poll()).takeWhile(_ != null).toVector
}

/** Spark-side counters for one unit: jobs, stages and tasks from a
  * `SparkListener`, Catalyst phase times from a `QueryExecutionListener`.
  * Both are read after the listener bus drains.
  */
class Counters extends SparkListener with QueryExecutionListener {
  import Counters._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val planMs = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("")
    jobStarts.put(e.jobId, (e.time, layer, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, layer, stages) =>
      jobs.add(Job(e.jobId, t0, e.time, layer, stages))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(sc: SparkContext): Snapshot = {
    org.apache.spark.perfbench.Bus.drain(sc)
    def take[T](q: ConcurrentLinkedQueue[T]) =
      Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    Snapshot(take(jobs), take(tasks), take(planMs))
  }
}

object Counters {
  /** Local property naming the layer that submitted a job. */
  val LayerKey = "perfbench.layer"

  case class Job(id: Int, start: Long, end: Long, layer: String, stages: Seq[Int])
  case class Task(stage: Int, durationMs: Long, runMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)
  /** `planMs`: Catalyst phase time of each executed query. */
  case class Snapshot(jobs: Vector[Job], tasks: Vector[Task], planMs: Vector[Long]) {
    def forLayer(layer: String): Snapshot = {
      val js = jobs.filter(_.layer == layer)
      val stages = js.flatMap(_.stages).toSet
      Snapshot(js, tasks.filter(t => stages(t.stage)), planMs)
    }
    def stages: Int = tasks.map(_.stage).distinct.size
    def taskBusySeconds: Double = tasks.map(_.runMs).sum / 1e3
    def shuffleWriteBytes: Long = tasks.map(_.shuffleWrite).sum
    def shuffleReadBytes: Long = tasks.map(_.shuffleRead).sum
    def spillBytes: Long = tasks.map(_.spill).sum
    def planSeconds: Double = planMs.sum / 1e3

    private def byStage = tasks.groupBy(_.stage).values

    /** Slot time spent waiting for each stage's slowest task. */
    def taskIdleSeconds: Double = byStage.map { ts =>
      val mx = ts.map(_.durationMs).max
      ts.map(mx - _.durationMs).sum
    }.sum / 1e3

    /** Median over multi-task stages of (slowest task / mean task). */
    def taskSkew: Double = Stats.median(byStage.filter(_.size > 1).toSeq.flatMap { ts =>
      val mean = ts.map(_.durationMs).sum.toDouble / ts.size
      if (mean > 0) Some(ts.map(_.durationMs).max / mean) else None
    })

    /** Job wall time not covered by the job's slowest task. */
    def jobOverheadSeconds: Double = {
      val slowest = tasks.groupBy(_.stage).map { case (s, ts) => s -> ts.map(_.durationMs).max }
      jobs.map(j => (j.end - j.start) - j.stages.flatMap(slowest.get).maxOption.getOrElse(0L))
        .map(math.max(_, 0L)).sum / 1e3
    }

    /** Milliseconds of `[from, to]` during which at least one job ran. */
    def jobCoveredMs(from: Long, to: Long): Long = {
      val iv = jobs.map(j => (math.max(j.start, from), math.min(j.end, to)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val s = math.max(a, reach)
        if (b > s) covered += b - s
        reach = math.max(reach, b)
      }
      covered
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
