package graft

import graft.bbha.Star
import graft.dist.FitnessExecutor
import graft.fitness.FitnessResult
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Star placement and job shape of one `FitnessExecutor.evaluate` round. */
class FitnessExecutorSpec extends AnyFunSuite {
  lazy val sc: SparkContext = SparkTestSession.spark.sparkContext
  val numWorkers = 4

  /** `n` stars, reversed, so sorting the results by star index is not a no-op. */
  def starsOf(n: Int): Array[Star] = Array.tabulate(n)(i =>
    Star(i, Array.tabulate(6)(j => if (j <= i % 6) 1 else 0))).reverse

  /** Echoes the task's partition id and the mask's feature count. */
  val echo: (Array[Boolean], Int) => FitnessResult = (mask, pid) => {
    val k = mask.count(identity)
    FitnessResult(k.toDouble, 0.0, pid, "", k, "", 0.0, 0.0, 0.0, 0.0, None)
  }

  val RoundKey = "graft.test.round"

  /** Jobs, stages and tasks of the Spark jobs tagged `tag`. */
  class RoundListener(tag: String) extends SparkListener {
    val jobs = mutable.Set.empty[Int]
    val stages = mutable.Map.empty[Int, StageInfo]
    val tasks = mutable.Buffer.empty[SparkListenerTaskEnd]
    var jobsEnded = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(RoundKey) == tag)) {
        jobs += e.jobId
        e.stageInfos.foreach(s => stages(s.stageId) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stages.contains(e.stageId)) tasks += e
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (jobs.contains(e.jobId)) jobsEnded += 1
    }
    /** Listener events arrive asynchronously; a job's end is posted after
      * all of its task ends, so once every job has ended the counts are final.
      */
    def awaitJobsEnded(): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (synchronized(jobs.isEmpty || jobsEnded < jobs.size) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }
  }

  /** Runs one round over `stars`, tagged `tag`, and checks that every
    * star's result comes from partition `idx * W / n` and that the round is
    * one job of one stage with one task per worker and no shuffle.
    */
  private def checkRound(stars: Array[Star], tag: String): Unit = {
    val executor = new FitnessExecutor(sc, numWorkers, echo)
    val listener = new RoundListener(tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(RoundKey, tag)
    val round = try executor.evaluate(stars) finally {
      sc.setLocalProperty(RoundKey, null)
    }
    listener.awaitJobsEnded()
    sc.removeSparkListener(listener)

    val nStars = stars.length
    assert(round.results.map(_._1).toSeq == (0 until nStars))
    round.results.foreach { case (idx, r) =>
      assert(r.partitionId == FitnessExecutor.partitionOf(idx, numWorkers, nStars),
        s"star $idx")
      assert(r.nFeatures == stars.find(_.idx == idx).get.nSelected)
    }
    listener.synchronized {
      assert(listener.jobs.size == 1, "jobs")
      assert(listener.stages.size == 1, s"stages ${listener.stages.values}")
      assert(listener.stages.values.forall(_.parentIds.isEmpty))
      assert(listener.tasks.size == numWorkers, "tasks")
      assert(listener.tasks.map(_.taskInfo.index).toSet == (0 until numWorkers).toSet)
      assert(listener.tasks.forall(_.taskMetrics.shuffleWriteMetrics.bytesWritten == 0))
    }
  }

  test("fallback placement: contiguous blocks, one stage, no shuffle") {
    checkRound(starsOf(10), "fallback")
  }

  test("fewer stars than workers: the empty partition still runs as a task") {
    // 3 stars on 4 workers land on partitions 0, 1 and 2; partition 3 is empty
    assert((0 until 3).map(FitnessExecutor.partitionOf(_, numWorkers, 3)) == Seq(0, 1, 2))
    checkRound(starsOf(3), "empty-partition")
  }
}
