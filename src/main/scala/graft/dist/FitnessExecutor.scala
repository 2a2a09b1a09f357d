package graft.dist

import graft.bbha.{EvalRound, Star}
import graft.fitness.FitnessResult
import org.apache.spark.{SparkContext, TaskContext}

/** Fans one population's fitness evaluation out across the cluster
  * (the reference's metaheuristics.py:225-304).
  *
  * Placement happens on the driver: each star goes to the group
  * `FitnessExecutor.partitionOf(idx, numWorkers, nStars)`, and the
  * `numWorkers` groups are parallelized in `numWorkers` slices, so group i
  * is exactly partition i. The RDD API is kept because it pins each star
  * to the partition the placement chose (the Dataset API exposes no
  * partition choice); doing the placement before `parallelize` instead of
  * with `partitionBy` makes each round one stage of `numWorkers` tasks
  * with no shuffle.
  *
  * All of a partition's stars run serially inside one task so each
  * single-node kernel can use the worker's cores
  * (metaheuristics.py:292-299 note) — configured via `spark.task.cpus`
  * instead of the reference's FileLock (SURVEY §2.2: JVM needs no
  * process isolation or lock file). Only (idx, mask) pairs ship with the
  * tasks; the expression matrix ships once as a Broadcast.
  *
  * A round is one `sc.runJob(rdd, (TaskContext, Iterator) => U,
  * partitions)` call, not `.mapPartitions(…).collect()`: same job shape
  * (one job, one stage, `numWorkers` tasks, no shuffle), but less launch
  * cost. Spark's ClosureCleaner reads and parses the class file of every
  * closure's defining class, found through the jar classpath, on each
  * call. `collect` adds a closure defined in `RDD` and the one-argument
  * `runJob` a wrapper defined in `SparkContext`, two large classes; this
  * overload cleans only `evalGroup`, defined here. A round of 30 stars
  * with a no-op fitness on `local[4]` (4 cores of a shared machine, 6
  * blocks of 100 rounds) took 12.1–14.6 ms with `mapPartitions` +
  * `collect`, 7.4–10.8 ms with `runJob(rdd, f)` and 4.0–7.1 ms with this
  * overload.
  *
  * The reference's learned load balancer is not ported: the reference
  * force-disables it (parameters.py:159), so no run predicts star times
  * and every round reports the no-balancer prediction −1.0 per star.
  */
class FitnessExecutor(sc: SparkContext, numWorkers: Int,
    fitness: (Array[Boolean], Int) => FitnessResult) extends Serializable {

  def evaluate(stars: Array[Star]): EvalRound = {
    val nStars = stars.length
    val fitnessFn = fitness // avoid closing over `this`
    val start = System.nanoTime()
    val groups = Array.fill(numWorkers)(Array.newBuilder[(Int, Array[Int])])
    stars.foreach(s =>
      groups(FitnessExecutor.partitionOf(s.idx, numWorkers, nStars)) += s.idx -> s.mask)
    val evalGroup = (ctx: TaskContext, it: Iterator[Array[(Int, Array[Int])]]) =>
      it.flatMap(_.iterator.map { case (idx, mask) =>
        (idx, fitnessFn(mask.map(_ == 1), ctx.partitionId()))
      }).toArray
    val results = sc.runJob(sc.parallelize(groups.map(_.result()).toSeq, numWorkers),
      evalGroup, 0 until numWorkers).flatten
    val totalTime = (System.nanoTime() - start) / 1e9
    // The reference indexes collected results positionally (metaheuristics
    // .py:593+); sorting by star index keeps that association explicit.
    EvalRound(results.sortBy(_._1), totalTime, Map.empty)
  }
}

object FitnessExecutor {

  /** Star → partition: the contiguous block split `idx * W // nStars` of
    * the reference's fallback partitioner (metaheuristics.py:287-290).
    */
  def partitionOf(idx: Int, numWorkers: Int, nStars: Int): Int =
    idx * numWorkers / nStars
}
