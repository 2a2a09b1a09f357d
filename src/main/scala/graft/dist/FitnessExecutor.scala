package graft.dist

import graft.bbha.{EvalRound, Star}
import graft.fitness.FitnessResult
import org.apache.spark.{Partitioner, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast

/** Star → partition placement (the reference's custom `partitionBy`
  * functions, /root/reference/scripts/metaheuristics.py:277-298).
  *
  * Two modes, selected by `assignment`:
  *  - None: contiguous block split `key * W // nStars` — the fallback
  *    partitioner (metaheuristics.py:287-290);
  *  - Some(map): learned-load-balancer bin assignment
  *    (metaheuristics.py:156-166, 277-285 → dist.LoadBalancer here).
  *
  * The whole point is exact star→worker placement (SURVEY §4.2, §7.3);
  * `FitnessExecutor` applies it on the driver, before `parallelize`.
  */
class StarPartitioner(numWorkers: Int, nStars: Int,
    assignment: Option[Map[Int, Int]]) extends Partitioner {
  override def numPartitions: Int = numWorkers
  override def getPartition(key: Any): Int = {
    val k = key.asInstanceOf[Int]
    assignment match {
      case Some(m) => m(k)
      case None => k * numWorkers / nStars
    }
  }
}

/** Fans one population's fitness evaluation out across the cluster
  * (the reference's metaheuristics.py:225-304).
  *
  * Placement happens on the driver: each star goes to the group
  * `StarPartitioner.getPartition(idx)`, and the `numWorkers` groups are
  * parallelized in `numWorkers` slices, so group i is exactly partition
  * i. The RDD API is kept because it pins each star to the partition the
  * placement chose (the Dataset API exposes no partition choice); doing
  * the placement before `parallelize` instead of with `partitionBy` makes
  * each round one stage of `numWorkers` tasks with no shuffle.
  *
  * All of a partition's stars run serially inside one task so each
  * single-node kernel can use the worker's cores
  * (metaheuristics.py:292-299 note) — configured via `spark.task.cpus`
  * instead of the reference's FileLock (SURVEY §2.2: JVM needs no
  * process isolation or lock file). Only (idx, mask) pairs ship with the
  * tasks; the expression matrix ships once as a Broadcast.
  */
class FitnessExecutor(sc: SparkContext, numWorkers: Int,
    fitness: (Array[Boolean], Int) => FitnessResult,
    balancer: Option[Array[Star] => Map[Int, Double]] = None) extends Serializable {

  def evaluate(stars: Array[Star]): EvalRound = {
    val nStars = stars.length
    val fitnessFn = fitness // avoid closing over `this`
    val (assignment, predicted) = balancer match {
      case Some(predictTimes) =>
        val times = predictTimes(stars)
        val neg = times.find(_._2 < 0)
        require(neg.isEmpty,
          s"load balancer predicted negative time for star ${neg.get._1}")
        (Some(LoadBalancer.binPack(times, numWorkers)), times)
      case None => (None, stars.map(s => s.idx -> -1.0).toMap)
    }
    val start = System.nanoTime()
    val partitioner = new StarPartitioner(numWorkers, nStars, assignment)
    val groups = Array.fill(numWorkers)(Array.newBuilder[(Int, Array[Int])])
    stars.foreach(s => groups(partitioner.getPartition(s.idx)) += s.idx -> s.mask)
    val results = sc.parallelize(groups.map(_.result()).toSeq, numWorkers)
      .mapPartitions(_.flatMap(_.iterator.map { case (idx, mask) =>
        (idx, fitnessFn(mask.map(_ == 1), TaskContext.getPartitionId()))
      }))
      .collect()
    val totalTime = (System.nanoTime() - start) / 1e9
    // The reference indexes collected results positionally, which only
    // matches star order because the fallback partitioner preserves it
    // (metaheuristics.py:593+). Sorting by star index keeps that
    // association correct under ANY placement (balancer bins included).
    EvalRound(results.sortBy(_._1), totalTime, predicted)
  }
}

/** Greedy LPT bin packing: sort stars by predicted time descending,
  * always assign to the least-loaded bin — the `binpacking
  * .to_constant_bin_number` replacement (metaheuristics.py:156-166).
  */
object LoadBalancer {
  def binPack(times: Map[Int, Double], numBins: Int): Map[Int, Int] = {
    val loads = new Array[Double](numBins)
    val out = Map.newBuilder[Int, Int]
    times.toSeq.sortBy { case (idx, t) => (-t, idx) }.foreach { case (idx, t) =>
      val bin = loads.zipWithIndex.minBy { case (l, b) => (l, b) }._2
      loads(bin) += t
      out += idx -> bin
    }
    out.result()
  }
}
