package graft

/** Scale-rehearsal bench: times a NAMED SUBSET of the registered
  * queries against an arbitrary data directory (usually the
  * [[ScaleUp]]-derived 10× set) with the same measurement discipline
  * as [[Bench]] — untimed warmup, pass-isolated timed passes, error
  * honesty — so sf0.1 → sf1 per-query scaling exponents in SCALE.md
  * are apples-to-apples with the round bench.
  *
  * Args: dataDir namesCsv [timedPasses=3] [outFile]
  * [shufflePartitions=cpus] [assetsCsv], where `cpus` is
  * `SPARK_GRAFT_CPUS` (default 32); the session is [[Measure.session]].
  *
  * `assetsCsv` (r13 verdict, directive 5) names [[Assets]] registry
  * entries to FORCE-BUILD — timed individually, dependency order —
  * before the warmup pass, emitted as the `asset_builds` map in the
  * output JSON. With it, every consumer row is pure marginal cost and
  * the once-per-snapshot build prices as its own battery row; without
  * it, builds land untimed inside the warmup (fine for correctness,
  * invisible to the battery).
  *
  * `shufflePartitions` is the knob the 100-TB sizing rule actually
  * turns: partitions must fit in executor memory at the target scale
  * (the r11 rehearsal's first sf1000 attempt OOM'd the whole context
  * with 32 partitions over 16 GB input — ~500 MB shuffle partitions
  * plus sort buffers; 256 partitions of ~60 MB run in the same heap).
  * On a real cluster this is spark.sql.shuffle.partitions growing with
  * input size — AQE coalesces small ones back, so oversizing is cheap
  * and undersizing is fatal.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val a = new Measure.Args("ScaleBench dataDir namesCsv [passes] " +
      "[outFile] [shufflePartitions] [assetsCsv]", args)
    val dataDir = args(0)
    val names = args(1).split(",").toSet
    val passes = a.int(2).getOrElse(3)
    val shufflePartitions = a.int(4)
    val missing = names -- SparkEntry.queries.keySet
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val spark = Measure.session(shufflePartitions)

    val assetNames: Set[String] =
      a.get(5).filter(_.nonEmpty).map(_.split(",").toSet).getOrElse(Set.empty)
    val assetRows = Assets.buildTimed(spark, dataDir, assetNames)
    val assetJson = Measure.obj(assetRows)
    val out = Bench.runBench(spark, dataDir,
      SparkEntry.queries.view.filterKeys(names).toMap, timedPasses = passes)
    // asset_builds rides the same JSON object as the query rows
    val full = out.full.stripSuffix("}") + s""","asset_builds":$assetJson}"""
    Measure.emit(full, args.lift(3))
    spark.stop()
    if (out.errors.nonEmpty) sys.exit(1)
  }
}
