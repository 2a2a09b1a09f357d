package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for [[Bench]] and the measurement mains
  * ([[ScaleBench]], [[PlanDump]], [[ScaleUp]], [[IngestRehearsal]],
  * [[LedgerRehearsal]]), and their shared timing helpers. The session is
  * `local[cpus]` with `cpus` from `SPARK_GRAFT_CPUS` (default 32), AQE
  * with partition coalescing, UTC, no UI — so an sf1/sf10 rehearsal
  * runs on the same session as the bench it is compared to.
  *
  * `SPARK_GRAFT_CODEC` sets the spill/shuffle codec for disk-bound
  * rehearsals: the sf1000 pair-join shuffle is ~3.5B slim long rows —
  * zstd compresses them ~2× over lz4 and is the difference between
  * fitting the box's free disk and not. On a cluster the same conf
  * trades shuffle CPU for network/disk bytes; the round bench keeps lz4
  * (Spark default) so BENCH_r{N} numbers stay comparable.
  */
object Measure {
  /** The builder's settings as data, so a spec can pin them without
    * `getOrCreate` (which returns whatever session the JVM already has).
    * Shuffle partitions default to `cpus`.
    */
  def settings(cpus: Int, shufflePartitions: Option[Int],
      codec: Option[String]): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" ->
        shufflePartitions.getOrElse(cpus).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++
      codec.map("spark.io.compression.codec" -> _)

  /** `SPARK_GRAFT_CPUS`'s value (`None`: unset) as a core count. */
  private[graft] def cpus(raw: Option[String]): Int =
    raw.fold(32)(v => v.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'")))

  def session(shufflePartitions: Option[Int] = None): SparkSession = {
    val spark = settings(cpus(sys.env.get("SPARK_GRAFT_CPUS")), shufflePartitions,
        sys.env.get("SPARK_GRAFT_CODEC"))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.suppressBoundedWindowWarning()
    spark
  }

  /** A measurement main's positional arguments, checked before its
    * session is built. `usage` is the main's name followed by its
    * argument names, optional ones in brackets. A list shorter than the
    * required names or longer than all of them fails with the usage
    * line (so a stale invocation is never misread), and an integer
    * argument that does not parse fails naming the argument.
    */
  final class Args(usage: String, args: Array[String]) {
    private val line = s"usage: $usage"
    private val words = usage.split(" ").toSeq.tail
    private val names = words.map(_.stripPrefix("[").stripSuffix("]"))
    require(args.length >= words.count(!_.startsWith("["))
      && args.length <= names.length, line)

    def get(i: Int): Option[String] = args.lift(i)
    def int(i: Int): Option[Int] =
      get(i).map(v => v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"${names(i)} must be an integer, got '$v'; $line")))
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** 3 decimal places; Locale.ROOT: never a decimal comma. */
  def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A JSON object of numbers at [[r3]] grain. */
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")

  /** Print the result line and write it to `outFile`, if given. */
  def emit(json: String, outFile: Option[String]): Unit = {
    outFile.foreach(f =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), json + "\n"))
    println(json)
  }
}
