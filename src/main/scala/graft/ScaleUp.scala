package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data builder: derives an N× dataset from a
  * driver-generated scale-factor directory by id-shifted replication,
  * so the per-query scaling exponents in SCALE.md are MEASURED, not
  * argued (round-9 verdict, next-round item 1). Everything is derived
  * from the driver's own parquet — no synthesized content — and lands
  * under `java.io.tmpdir`, never in `/root/testdata`.
  *
  * Replica design (replica r of R, r = 0 is the original):
  *  - every key family shifts by `r · 10^10` (doc_id, vec_id,
  *    event_id, user_id, and the TPC-H key columns), so foreign keys
  *    stay consistent WITHIN a replica and never collide across
  *    replicas — cardinalities scale ×R like a real bigger corpus,
  *    not like a hotter one;
  *  - `documents.text` suffixes every token with `~r` for r > 0: the
  *    vocabulary, bigram table, shingle space, and media bytes all
  *    grow ×R (real-corpus growth), and a replica is NOT a near-dup
  *    of its original — the duplicate structure of the source corpus
  *    is preserved per replica (components ×R in count, unchanged in
  *    size), which is the honest null hypothesis for dedup scaling.
  *    Within-replica dup/overlap relations are untouched because the
  *    suffix is a bijection on tokens;
  *  - `embeddings.embedding` adds a small deterministic per-replica,
  *    per-dimension jitter (±1e-2 scale) so replicas are distinct
  *    points that still follow the source distribution — cells get
  *    denser the way real 10× data makes them denser;
  *  - `events.ts` shifts by r seconds so replica streams interleave
  *    instead of stacking 10 events on every timestamp;
  *  - `nation`/`region` stay as-is: they are dimensions, and at 100 TB
  *    they would still be 25/5 rows.
  */
object ScaleUp {

  val KeyOffset = 10_000_000_000L

  private def shift(c: String, r: Column): Column =
    col(c) + r.cast("long") * KeyOffset

  /** Replication as a generator, not a union: each source row explodes
    * into `factor` rows carrying a replica index column, and every
    * per-replica transform is a column expression over that index.
    *
    * The first ScaleUp build was `(0 until factor).map(per)
    * .reduce(_ unionAll _)` — fine at factor 10–100, but at factor
    * 10⁴ the left-deep 10,000-way union made Catalyst ANALYSIS itself
    * the bottleneck (quadratic in union width; the r12 sf1000 build
    * spun a full core for >10 minutes without reaching the first write
    * job). ScaleUp failing its own scale test is exactly the class of
    * bug this repo exists to avoid, so the builder now follows the
    * same rule as the engine: constant-size plan, data-sized work —
    * one posexplode of a `factor`-long sequence, fully
    * whole-stage-codegen'd, parallel across input partitions at any
    * factor. Output rows are value-identical to the union build
    * (replica 0 is bit-identical source, transforms are the same
    * expressions); only row order/partitioning differs, which no
    * consumer observes.
    */
  private[graft] def replicate(df: DataFrame, factor: Int)
      (per: (DataFrame, Column) => DataFrame): DataFrame = {
    val withR = df.withColumn("__r",
      explode(sequence(lit(0), lit(factor - 1))))
    per(withR, col("__r")).drop("__r")
  }

  /** Boilerplate-injection mode (`boilerPct > 0`): a fixed percentage
    * of documents — the same base docs in every replica, selected by
    * `doc_id % 100` (the replica offset 10^10 is divisible by 100, so
    * selection is replica-stable) — get one of [[BoilerHeaders]]
    * prepended WITHOUT the per-replica token suffix. This is the df
    * regime token-disjoint replication cannot produce: header-shingle
    * document frequency grows ∝ corpus size (real boilerplate — cookie
    * banners, footer chrome — scales exactly like this), so it is the
    * measurement bed for df valves whose semantics are fractions of
    * corpus size. Default 0 leaves every table byte-identical to the
    * classic replication, keeping r10/r11 exponent tables comparable.
    */
  private[graft] val BoilerHeaders = Vector(
    "terms of service apply to this document all rights reserved by publisher",
    "subscribe to our newsletter for updates and follow us on social media",
    "this page was generated automatically please do not reply to the sender")

  private[graft] def documents(df: DataFrame, factor: Int,
      boilerPct: Int = 0): DataFrame =
    replicate(df, factor) { (d, r) =>
      val base = when(r === 0, col("text")).otherwise(
        array_join(transform(split(trim(col("text")), "\\s+"),
          t => concat(t, lit("~"), r.cast("string"))), " "))
      val text =
        if (boilerPct <= 0) base
        else {
          val header = element_at(array(BoilerHeaders.map(lit): _*),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
          when(pmod(col("doc_id"), lit(100)) < boilerPct,
            concat(header, lit(" "), base)).otherwise(base)
        }
      d.select(shift("doc_id", r).as("doc_id"), text.as("text"),
        col("lang"), col("source"), length(text).as("n_chars"))
    }

  /** Replica jitter keys on the SHIFTED vec_id (the output id), made
    * explicit here: the historical select wrote `col("vec_id")` inside
    * the lambda with `shift(...).as("vec_id")` in the same list, and
    * the analyzer's lateral-column-alias resolution bound the name to
    * the new alias, not the input column. The shifted id is now
    * computed once under a collision-free name (`__sid`) so the lambda
    * binds to the child column deterministically — same values as the
    * historical build (replica corpora stay comparable across rounds)
    * without depending on a name-resolution accident. (Re-spelling the
    * shift expression inline inside the lambda is NOT equivalent: its
    * inner `col("vec_id")` lateral-resolves to the alias again and
    * double-shifts.)
    */
  private[graft] def embeddings(df: DataFrame, factor: Int): DataFrame =
    replicate(df, factor) { (d, r) =>
      val withSid = d.withColumn("__sid", shift("vec_id", r))
      val emb = when(r === 0, col("embedding")).otherwise(
        transform(col("embedding"), (x, i) =>
          x + ((pmod(col("__sid") * 31 + i * 13, lit(101)) - 50)
            .cast("float") * (r.cast("float") * lit(2e-4f)))))
      withSid.select(col("__sid").as("vec_id"), emb.as("embedding"),
        col("label"))
    }

  private[graft] def events(df: DataFrame, factor: Int): DataFrame =
    replicate(df, factor) { (d, r) =>
      d.select(shift("event_id", r).as("event_id"),
        timestamp_micros(unix_micros(col("ts")) + r.cast("long") * 1000000L)
          .as("ts"),
        shift("user_id", r).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

  private[graft] def lineitem(df: DataFrame, factor: Int): DataFrame =
    replicate(df, factor) { (d, r) =>
      d.withColumn("l_orderkey", shift("l_orderkey", r))
        .withColumn("l_partkey", shift("l_partkey", r))
        .withColumn("l_suppkey", shift("l_suppkey", r))
    }

  private[graft] def orders(df: DataFrame, factor: Int): DataFrame =
    replicate(df, factor) { (d, r) =>
      d.withColumn("o_orderkey", shift("o_orderkey", r))
        .withColumn("o_custkey", shift("o_custkey", r))
    }

  private def keyShifted(df: DataFrame, factor: Int,
      keys: String*): DataFrame =
    replicate(df, factor) { (d, r) =>
      keys.foldLeft(d)((acc, k) => acc.withColumn(k, shift(k, r)))
    }

  val AllTables: Set[String] = Set("documents", "embeddings", "events",
    "lineitem", "orders", "customer", "part", "supplier", "nation",
    "region")

  /** `tables` restricts the build to a subset (a rehearsal measuring
    * only document-family queries does not need the ×N lineitem, which
    * dominates the disk footprint ~20:1); `boilerPct` enables
    * boilerplate injection on `documents` (see [[documents]]).
    */
  /** Output file count: a lake at N× scale has ~N× the files, and several
    * consumers' parallelism is scan-split arithmetic (mapPartitions codec
    * kernels chiefly). The first explode build inherited the SOURCE's
    * partitioning — one ~76 MB file for 100× documents — which serialized
    * every media decode onto one task (measured 25×, r12). Cap at 2048 so
    * a 10⁴× build doesn't degenerate into the small-files problem.
    */
  private[graft] def outFiles(factor: Int): Int =
    math.max(64, math.min(2048, factor))

  /** Row count from parquet FOOTER metadata — no Spark job, no data
    * pages read (r12 advisor: the per-table `count()` doubled source
    * reads, and under the build's 1 MB-split conf each count fanned
    * into many tasks for a number the footers already carry).
    */
  private[graft] def parquetRowCount(spark: SparkSession,
      path: String): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, hconf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  def build(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, tables: Set[String] = AllTables,
      boilerPct: Int = 0): Unit = {
    // Parallelism IN comes from splitting the small source files finely
    // (1 MB splits → tens of scan tasks over a bench-scale source); file
    // count OUT comes from maxRecordsPerFile splitting each task's
    // output. The first cut of this fix used repartition(outFiles) —
    // correct file count, but it SHUFFLES the entire scaled dataset: the
    // factor-1000 lineitem build wrote 41+ GB of shuffle before its first
    // parquet byte and would have exhausted the box at factor 10⁴. The
    // builder obeys the engine's own rule: never shuffle what a
    // write-time option can do for free.
    //
    // Both split confs are scoped to the build (r12 advisor): they are
    // session-global, and leaving 1 MB splits behind would silently
    // shred every later scan in the session — ~76k tasks over a 76 GB
    // lake — skewing any in-session benchmark that follows.
    val prevMax = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.getOption("spark.sql.files.openCostInBytes")
    def restore(key: String, prev: Option[String]): Unit = prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      def write(name: String, df: => DataFrame): Unit =
        if (tables(name)) {
          // dimensions stay single-file (25/5 rows at any scale)
          if (name == "nation" || name == "region")
            df.coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name.parquet")
          else {
            val srcRows = parquetRowCount(spark, s"$srcDir/$name.parquet")
            val perFile = math.max(1L,
              srcRows * factor / outFiles(factor))
            df.write.option("maxRecordsPerFile", perFile)
              .mode("overwrite").parquet(s"$outDir/$name.parquet")
          }
        }
      def src(name: String): DataFrame =
        spark.read.parquet(s"$srcDir/$name.parquet")
      write("documents", documents(src("documents"), factor, boilerPct))
      write("embeddings", embeddings(src("embeddings"), factor))
      // the source file's physical ts encoding varies (int64-nanos /
      // NTZ / UTC-µs — see Tables.events); replicate the NORMALIZED
      // load so the shift arithmetic always sees TimestampType
      write("events", events(Tables.events(spark, srcDir), factor))
      write("lineitem", lineitem(src("lineitem"), factor))
      write("orders", orders(src("orders"), factor))
      write("customer", keyShifted(src("customer"), factor, "c_custkey"))
      write("part", keyShifted(src("part"), factor, "p_partkey"))
      write("supplier", keyShifted(src("supplier"), factor, "s_suppkey"))
      write("nation", src("nation"))
      write("region", src("region"))
    } finally {
      restore("spark.sql.files.maxPartitionBytes", prevMax)
      restore("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = new Measure.Args("ScaleUp [srcDir] [outDir] [factor] " +
      "[tablesCsv] [boilerPct]", args)
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1)
      else s"${System.getProperty("java.io.tmpdir")}/graft-sf1"
    val factor = a.int(2).getOrElse(10)
    val tables = a.get(3).filter(_ != "all").map(_.split(",").toSet)
      .getOrElse(AllTables)
    val boilerPct = a.int(4).getOrElse(0)
    require((tables -- AllTables).isEmpty,
      s"unknown tables: ${(tables -- AllTables).mkString(",")}")
    val spark = Measure.session()
    build(spark, srcDir, outDir, factor, tables, boilerPct)
    println(s"""{"scaled":"$outDir","factor":$factor,"src":"$srcDir",""" +
      s""""tables":${tables.size},"boilerPct":$boilerPct}""")
    spark.stop()
  }
}
