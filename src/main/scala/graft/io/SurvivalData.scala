package graft.io

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import graft.surv.Clinical
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The cleaned survival dataset: samples×features expression matrix plus
  * the aligned clinical target.
  */
case class SurvivalDataset(
    sampleIds: Array[String],
    featureNames: Array[String],
    x: Array[Array[Double]], // samples × features, all finite
    y: Array[Clinical])

/** Survival-data ingest (`read_survival_data`,
  * /root/reference/scripts/utils.py:38-63): TSV → transpose → clean →
  * float64, with the clinical TSV as `(event, time)` per sample.
  *
  * Cleaning semantics preserved EXACTLY and in order
  * (utils.py:33-35; FIXTURES.md §1.1):
  *  1. transpose (on-disk layout is feature-major: molecules are rows);
  *  2. drop any feature column containing ≥1 NaN (NaN only — a column
  *     holding Inf but no NaN survives this step);
  *  3. drop any sample row still containing NaN or ±Inf;
  *  4. everything float64.
  *
  * Divergence (improvement, SURVEY §2.8): the reference assumes molecules
  * and clinical rows are pre-aligned positionally; here the association
  * is an explicit inner join on sample id, and samples dropped by
  * cleaning drop their clinical rows too.
  *
  * Both files are decoded on the driver by [[readTsv]], with no Spark
  * job, as the reference reads them with `pd.read_csv(sep='\t')`: the
  * matrix has to be dense on the driver anyway, because every fitness
  * call consumes the whole matrix via Broadcast (the reference's
  * scripts/core.py:166-169). The distributed ingest
  * path for matrices too wide for one TSV read is
  * [[SurvivalClean.cleanDistributed]] over a parquet/Delta matrix table.
  */
object SurvivalData {

  def parseDouble(s: String): Double =
    if (s == null || s.isEmpty) Double.NaN
    else s.trim.toLowerCase match {
      case "nan" | "na" | "" => Double.NaN
      case "inf" | "+inf" | "infinity" => Double.PositiveInfinity
      case "-inf" | "-infinity" => Double.NegativeInfinity
      case v => try v.toDouble catch { case _: NumberFormatException => Double.NaN }
    }

  /** Decodes one tab-separated input file, read on the driver through
    * Hadoop `FileSystem` so a path resolves as a Spark read would
    * resolve it (schemes, `fs.defaultFS`). Returns the header and the
    * body rows, each row padded with `null` to the header's width.
    *
    * Rules:
    *  - the header's first cell names the index; the other cells name
    *    the columns (for the molecules file, the sample ids) and must be
    *    non-empty and distinct;
    *  - lines end at `\n`, `\r\n` or `\r`, so CRLF files read the same;
    *    blank lines are skipped;
    *  - a cell wrapped in double quotes is read without them (a tab or a
    *    line break inside quotes is not supported);
    *  - a row shorter than the header reads its missing cells as `null`,
    *    which [[parseDouble]] reads as NaN;
    *  - a row longer than the header fails, naming the file and line.
    *
    * Holds no state between calls; safe to call from several threads.
    */
  def readTsv(hadoopConf: Configuration, path: String): (Array[String], Array[Array[String]]) = {
    def unquote(c: String) =
      if (c.length >= 2 && c.head == '"' && c.last == '"') c.substring(1, c.length - 1) else c
    val file = new Path(path)
    val in = new BufferedReader(new InputStreamReader(
      file.getFileSystem(hadoopConf).open(file), StandardCharsets.UTF_8))
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .zipWithIndex.filter(_._1.nonEmpty)
      require(lines.hasNext, s"$path is empty")
      val header = lines.next()._1.split("\t", -1).map(unquote)
      val names = header.tail
      require(!names.contains(""), s"$path: empty column name in the header")
      val dup = names.diff(names.distinct)
      require(dup.isEmpty, s"$path: duplicate column name '${dup.head}' in the header")
      val rows = lines.map { case (line, i) =>
        val cells = line.split("\t", -1)
        require(cells.length <= header.length,
          s"$path line ${i + 1} has ${cells.length} cells, more than the header's ${header.length}")
        Array.tabulate(header.length)(c => if (c < cells.length) unquote(cells(c)) else null)
      }.toArray
      (header, rows)
    } finally in.close()
  }

  /** Reads the feature-major molecules TSV and the clinical TSV with
    * [[readTsv]], applies the cleaning pipeline, returns the aligned
    * dense dataset.
    */
  def read(spark: SparkSession, moleculesPath: String,
      clinicalPath: String): SurvivalDataset = {
    val conf = spark.sparkContext.hadoopConfiguration
    // molecules: rows = molecules, first column = molecule name,
    // remaining columns = samples
    val (header, molRows) = readTsv(conf, moleculesPath)
    val sampleIdsAll = header.drop(1)
    val featureNamesAll = molRows.map(_(0))
    // transpose: x(sample)(feature)
    val nS = sampleIdsAll.length
    val nF = featureNamesAll.length
    val xAll = Array.ofDim[Double](nS, nF)
    var f = 0
    while (f < nF) {
      val row = molRows(f)
      var s = 0
      while (s < nS) { xAll(s)(f) = parseDouble(row(s + 1)); s += 1 }
      f += 1
    }
    // step 2: drop feature columns containing any NaN (NaN only)
    val keepF = (0 until nF).filter(j => !(0 until nS).exists(i => xAll(i)(j).isNaN)).toArray
    // step 3: drop sample rows containing NaN/±Inf among kept columns
    val keepS = (0 until nS).filter(i => keepF.forall(j => !xAll(i)(j).isNaN && !xAll(i)(j).isInfinite)).toArray

    // clinical: index, event, time (positional after the index —
    // utils.py:59-61)
    val (clinHeader, clinRows) = readTsv(conf, clinicalPath)
    require(clinHeader.length == 3,
      s"clinical TSV must be (index, event, time); got ${clinHeader.mkString(",")}")
    val clinical: Map[String, Clinical] = clinRows.map { r =>
      val ev = Option(r(1)).getOrElse("")
      val event = ev == "1" || ev.equalsIgnoreCase("true")
      r(0) -> Clinical(event, parseDouble(r(2)))
    }.toMap

    // explicit alignment join (inner) on sample id
    val aligned = keepS.filter(i => clinical.contains(sampleIdsAll(i)))
    SurvivalDataset(
      sampleIds = aligned.map(sampleIdsAll),
      featureNames = keepF.map(featureNamesAll),
      x = aligned.map(i => keepF.map(j => xAll(i)(j))),
      y = aligned.map(i => clinical(sampleIdsAll(i))))
  }
}

/** Distributed twin of the cleaning pipeline for matrices that live as a
  * wide parquet table (samples as rows): the same column-then-row NaN/Inf
  * semantics, planned by Catalyst — the per-column NaN scan is one
  * aggregate pass, the row filter is codegen'd and pushed over the scan.
  */
object SurvivalClean {

  def isBadCol(c: String) = isnan(col(c)) || col(c).isNull

  /** Step 2+3 of the cleaning contract on a DataFrame whose non-id
    * columns are numeric: drop any-NaN columns, then NaN/Inf rows.
    */
  def cleanDistributed(df: DataFrame, idCols: Seq[String]): DataFrame = {
    val valueCols = df.columns.filterNot(idCols.contains)
    // one aggregate pass: does column c contain a NaN?
    val flags = df.agg(
      max(when(isBadCol(valueCols.head), 1).otherwise(0)).as(valueCols.head),
      valueCols.tail.map(c => max(when(isBadCol(c), 1).otherwise(0)).as(c)): _*
    ).collect()(0)
    val keep = valueCols.zipWithIndex.filter { case (_, i) => flags.getInt(i) == 0 }.map(_._1)
    val kept = df.select((idCols ++ keep).map(col): _*)
    val finite = keep.map(c =>
      !(isnan(col(c)) || col(c).isNull ||
        col(c) === Double.PositiveInfinity || col(c) === Double.NegativeInfinity))
    if (finite.isEmpty) kept else kept.filter(finite.reduce(_ && _))
  }
}
