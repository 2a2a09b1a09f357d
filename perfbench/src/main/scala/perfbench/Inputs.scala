package perfbench

import java.nio.file.{Files, Path}
import java.util.Locale

/** Generated survival inputs for the BBHA workloads, in the on-disk shape
  * `SurvivalData.read` ingests: a feature-major molecules TSV (one row
  * per molecule, one column per sample) and a clinical TSV
  * `(sample, event, time)`.
  *
  * The scheme follows the golden fixture: the first few molecules carry a
  * signal whose level tracks one of two survival groups, the rest are
  * Gaussian noise. On top of it comes the dirt the cleaning and alignment
  * steps exist for:
  *  - NaN molecules: a NaN cell drops the whole feature;
  *  - ±Inf samples: an infinite cell in a kept feature drops the sample;
  *  - unmatched clinical rows: ids with no molecules column, and a few
  *    samples with no clinical row, so the alignment join drops both.
  *
  * Everything but the signal molecules' positions derives from `seed`:
  * group labels, values, survival times and where the dirt lands. The
  * same seed writes the same bytes.
  */
object Inputs {

  case class Shape(molecules: Int, samples: Int, signal: Int = 5,
      nanMolecules: Int = 10, infSamples: Int = 4,
      extraClinical: Int = 10, missingClinical: Int = 3)

  case class Written(molecules: Path, clinical: Path, cells: Long)

  private def fmt(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isPosInfinity) "inf"
    else if (v.isNegInfinity) "-inf"
    else String.format(Locale.ROOT, "%.4f", Double.box(v))

  def write(dir: Path, shape: Shape, seed: Long): Written = {
    import shape._
    require(signal + nanMolecules < molecules && infSamples + missingClinical < samples,
      s"shape $shape leaves no clean molecules or samples")
    val rng = new scala.util.Random(seed)
    val sampleIds = (1 to samples).map(i => f"S$i%05d")
    val group = Array.fill(samples)(rng.nextInt(2))
    val signalSet = (0 until signal).toSet
    val order = rng.shuffle((signal until molecules).toVector)
    val nanSet = order.take(nanMolecules).toSet
    val cleanMolecules = order.drop(nanMolecules)
    // each ±Inf sample gets one infinite cell in a feature that survives
    val infCell: Map[Int, (Int, Double)] = rng.shuffle((0 until samples).toVector)
      .take(infSamples).map { s =>
        s -> (cleanMolecules(rng.nextInt(cleanMolecules.length)),
          if (rng.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity)
      }.toMap
    val infByMolecule = infCell.toSeq.groupBy(_._2._1)
      .map { case (m, cells) => m -> cells.map { case (s, (_, v)) => s -> v }.toMap }

    val mol = new StringBuilder(molecules * samples * 8)
    mol.append("molecule\t").append(sampleIds.mkString("\t")).append('\n')
    for (m <- 0 until molecules) {
      mol.append(f"MOL$m%05d")
      val nanAt = if (nanSet(m)) Set(rng.nextInt(samples), rng.nextInt(samples)) else Set.empty[Int]
      val infs = infByMolecule.getOrElse(m, Map.empty)
      for (s <- 0 until samples) {
        val v =
          if (nanAt(s)) Double.NaN
          else if (infs.contains(s)) infs(s)
          else if (signalSet(m)) group(s) * 2.0 + rng.nextGaussian() * 0.6
          else rng.nextGaussian()
        mol.append('\t').append(fmt(v))
      }
      mol.append('\n')
    }

    val missing = rng.shuffle((0 until samples).toVector).take(missingClinical).toSet
    val clin = new StringBuilder("sample\tevent\ttime\n")
    def clinicalRow(id: String, g: Int): Unit = {
      val time = if (g == 0) 100.0 + rng.nextInt(400) else 600.0 + rng.nextInt(800)
      val event = if (rng.nextDouble() < 0.8) 1 else 0
      clin.append(id).append('\t').append(event).append('\t').append(fmt(time)).append('\n')
    }
    for (s <- 0 until samples if !missing(s)) clinicalRow(sampleIds(s), group(s))
    for (e <- 1 to extraClinical) clinicalRow(f"X$e%05d", rng.nextInt(2))

    Files.createDirectories(dir)
    val molPath = dir.resolve("molecules.tsv")
    val clinPath = dir.resolve("clinical.tsv")
    Files.writeString(molPath, mol)
    Files.writeString(clinPath, clin)
    Written(molPath, clinPath, molecules.toLong * samples)
  }
}
