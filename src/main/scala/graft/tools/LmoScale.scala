package graft.tools

import java.io.File

import graft.engine.Pipelines
import graft.fixtures.LmoFixtures

/** The catalog build near PRODUCTION cardinality, inputs generated
  * distributedly. Proves the pipelines and the XLSX sink (one collect
  * per sheet, bounded by Excel's sheet limits) hold beyond toy
  * fixtures.
  *
  * The default roster is 500 NOCs × 20 industries × 8 regions. The
  * long employment artifact ("Employment by Ind and Occ for BC and
  * Regions", NOC × industry × published area × year, one sheet) then
  * has (500 + 1) × 20 × 8 × 11 + 1 = 881,761 rows, under Excel's
  * 1,048,576. The reference's real export (~60 industries) would need
  * 2,645,281 rows in that sheet, and `Xlsx.write` rejects it by design;
  * spilling it over several sheets would change the artifact.
  *
  * Usage: runMain graft.tools.LmoScale [nNoc] [nInd] [nRegion]
  */
object LmoScale {
  def main(args: Array[String]): Unit = {
    val nNoc = args.headOption.map(_.toInt).getOrElse(500)
    val nInd = args.lift(1).map(_.toInt).getOrElse(20)
    val nRegion = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Session.build()

    val t0 = System.nanoTime()
    val in = LmoFixtures.scaledInputs(spark, nNoc, nInd, nRegion)
    println(f"employment rows: ${in.employment.count()}%,d  " +
      f"jo rows: ${in.jobOpenings.count()}%,d  " +
      f"occ rows: ${in.occChar.count()}%,d")
    val tGen = (System.nanoTime() - t0) / 1e9

    val out = new File("/tmp/lmo_scale")
    val t1 = System.nanoTime()
    val written = Pipelines.buildAll(in, LmoFixtures.fyod, out)
    val tBuild = (System.nanoTime() - t1) / 1e9
    written.foreach { f =>
      println(f"LMO-SCALE ${new File(out, f).length()}%12d  $f")
    }
    println(f"LMO-SCALE gen=${tGen}%.1fs build=${tBuild}%.1fs " +
      f"(${written.size} artifacts)")
    spark.stop()
  }
}
