package graft.tools

import java.io.File

import graft.engine.Pipelines
import graft.fixtures.LmoFixtures

/** The catalog build at PRODUCTION cardinality (~500 NOCs × 60
  * industries × 10 regions — the reference's real export size, ~2.7M
  * long jo rows), inputs generated distributedly. Proves the
  * pipelines and the streaming XLSX sink hold beyond toy fixtures.
  *
  * Usage: runMain graft.tools.LmoScale [nNoc] [nInd] [nRegion]
  */
object LmoScale {
  def main(args: Array[String]): Unit = {
    val nNoc = args.headOption.map(_.toInt).getOrElse(500)
    val nInd = args.lift(1).map(_.toInt).getOrElse(60)
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
