package graft.tools

import java.io.File

import graft.engine.Pipelines
import graft.fixtures.LmoFixtures

/** End-to-end catalog build — the engine's equivalent of
  * `source("01_source_me.R")`: write raw fixture CSVs, ingest them
  * through the skip-preamble/NA-token path, build all ten artifacts.
  *
  * Usage: runMain graft.tools.LmoRun [outDir]
  */
object LmoRun {
  def main(args: Array[String]): Unit = {
    val outDir = new File(args.headOption.getOrElse("/tmp/lmo_out"))
    val spark = graft.Session.build()

    val raw = java.nio.file.Files.createTempDirectory("lmo_raw").toFile
    LmoFixtures.writeRawCsvs(spark, raw)
    println(s"raw inputs: ${raw.listFiles().map(_.getName).sorted.mkString(", ")}")

    val inputs = LmoFixtures.ingest(spark, raw)
    val written = Pipelines.buildAll(inputs, LmoFixtures.fyod, outDir)
    written.foreach { f =>
      val size = new File(outDir, f).length()
      println(f"LMO-ARTIFACT $size%8d  $f")
    }
    println(s"LMO-RUN wrote ${written.size} artifacts to $outDir")
    spark.stop()
  }
}
