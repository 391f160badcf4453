package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (sbt runs tests in one
  * forked JVM; the builder's getOrCreate reuses it).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.build(slots = 8)
    // the suite's dictionary-sized global windows are allowlisted and
    // PlanChecks.rowScaleGlobalWindows / ScaleSpec guard the row-scale
    // ones, so WindowExec's "No Partition Defined" warning is noise here
    Configurator.setLevel(classOf[WindowExec].getName, Level.ERROR)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf001 = "/root/testdata/sf0.001"
}
