package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs started while `body` runs. The listener bus delivers
    * events in order, so a marker job before and after `body` bounds
    * exactly its jobs once the second marker has been seen.
    */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-during-begin")
      body
      marker("jobs-during-end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("jobs-during-end") && System.nanoTime() < deadline) Thread.sleep(10)
      val events = seen.asScala.toSeq
      assert(events.contains("jobs-during-end"), "listener never saw the end marker")
      events.dropWhile(_ != "jobs-during-begin").drop(1).takeWhile(_ != "jobs-during-end").size
    } finally sc.removeSparkListener(listener)
  }
}
