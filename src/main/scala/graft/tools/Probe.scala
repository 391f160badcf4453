package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, Session, SparkEntry}

/** The dev-loop probe, on the session every program main uses.
  *
  *  - `time q...`: after Bench's warmup, runs each query under
  *    `Bench.measure` `SPARK_GRAFT_REPS` times (default 1) with a
  *    listener attached, sweeping after every repetition, and prints
  *
  *    PROBE <name> rep=<i> wall=<s> jobs=N stages=N tasks=N taskTime=<s> cpu=<s> deser=<s> gc=<s>
  *
  *    wall >> taskTime/cores with a high job count = per-action
  *    scheduling floor (batch the actions); taskTime ≈ wall·cores =
  *    real compute (optimize the operators). Construction-time
  *    actions (iterative loops, streaming runs) are included — the
  *    listener is attached BEFORE the query function is invoked.
  *  - `explain q...`: the formatted physical plan, then
  *    `PIN <name> bnlj=N cartesian=N` — the BroadcastNestedLoopJoin /
  *    CartesianProduct counts that feed ScaleSpec's per-entry pin caps.
  *  - `smoke`: the smoke check, `SparkEntry.entry` must return > 0
  *    rows: `SMOKE rows=N PASS|FAIL`.
  *
  * `time` and `explain` read the query tables from `SPARK_GRAFT_SF_DIR`.
  *
  * Usage: runMain graft.tools.Probe <time|explain|smoke> [qname...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val names = args.toSeq.drop(1)
    require(Set("time", "explain", "smoke")(mode),
      "usage: graft.tools.Probe <time|explain|smoke> [qname...]")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
    require(mode == "smoke" || sfDir.nonEmpty,
      s"$mode reads the query tables from SPARK_GRAFT_SF_DIR, which is not set")
    val spark = Session.build()
    try mode match {
      case "time" => time(spark, sfDir.get, names)
      case "explain" => explain(spark, sfDir.get, names)
      case "smoke" => smoke(spark)
    } finally spark.stop()
  }

  private final class Counters extends SparkListener {
    val jobs, stages, tasks, runMs, cpuMs, deserMs, gcMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(t.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        deserMs.addAndGet(m.executorDeserializeTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(1).max(1)
    Session.warmup(spark)
    for (name <- names; rep <- 1 to reps) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      val (secs, err) = Bench.measure(SparkEntry.queries(name)(spark, sfDir))
      // let straggler listener events drain before reading counters
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(c)
      println(f"PROBE $name rep=$rep wall=$secs%.2f jobs=${c.jobs.get} " +
        f"stages=${c.stages.get} tasks=${c.tasks.get} " +
        f"taskTime=${c.runMs.get / 1e3}%.2f cpu=${c.cpuMs.get / 1e3}%.2f " +
        f"deser=${c.deserMs.get / 1e3}%.2f gc=${c.gcMs.get / 1e3}%.2f " +
        err.map(e => s"ERR=$e").getOrElse(""))
      Session.sweep(spark)
    }
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (name <- names) {
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      println(s"==== EXPLAIN $name ====")
      println(qe.explainString(ExplainMode.fromString("formatted")))
      val plan = qe.executedPlan.toString
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      val cart = "CartesianProduct".r.findAllIn(plan).size
      println(s"PIN $name bnlj=$bnlj cartesian=$cart")
      Session.sweep(spark)
    }

  private def smoke(spark: SparkSession): Unit = {
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE rows=$n ${if (n > 0) "PASS" else "FAIL"}")
  }
}
