package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.{Ingest, Pipelines, TrackedCache}
import graft.sinks.{Archive, Xlsx}

/** One runner JVM of a benchmark run (started by run.py).
  *
  * A run is a cold pass, `Warmup` untimed passes, then at least
  * `MinPasses` timed passes, and more until `seconds` have elapsed.
  * With `cold-only 1` it is the cold pass alone: run.py starts such a
  * JVM for a second cold pass.
  * Outside every timer: after each build or query of a timed pass the live
  * heap is read after full collections; after each build or query all
  * caches are dropped, and the outputs are deleted. With `trace 1` a SparkListener and a
  * QueryExecutionListener count jobs, tasks and planning phases, and the
  * timed passes time the calls into the program's modules from outside.
  *
  * Modes:
  *  - catalog: ingest the raw CSVs with `Ingest`, then `Pipelines.buildAll`.
  *  - queries: each named `SparkEntry.queries` entry to the noop sink; the
  *    cold pass writes every result as parquet for the oracle check.
  *
  * Everything measured goes to the JSON file `result`.
  */
object Runner {

  /** Task slots: below the host's 4 cores, which other tenants share. */
  val Slots = 3
  /** First year of the outlook; gen.py writes its inputs with the same year. */
  val Fyod = 2024
  /** Untimed passes after the cold one: the second pass in a JVM is still
    * slower than the later ones, in both modes.
    */
  val Warmup = 1
  /** Timed passes: the warm metric is the fastest of them. One is enough:
    * the host's fast and slow spells last tens of seconds, so a second
    * pass in the same JVM reads like the first (in the reference sets the
    * faster of two timed passes spread as widely as either alone).
    */
  val MinPasses = 1

  final case class Opts(mode: String, raw: File, out: File, seconds: Double, trace: Boolean,
                        queries: Seq[(String, String)], sf: String, result: File,
                        coldOnly: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("mode"), new File(m.getOrElse("raw", ".")), new File(m("out")),
      m("seconds").toDouble, m("trace") == "1",
      m.get("queries").toSeq.flatMap(_.split(",")).map { s =>
        val Array(n, c) = s.split(":"); n -> c
      },
      m.getOrElse("sf", ""), new File(m("result")), m.get("cold-only").contains("1"))
  }

  /** The session settings of `graft.Bench`, with every path inside the
    * benchmark's work directory.
    */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Per-pass counters from the listener bus (traced runs only). */
  final class Counters extends SparkListener with QueryExecutionListener {
    private val keys = Seq("spark.jobs", "spark.stages", "spark.tasks",
      "spark.task_cpu_s", "spark.task_run_s", "spark.task_deser_s", "spark.gc_s",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
      "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms")
    private val c = mutable.Map[String, Double]()
    private val starts = mutable.ArrayBuffer[Long]()
    private def add(k: String, v: Double): Unit = synchronized { c(k) = c.getOrElse(k, 0.0) + v }
    /** Submission times (epoch ms) of the jobs counted so far. */
    def jobStarts: Seq[Long] = synchronized { starts.toList }
    def take(): Map[String, Double] = synchronized {
      val m = keys.map(k => k -> c.getOrElse(k, 0.0)).toMap
      c.clear()
      starts.clear()
      m
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      add("spark.jobs", 1)
      starts += j.time
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (p, s) =>
        if (Set("analysis", "optimization", "planning")(p)) add(s"catalyst.${p}_ms", s.durationMs.toDouble)
      }
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) f.listFiles().map(bytesUnder).sum else f.length()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ——— the catalog ———

  /** The reference's read path: skip the 3-line preamble, "x" as NA in
    * the characteristics file (found by glob), remove empty rows/columns.
    */
  def ingest(spark: SparkSession, raw: File): Pipelines.LmoInputs = {
    def read(name: String, na: String = ""): DataFrame =
      Ingest.removeEmpty(Ingest.readCsv(spark, new File(raw, name).getAbsolutePath,
        skip = 3, nullValue = na))
    val occ = Ingest.resolveFiles(spark, s"${raw.getAbsolutePath}/*Occupational Characteristics*")
      .headOption.getOrElse(sys.error(s"no Occupational Characteristics file under $raw"))
    Pipelines.LmoInputs(
      employment = read("employment.csv"),
      jobOpenings = read("job_openings.csv"),
      occChar = Ingest.removeEmpty(Ingest.readCsv(spark, occ, skip = 3, nullValue = "x")),
      clusters = Ingest.readCsv(spark, new File(raw, "clusters.csv").getAbsolutePath))
  }

  val zipName = "JO by Type, Ind and Occ for BC and Regions (long).zip"
  val zipEntry = "JO by Type, Ind and Occ for BC and Regions (long).csv"

  def catalogPass(spark: SparkSession, o: Opts, dir: File): Unit = {
    val written = Pipelines.buildAll(ingest(spark, o.raw), Fyod, dir)
    require(written.size == 10, s"buildAll wrote ${written.size} artifacts, expected 10")
  }

  /** Samples one thread's stack every 5 ms and names the outermost of the
    * modules `Ingest`, `Xlsx` and `Archive` on it, else "pipelines": where
    * the thread spends its wall time, and where it was when a job started
    * (jobs that adaptive execution submits from other threads included).
    */
  final class Sampler(target: Thread) extends Thread("perfbench-sampler") {
    private val modules = Seq("graft.engine.Ingest" -> "ingest", "graft.sinks.Xlsx" -> "xlsx",
      "graft.sinks.Archive" -> "archive")
    private val seconds = mutable.Map[String, Double]().withDefaultValue(0.0)
    private val samples = mutable.ArrayBuffer[(Long, String)]()
    @volatile private var running = true
    setDaemon(true)

    override def run(): Unit = {
      var last = System.nanoTime()
      while (running) {
        Thread.sleep(5)
        val classes = target.getStackTrace.reverseIterator.map(_.getClassName)
        val m = classes.flatMap(c => modules.collectFirst { case (p, n) if c.startsWith(p) => n })
          .nextOption().getOrElse("pipelines")
        val now = System.nanoTime()
        seconds(m) += (now - last) / 1e9
        samples += ((System.currentTimeMillis(), m))
        last = now
      }
    }

    def finish(): Unit = {
      running = false
      join()
    }

    /** Seconds per module; read after `finish`. */
    def split: Map[String, Double] = seconds.toMap

    /** The module of the first sample at or after `epochMs`; after `finish`. */
    def moduleAt(epochMs: Long): String =
      samples.find(_._1 >= epochMs).map(_._2).getOrElse("pipelines")
  }

  /** A traced catalog pass: the untraced pass (ingest, then
    * `Pipelines.buildAll`), with a timer around each of the two calls and a
    * stack sampler attributing time and jobs to `Ingest`, `Xlsx`, `Archive`
    * and the rest. Then, apart: `Pipelines.allWorkbooks`, every sheet's
    * DataFrame to the noop sink, and `Xlsx.write` over pre-collected
    * one-partition copies of the sheets.
    */
  def tracedCatalogPass(spark: SparkSession, o: Opts, dir: File, scratch: File,
                        counters: Counters, drop: () => Unit): Map[String, Double] = {
    val sampler = new Sampler(Thread.currentThread())
    sampler.start()
    val ((_, ingestS), (written, buildS)) =
      try {
        val i = secs(ingest(spark, o.raw))
        (i, secs(Pipelines.buildAll(i._1, Fyod, dir)))
      } finally sampler.finish()
    require(written.size == 10, s"buildAll wrote ${written.size} artifacts, expected 10")
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size.toDouble
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val jobs = Seq("ingest", "pipelines", "xlsx", "archive").map(m => s"$m.jobs" -> 0.0).toMap ++
      counters.jobStarts.groupBy(sampler.moduleAt).map { case (m, ts) => s"$m.jobs" -> ts.size.toDouble }
    val counts = counters.take() ++ jobs
    drop()

    // construct, compute and encode, apart from the build; the two fact
    // inputs are cached, as the build caches them
    val in2 = ingest(spark, o.raw)
    val cached = in2.copy(employment = in2.employment.cache(), jobOpenings = in2.jobOpenings.cache())
    val (arts, constructS) = secs(Pipelines.allWorkbooks(cached, Fyod))
    val computeS = arts.flatMap(_.sheets).map(s =>
      secs(s.df.write.format("noop").mode("overwrite").save())._2).sum
    var cells = 0L
    val encodeS = arts.map { a =>
      val local = a.sheets.map { s =>
        val rows = s.df.collect()
        cells += (rows.length + 1L) * s.df.columns.length
        s.copy(df = spark.createDataFrame(rows.toSeq.asJava, s.df.schema))
      }
      secs(Xlsx.write(local, new File(scratch, a.fileName)))._2
    }.sum
    rm(scratch)
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    counters.take()
    counts ++ Map(
      "traced_pass_s" -> (ingestS + buildS),
      "ingest.s" -> ingestS,
      "pipelines.build_s" -> buildS,
      "pipelines.construct_s" -> constructS,
      "pipelines.compute_s" -> computeS,
      "xlsx.write_s" -> sampler.split.getOrElse("xlsx", 0.0),
      "xlsx.encode_s" -> encodeS,
      "xlsx.cells" -> cells.toDouble,
      "xlsx.ns_per_cell" -> encodeS * 1e9 / math.max(cells, 1L),
      "archive.zip_s" -> sampler.split.getOrElse("archive", 0.0),
      "session.cached_frames_after" -> cachedAfter)
  }

  // ——— main ———

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = o.out.getParentFile
    val spark = session(work)
    val counters = new Counters
    if (o.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val queryFns = if (o.mode == "queries") SparkEntry.queries else Map.empty[String, (SparkSession, String) => DataFrame]
    o.queries.foreach { case (n, _) => require(queryFns.contains(n), s"unknown query $n") }

    var peakHeap = 0L
    val heap = ManagementFactory.getMemoryMXBean
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def liveHeap(): Unit = {
      // let the program's non-blocking unpersists, and the context
      // cleaner's removals that the first collection triggers, finish
      Thread.sleep(100)
      System.gc()
      Thread.sleep(100)
      System.gc()
      peakHeap = math.max(peakHeap, heap.getHeapMemoryUsage.getUsed)
    }
    def drop(): Unit = {
      TrackedCache.release()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    var attempted = 0
    val errors = mutable.ArrayBuffer[String]()
    /** Wall and process CPU seconds of one operation; None if it failed. */
    def attempt(what: String)(body: => Unit): Option[(Double, Double)] = {
      attempted += 1
      val cpu0 = os.getProcessCpuTime
      try {
        val wall = secs(body)._2
        Some((wall, (os.getProcessCpuTime - cpu0) / 1e9))
      } catch {
        case e: Throwable =>
          errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}"
          None
      }
    }

    val cold = new File(o.out, "cold")
    val passDir = new File(o.out, "pass")
    val scratch = new File(o.out, "scratch")
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val perConstruct = mutable.Map[String, Double]().withDefaultValue(0.0)
    val coldQuery = mutable.LinkedHashMap[String, Double]()
    val failedOp = (Double.NaN, Double.NaN)

    /** One pass: (wall seconds, CPU seconds), NaN if an operation failed.
      * In timed passes the live heap is read after each build or query,
      * before the caches are dropped.
      */
    def pass(first: Boolean, timed: Boolean): (Double, Double) = o.mode match {
      case "catalog" =>
        val dir = if (first) cold else passDir
        val t = attempt("catalog pass")(catalogPass(spark, o, dir))
        if (timed) liveHeap()
        drop()
        if (!first) rm(passDir)
        t.getOrElse(failedOp)
      case "queries" =>
        val ts = o.queries.map { case (name, _) =>
          var constructS = 0.0
          val t = attempt(name) {
            val (df, c) = secs(queryFns(name)(spark, o.sf))
            constructS = c
            if (first) df.coalesce(1).write.mode("overwrite").parquet(new File(cold, name).getAbsolutePath)
            else df.write.format("noop").mode("overwrite").save()
          }.getOrElse(failedOp)
          if (timed) liveHeap()
          drop()
          if (first) coldQuery(name) = t._1
          if (timed) {
            perQuery.getOrElseUpdate(name, mutable.ArrayBuffer()) += t._1
            perConstruct(name) += constructS
          }
          t
        }
        (ts.map(_._1).sum, ts.map(_._2).sum)
    }

    val firstPassEpochMs = System.currentTimeMillis()
    val (coldS, coldCpuS) = pass(first = true, timed = false)
    val warmupS = if (o.coldOnly) Seq.empty
      else (1 to Warmup).map(_ => pass(first = false, timed = false)._1)
    val timedS = mutable.ArrayBuffer[Double]()
    val timedCpuS = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    while (!o.coldOnly && (timedS.size < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds)) {
      if (o.trace && o.mode == "catalog") {
        counters.take()
        var m = Map.empty[String, Double]
        attempt("traced catalog pass") {
          m = tracedCatalogPass(spark, o, passDir, scratch, counters, () => drop())
        }
        liveHeap()
        drop()
        rm(passDir)
        traced += m
        timedS += m.getOrElse("traced_pass_s", Double.NaN)
      } else {
        if (o.trace) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          counters.take()
        }
        val before = perConstruct.values.sum
        val (s, c) = pass(first = false, timed = true)
        timedS += s
        timedCpuS += c
        if (o.trace) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          val construct = perConstruct.values.sum - before
          traced += counters.take() ++ Map(
            "traced_pass_s" -> s,
            "query.construct_s" -> construct,
            "query.action_s" -> (s - construct))
        }
      }
    }

    val classSums: Map[String, Double] = o.queries.groupBy(_._2).map { case (cls, qs) =>
      s"query.${cls}_s" -> qs.map { case (n, _) => perQuery.get(n).map(_.min).getOrElse(Double.NaN) }.sum
    }
    val layers: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else traced.flatMap(_.keys).distinct.map(k => k -> median(traced.flatMap(_.get(k)).toSeq)).toMap ++ classSums

    if (o.mode == "queries") {
      val sql = SparkEntry.oracleSql
      Files.writeString(new File(o.out, "oracle_sql.json").toPath,
        Json.obj(o.queries.map { case (n, _) => n -> sql.get(n).orNull }), StandardCharsets.UTF_8)
    }

    val conf = (spark.sparkContext.getConf.getAll.toSeq ++ spark.conf.getAll.toSeq)
      .sortBy(_._1).toMap
    val result = Json.obj(Seq(
      "first_pass_epoch_ms" -> firstPassEpochMs,
      "cold_pass_s" -> coldS,
      "cold_pass_cpu_s" -> coldCpuS,
      "warmup_pass_s" -> warmupS,
      "timed_pass_s" -> timedS.toSeq,
      "timed_pass_cpu_s" -> timedCpuS.toSeq,
      "peak_live_heap_mb" -> peakHeap / 1048576.0,
      "artifact_bytes" -> bytesUnder(cold),
      "attempted" -> attempted,
      "failed" -> errors.size,
      "errors" -> errors.toSeq,
      "query_cold_s" -> coldQuery.toSeq,
      "query_s" -> perQuery.map { case (k, v) => k -> v.toSeq }.toSeq,
      "class_s" -> classSums.toSeq.sortBy(_._1),
      "layers" -> layers.toSeq.sortBy(_._1),
      "spark_version" -> spark.version,
      "task_slots" -> spark.sparkContext.defaultParallelism,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_conf" -> conf.toSeq))
    Files.writeString(o.result.toPath, result, StandardCharsets.UTF_8)
    spark.stop()
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
