package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. `Bench`, `Verify`, the
  * `tools` mains and the test suite's shared session all come from
  * [[build]], so their settings cannot drift apart; [[warmup]] and
  * [[sweep]] are the bench harness's JIT warmup and between-query
  * isolation, shared with `tools.Probe`.
  */
object Session {

  /** Local task slots: `SPARK_GRAFT_CPUS`, else 4. */
  def defaultSlots: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(4)

  /** `local[slots]` with one shuffle partition per slot. AQE keeps
    * Spark's defaults (adaptive execution and partition coalescing on).
    */
  def build(slots: Int = defaultSlots): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // guard, not a fix: a runaway iterative lineage once built 2 GiB
      // plan-description strings per execution (see Graph loop notes);
      // cap the stringifier so any future regression costs ~1 MB of
      // truncated text instead of minutes of CPU per query
      .config("spark.sql.maxPlanStringLength", "1000000")
      // canChangeCachedPlanOutputPartitioning stays at its default, false:
      // the r19 A/B of `true` was net 1.00× (q126 0.62× but q279 1.88×)
      // NOTE (r18): coalescePartitions.parallelismFirst=false was
      // TRIED here (respect the advisory size; fewer tiny tasks) and
      // REVERTED on measurement: the battery's many byte-light but
      // compute-DENSE post-shuffle stages (n-gram dedup, self-BLEU,
      // assoc-rules...) coalesced to ~1 task and serialized — the
      // same failure mode spreadForCompute fixes for the DP metrics.
      // parallelism-first is the right default for this workload mix.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's warmup, run once before anything is timed. */
  def warmup(spark: SparkSession): Unit = {
    // neutral warmup: JIT + codegen + shuffle machinery, no query data
    spark.range(2000000).selectExpr("sum(id * 2)", "count(distinct id % 7)").collect()
    // parquet reader/writer machinery too (a 3-row scratch file, NOT
    // query data — the first measured query should not absorb library
    // class-loading and footer-reader init)
    val warm = java.nio.file.Files.createTempDirectory("bench_warm").toString
    spark.range(3).toDF("id").write.mode("overwrite").parquet(warm)
    spark.read.parquet(warm).agg(org.apache.spark.sql.functions.sum("id")).collect()
    // iterative-plan warmup (still neutral: synthetic ids, no query
    // data). The heavy battery tier (pagerank, label-prop, distill)
    // chains 10-20 join+agg iterations into one deep plan; on a cold
    // JVM the Catalyst analyze→optimize→codegen machinery for that
    // plan runs INTERPRETED and the first such query absorbs a 5-25×
    // multiplier (r12 single-shot bench: q126 39 s vs min-of-2
    // 4.9 s; measured cold-JVM single-shot on this box: 134 s). The
    // trivial warmups above compile a couple of stages — nowhere near
    // enough invocations for C2 to compile the planner itself. Run
    // the REAL iteration loop on a 160-edge synthetic graph (plan
    // machinery cost is identical; data cost is nil), plus one
    // window+join+explode round, so the paths every heavy query hits
    // are JIT-compiled before anything is timed.
    import org.apache.spark.sql.functions._
    val e = spark.range(320)
      .selectExpr("id % 40 AS src", "(id * 7 + 3) % 40 AS dst")
    // repeated rounds: one pass compiles only part of the planner
    // tier (C2 needs repeated invocations); measured cold q126 at
    // sf0.1 on this box: no iterative warmup 134 s, one round 55 s,
    // three rounds 26.6 s, six rounds — see NOTES_r16
    for (_ <- 1 to 6) {
      Bench.measure(graft.ext.Graph.pageRank(e.toDF(), iterations = 10))
      graft.engine.TrackedCache.release()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("id")
    spark.range(5000).selectExpr("id", "id % 50 AS g")
      .select(col("id"), col("g"), row_number().over(w).as("rn"),
        sum(col("id")).over(w.rowsBetween(Long.MinValue, 0)).as("cs"))
      .where(col("rn") <= 3)
      .join(spark.range(50).selectExpr("id AS g", "id * 2 AS gg"), "g")
      .select(col("g"), explode(sequence(lit(1L), lit(3L))).as("k"),
        col("cs") * col("gg"))
      .collect()
    sweep(spark)
  }

  /** Isolation between measured queries (OUTSIDE the timed region):
    * queries manage their own caches, but leftover blocks a query
    * keeps alive by design (e.g. nearDupClusters' final checkpoint,
    * which unpersist can't release) plus accumulated broadcasts and
    * garbage otherwise bleed GC pressure into later queries — the r3
    * battery run showed one query at 4× its stable local time with
    * exactly this signature. Sweep the ledger, the CacheManager AND
    * the persistent-RDD registry (checkpoint RDDs live only in the
    * latter), then let the JVM compact before the next measurement.
    */
  def sweep(spark: SparkSession): Unit = {
    graft.engine.TrackedCache.release()
    spark.catalog.clearCache()
    // BLOCKING unpersist: an async free (executor block drops,
    // ContextCleaner broadcast removal) otherwise runs INTO the next
    // query's timed region — r10 measured a contiguous burst of
    // 1.5-10× slot inflation with exactly this signature
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(150) // let the cleaner thread drain post-GC callbacks
  }
}
