package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities (SCALE.md): deterministic salting for hot
  * keys, complementing AQE's runtime skew-join splitting. AQE handles
  * skew it can SEE (post-shuffle partition sizes); salting is the
  * plan-level tool when a key's row count is pathological enough that
  * even one split partition busts memory, or when AQE is off.
  */
object Skew {

  /** Deterministic salt in [0, n): hashed from the given column (use a
    * high-cardinality payload column, NOT the group key — salting by
    * the key would put every copy of the hot key in one salt bucket).
    */
  def saltOf(c: Column, n: Int): Column = pmod(xxhash64(c), lit(n.toLong)).cast("int")

  /** Two-phase salted aggregation: partial aggregate on (keys, salt)
    * spreads a hot key over `n` reducers, the final aggregate on keys
    * combines the n partials. Works for any algebraic aggregate;
    * `sum`s here. Identical results to the direct aggregation (pinned
    * in ScaleSpec) — decimal inputs keep it bit-identical.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                saltSrc: Column, n: Int): DataFrame =
    df.withColumn("_salt", saltOf(saltSrc, n))
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).as(s"sum_$valueCol"))

  /** Spread COMPUTE-DENSE per-row work across the session's shuffle
    * parallelism (r18 optimization round, guide §2). AQE's partition
    * coalescing targets BYTES (the advisory partition size), which is
    * exactly wrong for operators whose per-row cost dwarfs their row
    * width — DP token metrics, per-pair n-gram counts, positional
    * codec decodes, per-row container construction. At bench scale
    * the whole frame coalesces to ONE task (measured: q354/q361 ran
    * their then-interpreted 7–8 s DP stage on a single core with 31
    * idle); at cluster scale a bytes-sized
    * partition of such rows is minutes of single-task compute the
    * same way. The fix is an explicit hash repartition on the row key
    * to the session's spark.sql.shuffle.partitions — an explicitly
    * NUMBERED repartition (REPARTITION_BY_NUM), which AQE never
    * re-coalesces — so the partition count rides the user's scale
    * knob, not a constant, and the extra exchange moves only the thin
    * pre-compute rows.
    */
  def spreadForCompute(df: DataFrame, key: Column): DataFrame = {
    val n = try df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case _: NumberFormatException =>
        df.sparkSession.sparkContext.defaultParallelism }
    df.repartition(n, key)
  }

  /** The inverse of [[spreadForCompute]] (r19 optimization round,
    * guide §2.2 "fewer, larger partitions"): compact a frame that a
    * LOOP is about to cache to a SIZE-DERIVED partition count before
    * persisting it. Iterative operators (PageRank, HITS, label
    * propagation, triangle orientation) re-read their cached edge
    * frame once per round; materialized at the full shuffle-partition
    * count, every round pays a full-width task wave over partitions
    * that hold a few KB each — measured at sf0.1: 32-task stages,
    * taskTime 2-3× CPU time, per-task deserialization of the deep
    * iterative plan dominating (q214: 85 s deser across 662 tasks).
    * AQE cannot fix this (cached-plan re-partitioning is off by
    * default, and flipping it globally regressed compute-dense cache
    * consumers 1.5-1.9× — see graft.Session), so the compaction is
    * explicit and the count derives from the LEAF SCAN bytes: n =
    * clamp(ceil(scanBytes / advisoryBytes), 1, defaultParallelism).
    * Tiny inputs coalesce to one partition; at warehouse scale the
    * clamp keeps full parallelism, so nothing here is tuned to
    * local[32]. Unknown-size leaves (checkpointed RDDs report
    * Long.MaxValue) saturate the clamp and leave parallelism alone —
    * the conservative direction. The repartition is an explicitly
    * NUMBERED hash exchange (REPARTITION_BY_NUM), which AQE never
    * re-splits, and it moves only the already-reduced frame being
    * cached.
    */
  def compactForOverhead(df: DataFrame, keys: Seq[Column],
                         advisoryBytes: Long = 1L << 20): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val maxP = df.sparkSession.sparkContext.defaultParallelism
    val n =
      if (bytes >= BigInt(advisoryBytes) * maxP) maxP
      else math.max(1L, ((bytes + advisoryBytes - 1) / advisoryBytes).toLong).toInt
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }

  /** Salted equi-join for a skewed LEFT side against a smaller right
    * side: left rows get a deterministic salt, the right side is
    * replicated once per salt value, and the join key becomes
    * (key, salt) — a hot key's rows now land on `n` different
    * reducers. Right-side blowup is n× (choose n = skew factor, keep
    * the right side small or pre-filtered).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltSrc: Column, n: Int, joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("_salt", saltOf(saltSrc, n))
    val replicatedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(n - 1)))).withColumn("_salt", col("_salt").cast("int"))
    saltedLeft.join(replicatedRight, Seq(key, "_salt"), joinType).drop("_salt")
  }
}
