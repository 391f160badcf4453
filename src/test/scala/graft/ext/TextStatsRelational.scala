package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.TextStats.tokens

/** The relational forms `TextStats.chrF`, `rougeL` and `wer` had
  * before their counts moved into `graft.functions.PairCounts`: the
  * reference side of the native-vs-relational laws in
  * `TextKernelProps`. Same signatures and output columns.
  *
  *  - chrF explodes every character n-gram of both sides and counts
  *    them in one (pair, n, gram) aggregate, joined back onto a
  *    (pair, n) spine of gram totals.
  *  - rougeL folds the LCS row DP over the candidate tokens with the
  *    dependency-free prefix-max rewrite
  *    new[j] = max(prev[j], max_{i≤j}(prev[i−1] + eq_i)).
  *  - wer folds the Levenshtein row DP with the prefix-min rewrite
  *    new[j] = min_{i≤j}(c_i + (j − i)).
  *
  * Both folds are O(m·n²) interpreted higher-order functions, the
  * steps the DuckDB oracles of q354/q361 unroll.
  */
object TextStatsRelational {

  def rougeL(pairs: DataFrame, maxTokens: Int = 24,
             idCol: String = "pair_id", candCol: String = "cand_text",
             refCol: String = "ref_text"): DataFrame = {
    require(maxTokens >= 1, s"rougeL: maxTokens >= 1, got $maxTokens")
    // capped token arrays in their OWN projection (HOF re-inline rule);
    // the DP below is compute-dense (≈ maxTokens³ interpreted integer
    // ops per pair over ~200-byte rows), so spread the thin token rows
    // across the session's shuffle parallelism first — AQE's
    // bytes-targeted coalescing otherwise runs the whole DP on one
    // task (measured 7.8 s single-core at sf0.1, 31 cores idle)
    val toks = graft.engine.Skew.spreadForCompute(
      pairs.select(col(idCol),
        slice(tokens(col(candCol)), 1, maxTokens).as("_ct"),
        slice(tokens(col(refCol)), 1, maxTokens).as("_rt")),
      col(idCol))
    val dp = toks.withColumn("_dp", expr(
      """aggregate(
        |  _ct,
        |  array_repeat(CAST(0 AS BIGINT), size(_rt) + 1),
        |  (prev, ctok) -> concat(
        |    array(CAST(0 AS BIGINT)),
        |    transform(sequence(1, size(_rt)), j ->
        |      greatest(
        |        element_at(prev, j + 1),
        |        array_max(transform(sequence(1, j), i ->
        |          element_at(prev, i) +
        |            IF(element_at(_rt, i) = ctok, 1L, 0L)))))))""".stripMargin))
    dp.select(col(idCol),
        size(col("_ct")).cast("long").as("cand_len"),
        size(col("_rt")).cast("long").as("ref_len"),
        element_at(col("_dp"), size(col("_rt")) + 1).as("lcs"))
      .select(col(idCol), col("cand_len"), col("ref_len"), col("lcs"),
        round(col("lcs").cast("double") / col("cand_len"), 6)
          .as("rouge_l_p"),
        round(col("lcs").cast("double") / col("ref_len"), 6)
          .as("rouge_l_r"),
        round(lit(2.0) * col("lcs") / (col("cand_len") + col("ref_len")), 6)
          .as("rouge_l_f"))
      .orderBy(idCol)
  }

  def chrF(pairs: DataFrame, maxN: Int = 6, idCol: String = "pair_id",
           candCol: String = "cand_text",
           refCol: String = "ref_text"): DataFrame = {
    require(maxN >= 1, s"chrF: maxN >= 1, got $maxN")
    // NOT persisted: 3 consumers re-strip the text, but measured
    // (sf0.1 min-of-3) recompute beats the cache write + memory
    // pressure of materializing corpus-scale strings (6.55 s vs 7.04).
    // Spread first (q354 rule): the gram explode + partial count that
    // feeds the clipped-count shuffle is ~12×len codegen'd rows per
    // pair — at bench scale AQE's bytes-coalescing left that map
    // stage on the scan's single input partition
    val chars = graft.engine.Skew.spreadForCompute(
      pairs.select(col(idCol),
        regexp_replace(lower(col(candCol)), "\\s+", "").as("_c"),
        regexp_replace(lower(col(refCol)), "\\s+", "").as("_r")),
      col(idCol))
    // both sides' grams in ONE side-tagged long frame → a single
    // (pair, n, gram) count shuffle with both per-side counts as
    // conditional sums — no gram-level join at all (the former
    // two-aggregate + sort-merge-join shape shuffled the same bytes
    // twice and sorted them once more)
    def gramsOf(side: String, tag: Int): DataFrame = chars
      .select(col(idCol), col(side).as("_s"), lit(tag).as("_side"),
        explode(sequence(lit(1), lit(maxN))).as("_n"))
      .filter(length(col("_s")) >= col("_n"))
      .select(col(idCol), col("_n"), col("_side"), col("_s"),
        explode(sequence(lit(1), length(col("_s")) - col("_n") + 1))
          .as("_p"))
      .select(col(idCol), col("_n"), col("_side"),
        expr("substring(_s, _p, _n)").as("_g"))
    val clipped = gramsOf("_c", 0).unionByName(gramsOf("_r", 1))
      .groupBy(col(idCol), col("_n"), col("_g"))
      .agg(sum(when(col("_side") === 0, 1L).otherwise(0L)).as("_cc"),
        sum(when(col("_side") === 1, 1L).otherwise(0L)).as("_cr"))
      .filter(col("_cc") > 0L && col("_cr") > 0L)
      .groupBy(col(idCol), col("_n"))
      .agg(sum(least(col("_cc"), col("_cr"))).as("_cl"))
    val spine = chars.select(col(idCol),
        length(col("_c")).cast("long").as("_lc"),
        length(col("_r")).cast("long").as("_lr"),
        explode(sequence(lit(1), lit(maxN))).as("_n"))
      .select(col(idCol), col("_n"),
        greatest(col("_lc") - col("_n") + 1L, lit(0L)).as("_tc"),
        greatest(col("_lr") - col("_n") + 1L, lit(0L)).as("_tr"))
    val per = spine.join(clipped, Seq(idCol, "_n"), "left")
      .select(col(idCol),
        round(lit(1e9) * coalesce(col("_cl"), lit(0L)) /
          greatest(col("_tc"), lit(1L))).cast("long").as("_pu"),
        round(lit(1e9) * coalesce(col("_cl"), lit(0L)) /
          greatest(col("_tr"), lit(1L))).cast("long").as("_ru"))
    per.groupBy(col(idCol))
      .agg(sum("_pu").as("_sp"), sum("_ru").as("_sr"))
      .select(col(idCol),
        round(col("_sp").cast("double") / (maxN * 1e9), 6).as("chrf_p"),
        round(col("_sr").cast("double") / (maxN * 1e9), 6).as("chrf_r"),
        when(lit(4.0) * col("_sp") + col("_sr") > 0,
          round(lit(5.0) * col("_sp") * col("_sr") /
            (lit(4.0) * col("_sp") + col("_sr")) / (maxN * 1e9), 6))
          .otherwise(0.0).as("chrf2"))
      .orderBy(idCol)
  }

  def wer(pairs: DataFrame, maxTokens: Int = 24,
          idCol: String = "pair_id", candCol: String = "cand_text",
          refCol: String = "ref_text"): DataFrame = {
    require(maxTokens >= 1, s"wer: maxTokens >= 1, got $maxTokens")
    // capped token arrays in their OWN projection (HOF re-inline
    // rule); NULL-side pairs are unscorable (size(NULL) is −1) — drop.
    // Spread before the DP: compute-dense per-row work, the q354 rule
    // (AQE bytes-coalescing otherwise single-tasks the DP stage)
    val toks = graft.engine.Skew.spreadForCompute(
      pairs
        .filter(col(idCol).isNotNull && col(candCol).isNotNull &&
          col(refCol).isNotNull)
        .select(col(idCol),
          slice(tokens(col(candCol)), 1, maxTokens).as("_ct"),
          slice(tokens(col(refCol)), 1, maxTokens).as("_rt")),
      col(idCol))
    // the single-element-array transform is a LET binding: the c_i
    // candidate row (prev[i]+1 / prev[i−1]+sub_i) is built ONCE per
    // DP row instead of being re-derived inside every j's prefix-min
    // (interpreted-HOF eval re-runs lambda bodies per element —
    // measured ~2× on the inner-op count)
    val dp = toks.withColumn("_dp", expr(
      """aggregate(
        |  _ct,
        |  transform(sequence(0, size(_rt)), x -> CAST(x AS BIGINT)),
        |  (prev, ctok) -> transform(
        |    array(transform(sequence(0, size(_rt)), i ->
        |      IF(i = 0,
        |         element_at(prev, 1) + 1L,
        |         least(element_at(prev, i + 1) + 1L,
        |           element_at(prev, i) +
        |             IF(element_at(_rt, i) = ctok, 0L, 1L))))),
        |    c -> transform(sequence(0, size(_rt)), j ->
        |      array_min(transform(sequence(0, j), i ->
        |        element_at(c, i + 1) + CAST(j - i AS BIGINT)))))[0])""".stripMargin))
    dp.select(col(idCol),
        size(col("_ct")).cast("long").as("cand_len"),
        size(col("_rt")).cast("long").as("ref_len"),
        element_at(col("_dp"), size(col("_rt")) + 1).as("edits"))
      .select(col(idCol), col("cand_len"), col("ref_len"), col("edits"),
        when(col("ref_len") > 0L,
          round(col("edits").cast("double") / col("ref_len"), 6))
          .as("wer"))
      .orderBy(idCol)
  }
}
