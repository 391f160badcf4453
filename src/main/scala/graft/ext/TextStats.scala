package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.engine.TrackedCache.Trackable
import graft.functions.PairCounts

/** Text analysis for large-scale training-data pipelines: token
  * counting, quality scoring, fingerprinting, language ID. Everything
  * is built from `org.apache.spark.sql.functions` (codegen'd or
  * JVM-native higher-order functions) — no UDFs — so the whole surface
  * stays inside Catalyst and scales linearly with zero shuffles.
  */
object TextStats {

  /** Whitespace tokenization (lowercased). */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** A BPE-ish subword proxy: alnum runs + single punctuation marks
    * each count as one token (roughly what a byte-pair tokenizer's
    * pre-tokenizer sees).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(t) > 0 && t =!= " ")).cast("long")

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

  /** # tokens that are stopwords (with multiplicity — array_intersect
    * would dedup and undercount).
    */
  def stopwordCount(text: Column, stops: Seq[String] = defaultStopwords): Column = {
    val stopArr = array(stops.map(lit): _*)
    size(filter(tokens(text), t => array_contains(stopArr, t))).cast("long")
  }

  def stopwordRatio(text: Column, stops: Seq[String] = defaultStopwords): Column =
    stopwordCount(text, stops).cast("double") / tokenCount(text)

  /** # of punctuation characters (explicit class for oracle parity). */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,;:!?]", ""))).cast("long")

  def meanWordLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: long-enough, low punctuation
    * density, sane stopword ratio — the usual cheap pre-filter before
    * expensive dedup/scoring stages.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val punctOk = lit(1.0) - least(punctCount(text).cast("double") / tokenCount(text), lit(1.0))
    val stopOk = when(stopwordRatio(text).between(0.01, 0.6), lit(1.0)).otherwise(lit(0.5))
    round((lenScore + punctOk + stopOk) / lit(3.0), 6)
  }

  /** The Gopher quality-rule battery (Rae et al. 2021, §A1.1 — the
    * de-facto standard pre-filter for web training corpora), as one
    * map-only projection: per-document structural metrics plus the
    * composite `pass` gate. All built-ins + HOFs over arrays that are
    * materialized ONCE in their own projection (the interpreted-HOF
    * re-evaluation trap — see Dedup.shingles), so the battery is a
    * zero-shuffle scan at any corpus size.
    *
    * Rules (document fails if any gate fails):
    *  - word count in [minWords, maxWords];
    *  - mean word length in [3, 10] chars;
    *  - symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1;
    *  - ≤ 90% of lines start with a bullet ('-', '*', '•');
    *  - ≤ 30% of lines end with '...';
    *  - ≥ 80% of words contain an alphabetic character;
    *  - ≥ 2 distinct common-English stopword hits.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherQuality(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    minWords: Long = 50L, maxWords: Long = 100000L,
                    minStopHits: Long = 2L): DataFrame = {
    val t = col(textCol)
    val base = docs.select(col(idCol), t,
      tokens(t).as("_toks"), split(t, "\n").as("_lines"))
    val toks = col("_toks")
    val lines = col("_lines")
    val nWords = size(toks).cast("long")
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val ellipses = regexp_count(t, lit("\\.\\.\\.")).cast("long")
    val bulletFrac =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") /
        size(lines)
    val ellipsisFrac =
      size(filter(lines, l => l.endsWith("..."))).cast("double") / size(lines)
    val alphaFrac =
      size(filter(toks, w => w.rlike("[a-z]"))).cast("double") / size(toks)
    val stopHits = gopherStopwords
      .map(s => when(array_contains(toks, s), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val m = base.select(col(idCol),
      nWords.as("n_words"),
      round(meanWordLen(t), 6).as("mean_word_len"),
      round((hashes + ellipses).cast("double") / nWords, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_line_frac"),
      round(ellipsisFrac, 6).as("ellipsis_line_frac"),
      round(alphaFrac, 6).as("alpha_word_frac"),
      stopHits.as("stop_hits"))
    m.withColumn("pass",
      col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(3.0, 10.0) &&
        (col("symbol_ratio") <= 0.1) &&
        (col("bullet_line_frac") <= 0.9) &&
        (col("ellipsis_line_frac") <= 0.3) &&
        (col("alpha_word_frac") >= 0.8) &&
        (col("stop_hits") >= minStopHits))
  }

  /** Filter-disparity audit — the fairness check every quality gate
    * owes its corpus: per group (language, source, dialect), the
    * gate's keep rate vs the corpus-wide rate. A gate tuned on
    * English (stopword lists, word-length bands) silently starves
    * other languages out of the training mix; this is the table that
    * makes the starvation visible before the mix ships. Disparity is
    * the keep-rate ratio (1 = neutral, <1 = under-kept), computed
    * from the RAW ratios then rounded once; NULL when nothing passes
    * anywhere. One doc-keyed join + one group rollup + a broadcast
    * 1-row total attach — group-dictionary-sized output.
    */
  def filterDisparity(docs: DataFrame, groupCol: String = "lang",
                      idCol: String = "doc_id", textCol: String = "text",
                      minWords: Long = 50L,
                      minStopHits: Long = 2L): DataFrame = {
    val gated = gopherQuality(docs, idCol, textCol, minWords,
      minStopHits = minStopHits).select(col(idCol), col("pass"))
    val lab = docs.select(col(idCol), col(groupCol).as("grp"))
    val per = gated.join(lab, idCol).groupBy("grp")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    val tot = per.agg(sum("n_docs").cast("long").as("_n"),
      sum("n_pass").cast("long").as("_p"))
    per.crossJoin(broadcast(tot))
      .select(col("grp"), col("n_docs"), col("n_pass"),
        round(col("n_pass").cast("double") / col("n_docs"), 6)
          .as("keep_rate"),
        round(col("_p").cast("double") / col("_n"), 6).as("overall_rate"),
        when(col("_p") > 0L,
          round((col("n_pass").cast("double") / col("n_docs")) /
            (col("_p").cast("double") / col("_n")), 6)).as("disparity"))
      .orderBy("grp")
  }

  /** Unigram log-probability scoring — the language-model-proxy
    * quality filter (CCNet's "perplexity bucket" idea with the
    * corpus's own unigram model standing in for the LM): score each
    * document by the mean ln p(token) under the corpus unigram
    * distribution. Gibberish and boilerplate-heavy docs sit in the
    * tails; the middle of the distribution is "normal" text.
    *
    * Shape: token explode (map) → frequency aggregate (one shuffle
    * on token) → join back on the SAME key (exchange reused) → one
    * per-doc aggregate. Linear at any corpus size; the frequency
    * table is vocabulary-sized.
    */
  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("n")).select(col("n"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("tf").cast("double") / col("n"))), 6)
          .as("avg_logprob"))
  }

  /** DSIR-style importance weight for target-domain data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" — here with unigram features over the
    * corpus's own tokenization): score every document by the mean
    * per-token log importance ratio ln p_target(tok) − ln p_corpus
    * (tok), where the target distribution is the token counts of the
    * `targetSource` slice with add-one smoothing over the corpus
    * vocabulary (tokens the target never saw get the floor mass
    * 1/(N_t+V) instead of −∞) and the corpus distribution is the
    * plain MLE (every scored token exists in the corpus by
    * construction). High scores = "looks like the target domain";
    * selection takes the top slice (or samples ∝ exp(weight)).
    *
    * Shape: two vocabulary-sized count tables + one scalar triple
    * (N_c, N_t, V) riding as broadcast 1-row frames; the scoring
    * join is token-keyed — linear in corpus tokens, never
    * document-pair-shaped. round(6) absorbs summation-order FP
    * reorder (~1e-13 over document-length sums), the q89 discipline.
    */
  def dsirWeights(docs: DataFrame, targetSource: String,
                  idCol: String = "doc_id", srcCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), col(srcCol).as("_src"),
      explode(tokens(col(textCol))).as("tok"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
    val nc = toks.agg(count(lit(1)).as("cn"))
    val tgtToks = toks.where(col("_src") === targetSource)
    val tgt = tgtToks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val nt = tgtToks.agg(count(lit(1)).as("tn"))
    val vocab = corpus.agg(count(lit(1)).as("v"))
    toks.join(corpus, "tok")
      .join(tgt, Seq("tok"), "left")
      .crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(
          log((coalesce(col("tf"), lit(0L)).cast("double") + 1.0) /
              (col("tn") + col("v")).cast("double")) -
          log(col("cf").cast("double") / col("cn").cast("double"))), 6)
          .as("importance"))
  }

  /** Bigram log-probability scoring — one LM rung above
    * `unigramLogProb`: score each document by the mean
    * ln p(wᵢ | wᵢ₋₁) under the corpus's own bigram model
    * (c(wᵢ₋₁,wᵢ)/c(wᵢ₋₁), MLE — every observed bigram has positive
    * count by construction, so no smoothing term is needed for
    * self-scoring). Catches locally-incoherent text (word salad with
    * plausible unigrams) that the unigram score passes.
    *
    * Shape: bigram extraction is MAP-ONLY (adjacent pairs inside the
    * row's own token array — no positional self-join); then one
    * shuffle each for the bigram and unigram count tables, and joins
    * back on those same keys. Linear at any corpus size. Documents
    * with fewer than two tokens have no bigrams and drop out.
    */
  /** BLEU-component clipped n-gram precisions (Papineni et al. 2002
    * — the "modified precision" half of BLEU; the geometric mean and
    * smoothing choices live downstream of these integers): for each
    * (candidate, reference) text pair and n ∈ {1, 2},
    * clipped_n = Σ_g min(count_cand(g), count_ref(g)) and
    * p_n = clipped_n / total_cand_ngrams — all-integer counts, one
    * rounded division per n, p_2 NULL when the candidate has no
    * bigram. Also reports both token lengths (the brevity-penalty
    * inputs).
    *
    * Scale shape: two per-pair gram explodes + (pair, gram) counts +
    * one pair-keyed equi-join per n (grams absent from either side
    * clip to zero and never join); one pair rollup. No windows.
    */
  def clippedNgramPrecision(pairs: DataFrame, idCol: String = "pair_id",
                            candCol: String = "cand_text",
                            refCol: String = "ref_text"): DataFrame = {
    def gramCounts(textCol: String, n: Int, out: String): DataFrame = {
      val withToks = pairs.select(col(idCol),
        tokens(col(textCol)).as("_toks"))
      val grams =
        if (n == 1) withToks.select(col(idCol),
          explode(col("_toks")).as("_g"))
        else withToks.filter(size(col("_toks")) >= n)
          .select(col(idCol), explode(expr(
            "transform(sequence(0, size(_toks) - 2), i -> " +
              "concat(_toks[i], ' ', _toks[i + 1]))")).as("_g"))
      grams.groupBy(col(idCol), col("_g")).agg(count(lit(1)).as(out))
    }
    def clipped(n: Int): DataFrame =
      gramCounts(candCol, n, "_cc")
        .join(gramCounts(refCol, n, "_cr"), Seq(idCol, "_g"))
        .groupBy(col(idCol))
        .agg(sum(least(col("_cc"), col("_cr"))).as(s"clipped_$n"))
    val lens = pairs.select(col(idCol),
      size(tokens(col(candCol))).cast("long").as("cand_len"),
      size(tokens(col(refCol))).cast("long").as("ref_len"))
    lens
      .join(clipped(1), Seq(idCol), "left")
      .join(clipped(2), Seq(idCol), "left")
      .select(col(idCol), col("cand_len"), col("ref_len"),
        coalesce(col("clipped_1"), lit(0L)).as("clipped_1"),
        round(coalesce(col("clipped_1"), lit(0L)).cast("double") /
          col("cand_len"), 6).as("p1"),
        coalesce(col("clipped_2"), lit(0L)).as("clipped_2"),
        when(col("cand_len") >= 2L,
          round(coalesce(col("clipped_2"), lit(0L)).cast("double") /
            (col("cand_len") - 1L), 6)).as("p2"))
      .orderBy(idCol)
  }

  /** SQuAD-style answer scoring (Rajpurkar et al. 2016's official
    * metric pair): exact match on whitespace-normalized lowercase
    * text, and bag-of-tokens F1 — overlap = Σ_w min(count_cand(w),
    * count_ref(w)), P = overlap/|cand|, R = overlap/|ref|, and the
    * harmonic mean collapses to F1 = 2·overlap/(|cand|+|ref|), so
    * every output is an integer or ONE rounded division of integers.
    *
    * Scale shape: one (pair, token)-count join (the clipped-count
    * shape of [[clippedNgramPrecision]]) + one pair rollup; the EM
    * column is a single normalized string comparison. No windows.
    */
  def answerTokenF1(pairs: DataFrame, idCol: String = "pair_id",
                    candCol: String = "cand_text",
                    refCol: String = "ref_text"): DataFrame = {
    def counts(textCol: String, out: String): DataFrame =
      pairs.select(col(idCol), explode(tokens(col(textCol))).as("_w"))
        .groupBy(col(idCol), col("_w")).agg(count(lit(1)).as(out))
    val overlap = counts(candCol, "_cc")
      .join(counts(refCol, "_cr"), Seq(idCol, "_w"))
      .groupBy(col(idCol))
      .agg(sum(least(col("_cc"), col("_cr"))).as("overlap"))
    def norm(c: Column): Column =
      regexp_replace(trim(lower(c)), "\\s+", " ")
    pairs.select(col(idCol),
        size(tokens(col(candCol))).cast("long").as("cand_len"),
        size(tokens(col(refCol))).cast("long").as("ref_len"),
        (norm(col(candCol)) === norm(col(refCol))).cast("long")
          .as("exact_match"))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol), col("cand_len"), col("ref_len"),
        col("exact_match"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        round(coalesce(col("overlap"), lit(0L)).cast("double") /
          col("cand_len"), 6).as("p_tok"),
        round(coalesce(col("overlap"), lit(0L)).cast("double") /
          col("ref_len"), 6).as("r_tok"),
        round(lit(2.0) * coalesce(col("overlap"), lit(0L)) /
          (col("cand_len") + col("ref_len")), 6).as("f1"))
      .orderBy(idCol)
  }

  /** ROUGE-L (Lin 2004, "ROUGE: A Package for Automatic Evaluation
    * of Summaries") over (candidate, reference) text pairs — the
    * generation-eval twin of [[clippedNgramPrecision]]'s BLEU
    * components: LCS-based recall = LCS/|ref|, precision = LCS/|cand|
    * and (β=1) F = 2·LCS/(|cand|+|ref|) — the harmonic mean collapses
    * to one integer-ratio division exactly as in [[answerTokenF1]].
    * Token sequences are CAPPED at `maxTokens` per side (documented
    * truncation — ROUGE on document-scale texts is a chunked metric).
    * A NULL side scores a NULL `lcs`.
    *
    * The LCS length is the textbook O(m·n) row DP, run natively per
    * row by [[graft.functions.PairCounts.tokenLcs]]. Any exact DP over
    * the same capped tokens gives the same integer, so the DuckDB
    * oracle (an unrolled prefix-max fold) agrees bit for bit.
    *
    * Scale shape: map-only — tokenize+cap in one projection, the
    * kernel in the next (computed once; the three ratios read its
    * column); no explode, no join, no aggregate. Output one row per
    * pair.
    */
  def rougeL(pairs: DataFrame, maxTokens: Int = 24,
             idCol: String = "pair_id", candCol: String = "cand_text",
             refCol: String = "ref_text"): DataFrame = {
    require(maxTokens >= 1, s"rougeL: maxTokens >= 1, got $maxTokens")
    cappedTokens(pairs, maxTokens, idCol, candCol, refCol)
      .select(col(idCol),
        size(col("_ct")).cast("long").as("cand_len"),
        size(col("_rt")).cast("long").as("ref_len"),
        PairCounts.tokenLcs(col("_ct"), col("_rt")).as("lcs"))
      .select(col(idCol), col("cand_len"), col("ref_len"), col("lcs"),
        round(col("lcs").cast("double") / col("cand_len"), 6)
          .as("rouge_l_p"),
        round(col("lcs").cast("double") / col("ref_len"), 6)
          .as("rouge_l_r"),
        round(lit(2.0) * col("lcs") / (col("cand_len") + col("ref_len")), 6)
          .as("rouge_l_f"))
      .orderBy(idCol)
  }

  /** Each pair's token arrays capped at `maxTokens`, in their own
    * projection, spread across the session's shuffle parallelism:
    * the pair kernels are compute-dense over thin rows, and AQE's
    * bytes-targeted coalescing would otherwise run them on one task.
    */
  private def cappedTokens(pairs: DataFrame, maxTokens: Int, idCol: String,
                           candCol: String, refCol: String): DataFrame =
    graft.engine.Skew.spreadForCompute(
      pairs.select(col(idCol),
        slice(tokens(col(candCol)), 1, maxTokens).as("_ct"),
        slice(tokens(col(refCol)), 1, maxTokens).as("_rt")),
      col(idCol))

  /** chrF (Popović 2015, "chrF: character n-gram F-score") over
    * (candidate, reference) pairs — the character-level generation
    * metric that complements q350's word-level BLEU components and
    * [[rougeL]]: for n = 1..`maxN`, P_n / R_n are the clipped
    * character-n-gram precision/recall (whitespace stripped — the
    * sacrebleu default — and LOWERCASED, this engine's normalization
    * choice: sacrebleu's chrF is case-sensitive by default, so a
    * sacrebleu cross-check must pass its lowercase option),
    * macro-averaged over orders, combined with
    * β = 2 (recall weighted double — chrF2):
    * chrF2 = 5·P·R / (4·P + R). Grams are code points, the unit of
    * `length`; a NULL side counts as empty (scores 0).
    *
    * Engine-exactness: each order's P_n/R_n is ONE integer ratio
    * quantized to a 1e-9 BIGINT before the per-pair sum (integer
    * additions are order-free), and the final chrF2 is one mirrored
    * double expression over the two quantized sums. Orders longer
    * than a side contribute 0 (denominators clamp at 1) — the
    * documented simplification vs sacrebleu's effective-order
    * handling, applied identically in both engines.
    *
    * Scale shape: map-only. The clipped counts never cross pairs, so
    * [[graft.functions.PairCounts.chrfClipped]] counts every order's
    * grams inside the row (one array column, computed once); the
    * per-order gram totals come from string lengths and the
    * quantized sums are unrolled over n. No explode, no join, no
    * aggregate.
    */
  def chrF(pairs: DataFrame, maxN: Int = 6, idCol: String = "pair_id",
           candCol: String = "cand_text",
           refCol: String = "ref_text"): DataFrame = {
    require(maxN >= 1, s"chrF: maxN >= 1, got $maxN")
    def stripped(c: String): Column =
      coalesce(regexp_replace(lower(col(c)), "\\s+", ""), lit(""))
    val counts = graft.engine.Skew.spreadForCompute(
        pairs.select(col(idCol), stripped(candCol).as("_c"),
          stripped(refCol).as("_r")),
        col(idCol))
      .select(col(idCol),
        length(col("_c")).cast("long").as("_lc"),
        length(col("_r")).cast("long").as("_lr"),
        PairCounts.chrfClipped(col("_c"), col("_r"), maxN).as("_cl"))
    // Σ_n round(1e9 · clipped_n / max(len − n + 1, 1))
    def quantizedSum(len: String): Column = (1 to maxN).map(n =>
      round(lit(1e9) * col("_cl").getItem(n - 1) /
        greatest(col(len) - (n - 1L), lit(1L))).cast("long")).reduce(_ + _)
    counts.select(col(idCol), quantizedSum("_lc").as("_sp"),
        quantizedSum("_lr").as("_sr"))
      .select(col(idCol),
        round(col("_sp").cast("double") / (maxN * 1e9), 6).as("chrf_p"),
        round(col("_sr").cast("double") / (maxN * 1e9), 6).as("chrf_r"),
        when(lit(4.0) * col("_sp") + col("_sr") > 0,
          round(lit(5.0) * col("_sp") * col("_sr") /
            (lit(4.0) * col("_sp") + col("_sr")) / (maxN * 1e9), 6))
          .otherwise(0.0).as("chrf2"))
      .orderBy(idCol)
  }

  /** Distinct-n diversity (Li et al. 2016, "A Diversity-Promoting
    * Objective Function for Neural Conversation Models"): per prompt
    * roster, distinct_n = (# unique word n-grams across the roster's
    * responses) / (total n-grams), for n = 1, 2 — THE standard
    * mode-collapse diagnostic for sampled generations (a roster of
    * near-identical responses scores near 1/k). All integer counts;
    * one rounded division per n.
    *
    * Scale shape: two (prompt, gram) count aggregates (the n-gram
    * explode in relational long form) + one prompt rollup; bounded
    * rosters, no windows.
    */
  def distinctN(responses: DataFrame, promptCol: String,
                textCol: String): DataFrame = {
    val toks = responses.select(col(promptCol),
      tokens(col(textCol)).as("_toks"))
    def stats(n: Int): DataFrame = {
      val grams =
        if (n == 1) toks.select(col(promptCol),
          explode(col("_toks")).as("_g"))
        else toks.filter(size(col("_toks")) >= n)
          .select(col(promptCol), col("_toks"),
            explode(sequence(lit(0), size(col("_toks")) - n)).as("_p"))
          .select(col(promptCol), expr(
            (0 until n).map(j => s"_toks[_p + $j]")
              .mkString("concat_ws(' ', ", ", ", ")")).as("_g"))
      grams.groupBy(col(promptCol), col("_g"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col(promptCol))
        .agg(count(lit(1)).as(s"uniq_$n"), sum("_c").as(s"total_$n"))
    }
    val resp = responses.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_resp"))
    resp
      .join(stats(1), Seq(promptCol), "left")
      .join(stats(2), Seq(promptCol), "left")
      .select(col(promptCol), col("n_resp"),
        coalesce(col("total_1"), lit(0L)).as("total_1"),
        coalesce(col("uniq_1"), lit(0L)).as("uniq_1"),
        when(coalesce(col("total_1"), lit(0L)) > 0,
          round(col("uniq_1").cast("double") / col("total_1"), 6))
          .as("distinct_1"),
        coalesce(col("total_2"), lit(0L)).as("total_2"),
        coalesce(col("uniq_2"), lit(0L)).as("uniq_2"),
        when(coalesce(col("total_2"), lit(0L)) > 0,
          round(col("uniq_2").cast("double") / col("total_2"), 6))
          .as("distinct_2"))
      .orderBy(promptCol)
  }

  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // materialize the token array in its OWN projection before the
    // HOF indexes it (HOF-lambda re-evaluation trap)
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
    val bi = withToks
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_toks) - 2), i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"))
        .as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val uniFreq = docs.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val biFreq = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    bi.join(biFreq, Seq("w1", "w2"))
      .join(uniFreq, "w1")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("cb").cast("double") / col("cu"))), 6)
          .as("avg_logprob"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995;
    * the interpolated fixed-discount form of Chen & Goodman 1998,
    * d = 0.75) — the LM-quality rung above [[bigramLogProb]]'s MLE:
    * the lower-order distribution is the CONTINUATION probability
    * (how many distinct contexts precede w), not the unigram
    * frequency, so boilerplate tokens that always follow one fixed
    * context ("Francisco" after "San") stop inflating scores:
    *   P_KN(w|v) = (max(c(vw) − d, 0) + d·N1+(v·)·N1+(·w)/B) / c(v)
    * with N1+(v·)/N1+(·w) the distinct right/left neighbor counts
    * and B the total distinct bigram types. Every observed bigram
    * scores positive (λ(v) > 0), so self-scoring needs no floor.
    * Per doc: mean ln P_KN over its bigrams, round(6) absorbing
    * double-sum reorder (the q89 discipline).
    *
    * Scale shape: the bigram long form is map-only; three
    * dictionary tables all derive from ONE (w1, w2) count aggregate
    * (context totals and right-neighbor types roll up from it, left
    * types likewise) + token-keyed joins back; one doc rollup. No
    * windows.
    */
  def knBigramLogProb(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"knBigramLogProb: discount must be in (0, 1), got $discount")
    val withToks = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
    val bi = withToks
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_toks) - 2), i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"))
        .as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val biFreq = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .trackedPersist() // feeds ctx/left rollups + the scoring join
    val fromCtx = biFreq.groupBy("w1")
      .agg(sum("cb").as("cl"), count(lit(1)).as("nr"))
    val toWord = biFreq.groupBy("w2").agg(count(lit(1)).as("nl"))
    val types = biFreq.agg(count(lit(1)).as("bt"))
    val d = lit(discount)
    bi.join(biFreq, Seq("w1", "w2"))
      .join(fromCtx, "w1")
      .join(toWord, "w2")
      .crossJoin(broadcast(types))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(
          (greatest(col("cb").cast("double") - d, lit(0.0)) +
            d * col("nr") * col("nl") / col("bt")) / col("cl"))), 6)
          .as("avg_kn_logprob"))
      .orderBy(idCol)
  }

  /** CCNet-style perplexity buckets: split the corpus into
    * head / middle / tail thirds by language-model score (here the
    * corpus's own unigram LM via `unigramLogProb`) — the published
    * CCNet recipe keeps head+middle and drops (or downweights) the
    * tail. Thresholds are the 1/3 and 2/3 quantiles of the score.
    *
    * Scale shape: NO global sort/ntile (a single-partition window
    * would serialize the corpus); instead the two thresholds reduce
    * to one tiny aggregate row, broadcast back, and bucketing is a
    * map-only CASE. Thresholds round to 6 to stay engine-exact.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    // the scored table feeds two consumers (threshold aggregate +
    // bucketing scan); one eager checkpoint of the doc-count-sized
    // result beats re-running the token explode + frequency join
    val scored = unigramLogProb(docs, idCol, textCol)
      .select(col(idCol), col("avg_logprob"))
      .trackedLocalCheckpoint()
    val th = scored.agg(
      round(expr("percentile(avg_logprob, 0.6666666666666666)"), 6).as("_t_head"),
      round(expr("percentile(avg_logprob, 0.3333333333333333)"), 6).as("_t_mid"))
    scored.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("avg_logprob") >= col("_t_head"), "head")
          .when(col("avg_logprob") >= col("_t_mid"), "middle")
          .otherwise("tail"))
      .select(col(idCol), col("avg_logprob"), col("bucket"))
  }

  /** One pair-count round of BPE tokenizer training: the frequency of
    * every adjacent character pair, weighted by word frequency — the
    * inner statistic of byte-pair encoding (each merge round picks the
    * argmax pair; iterating this operator with a driver-side merge
    * table IS distributed BPE training). Returns the top `k` pairs
    * ordered (count desc, pair asc — fully deterministic).
    *
    * Shape: one shuffle to build the word-frequency table (vocabulary-
    * sized), then map-only pair explosion over the VOCABULARY (not the
    * corpus — the wc weight carries occurrence counts), and one
    * final vocabulary-sized aggregate. At 100 TB the corpus-sized
    * stage is only the first word count.
    */
  def bpePairCounts(docs: DataFrame, k: Int = 25,
                    textCol: String = "text"): DataFrame = {
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("total"))
      .orderBy(col("total").desc, col("pair"))
      .limit(k)
  }

  /** Content-defined fingerprint: md5 of the whitespace-normalized,
    * lowercased text. Stable across engines (md5 is standard), used as
    * the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** 64-bit rolling-style document fingerprint via xxhash64 over the
    * normalized text (cheap, codegen'd; NOT portable to the oracle —
    * covered by rows-only checks and unit tests).
    */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(text), "\\s+", " "))

  /** Character-n-gram language ID heuristic: score each candidate
    * language by hits of its characteristic stopwords/character
    * n-grams in the text, pick the argmax (ties → alphabetical).
    * Pure column expressions — runs distributed, no shuffle.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", "th", "ing"),
    "de" -> Seq(" der ", " und ", " die ", " ist ", "sch", "ei"),
    "es" -> Seq(" el ", " la ", " de ", " es ", "ción", "ll"),
    "fr" -> Seq(" le ", " la ", " et ", " est ", "eau", "ou"),
    "zh" -> Seq("的", "是", "了", "在", "有", "我"))

  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => when(contains(lower(text), lit(m)), 1).otherwise(0))
      .reduce(_ + _)

  def langId(text: Column): Column = {
    // array_max compares structs field-by-field: score first, then
    // -index so score ties resolve to the alphabetically-first lang.
    val scored = langMarkers.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((lang, ms), i) =>
        struct(langScore(text, ms).as("score"), lit(-i).as("tie"),
          lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** URL token pattern for normalization: scheme://non-space run.
    * Single-sourced into the q119 oracle (the `Urls`/`Privacy`
    * convention for regex parity).
    */
  val UrlTokenRe: String = "[a-z][a-z0-9+.-]*://[^\\s]+"

  /** CCNet-style text normalization, map-only and engine-portable:
    * lowercase → strip URL tokens → strip everything but
    * [a-z0-9 whitespace .,!?'] → collapse whitespace → trim. The
    * canonical pre-tokenization cleanup; composes with `fingerprint`
    * for normalization-invariant dedup keys.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), UrlTokenRe, " "),
        "[^a-z0-9\\s.,!?']", " "),
      "\\s+", " "))

  /** Inverted-index build (the search/retrieval index shape): one row
    * per vocabulary token with its document frequency, total term
    * frequency, and the posting list rendered as
    * "doc:tf,doc:tf,…" ordered by doc id.
    *
    * Scale: two shuffles — (token, doc) partial counts (map-side
    * combine collapses within-doc repeats before the exchange), then
    * the per-token list assembly. Per-token state is its posting
    * list; `maxDf` is the guard for boilerplate/stop-word tokens,
    * whose lists would otherwise be corpus-sized (drop them — a
    * retrieval index has no use for a term that matches everything;
    * the IDF weight of such a term is ~0 anyway). `minDf` trims the
    * hapax tail, which at corpus scale is most of the vocabulary.
    * Posting order inside the list comes from `array_sort` over
    * (doc, tf) structs — deterministic under any partitioning.
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 1,
                    maxDf: Option[Long] = Some(100000L),
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token", "doc").agg(count(lit(1)).as("tf"))
    val assembled = perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        array_sort(collect_list(struct(col("doc"), col("tf")))).as("_post"))
    val guarded = maxDf.fold(assembled)(cap => assembled.filter(col("df") <= cap))
    guarded.filter(col("df") >= minDf)
      .select(col("token"), col("df"), col("tf_total"),
        array_join(transform(col("_post"),
          p => concat(p.getField("doc").cast("string"), lit(":"),
            p.getField("tf").cast("string"))), ",").as("postings"))
  }

  /** Pointwise mutual information of adjacent token pairs — the
    * collocation detector (fixed multi-word expressions, templated
    * boilerplate) used when building tokenizer merge candidates and
    * phrase vocabularies.
    *
    * PMI(x,y) = ln( (c_xy/M) / ((c_x/N)·(c_y/N)) ) with N total
    * tokens, M total bigrams — all counts exact integers, ONE ln per
    * surviving bigram, so cross-engine parity needs no sum hygiene.
    * `minCount` kills the hapax tail (PMI is noise below ~10 obs);
    * ranking is by round(pmi, 6) desc then bigram asc — a total order
    * both engines reproduce.
    *
    * Scale: one shuffle each for bigram and unigram counts; the two
    * unigram joins are keyed shuffles bounded by the surviving bigram
    * vocabulary (minCount-capped). N and M ride along as a broadcast
    * 1-row cross join.
    */
  def pmiBigrams(docs: DataFrame, minCount: Long = 10, k: Int = 25,
                 textCol: String = "text"): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("_t"))
    val uni = toks.select(explode(col("_t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bg = toks.filter(size(col("_t")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("_t")) - 1),
          i => struct(element_at(col("_t"), i).as("w1"),
                      element_at(col("_t"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val totals = uni.agg(sum("cw").as("n_tokens")).crossJoin(
      bg.agg(sum("cxy").as("m_bigrams")))
    val scored = bg
      .join(uni.select(col("w").as("w1"), col("cw").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cy")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("cxy"),
        round(log(col("cxy").cast("double") * col("n_tokens") * col("n_tokens")
          / (col("m_bigrams").cast("double") * col("cx") * col("cy"))), 6)
          .as("pmi"))
    // exact top-k via TakeOrderedAndProject — never a global sort
    graft.engine.Ranks.topK(scored, k, col("pmi").desc, col("bigram").asc)
  }

  /** Sentence segmentation statistics per document: sentence count,
    * mean and max tokens per sentence. A "sentence" is a [.!?]+-split
    * piece containing at least one alphanumeric; token counts are
    * whitespace words. Everything is per-row array arithmetic over
    * integer counts — MAP-ONLY, no shuffle, and exactly replayable.
    */
  def sentenceStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val sents = filter(split(col(textCol), "[.!?]+"),
      s => s.rlike("[A-Za-z0-9]"))
    val sentToks = transform(sents,
      s => size(filter(split(s, "\\s+"), t => t =!= "")))
    docs.select(col(idCol),
        size(sents).as("n_sentences"),
        aggregate(sentToks, lit(0L), (acc, x) => acc + x).as("_tot"),
        aggregate(sentToks, lit(0L), (acc, x) =>
          greatest(acc, x.cast("long"))).as("_max"))
      .select(col(idCol), col("n_sentences").cast("long").as("n_sentences"),
        when(col("n_sentences") > 0,
          round(col("_tot").cast("double") / col("n_sentences"), 6))
          .as("avg_sentence_tokens"),
        when(col("n_sentences") > 0, col("_max")).as("max_sentence_tokens"))
  }

  /** Token burstiness: variance-to-mean ratio (index of dispersion)
    * of per-document counts for every token with corpus count ≥
    * `minCount`. VMR ≈ 1 is Poisson scatter (function words); VMR ≫ 1
    * is bursty (topical words, boilerplate blocks that hit a few docs
    * hard) — a quality signal fixed-frequency filters miss.
    *
    * Zero-occurrence documents COUNT (mean/variance are over all n
    * docs): S1 = Σ c, S2 = Σ c² over appearing docs are exact
    * integers, so mean = S1/n, var = S2/n − mean², VMR = var/mean are
    * single deterministic double expressions. Two count shuffles,
    * vocabulary-sized output.
    */
  def burstiness(docs: DataFrame, minCount: Long = 100,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val nDocs = docs.select(count(lit(1)).as("n"))
    val perDoc = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    perDoc.groupBy("w").agg(
        sum("c").as("s1"), sum(col("c") * col("c")).as("s2"),
        count(lit(1)).as("n_docs_with"))
      .filter(col("s1") >= minCount)
      .crossJoin(broadcast(nDocs))
      .select(col("w").as("token"), col("s1").as("n_occ"),
        col("n_docs_with"),
        round((col("s2").cast("double") / col("n")
            - (col("s1").cast("double") / col("n"))
            * (col("s1").cast("double") / col("n")))
          / (col("s1").cast("double") / col("n")), 6).as("vmr"))
  }

  /** Per-source unigram entropy and KL divergence from the corpus
    * distribution — the information-theoretic half of mixture design
    * (q122's report card counts tokens; this says how DIFFERENT each
    * source's token distribution is from the blend it joins):
    * H(s) = −Σ_w p_sw·ln p_sw,  KL(s‖corpus) = Σ_w p_sw·ln(p_sw/q_w),
    * with p_sw = c_sw/n_s and q_w the corpus-wide token frequency
    * (every source token exists corpus-wide, so q_w > 0 — KL finite).
    *
    * Scale: one (source, token) count shuffle; the entropy/KL sums
    * run over the VOCABULARY-sized count table with per-term 1e-9
    * quantization (BIGINT) — aggregation-order-free, oracle-exact.
    */
  def unigramEntropyKl(docs: DataFrame, sourceCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val perSource = docs
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val totals = perSource.groupBy("source").agg(sum("c").as("n"))
    val corpus = perSource.groupBy("w").agg(sum("c").as("cw"))
    val corpusN = corpus.agg(sum("cw").as("nn"))
    perSource
      .join(broadcast(totals), "source")
      .join(corpus, "w")
      .crossJoin(broadcast(corpusN))
      .withColumn("p", col("c").cast("double") / col("n"))
      .withColumn("q", col("cw").cast("double") / col("nn"))
      .withColumn("h_u", round(-col("p") * log(col("p")) * 1e9).cast("long"))
      .withColumn("kl_u",
        round(col("p") * log(col("p") / col("q")) * 1e9).cast("long"))
      .groupBy("source").agg(
        max("n").as("n_tokens"),
        sum("h_u").as("_h"), sum("kl_u").as("_k"))
      .select(col("source"), col("n_tokens"),
        round(col("_h").cast("double") / 1e9, 6).as("entropy"),
        round(col("_k").cast("double") / 1e9, 6).as("kl_vs_corpus"))
  }

  /** Windowed co-occurrence PMI — the word2vec/GloVe training-table
    * primitive: SYMMETRIC token pairs within ±`window` positions
    * (pair order normalized by least/greatest), scored
    * PMI = ln(c_xy·N²/(M·c_x·c_y)) like `pmiBigrams` but over the
    * windowed pair universe (M = total windowed pairs). Collocations
    * that skip a word ("new ... york city") surface here and not in
    * the adjacent-bigram view.
    *
    * Scale: pair extraction is map-only (window·corpus rows, window
    * is a small constant); the rest is the pmiBigrams shape —
    * minCount-capped vocabulary joins, integer counts, one ln per
    * surviving pair.
    */
  def cooccurrencePmi(docs: DataFrame, window: Int = 3,
                      minCount: Long = 10, k: Int = 25,
                      textCol: String = "text"): DataFrame = {
    require(window >= 1 && window <= 16, s"cooccurrencePmi: window $window")
    val toks = docs.select(tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
    val t = col("_t")
    val pairsArr = flatten(transform(sequence(lit(1), size(t) - 1),
      i => transform(sequence(lit(1), least(lit(window), size(t) - i)),
        o => struct(
          least(element_at(t, i), element_at(t, i + o)).as("w1"),
          greatest(element_at(t, i), element_at(t, i + o)).as("w2")))))
    val pairs = toks.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val uni = toks.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val totals = uni.agg(sum("cw").as("n_tokens")).crossJoin(
      pairs.agg(sum("cxy").as("m_pairs")))
    val scored = pairs
      .join(uni.select(col("w").as("w1"), col("cw").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cy")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat(col("w1"), lit(" "), col("w2")).as("pair"),
        col("cxy"),
        round(log(col("cxy").cast("double") * col("n_tokens") * col("n_tokens")
          / (col("m_pairs").cast("double") * col("cx") * col("cy"))), 6)
          .as("pmi"))
    // exact top-k via TakeOrderedAndProject — never a global sort
    graft.engine.Ranks.topK(scored, k, col("pmi").desc, col("pair").asc)
  }

  /** Language-ID confusion matrix against labeled ground truth:
    * (true lang, predicted lang, count, row fraction) — the accuracy
    * report for the marker-based classifier, and the template for
    * evaluating ANY doc-level classifier against labels. Integer
    * counts; fractions are single divisions of exact integers.
    */
  def langIdConfusion(docs: DataFrame, langCol: String = "lang",
                      textCol: String = "text"): DataFrame = {
    val cells = docs
      .select(col(langCol).as("lang"), langId(col(textCol)).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("lang").agg(sum("n").as("row_n"))
    cells.join(broadcast(rows), "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        round(col("n").cast("double") / col("row_n"), 6).as("frac"))
  }

  /** BM25 ranking of documents against a literal query-term list —
    * the lexical-retrieval scorer that pairs with the ANN path for
    * hybrid search (fuse with q169's RRF). Okapi BM25 with k1/b
    * literals shared by both plans.
    *
    * Determinism: tf, df, dl, N, Σdl are exact integers; the length
    * norm enters as `dl·N / Σdl` (integer multiply, ONE division);
    * idf is ONE ln per query term (the q127 pattern — no log sums);
    * each term's contribution is quantized to 1e-6 BIGINT before the
    * per-doc sum, so partial aggregation order cannot move the score.
    *
    * Scale: the (token, doc) tf table is the only corpus-sized
    * shuffle; the query-term df table is |q| rows broadcast back.
    * Top-k is a TakeOrdered, never a global sort.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val toks = docs.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("token"))
    val dl = docs.select(col(idCol).as("doc"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = toks.filter(col("token").isInCollection(queryTerms))
      .groupBy("doc", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val term = tf
      .join(broadcast(df), "token")
      .join(dl, "doc")
      .crossJoin(broadcast(totals))
      .withColumn("_idf", log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)))
      .withColumn("_norm", lit(1.0) - lit(b) + lit(b) *
        ((col("dl") * col("n_docs")).cast("double") / col("sum_dl")))
      .withColumn("_contrib", round(
        col("_idf") * (col("tf").cast("double") * (k1 + 1.0))
          / (col("tf").cast("double") + lit(k1) * col("_norm")) * 1e6)
        .cast("long"))
    term.groupBy("doc")
      .agg(count(lit(1)).as("n_terms_matched"),
        round(sum("_contrib").cast("double") / 1e6, 6).as("score"))
      .select(col("doc").as(idCol), col("n_terms_matched"), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Vocabulary growth curve (the empirical Heaps'-law plot): how
    * many DISTINCT tokens the corpus has accumulated after each
    * decile of documents in id order. A flattening curve says new
    * data is mostly re-treading known vocabulary — the cheap signal
    * for "more of this source adds little lexical diversity".
    *
    * All-integer construction: each token's FIRST document
    * (min doc id — one aggregation over the token long form), counts
    * of first-appearances per doc, and an ordered prefix sum
    * evaluated at the decile boundary ids. The boundary ids are exact
    * nearest-rank picks of the distinct-doc order via
    * [[graft.engine.Ranks.rowNumberExact]] — the only ordered window
    * runs over the doc-id value dictionary under the plan law (a
    * grouping-key order, never a row-scale partition-less sort).
    * Checkpoint rows = 10.
    */
  def vocabGrowth(docs: DataFrame, nCheckpoints: Int = 10,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val firstDoc = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(min("doc").as("fd"))
    val perDoc = firstDoc.groupBy("fd").agg(count(lit(1)).as("nw"))
    val ids = graft.engine.Ranks
      .rowNumberExact(docs.select(col(idCol).as("doc")).distinct(),
        "doc", "doc", out = "rn")
      .withColumnRenamed("_n_total", "nd")
    // checkpoint i's boundary = the doc at rank floor(i·nd / k)
    val cps = docs.sparkSession.range(1, nCheckpoints + 1)
      .toDF("checkpoint")
    val bounds = ids.join(broadcast(cps),
        col("rn") === floor(col("checkpoint") * col("nd") / nCheckpoints)
          .cast("long"))
      .select(col("checkpoint"), col("doc").as("bound_doc"),
        col("rn").as("n_docs"))
    bounds.join(perDoc, col("fd") <= col("bound_doc"), "left")
      .groupBy("checkpoint", "bound_doc", "n_docs")
      .agg(coalesce(sum("nw"), lit(0L)).as("vocab"))
      .orderBy("checkpoint")
  }

  /** Weighted (multiset) Jaccard similarity between sources' token
    * frequency profiles — the integer-exact companion to the q145
    * JSD matrix: WJ(a,b) = Σ_t min(tf_at, tf_bt) / Σ_t max(tf_at,
    * tf_bt). Using Σmax = T_a + T_b − Σmin, only SHARED tokens join —
    * the per-pair work is one equi-join on token plus two broadcast
    * totals, and the score is a single division of exact BIGINTs.
    *
    * Scale: the (source, token) tf table is one corpus shuffle; the
    * token-keyed self-join's fan-out is bounded by |sources|² per
    * token (sources are few). Totals are a |sources|-row broadcast.
    */
  def sourceWeightedJaccard(docs: DataFrame, sourceCol: String = "source",
                            textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(sourceCol).as("src"), explode(tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy("src").agg(sum("tf").as("t"))
    val shared = tf.toDF("src_a", "w", "tf_a")
      .join(tf.toDF("src_b", "w", "tf_b"), "w")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("s_min"))
    shared
      .join(broadcast(totals.toDF("src_a", "t_a")), "src_a")
      .join(broadcast(totals.toDF("src_b", "t_b")), "src_b")
      .select(col("src_a"), col("src_b"),
        col("s_min").as("shared_mass"),
        round(col("s_min").cast("double")
          / (col("t_a") + col("t_b") - col("s_min")), 6).as("w_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Sample L-moment shape statistics per group — the
    * order-statistics alternative to skewness/kurtosis that is
    * robust, bounded (|τ₃|, |τ₄| ≤ 1), and — the point here —
    * computable EXACTLY: every probability-weighted moment numerator
    * is an integer weighted sum over ranked values
    * (S_r = Σ (i−1)⋯(i−r) x_(i)), and each emitted ratio is ONE
    * division of exact BIGINTs:
    *
    *   l1 = S0/n,   l2 = (2S1 − S0(n−1)) / (n(n−1)),
    *   τ3 = (6S2 − 6S1(n−2) + S0(n−1)(n−2)) / ((2S1 − S0(n−1))(n−2)),
    *   τ4 = (20S3 − 30S2(n−3) + 12S1(n−2)(n−3) − S0(n−1)(n−2)(n−3))
    *        / ((2S1 − S0(n−1))(n−2)(n−3)).
    *
    * Ties need no tie-break: equal values make the rank assignment
    * within a tied block irrelevant to every S_r. Groups with n < 4
    * or zero dispersion answer null ratios.
    *
    * The rank is a per-group window (partition-parallel). BIGINT
    * headroom bounds the exact path at roughly n ≲ 20k per group for
    * 64-bit sums with ~2^11-sized values; past that, compute the
    * ratios in doubles from the same sums (documented approximation).
    */
  def lMoments(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy("x")
    val ranked = df
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("x"))
      .withColumn("i", row_number().over(w).cast("long"))
    val s = ranked.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum("x").as("s0"),
      sum((col("i") - 1) * col("x")).as("s1"),
      sum((col("i") - 1) * (col("i") - 2) * col("x")).as("s2"),
      sum((col("i") - 1) * (col("i") - 2) * (col("i") - 3) * col("x")).as("s3"))
    val n = col("n"); val s0 = col("s0"); val s1 = col("s1")
    val s2 = col("s2"); val s3 = col("s3")
    val l2num = lit(2L) * s1 - s0 * (n - 1)
    val t3num = lit(6L) * s2 - lit(6L) * s1 * (n - 2) + s0 * (n - 1) * (n - 2)
    val t4num = lit(20L) * s3 - lit(30L) * s2 * (n - 3) +
      lit(12L) * s1 * (n - 2) * (n - 3) - s0 * (n - 1) * (n - 2) * (n - 3)
    s.select(col("grp"), n,
      round(s0.cast("double") / n, 6).as("l1"),
      when(n > 1,
        round(l2num.cast("double") / (n * (n - 1)), 6)).as("l2"),
      when(n > 2 && l2num =!= 0,
        round(t3num.cast("double") / (l2num * (n - 2)), 6)).as("t3"),
      when(n > 3 && l2num =!= 0,
        round(t4num.cast("double") / (l2num * (n - 2) * (n - 3)), 6)).as("t4"))
      .orderBy("grp")
  }

  /** Cohen's κ of the marker classifier against the true label —
    * chance-corrected agreement from the confusion matrix's integer
    * sufficient statistics alone: with n rows, D = Σ diagonal and
    * S = Σ_k row_k·col_k, κ = (D·n − S) / (n² − S) — a single EXACT
    * integer ratio (no float po/pe intermediates at all). Degenerate
    * chance agreement (n² = S, both raters constant) answers null.
    */
  def cohenKappa(pred: DataFrame, truthCol: String,
                 predCol: String): DataFrame = {
    val cells = pred.groupBy(col(truthCol).as("t"), col(predCol).as("p"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("t").agg(sum("n").as("rn"))
    val cols = cells.groupBy("p").agg(sum("n").as("cn"))
    val agg = cells.agg(
      sum("n").as("n_rows"),
      sum(when(col("t") === col("p"), col("n")).otherwise(0L)).as("d"))
    val s = rows.join(cols, col("t") === col("p"))
      .agg(coalesce(sum(col("rn") * col("cn")), lit(0L)).as("s"))
    agg.crossJoin(s)
      .select(col("n_rows"), col("d").as("n_agree"),
        round(col("d").cast("double") / col("n_rows"), 6).as("observed"),
        round(col("s").cast("double") / (col("n_rows") * col("n_rows")), 6)
          .as("expected"),
        when(col("n_rows") * col("n_rows") =!= col("s"),
          round((col("d") * col("n_rows") - col("s")).cast("double")
            / (col("n_rows") * col("n_rows") - col("s")), 6)).as("kappa"))
  }

  /** WEIGHTED Cohen's κ (Cohen 1968, "Weighted kappa: Nominal scale
    * agreement with provision for scaled disagreement or partial
    * credit") for two raters on an ORDINAL scale — near-misses earn
    * partial credit via disagreement weights w_ij: LINEAR |i−j| and
    * QUADRATIC (i−j)² (the rubric-eval standard; quadratic-weighted
    * κ is equivalent to an ICC), both reported from one pass.
    *
    * κ_w = 1 − (Σ n_ij·w_ij / n) / (Σ r_i·c_j·w_ij / n²)
    *     = (Σ r_i·c_j·w_ij − n·Σ n_ij·w_ij) / Σ r_i·c_j·w_ij —
    * every term an exact integer (weights are integers; marginal
    * products ride DECIMAL(38,0)), ONE double division per κ,
    * rounded 6. NULL when the expected weighted disagreement is 0
    * (both raters confined to one shared category). With exactly
    * two categories every off-diagonal weight is 1 under both
    * schemes, so both reduce to the unweighted [[cohenKappa]].
    *
    * Scale shape: one (cat_a, cat_b) confusion-cell aggregate (the
    * per-row work), marginal rollups, and a |cats|²
    * dictionary-scale cross of the two marginals. No windows.
    */
  def weightedKappa(pred: DataFrame, aCol: String,
                    bCol: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val cells = pred.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .trackedPersist() // feeds observed sums + both marginals
    val rows = cells.groupBy("a").agg(sum("n").as("rn"))
    val cols_ = cells.groupBy("b").agg(sum("n").as("cn"))
    val dl = abs(col("a") - col("b"))
    val dq = (col("a") - col("b")) * (col("a") - col("b"))
    val obs = cells.agg(sum("n").as("n_rows"),
      coalesce(sum(col("n") * dl), lit(0L)).as("_swol"),
      coalesce(sum(col("n") * dq), lit(0L)).as("_swoq"))
    val expd = rows.crossJoin(cols_).agg(
      coalesce(sum(dec(col("rn")) * dec(col("cn")) * dec(dl)),
        dec(lit(0))).as("_swel"),
      coalesce(sum(dec(col("rn")) * dec(col("cn")) * dec(dq)),
        dec(lit(0))).as("_sweq"))
    def kap(swo: Column, swe: Column): Column =
      when(swe > dec(lit(0)),
        round((swe - dec(col("n_rows")) * dec(swo)).cast("double") /
          swe.cast("double"), 6))
    val n2 = col("n_rows").cast("double") * col("n_rows").cast("double")
    obs.crossJoin(broadcast(expd))
      .select(col("n_rows"),
        round(col("_swol").cast("double") / col("n_rows"), 6)
          .as("do_linear"),
        round(col("_swel").cast("double") / n2, 6).as("de_linear"),
        kap(col("_swol"), col("_swel")).as("kappa_linear"),
        round(col("_swoq").cast("double") / col("n_rows"), 6)
          .as("do_quadratic"),
        round(col("_sweq").cast("double") / n2, 6).as("de_quadratic"),
        kap(col("_swoq"), col("_sweq")).as("kappa_quadratic"))
  }

  /** Degenerate-text run detector — the loop signature of
    * model-generated text (`the the the …`, `a b a b a b …`) that
    * distinct-token ratios (q62) dilute away in long documents:
    * per document, the longest run of IMMEDIATELY repeated tokens
    * (period 1) and the longest chain of tokens equal to their
    * 2-back neighbor (period 2 — a length-L `abab…` block scores
    * L − 1: the island opens at the pattern's second token, the
    * first having no 2-back neighbor).
    * Returns the top-`topK` worst offenders by the larger of the two
    * (tie → smaller doc_id) — the triage list a corpus cleaner acts
    * on.
    *
    * Shape: one token posexplode, two lag comparisons and two
    * cumulative break counters in ONE doc-partitioned window pass
    * (parallel — never a global sort), island rollups, TakeOrdered
    * top-k.
    */
  def degenerateRuns(docs: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"degenerateRuns: topK must be >= 1, got $topK")
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val flagged = toks
      .withColumn("b1",
        when(col("tok") === lag("tok", 1).over(w), 0L).otherwise(1L))
      .withColumn("b2",
        when(col("tok") === lag("tok", 2).over(w), 0L).otherwise(1L))
      .withColumn("g1", sum("b1").over(cum))
      .withColumn("g2", sum("b2").over(cum))
    val r1 = flagged.groupBy("doc_id", "g1").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max_repeat_run"))
    val r2 = flagged.groupBy("doc_id", "g2").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max_period2_chain"))
    r1.join(r2, Seq("doc_id"))
      .orderBy(greatest(col("max_repeat_run"), col("max_period2_chain")).desc,
        col("doc_id"))
      .limit(topK)
      .select("doc_id", "max_repeat_run", "max_period2_chain")
  }

  /** Fleiss' κ — chance-corrected agreement for a FIXED panel of m
    * raters per unit (the annotation-QA statistic when labels come
    * from a crowd rather than two raters; Cohen's κ above is the
    * m = 2 / identified-rater case). From integer sufficient
    * statistics only: per unit i and category j the count n_ij gives
    *   P̄  = (Σ_i Σ_j n_ij² − N·m) / (N·m·(m−1))
    *   P̄e = Σ_j t_j² / (N·m)²          (t_j = category totals)
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    * computed as one exact integer fraction per quantity — products
    * ride DECIMAL(38,0) (HUGEINT in a SQL replay), each final ratio
    * is one double division rounded to 6. Uneven panels (min m ≠
    * max m) or degenerate chance agreement answer NULL κ rather
    * than a wrong number.
    *
    * Scale: two hash aggregations (unit×category cells → unit rows,
    * category totals) and a 1-row cross join. No window, no fan-out.
    */
  def fleissKappa(ratings: DataFrame, unitCol: String, catCol: String,
                  label: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    // NULL unit/category rows are not ratings (the family rule)
    val cells = ratings
      .filter(col(unitCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(unitCol).as("u"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("c"))
    val units = cells.groupBy("u")
      .agg(sum(col("c") * col("c")).as("ss"), sum("c").as("m"))
      .agg(count(lit(1)).as("n_units"), min("m").as("_mn"),
        max("m").as("_mx"), sum("ss").as("sum_ss"))
    val cats = cells.groupBy("cat").agg(sum("c").as("t"))
      .agg(sum(dec(col("t") * col("t"))).as("sum_t2"),
        count(lit(1)).as("n_cats"))
    val nm = col("n_units") * col("_mx")
    val paDen = dec(nm) * dec(col("_mx") - 1L)
    val nm2 = dec(nm) * dec(nm)
    units.crossJoin(cats).select(
      lit(label).as("measure"),
      col("n_units"), col("_mx").cast("long").as("m_raters"), col("n_cats"),
      round((col("sum_ss") - nm).cast("double") /
        paDen.cast("double"), 6).as("p_observed"),
      round(col("sum_t2").cast("double") /
        (nm.cast("double") * nm.cast("double")), 6).as("p_expected"),
      when(col("_mn") === col("_mx") && col("_mx") >= 2L &&
          nm2 =!= col("sum_t2"),
        round((dec(col("sum_ss") - nm) * nm2 - col("sum_t2") * paDen)
            .cast("double") /
          (paDen * (nm2 - col("sum_t2"))).cast("double"), 6))
        .as("kappa"))
  }

  /** Gwet's AC1 (Gwet 2008, "Computing inter-rater reliability and
    * its variance in the presence of high agreement") — the
    * chance-corrected agreement coefficient that resolves the KAPPA
    * PARADOX: under extreme prevalence (one label dominating, the
    * normal state of a quality-gate annotation queue) κ's chance
    * term approaches the observed agreement and κ collapses toward
    * 0 — or below — while the raters are in fact agreeing almost
    * always. AC1 prices chance agreement by the probability of a
    * RANDOM rating landing in a category at its observed prevalence:
    *   pa  = mean over units of Σ_c r_uc(r_uc − 1)/(m_u(m_u − 1))
    *   π_c = mean over units of r_uc / m_u
    *   pe  = (1/(C − 1)) · Σ_c π_c(1 − π_c)
    *   AC1 = (pa − pe)/(1 − pe)
    * Unlike [[fleissKappa]], the panel may be UNEVEN (m_u varies);
    * units with fewer than 2 ratings are unpairable and drop from
    * both pa and the marginals (the krippendorffAlpha rule). For
    * C ≥ 2, pe ≤ 1/C < 1, so the denominator never degenerates;
    * AC1 answers NULL only when n_units = 0 or C < 2.
    *
    * Determinism: per-unit agreement ratios and per-(unit, category)
    * prevalence fractions are 1e-9-quantized BIGINTs before their
    * order-free sums; per-category pe terms are 1e-9-quantized
    * doubles of identical shape in both engines before the category
    * sum (the brierDecomposition discipline); pa/pe/AC1 are one
    * double expression each, rounded 6.
    *
    * Scale shape: one (unit, category) cell rollup, one unit rollup,
    * one category rollup, 1-row broadcast attaches. No windows.
    */
  def gwetAC1(ratings: DataFrame, unitCol: String, catCol: String,
              label: String): DataFrame = {
    val cells = ratings
      .filter(col(unitCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(unitCol).as("u"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("c"))
      .trackedPersist() // feeds the unit margin AND the pair join
    val units = cells.groupBy("u")
      .agg(sum("c").as("m"), sum(col("c") * col("c")).as("ss"))
      .filter(col("m") >= 2L)
      .trackedPersist() // feeds uStats AND the prevalence join
    val uStats = units
      .select(round(lit(1e9) * (col("ss") - col("m")).cast("double") /
        (col("m") * (col("m") - 1L)).cast("double")).cast("long")
        .as("_qpa"))
      .agg(count(lit(1)).as("n_units"),
        coalesce(sum("_qpa"), lit(0L)).as("_spa"))
    val prev = cells.join(units.select("u", "m"), Seq("u"))
      .select(col("cat"),
        round(lit(1e9) * col("c").cast("double") / col("m")
          .cast("double")).cast("long").as("_qp"))
      .groupBy("cat").agg(sum("_qp").as("_sc"))
    val pic = col("_sc").cast("double") / 1e9 / col("n_units")
    val cStats = prev.crossJoin(broadcast(uStats))
      .select(round(lit(1e9) * pic * (lit(1.0) - pic)).cast("long")
        .as("_qt"))
      .agg(count(lit(1)).as("n_cats"),
        coalesce(sum("_qt"), lit(0L)).as("_sqt"))
    val pa = col("_spa").cast("double") / 1e9 / col("n_units")
    val pe = col("_sqt").cast("double") / 1e9 / (col("n_cats") - 1L)
    uStats.crossJoin(broadcast(cStats))
      .select(lit(label).as("measure"), col("n_units"), col("n_cats"),
        when(col("n_units") > 0L, round(pa, 6)).as("p_observed"),
        when(col("n_units") > 0L && col("n_cats") >= 2L, round(pe, 6))
          .as("p_expected"),
        when(col("n_units") > 0L && col("n_cats") >= 2L,
          round((pa - pe) / (lit(1.0) - pe), 6)).as("ac1"))
  }

  /** Gwet's AC2 — the WEIGHTED [[gwetAC1]] for ORDINAL category
    * scales (Gwet, "Handbook of Inter-Rater Reliability": the
    * weighted multi-rater agreement coefficient): a near-miss on a
    * Likert rubric (4 vs 5) counts partial agreement instead of the
    * nominal all-or-nothing. With observed integer categories, span
    * S = max − min, and weights w_kl = 1 − (|k − l|/S)^power
    * (power 1 linear, 2 quadratic; w_kk = 1):
    *   pa  = mean over units of
    *         (Σ_{k,l} w_kl·r_uk·r_ul − m_u) / (m_u(m_u − 1))
    *   pe  = (T_w / (C(C − 1))) · Σ_c π_c(1 − π_c),
    *         T_w = Σ_{k,l} w_kl over the observed C×C grid
    *   AC2 = (pa − pe)/(1 − pe)
    * Identity weights recover AC1 exactly (T_w = C), so on a BINARY
    * scale — where linear weights ARE identity — AC2 = AC1, the
    * spec-pinned reduction. Uneven panels tolerated; sub-2-rating
    * units drop (the AC1 rule). NULL when n_units = 0, C < 2, or
    * every rating shares one category (S = 0 — no scale to weight).
    *
    * Determinism: weights are doubles, so every weighted term is
    * 1e-9-quantized per (unit, k, l) pair BEFORE any sum (the
    * category-pair fan-out is ≤ C² per unit — dictionary-bounded);
    * T_w quantizes per grid cell; prevalence fractions follow AC1.
    * pa/pe/AC2 are one double expression each, rounded 6.
    *
    * Scale shape: the AC1 rollups plus one unit-keyed cell self-join
    * (≤ C² per unit) and one C×C weight-grid rollup. No windows.
    */
  def gwetAC2(ratings: DataFrame, unitCol: String, catCol: String,
              label: String, power: Int = 1): DataFrame = {
    require(power == 1 || power == 2,
      s"gwetAC2: power must be 1 (linear) or 2 (quadratic), got $power")
    val cells = ratings
      .filter(col(unitCol).isNotNull && col(catCol).isNotNull)
      .select(col(unitCol).as("u"), col(catCol).cast("long").as("cat"))
      .groupBy("u", "cat").agg(count(lit(1)).as("c"))
      .trackedPersist() // feeds margins, the pair join, the grid
    val units = cells.groupBy("u").agg(sum("c").as("m"))
      .filter(col("m") >= 2L)
      .trackedPersist() // feeds uStats, the pair join, prevalence
    // Scale (span, n_cats) and the weight grid derive from SURVIVING
    // units' cells only (the same frame prev uses): a category seen
    // solely in a dropped sub-2-rating unit is invisible to pa and
    // the prevalence marginals, so letting it inflate C, T_w and pe
    // would break the documented identity-weights ⇒ AC1 reduction
    // on such panels (AC1 counts n_cats over surviving units).
    val survCells = cells.join(units, Seq("u"))
    val scale = survCells.agg((max("cat") - min("cat")).as("_span"),
      countDistinct("cat").as("n_cats"))
    def wgt(k: Column, l: Column) = {
      // span = 0 gates the whole output to NULL, but ANSI mode still
      // evaluates the division — clamp the divisor (weight unused)
      val d = abs(k - l).cast("double") /
        greatest(col("_span"), lit(1L)).cast("double")
      lit(1.0) - (if (power == 1) d else d * d)
    }
    // per-unit weighted cross terms, quantized per (u, k, l) pair
    val a = cells.select(col("u"), col("cat").as("_k"),
      col("c").as("_ck"))
    val b = cells.select(col("u"), col("cat").as("_l"),
      col("c").as("_cl"))
    val pairTerms = a.join(b, Seq("u")).join(units, Seq("u"))
      .crossJoin(broadcast(scale))
      .select(col("u"), col("m"),
        round(lit(1e9) * wgt(col("_k"), col("_l")) *
          (col("_ck") * col("_cl")).cast("double")).cast("long")
          .as("_qw"))
      .groupBy("u", "m").agg(sum("_qw").as("_sqw"))
    val uStats = pairTerms
      .select(round((col("_sqw") - lit(1000000000L) * col("m"))
        .cast("double") / (col("m") * (col("m") - 1L)).cast("double"))
        .cast("long").as("_qpa"))
      .agg(count(lit(1)).as("n_units"),
        coalesce(sum("_qpa"), lit(0L)).as("_spa"))
    // T_w over the observed (surviving-unit) C×C grid, per cell —
    // the grid side is the C-row category dictionary: broadcast it
    // explicitly (derived through the surviving-units join, its size
    // estimate no longer auto-broadcasts)
    val catsDict = survCells.select("cat").distinct().trackedPersist()
    val grid = catsDict.select(col("cat").as("_k"))
      .crossJoin(broadcast(catsDict.select(col("cat").as("_l"))))
      .crossJoin(broadcast(scale))
      .select(round(lit(1e9) * wgt(col("_k"), col("_l"))).cast("long")
        .as("_qg"))
      .agg(coalesce(sum("_qg"), lit(0L)).as("_stw"))
    val prev = survCells
      .select(col("cat"),
        round(lit(1e9) * col("c").cast("double") / col("m")
          .cast("double")).cast("long").as("_qp"))
      .groupBy("cat").agg(sum("_qp").as("_sc"))
    val pic = col("_sc").cast("double") / 1e9 / col("n_units")
    val cStats = prev.crossJoin(broadcast(uStats))
      .select(round(lit(1e9) * pic * (lit(1.0) - pic)).cast("long")
        .as("_qt"))
      .agg(coalesce(sum("_qt"), lit(0L)).as("_sqt"))
    val pa = col("_spa").cast("double") / 1e9 / col("n_units")
    val pe = (col("_stw").cast("double") / 1e9 /
      (col("n_cats") * (col("n_cats") - 1L)).cast("double")) *
      (col("_sqt").cast("double") / 1e9)
    val defined = col("n_units") > 0L && col("n_cats") >= 2L &&
      col("_span") > 0L
    uStats.crossJoin(broadcast(scale)).crossJoin(broadcast(grid))
      .crossJoin(broadcast(cStats))
      .select(lit(label).as("measure"), col("n_units"), col("n_cats"),
        lit(power.toLong).as("power"),
        when(defined, round(pa, 6)).as("p_observed"),
        when(defined, round(pe, 6)).as("p_expected"),
        when(defined, round((pa - pe) / (lit(1.0) - pe), 6)).as("ac2"))
  }

  /** Bootstrap UNCERTAINTY for the agreement family — converts the
    * point estimates of [[gwetAC1]] / [[gwetAC2]] / nominal
    * [[krippendorffAlpha]] into a decision: a deterministic
    * Poisson(1) bootstrap over UNITS (the resampling unit for
    * inter-rater designs — raters within a unit travel together),
    * reporting the bootstrap SE and the nearest-rank 95% CI next to
    * the exact point estimate. The machinery is
    * [[graft.ext.Evals.groupedBootstrapCI]]'s (Chamandy et al. 2012
    * md5-coin Poisson weights, exact long-arithmetic ranks, q389):
    * resample r gives unit u weight w(r, u) ∈ {0..5}; the
    * coefficient is recomputed per resample from WEIGHTED versions
    * of the same dictionary rollups the point operators use.
    *
    * The instrument is FIXED across resamples: the category count C
    * (and for AC2 the span and T_w weight-grid total) comes from the
    * full surviving panel, not each resample — resampling perturbs
    * the PANEL, not the rating scale, and this keeps a resample that
    * happens to zero out a category from silently changing the
    * chance-correction denominator (its prevalence term is 0 there,
    * which is the right contribution).
    *
    * Per-resample arithmetic mirrors the point operators exactly:
    * per-unit agreement terms (`qpa` for AC1/AC2, the per-unit D_o
    * sum for α) and per-(unit, category) prevalence terms are the
    * SAME 1e-9-quantized BIGINTs, multiplied by the integer weight
    * and summed (order-free); each resample's coefficient is one
    * double expression over those integer sums, 1e-9-quantized to a
    * BIGINT before ranking. Undefined resamples (all weights zero;
    * for α additionally a degenerate single-category resample) DROP
    * — `n_eff` reports survivors. SE is the sample standard
    * deviation of the surviving resample coefficients (exact integer
    * sums, DECIMAL(38,0) squares, one double finisher); CI bounds
    * are the q389 nearest-rank ⌈n_eff/40⌉ / ⌈39·n_eff/40⌉ order
    * statistics by exact long comparison with resample-id tie-break.
    *
    * `estimate` IS the point operator's coefficient — computed
    * INLINE from the shared persisted frames with the point
    * operator's verbatim arithmetic (delegating would re-run its
    * whole chain); equality with the point operator's output is a
    * spec-pinned LAW, which also requires the point operators to
    * share this operator's NULL-rating drop rule (they do).
    * Laws the spec pins: a degenerate all-agree panel collapses the
    * CI to [1, 1] with se = 0; the CI brackets the point estimate on
    * well-behaved panels; on a BINARY scale the AC2 bootstrap equals
    * the AC1 bootstrap row-for-row (linear weights are identity
    * there).
    *
    * Scale shape: the point operators' dictionary rollups, a b×
    * literal explode of the UNIT-level and CELL-level term frames
    * (map-side, the q389 cost class), aggregates down to b and b·C
    * rows, a b×b rank self-join on a derived constant key (equi hash
    * join bounded by the b PARAMETER — never a BNLJ), and 1-row
    * broadcast attaches. No windows.
    */
  def agreementBootstrapCI(ratings: DataFrame, unitCol: String,
                           catCol: String, label: String,
                           measure: String = "ac1", b: Int = 200,
                           power: Int = 1,
                           seed: String = "abc"): DataFrame = {
    require(Set("ac1", "ac2", "alpha")(measure),
      s"agreementBootstrapCI: measure in {ac1, ac2, alpha}, got $measure")
    // cap 4096, not 1e5: the nearest-rank CI joins every resample on
    // the constant pmod(_r, 1) key, so all b rows land in ONE hash
    // partition and the b×b comparison is a single-task O(b²) —
    // 16.8M comparisons at 4096 (fine), 1e10 at the old 1e5 cap (a
    // plan the require promised but the rank join could not honor)
    require(b >= 2 && b <= 4096,
      s"agreementBootstrapCI: b in [2, 4096], got $b")
    require(power == 1 || power == 2,
      s"agreementBootstrapCI: power must be 1 or 2, got $power")
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val cells0 = ratings
      .filter(col(unitCol).isNotNull && col(catCol).isNotNull)
      .select(col(unitCol).as("u"),
        (if (measure == "ac2") col(catCol).cast("long")
         else col(catCol)).as("cat"))
      .groupBy("u", "cat").agg(count(lit(1)).as("c"))
      .trackedPersist()
    val units = cells0.groupBy("u")
      .agg(sum("c").as("m"), sum(col("c") * col("c")).as("ss"))
      .filter(col("m") >= 2L)
      .trackedPersist()
    val cells = cells0.join(units.select("u", "m"), Seq("u"))
      .trackedPersist() // surviving cells with the unit margin
    // fixed instrument constants: C always; span + T_w for AC2
    def wgt(k: Column, l: Column) = {
      val d = abs(k - l).cast("double") /
        greatest(col("_span"), lit(1L)).cast("double")
      lit(1.0) - (if (power == 1) d else d * d)
    }
    val consts: DataFrame = if (measure == "ac2") {
      val sc = cells.agg(countDistinct("cat").as("n_cats"),
        (max("cat") - min("cat")).as("_span"))
      val catsDict = cells.select("cat").distinct()
      val grid = catsDict.select(col("cat").as("_k"))
        .crossJoin(broadcast(catsDict.select(col("cat").as("_l"))))
        .crossJoin(broadcast(sc))
        .select(round(lit(1e9) * wgt(col("_k"), col("_l")))
          .cast("long").as("_qg"))
        .agg(coalesce(sum("_qg"), lit(0L)).as("_stw"))
      sc.crossJoin(broadcast(grid)).trackedPersist()
    } else {
      cells.agg(countDistinct("cat").as("n_cats"),
        lit(0L).as("_span"), lit(0L).as("_stw")).trackedPersist()
    } // 1 row; referenced by the AC2 pair join, the pe finisher
    // per-unit agreement term _qpa (AC1/AC2) or per-unit D_o (alpha)
    val uterm: DataFrame = measure match {
      case "ac1" => units.select(col("u"), col("m"),
        round(lit(1e9) * (col("ss") - col("m")).cast("double") /
          (col("m") * (col("m") - 1L)).cast("double")).cast("long")
          .as("_qpa"))
      case "ac2" =>
        val a = cells.select(col("u"), col("cat").as("_k"),
          col("c").as("_ck"))
        val bb = cells.select(col("u"), col("cat").as("_l"),
          col("c").as("_cl"))
        a.join(bb, Seq("u")).join(units.select("u", "m"), Seq("u"))
          .crossJoin(broadcast(consts))
          .select(col("u"), col("m"),
            round(lit(1e9) * wgt(col("_k"), col("_l")) *
              (col("_ck") * col("_cl")).cast("double")).cast("long")
              .as("_qw"))
          .groupBy("u", "m").agg(sum("_qw").as("_sqw"))
          .select(col("u"), col("m"),
            round((col("_sqw") - lit(1000000000L) * col("m"))
              .cast("double") /
              (col("m") * (col("m") - 1L)).cast("double")).cast("long")
              .as("_qpa"))
      case _ => cells
        .select(col("u"), col("m"),
          round(lit(1e9) * col("c").cast("double") *
            (col("m") - col("c")).cast("double") /
            (col("m") - 1L).cast("double")).cast("long").as("_t"))
        .groupBy("u", "m").agg(sum("_t").as("_qpa"))
    }
    val utermP = uterm.trackedPersist() // the AC2 pair join must not
                                        // replay under the explode
    // the q389 deterministic Poisson(1) coin, keyed by (resample, unit)
    def pw(r: Column, s: Column): Column = {
      val u = conv(substring(md5(concat(lit(seed), lit("#"),
        r.cast("string"), lit("#"), s.cast("string"))), 1, 7), 16, 10)
        .cast("long") % 10000L
      when(u < 3679L, 0L).when(u < 7358L, 1L).when(u < 9197L, 2L)
        .when(u < 9810L, 3L).when(u < 9963L, 4L).otherwise(5L)
    }
    // unit-level resample rollup → b rows (persisted: it feeds the
    // per-resample prevalence finisher AND the coefficient join —
    // without the cut the ×b explode aggregate runs twice)
    val uw = utermP
      .select(col("u"), col("m"), col("_qpa"),
        explode(sequence(lit(0), lit(b - 1))).as("_r"))
      .withColumn("_w", pw(col("_r"), col("u")))
      .groupBy("_r")
      .agg(sum("_w").as("_nu"),
        sum(col("_w") * col("m")).as("_nr"),
        sum(col("_w") * col("_qpa")).as("_spa"))
      .filter(col("_nu") > 0L)
      .trackedPersist()
    // cell-level resample rollup → b·C rows (raw counts for α,
    // 1e-9-quantized prevalence fractions for AC1/AC2)
    val cw = cells
      .select(col("u"), col("cat"), col("c"), col("m"),
        explode(sequence(lit(0), lit(b - 1))).as("_r"))
      .withColumn("_w", pw(col("_r"), col("u")))
      .select(col("_r"), col("cat"),
        (col("_w") * col("c")).as("_wc"),
        (col("_w") * round(lit(1e9) * col("c").cast("double") /
          col("m").cast("double")).cast("long")).as("_wqp"))
      .groupBy("_r", "cat")
      .agg(sum("_wc").as("_nc"), sum("_wqp").as("_sc"))
    // per-resample coefficient, 1e-9-quantized for ranking
    val perR: DataFrame = measure match {
      case "ac1" | "ac2" =>
        val pic = col("_sc").cast("double") / 1e9 / col("_nu")
        val sqt = cw.join(broadcast(uw.select("_r", "_nu")), Seq("_r"))
          .select(col("_r"),
            round(lit(1e9) * pic * (lit(1.0) - pic)).cast("long")
              .as("_qt"))
          .groupBy("_r").agg(coalesce(sum("_qt"), lit(0L)).as("_sqt"))
        val pa = col("_spa").cast("double") / 1e9 / col("_nu")
        val pe = if (measure == "ac1")
          col("_sqt").cast("double") / 1e9 / (col("n_cats") - 1L)
        else
          (col("_stw").cast("double") / 1e9 /
            (col("n_cats") * (col("n_cats") - 1L)).cast("double")) *
            (col("_sqt").cast("double") / 1e9)
        uw.join(sqt, Seq("_r")).crossJoin(broadcast(consts))
          .filter(col("n_cats") >= 2L &&
            (if (measure == "ac2") col("_span") > 0L else lit(true)))
          .select(col("_r"),
            round(lit(1e9) * (pa - pe) / (lit(1.0) - pe)).cast("long")
              .as("_qv"))
      case _ =>
        val s2 = cw.groupBy("_r")
          .agg(coalesce(sum(dec(col("_nc")) * dec(col("_nc"))),
            dec(lit(0))).as("_snc2"))
        val deNum = dec(col("_nr")) * dec(col("_nr")) - col("_snc2")
        uw.join(s2, Seq("_r"))
          .filter(col("_nr") >= 2L && deNum =!= dec(lit(0)))
          .select(col("_r"),
            round(lit(1e9) * (lit(1.0) -
              (dec(col("_spa")) * dec(col("_nr") - 1L)).cast("double") /
              (lit(1e9) * deNum.cast("double")))).cast("long")
              .as("_qv"))
    }
    val qvs = perR.trackedPersist() // ≤ b rows: stats + both rank sides
    val stats = qvs.agg(count(lit(1)).as("n_eff"),
      coalesce(sum("_qv"), lit(0L)).as("_sv"),
      coalesce(sum(dec(col("_qv")) * dec(col("_qv"))), dec(lit(0)))
        .as("_svv"))
    // nearest-rank CI: exact long comparison, resample tie-break.
    // The join key pmod(_r, 1) is 0 for every row but NON-FOLDABLE,
    // so Catalyst plans a real equi hash join (b×b, bounded by the
    // b parameter) rather than collapsing to a BNLJ.
    val y = qvs.select(pmod(col("_r"), lit(1L)).as("_k"),
      col("_r").as("_yr"), col("_qv").as("_yv"))
    val rk = qvs.withColumn("_k", pmod(col("_r"), lit(1L)))
      .join(y, Seq("_k"))
      .filter(col("_yv") < col("_qv") ||
        (col("_yv") === col("_qv") && col("_yr") <= col("_r")))
      .groupBy("_r", "_qv").agg(count(lit(1)).as("_rk"))
    val ci = rk.crossJoin(broadcast(stats.select("n_eff")))
      .agg(
        max(when(col("_rk") === expr("(n_eff + 39) div 40"),
          round(col("_qv").cast("double") / 1e9, 6))).as("ci_lo"),
        max(when(col("_rk") === expr("(39 * n_eff + 39) div 40"),
          round(col("_qv").cast("double") / 1e9, 6))).as("ci_hi"))
    // The point estimate: the SAME integer inputs the point
    // operators aggregate, read off the already-persisted frames —
    // delegating to gwetAC1/gwetAC2/krippendorffAlpha on the raw
    // ratings would re-run their whole chain (a second row-scale
    // rollup, and for AC2 a second C² pair join). The arithmetic
    // below is the point operators' verbatim (per-unit quantized
    // terms summed, identical finisher expressions), so equality
    // with the point operator is a spec-pinned LAW, and the oracle
    // replays compute their point CTEs from the same shared frames.
    val pus = utermP.agg(count(lit(1)).as("n_units"),
      coalesce(sum("m"), lit(0L)).as("_n"),
      coalesce(sum("_qpa"), lit(0L)).as("_pspa"))
    val point: DataFrame = measure match {
      case "ac1" | "ac2" =>
        val pic0 = col("_sc").cast("double") / 1e9 / col("n_units")
        val pcs = cells
          .select(col("cat"),
            round(lit(1e9) * col("c").cast("double") /
              col("m").cast("double")).cast("long").as("_qp"))
          .groupBy("cat").agg(sum("_qp").as("_sc"))
          .crossJoin(broadcast(pus))
          .select(round(lit(1e9) * pic0 * (lit(1.0) - pic0))
            .cast("long").as("_qt"))
          .agg(coalesce(sum("_qt"), lit(0L)).as("_sqt"))
        val pa0 = col("_pspa").cast("double") / 1e9 / col("n_units")
        val pe0 = if (measure == "ac1")
          col("_sqt").cast("double") / 1e9 / (col("n_cats") - 1L)
        else
          (col("_stw").cast("double") / 1e9 /
            (col("n_cats") * (col("n_cats") - 1L)).cast("double")) *
            (col("_sqt").cast("double") / 1e9)
        val ok = col("n_units") > 0L && col("n_cats") >= 2L &&
          (if (measure == "ac2") col("_span") > 0L else lit(true))
        pus.crossJoin(broadcast(pcs)).crossJoin(broadcast(consts))
          .select(lit(label).as("measure"), col("n_units"),
            col("n_cats"),
            when(ok, round((pa0 - pe0) / (lit(1.0) - pe0), 6))
              .as("estimate"))
      case _ =>
        val snc2 = cells.groupBy("cat").agg(sum("c").as("_nc"))
          .agg(coalesce(sum(dec(col("_nc")) * dec(col("_nc"))),
            dec(lit(0))).as("_snc2"))
        val deNum0 = dec(col("_n")) * dec(col("_n")) - col("_snc2")
        pus.crossJoin(broadcast(snc2)).crossJoin(broadcast(consts))
          .select(lit(label).as("measure"), col("n_units"),
            col("n_cats"),
            when(col("_n") >= 2L && deNum0 =!= dec(lit(0)),
              round(lit(1.0) -
                (dec(col("_pspa")) * dec(col("_n") - 1L))
                  .cast("double") /
                (lit(1e9) * deNum0.cast("double")), 6))
              .as("estimate"))
    }
    val meanQv = col("_sv").cast("double") / col("n_eff")
    val se = sqrt(greatest(
      (col("_svv").cast("double") / col("n_eff") - meanQv * meanQv) *
        col("n_eff") / (col("n_eff") - 1L), lit(0.0))) / 1e9
    point.crossJoin(broadcast(stats)).crossJoin(broadcast(ci))
      .select(col("measure"), lit(measure).as("stat"),
        col("n_units"), col("n_cats"),
        lit(b.toLong).as("b_resamples"), col("n_eff"),
        col("estimate"),
        when(col("n_eff") >= 2L, round(se, 6)).as("se"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Krippendorff's α (nominal data) — inter-rater reliability that,
    * unlike Fleiss κ (q295), TOLERATES MISSING RATINGS: each unit
    * keeps whatever raters showed up; units with fewer than 2
    * ratings are unpairable and drop out of both D_o and D_e. The
    * per-(unit, category) observed-disagreement terms
    * c·(m−c)/(m−1) are 1e-9-quantized to BIGINT before the
    * order-free sum; expected disagreement uses the pairable
    * category marginals with DECIMAL(38,0) products
    * (Σ n_c(n−n_c) = n² − Σ n_c²); α = 1 − D_o/D_e is one final
    * double expression over those exact integers. NULL when every
    * pairable rating lands in one category (D_e = 0). All rollups
    * are unit/category-dictionary-scale; no ordered window anywhere.
    */
  def krippendorffAlpha(ratings: DataFrame, unitCol: String,
                        catCol: String, label: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    // NULL unit/category rows are not ratings — drop them, the
    // family rule (gwetAC1/gwetAC2 and the bootstrap apply the same
    // filter, which is what makes agreementBootstrapCI's
    // estimate-equality law hold on NULL-bearing panels)
    val cells = ratings
      .filter(col(unitCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(unitCol).as("u"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("c"))
      .trackedPersist()
    val units = cells.groupBy("u").agg(sum("c").as("m"))
      .filter(col("m") >= 2L)
    val uStats = units.agg(count(lit(1)).as("n_units"),
      sum("m").cast("long").as("n"))
    val pairCells = cells.join(units, Seq("u"))
    val sdo = pairCells.select(
        round(lit(1e9) * col("c").cast("double") *
          (col("m") - col("c")).cast("double") /
          (col("m") - 1L).cast("double")).cast("long").as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("sdo"))
    val cStats = pairCells.groupBy("cat").agg(sum("c").as("nc"))
      .agg(count(lit(1)).as("n_cats"),
        coalesce(sum(dec(col("nc")) * dec(col("nc"))),
          dec(lit(0))).as("sum_nc2"))
    val n2 = dec(col("n")) * dec(col("n"))
    uStats.crossJoin(broadcast(sdo)).crossJoin(broadcast(cStats))
      .select(lit(label).as("measure"),
        col("n_units"), col("n"), col("n_cats"),
        round(col("sdo").cast("double") / 1e9 / col("n"), 6).as("d_o"),
        round((n2 - col("sum_nc2")).cast("double") /
          (dec(col("n")) * dec(col("n") - 1L)).cast("double"), 6).as("d_e"),
        when(col("n") >= 2L && n2 =!= col("sum_nc2"),
          round(lit(1.0) -
            (dec(col("sdo")) * dec(col("n") - 1L)).cast("double") /
            (lit(1e9) * (n2 - col("sum_nc2")).cast("double")), 6))
          .as("alpha"))
  }

  /** Krippendorff's α for INTERVAL data (Krippendorff 2004 §11.3) —
    * inter-rater reliability of CONTINUOUS scores (reward-model /
    * LLM-judge gradings), completing the nominal
    * [[krippendorffAlpha]] (q319) which cannot credit near-misses:
    * δ²(v, v') = (v − v')², α = 1 − D_o/D_e.
    *
    * NO pair join exists at any scale: both disagreement sums
    * collapse to moment identities over ordered pairs —
    * Σ_{i≠j∈u}(x_i−x_j)² = 2(m_u·Σx² − (Σx)²) per unit, and the
    * pooled Σ_{v≠v'}(v−v')² = 2(n·Σv² − (Σv)²) — so D_o is a
    * unit-keyed aggregate and D_e three scalars. Per-unit /(m_u−1)
    * terms are 1e-6-quantized BIGINTs before the cross-unit sum
    * (order-free); products ride DECIMAL(38,0) (HUGEINT in the
    * oracle). Integer-valued scores are the contract (cast at
    * entry); units with one rating are unpairable and drop from
    * BOTH D_o and D_e (the standard treatment).
    */
  def krippendorffAlphaInterval(ratings: DataFrame, unitCol: String,
                                valueCol: String,
                                label: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val vals = ratings.select(col(unitCol).as("u"),
        col(valueCol).cast("long").as("x"))
      .filter(col("u").isNotNull && col("x").isNotNull)
    val units = vals.groupBy("u").agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .filter(col("m") >= 2L)
      .trackedPersist()
    val uStats = units.agg(count(lit(1)).as("n_units"),
      sum("m").cast("long").as("n"),
      sum(dec(col("sx"))).cast(DecimalType(38, 0)).as("sv"),
      sum(col("sxx")).cast(DecimalType(38, 0)).as("svv"))
    val sdo = units.select(
        round(lit(2e6) *
          (dec(col("m")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
            .cast("double") /
          (col("m") - 1L).cast("double")).cast("long").as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("sdo"))
    // D_e = 2(n·svv − sv²)/(n(n−1));  α = 1 − D_o/D_e
    //     = 1 − sdo·(n−1) / (2e6·(n·svv − sv²))
    val deNum = dec(col("n")) * col("svv") - col("sv") * col("sv")
    uStats.crossJoin(broadcast(sdo))
      .select(lit(label).as("measure"), col("n_units"), col("n"),
        round(col("sdo").cast("double") / 1e6 / col("n"), 6).as("d_o"),
        round(lit(2.0) * deNum.cast("double") /
          (dec(col("n")) * dec(col("n") - 1L)).cast("double"), 6)
          .as("d_e"),
        when(col("n") >= 2L && deNum =!= dec(lit(0)),
          round(lit(1.0) -
            (dec(col("sdo")) * dec(col("n") - 1L)).cast("double") /
            (lit(2e6) * deNum.cast("double")), 6)).as("alpha"))
  }

  /** Krippendorff's α for ORDINAL data (Krippendorff 2004 §11.3) —
    * the rubric-scale reliability statistic (Likert gradings, 1–5
    * quality rubrics): categories are ORDERED but not equi-spaced,
    * so the distance between two categories is driven by how often
    * the panel actually used the categories between them:
    * δ_ord(c, k) = Σ_{g=c..k} n_g − (n_c + n_k)/2, squared.
    *
    * The whole metric collapses to [[krippendorffAlphaInterval]] on
    * a TRANSFORMED score: with N_c the cumulative pairable marginal
    * up to c (the q370 score-dictionary cumulative), δ_ord(c, k) =
    * φ_k − φ_c for φ_c = N_c − n_c/2 — so mapping each rating to
    * 2φ_c (an exact INTEGER: 2·N_c − n_c) and running the interval
    * machinery (moment identities, 1e-6-quantized per-unit terms,
    * DECIMAL(38,0) products) computes ordinal α exactly; the 2×
    * rescale cancels in the D_o/D_e ratio. `d_o`/`d_e` are reported
    * in the (2φ)² working scale (their ratio, hence α, is
    * scale-free). Law: with exactly TWO categories every
    * between-category distance is the same constant, so ordinal α
    * equals nominal α ([[krippendorffAlpha]]).
    *
    * Scale shape: one pairable-unit semi-join, one category-marginal
    * aggregate, a cumulative window over the CATEGORY DICTIONARY
    * (bounded rows — never row-scale), the dictionary joined back,
    * then the interval moment pipeline. No pair join anywhere.
    */
  def krippendorffAlphaOrdinal(ratings: DataFrame, unitCol: String,
                               catCol: String, label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = ratings.select(col(unitCol).as("u"),
        col(catCol).cast("long").as("c"))
      .filter(col("u").isNotNull && col("c").isNotNull)
    val units = vals.groupBy("u").agg(count(lit(1)).as("_m"))
      .filter(col("_m") >= 2L)
    val pair = vals.join(units, Seq("u")).select("u", "c")
      .trackedPersist()
    val marg = pair.groupBy("c").agg(count(lit(1)).as("_nc"))
    val wc = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, 0)
    val phi = marg
      .withColumn("_ncum", sum("_nc").over(wc))
      .select(col("c"), (lit(2L) * col("_ncum") - col("_nc")).as("_x2"))
    val nCats = phi.agg(count(lit(1)).as("n_cats"))
    val xv = pair.join(phi, Seq("c")).select(col("u"), col("_x2"))
    krippendorffAlphaInterval(xv, "u", "_x2", label)
      .crossJoin(broadcast(nCats))
      .select(col("measure"), col("n_units"), col("n"), col("n_cats"),
        col("d_o"), col("d_e"), col("alpha"))
  }

  /** Cronbach's α (Cronbach 1951) — internal-consistency reliability
    * of a k-item score panel (k rubric items / judges scoring the
    * same units): α = k/(k−1) · (1 − Σ_j σ²_j / σ²_T), with σ²_j the
    * per-item score variance across units and σ²_T the variance of
    * the per-unit TOTALS. The "do these k item scores measure one
    * construct" readout that complements the agreement family
    * (κ/α/W measure consensus; Cronbach measures coherence).
    *
    * Exactness: population variances enter only as the exact
    * integer forms n·Σx² − (Σx)² (per item, summed) and
    * n·ΣT² − (ΣT)² (totals) — the n² scaling cancels in the ratio —
    * so α = k·(B − ΣA) / ((k−1)·B) is one double division over
    * DECIMAL(38,0) integers, rounded 6. NULL when k < 2, when the
    * total variance is 0, or when the panel is not a full crossing
    * scored EXACTLY ONCE per cell — gated on DISTINCT keys, not raw
    * counts (min over items of countDistinct(unit) = max of count(*)
    * = n_units, and symmetrically on the unit margin), so a
    * duplicate rating compensating an omission gates to NULL
    * instead of passing a count check the variance identity
    * silently doesn't satisfy.
    *
    * Scale shape: one item-keyed rollup + one unit-keyed rollup
    * (each a single hash aggregate over the ratings), two scalar
    * reductions, a 1-row crossJoin. No windows.
    */
  def cronbachAlpha(ratings: DataFrame, unitCol: String,
                    itemCol: String, valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val vals = ratings.select(col(unitCol).as("u"),
        col(itemCol).as("j"), col(valueCol).cast("long").as("x"))
      .filter(col("u").isNotNull && col("j").isNotNull &&
        col("x").isNotNull)
      .trackedPersist() // feeds the item AND unit rollups
    // _jmn/_umn are the margin's min countDistinct, _jmx/_umx its
    // max raw count: min(distinct) = max(raw) = margin size forces
    // distinct = raw = size everywhere (distinct ≤ raw per key) —
    // the exactly-once complete-crossing gate.
    val items = vals.groupBy("j").agg(count(lit(1)).as("_jn"),
        countDistinct("u").as("_jd"),
        sum("x").as("_sx"),
        sum(dec(col("x")) * dec(col("x"))).as("_sxx"))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(dec(col("_jn")) * col("_sxx") -
          dec(col("_sx")) * dec(col("_sx"))), dec(lit(0))).as("_sA"),
        min("_jd").as("_jmn"), max("_jn").as("_jmx"))
    val units = vals.groupBy("u").agg(count(lit(1)).as("_um"),
        countDistinct("j").as("_ud"),
        sum("x").as("_t"))
      .agg(count(lit(1)).as("n_units"),
        sum("_um").cast("long").as("n_ratings"),
        coalesce(sum(dec(col("_t"))), dec(lit(0))).as("_st"),
        coalesce(sum(dec(col("_t")) * dec(col("_t"))), dec(lit(0)))
          .as("_stt"),
        min("_ud").as("_umn"), max("_um").as("_umx"))
    val b = dec(col("n_units")) * col("_stt") - col("_st") * col("_st")
    val complete = col("_jmn") === col("_jmx") &&
      col("_jmx") === col("n_units") &&
      col("_umn") === col("_umx") && col("_umx") === col("n_items")
    units.crossJoin(broadcast(items))
      .select(col("n_units"), col("n_items"), col("n_ratings"),
        when(col("n_units") > 0L,
          round(col("_sA").cast("double") /
            (col("n_units").cast("double") *
              col("n_units").cast("double")), 6)).as("sum_item_var"),
        when(col("n_units") > 0L,
          round(b.cast("double") /
            (col("n_units").cast("double") *
              col("n_units").cast("double")), 6)).as("total_var"),
        when(col("n_items") >= 2L && b =!= dec(lit(0)) && complete,
          round((dec(col("n_items")) * (b - col("_sA"))).cast("double") /
            (dec(col("n_items") - 1L) * b).cast("double"), 6))
          .as("alpha"))
  }

  /** ICC(2,1) — the two-way random-effects, absolute-agreement,
    * single-rater intraclass correlation (Shrout & Fleiss 1979 /
    * McGraw & Wong 1996 "two-way random, agreement"): the standard
    * reliability coefficient when every unit is scored by the SAME
    * k raters and raters are a random sample — charges systematic
    * rater offsets to the error term, unlike consistency ICCs (and
    * unlike Cronbach's α, which offsets cannot hurt).
    *
    * From the two-way ANOVA identity with all sums of squares in
    * N-scaled EXACT integer form (N = n·k, S = Σx):
    *   T = N·Σx² − S²,  R = n·Σt_i² − S²,  C = k·Σg_j² − S²,
    *   E = T − R − C
    * the coefficient collapses to ONE integer rational:
    *   ICC(2,1) = n·(R·(k−1) − E) /
    *              (n·R·(k−1) + n·(k−1)·E + k·(C·(n−1) − E))
    * — every product on DECIMAL(38,0), one double division, rounded
    * 6. MSR/MSC/MSE are reported (6-dp) as diagnostics. NULL when
    * n < 2, k < 2, the denominator is 0, or the panel is not a full
    * crossing scored EXACTLY ONCE per cell — the [[cronbachAlpha]]
    * DISTINCT-key gate on both margins (min countDistinct = max raw
    * count = margin size), so duplicate-compensated panels gate to
    * NULL rather than emitting an ANOVA identity that doesn't hold.
    *
    * Scale shape: one unit rollup + one rater rollup + one grand
    * rollup over the ratings (three hash aggregates), 1-row
    * crossJoins. No windows, no joins at data scale.
    */
  def icc21(ratings: DataFrame, unitCol: String, raterCol: String,
            valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val vals = ratings.select(col(unitCol).as("u"),
        col(raterCol).as("j"), col(valueCol).cast("long").as("x"))
      .filter(col("u").isNotNull && col("j").isNotNull &&
        col("x").isNotNull)
      .trackedPersist() // feeds unit, rater, and grand rollups
    // min(countDistinct) = max(raw count) = margin size on each
    // margin: the exactly-once complete-crossing gate (see
    // cronbachAlpha).
    val units = vals.groupBy("u").agg(count(lit(1)).as("_um"),
        countDistinct("j").as("_ud"),
        sum("x").as("_t"))
      .agg(count(lit(1)).as("n_units"),
        coalesce(sum(dec(col("_t")) * dec(col("_t"))), dec(lit(0)))
          .as("_stt"),
        min("_ud").as("_umn"), max("_um").as("_umx"))
    val raters = vals.groupBy("j").agg(count(lit(1)).as("_jn"),
        countDistinct("u").as("_jd"),
        sum("x").as("_g"))
      .agg(count(lit(1)).as("n_raters"),
        coalesce(sum(dec(col("_g")) * dec(col("_g"))), dec(lit(0)))
          .as("_sgg"),
        min("_jd").as("_jmn"), max("_jn").as("_jmx"))
    val grand = vals.agg(count(lit(1)).as("n_ratings"),
      coalesce(sum(dec(col("x"))), dec(lit(0))).as("_s"),
      coalesce(sum(dec(col("x")) * dec(col("x"))), dec(lit(0)))
        .as("_sxx"))
    val n = dec(col("n_units"))
    val k = dec(col("n_raters"))
    val bigN = dec(col("n_ratings"))
    val s2 = col("_s") * col("_s")
    val t = bigN * col("_sxx") - s2
    val r = n * col("_stt") - s2
    val c = k * col("_sgg") - s2
    val e = t - r - c
    val num = n * (r * (k - dec(lit(1))) - e)
    val den = n * r * (k - dec(lit(1))) + n * (k - dec(lit(1))) * e +
      k * (c * (n - dec(lit(1))) - e)
    // MS diagnostics: MSR = R/(N(n−1)), MSC = C/(N(k−1)),
    // MSE = E/(N(n−1)(k−1))
    val complete = col("_umn") === col("_umx") &&
      col("_umx") === col("n_raters") &&
      col("_jmn") === col("_jmx") && col("_jmx") === col("n_units")
    val defined = col("n_units") >= 2L && col("n_raters") >= 2L &&
      complete
    units.crossJoin(broadcast(raters)).crossJoin(broadcast(grand))
      .select(col("n_units"), col("n_raters"), col("n_ratings"),
        when(defined, round(r.cast("double") /
          (bigN * (n - dec(lit(1)))).cast("double"), 6)).as("msr"),
        when(defined, round(c.cast("double") /
          (bigN * (k - dec(lit(1)))).cast("double"), 6)).as("msc"),
        when(defined, round(e.cast("double") /
          (bigN * (n - dec(lit(1))) * (k - dec(lit(1))))
            .cast("double"), 6)).as("mse"),
        when(defined && den =!= dec(lit(0)),
          round(num.cast("double") / den.cast("double"), 6))
          .as("icc"))
  }

  /** Kendall's W — the coefficient of concordance (Kendall &
    * Babington Smith 1939) across k judges each ranking the SAME n
    * items, with the standard tie correction: the multi-judge
    * agreement readout on RANKINGS (are the judges ordering the
    * items the same way?), completing the pairwise τ (q206) and the
    * score-level α ([[krippendorffAlphaInterval]], q369). Also
    * reports the mean pairwise Spearman ρ̄ = (kW − 1)/(k − 1).
    *
    * Exactness: average ranks are half-integers, so ranks are held
    * in 2× units (r2 = 2·minrank + ct − 1, an integer) — with
    * ΣR2² = 4·ΣR̄², W = 3(ΣR2² − k²n(n+1)²) / (k²(n³−n) − k·ΣT),
    * T_j = Σ_ties (t³ − t): every term an exact integer on
    * DECIMAL(38,0), ONE double division at the end. NULL when the
    * denominator is 0 (every judge all-ties).
    *
    * Scale shape: ranks come from the PER-JUDGE SCORE DICTIONARY —
    * a cumulative window over (judge, score) counts (dictionary
    * rows, the Ranks.rowNumberExact decomposition generalized per
    * judge) joined back on (judge, score); never a row-scale sort
    * per judge. One item rollup + scalar aggregates. Contract: a
    * COMPLETE panel (every judge scores every item EXACTLY ONCE) —
    * ENFORCED in-operator on DISTINCT item keys: the gate requires
    * min over judges of countDistinct(item) = max of raw count =
    * n_items (distinct ≤ raw per judge forces both margins to
    * n_items everywhere), so a judge scoring one item twice and
    * another never — same raw count, broken rank-sum identity —
    * gates W and ρ̄ to NULL (the counts still report, so n_ratings
    * remains the caller's visible diagnostic).
    */
  def kendallW(ratings: DataFrame, unitCol: String, raterCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val vals = ratings.select(col(unitCol).as("u"),
        col(raterCol).as("j"), col(valueCol).cast("long").as("x"))
      .filter(col("u").isNotNull && col("j").isNotNull &&
        col("x").isNotNull)
      .trackedPersist() // feeds cnt, the rank join, and the gate
    val cnt = vals.groupBy("j", "x").agg(count(lit(1)).as("ct"))
      .trackedPersist()
    // exactly-once gate input: cnt groups (judge, score) and cannot
    // see item duplicates, so distinct items per judge come from
    // their own dictionary-scale rollup
    val dj = vals.groupBy("j").agg(countDistinct("u").as("_jd"))
      .agg(min("_jd").as("_jdn"))
    val wd = Window.partitionBy("j").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2d = cnt.withColumn("_below",
        coalesce(sum("ct").over(wd), lit(0L)))
      .select(col("j"), col("x"),
        (lit(2L) * (col("_below") + 1L) + col("ct") - 1L).as("r2"))
    val ranked = vals.join(r2d, Seq("j", "x"))
    val items = ranked.groupBy("u").agg(sum("r2").as("_R2"),
      count(lit(1)).as("_k"))
    val ties = cnt.groupBy("j")
      .agg(sum(dec(col("ct")) * dec(col("ct")) * dec(col("ct")) -
        dec(col("ct"))).as("_t"), sum("ct").as("_jc"))
      .agg(count(lit(1)).as("n_judges"),
        sum(col("_t")).cast(DecimalType(38, 0)).as("_sT"),
        max("_jc").as("_jmx"))
    val iStats = items.agg(count(lit(1)).as("n_items"),
      sum(dec(col("_R2")) * dec(col("_R2")))
        .cast(DecimalType(38, 0)).as("_sR2"),
      sum("_k").cast("long").as("n_ratings"))
    val n = dec(col("n_items"))
    val k = dec(col("n_judges"))
    val num = lit(3).cast(DecimalType(38, 0)) *
      (col("_sR2") - k * k * n * (n + dec(lit(1))) * (n + dec(lit(1))))
    val den = k * k * (n * n * n - n) - k * col("_sT")
    // exactly-once complete-panel gate: min over judges of distinct
    // items = max of raw count = n_items (distinct ≤ raw per judge)
    val complete = col("_jdn") === col("_jmx") &&
      col("_jmx") === col("n_items")
    iStats.crossJoin(broadcast(ties)).crossJoin(broadcast(dj))
      .select(col("n_items"), col("n_judges"), col("n_ratings"),
        when(den =!= dec(lit(0)) && complete,
          round(num.cast("double") / den.cast("double"), 6)).as("w"),
        when(den =!= dec(lit(0)) && complete && col("n_judges") > 1L,
          round((k.cast("double") *
            (num.cast("double") / den.cast("double")) - 1.0) /
            (col("n_judges") - 1L).cast("double"), 6))
          .as("mean_spearman"))
  }

  /** Source-outlier detection from TEXT ALONE: each document's
    * hashed-bucket token distribution compared (squared L2) to its
    * own source's mean distribution; the top-`k` most distant docs
    * per source are the mislabeled / off-profile candidates — the
    * embedding-free twin of the label-outlier op (q114).
    *
    * Determinism: per-doc bucket fractions are exact integer ratios;
    * centroids average 1e-9-quantized fractions (integer sums);
    * per-(doc, bucket) squared-diff terms are 1e-12-quantized before
    * the per-doc sum — every aggregation order-free.
    *
    * Scale: (doc, bucket) long form is dim× the corpus row count but
    * thin; centroids are |sources|·dim rows, broadcast back. One
    * count shuffle + one doc-keyed re-agg + the per-source top-k
    * window.
    */
  def hashVecSourceOutliers(docs: DataFrame, dim: Int = 16, k: Int = 10,
                            idCol: String = "doc_id",
                            sourceCol: String = "source",
                            textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = (conv(substring(md5(col("w")), 1, 15), 16, 10)
      .cast("long") % dim).cast("int")
    val perDoc = docs
      .select(col(idCol), col(sourceCol), explode(tokens(col(textCol))).as("w"))
      .select(col(idCol), col(sourceCol), bucket.as("b"))
      .groupBy(col(idCol), col(sourceCol), col("b"))
      .agg(count(lit(1)).as("c"))
    val docN = perDoc.groupBy(idCol).agg(sum("c").as("n"))
    // dense (doc, bucket) fractions over the fixed bucket spine
    val spine = docs.select(col(idCol).as("_sid"), col(sourceCol).as("_ssrc"))
      .crossJoin(docN.sparkSession.range(dim)
        .select(col("id").cast("int").as("b")))
    val fracs = spine
      .join(perDoc.withColumnRenamed(idCol, "_sid")
          .withColumnRenamed(sourceCol, "_ssrc"),
        Seq("_sid", "_ssrc", "b"), "left")
      .na.fill(0L, Seq("c"))
      .join(docN.withColumnRenamed(idCol, "_sid"), "_sid")
      .select(col("_sid").as(idCol), col("_ssrc").as(sourceCol), col("b"),
        round(col("c").cast("double") / col("n") * 1e9).cast("long")
          .as("f_u"))
    val cent = fracs.groupBy(col(sourceCol), col("b"))
      .agg(sum("f_u").as("sf"), count(lit(1)).as("nd"))
      .select(col(sourceCol), col("b"),
        (col("sf").cast("double") / col("nd") / 1e9).as("cent"))
    val dist = fracs.join(broadcast(cent), Seq(sourceCol, "b"))
      .withColumn("t_u",
        round((col("f_u").cast("double") / 1e9 - col("cent"))
          * (col("f_u").cast("double") / 1e9 - col("cent")) * 1e12)
          .cast("long"))
      .groupBy(col(idCol), col(sourceCol)).agg(sum("t_u").as("su"))
      .select(col(idCol), col(sourceCol),
        round(col("su").cast("double") / 1e12, 6).as("sq_dist"))
    dist.withColumn("rn", row_number().over(
        Window.partitionBy(sourceCol)
          .orderBy(col("sq_dist").desc, col(idCol))))
      .filter(col("rn") <= k)
      .select(col(idCol), col(sourceCol), col("sq_dist"),
        col("rn").cast("long").as("rn"))
  }

  /** Hashing-trick document vectors (the fastText/VW representation):
    * each token hashes to one of `dim` buckets (md5 family — the same
    * engine-portable hash the classifier and samplers use), the
    * vector is per-bucket token frequency normalized by doc length,
    * emitted as micro-unit CSV (the q110 projection idiom) so the
    * floats compare exactly across engines. The cheap, deterministic
    * "embedding" for corpora that have none — feeds the same ANN /
    * dedup / outlier machinery real embeddings do.
    *
    * Map-only per doc after one (doc, bucket) count shuffle; dense
    * array rebuild via map lookup over the fixed bucket spine.
    */
  def hashDocVectors(docs: DataFrame, dim: Int = 16,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"hashDocVectors: bad dim $dim")
    val bucket = (conv(substring(md5(col("w")), 1, 15), 16, 10)
      .cast("long") % dim).cast("int")
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .select(col(idCol), bucket.as("b"))
      .groupBy(idCol, "b").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(sum("c").as("n"),
        map_from_entries(sort_array(collect_list(struct(col("b"), col("c")))))
          .as("_m"))
      .select(col(idCol), col("n").as("n_tokens"),
        array_join(transform(sequence(lit(0), lit(dim - 1)),
          i => round(coalesce(element_at(col("_m"), i), lit(0L)).cast("double")
            / col("n") * 1e6).cast("long").cast("string")), ",").as("vec_csv"))
  }

  /** Pairwise Jensen–Shannon divergence between sources' unigram
    * distributions — the symmetric, bounded (≤ ln 2) companion of
    * `unigramEntropyKl`: which sources are near-duplicates of each
    * other AS DISTRIBUTIONS (merge candidates), which are the
    * outliers mixture design should weigh deliberately.
    * JSD(p,q) = ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2; zero-count sides
    * contribute 0 by the 0·ln0 convention.
    *
    * Scale: one (source, token) count shuffle, then a token-keyed
    * join of the |S|·vocab count table with itself — output is
    * |S|²/2 · vocab terms, vocabulary-bounded like the entropy op.
    * Per-pair-token terms are 1e-9-quantized (BIGINT) — order-free.
    */
  def jsdMatrix(docs: DataFrame, sourceCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val perSource = docs
      .select(col(sourceCol).as("src"), explode(tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c"))
    val totals = perSource.groupBy("src").agg(sum("c").as("n"))
    // zero-filled source×vocab spine: a pair's term set is the UNION
    // of its sides' tokens, which the spine gives uniformly (a token
    // absent from both sides contributes exactly 0)
    val spine = totals.select("src")
      .crossJoin(perSource.select("w").distinct())
    val probs = spine.join(perSource, Seq("src", "w"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(totals), "src")
      .select(col("src"), col("w"),
        (col("c").cast("double") / col("n")).as("p"))
    val pairs = probs.toDF("source_a", "w", "pa")
      .join(probs.toDF("source_b", "w", "pb"), Seq("w"))
      .filter(col("source_a") < col("source_b"))
    val m = (col("pa") + col("pb")) / 2.0
    val term =
      when(col("pa") > 0, lit(0.5) * col("pa") * log(col("pa") / m))
        .otherwise(lit(0.0)) +
      when(col("pb") > 0, lit(0.5) * col("pb") * log(col("pb") / m))
        .otherwise(lit(0.0))
    pairs
      .withColumn("t_u", round(term * 1e9).cast("long"))
      .groupBy("source_a", "source_b").agg(sum("t_u").as("su"))
      .select(col("source_a"), col("source_b"),
        round(col("su").cast("double") / 1e9, 6).as("jsd"))
  }

  /** Gini coefficient of the token frequency distribution — corpus
    * CONCENTRATION in one number (0 = perfectly even vocabulary use,
    * → 1 = a few tokens dominate), the companion to entropy (q134)
    * and the Zipf slope (q146). For counts sorted ascending,
    * G = (2·Σ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ) — ALL integer until the
    * final division, so the statistic is engine-exact by
    * construction. The rank routes through Ranks.rowNumberExact: the
    * only ordered window runs over the count-VALUE dictionary, never
    * the vocabulary frame.
    */
  def tokenGini(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ranked = graft.engine.Ranks
      .rowNumberExact(counts, "c", "w", out = "i", withTotal = false)
    ranked.agg(count(lit(1)).as("n"), sum("c").as("sc"),
        sum(col("i") * col("c")).as("sic"))
      .select(col("n"), col("sc").as("n_tokens"),
        round((lit(2.0) * col("sic") - (col("n") + 1).cast("double")
          * col("sc")) / (col("n").cast("double") * col("sc")), 6).as("gini"))
  }

  /** Zipf's-law fit: OLS slope of ln(count) on ln(rank) over the
    * token frequency table (rank by count desc, token asc). A healthy
    * natural-language corpus sits near slope −1; templated/synthetic
    * text flattens toward 0 — a one-number corpus-health signal.
    *
    * The four OLS sums (Σx, Σy, Σxy, Σx²) are accumulated as
    * 1e-9-quantized BIGINTs over the VOCABULARY (order-free); the
    * final slope/intercept are single double expressions over those
    * four exact integers. Needs ≥ 2 distinct tokens above `minCount`
    * — with one the OLS denominator is 0 and the fit is undefined
    * (NaN), as it should be.
    */
  def zipfFit(docs: DataFrame, minCount: Long = 5,
              textCol: String = "text"): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    // rank by (count desc, token) via the count-VALUE dictionary —
    // no partition-less sort of the vocabulary frame
    val ranked = graft.engine.Ranks
      .rowNumberExact(counts, "c", "w", valueDesc = true, out = "r",
        withTotal = false)
    val xy = ranked.select(
      round(log(col("r").cast("double")) * 1e9).cast("long").as("x_u"),
      round(log(col("c").cast("double")) * 1e9).cast("long").as("y_u"),
      round(log(col("r").cast("double")) * log(col("c").cast("double")) * 1e9)
        .cast("long").as("xy_u"),
      round(log(col("r").cast("double")) * log(col("r").cast("double")) * 1e9)
        .cast("long").as("xx_u"))
    val s = xy.agg(count(lit(1)).as("n"), sum("x_u").as("sx"),
      sum("y_u").as("sy"), sum("xy_u").as("sxy"), sum("xx_u").as("sxx"))
    s.select(col("n"),
      round((col("n") * (col("sxy").cast("double") / 1e9)
          - (col("sx").cast("double") / 1e9) * (col("sy").cast("double") / 1e9))
        / (col("n") * (col("sxx").cast("double") / 1e9)
          - (col("sx").cast("double") / 1e9) * (col("sx").cast("double") / 1e9)),
        6).as("slope"),
      round(((col("sy").cast("double") / 1e9)
          - ((col("n") * (col("sxy").cast("double") / 1e9)
            - (col("sx").cast("double") / 1e9) * (col("sy").cast("double") / 1e9))
          / (col("n") * (col("sxx").cast("double") / 1e9)
            - (col("sx").cast("double") / 1e9) * (col("sx").cast("double") / 1e9)))
          * (col("sx").cast("double") / 1e9)) / col("n"), 6).as("intercept"))
  }

  /** Out-of-vocabulary rate per source against the corpus's own
    * top-`vocabSize` token vocabulary — the tokenizer-coverage
    * diagnostic run before committing to a vocab size.
    *
    * Vocabulary membership is decided by (count desc, token asc) —
    * a total order, so the cut is deterministic. Scale: the global
    * rank window runs over the VOCABULARY (token-distinct counts),
    * not the corpus; the membership join broadcasts the vocab
    * (vocabSize rows) against the (source, token) count table.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000,
              sourceCol: String = "source",
              textCol: String = "text"): DataFrame = {
    val perSource = docs
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    // vocab cut = exact top-k of the token counts (TakeOrdered)
    val vocab = graft.engine.Ranks
      .topK(perSource.groupBy("w").agg(sum("c").as("cw")),
        vocabSize, col("cw").desc, col("w").asc)
      .select(col("w"), lit(1).as("_in"))
    perSource.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("source").agg(
        sum("c").as("n_tokens"),
        sum(when(col("_in").isNull, col("c")).otherwise(0L)).as("oov_tokens"))
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        round(col("oov_tokens").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
  }
  /** Burrows' Delta stylometry (Burrows 2002, public literature)
    * between sources: relative frequencies of the corpus's `topN`
    * most common words, z-scored per word ACROSS sources, and each
    * source pair's mean |z difference| — near-zero delta means two
    * sources write alike (merge/contamination candidates), large
    * delta an outlier register. Determinism: relative frequencies
    * are 1e6-quantized BIGINTs (also the overflow headroom for the
    * cross-source moments), z-scores 1e6-quantized from exact sums,
    * delta an exact integer mean. A word with zero variance across
    * sources contributes z = 0 (stated convention).
    *
    * Scale: one token explode → (source, word) rollup; everything
    * after runs on the sources×topN grid. The pair frame is
    * sources², so a thousand-source corpus wants blocking upstream.
    */
  def burrowsDelta(docs: DataFrame, topN: Int = 40,
                   sourceCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    require(topN >= 5, s"burrowsDelta: topN must be >= 5, got $topN")
    val counts = docs.select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .trackedPersist()
    val totals = counts.groupBy("source").agg(sum("c").as("n"))
    val topWords = counts.groupBy("w").agg(sum("c").as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(topN).select("w")
    val f = totals.crossJoin(broadcast(topWords))
      .join(counts, Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        round(coalesce(col("c"), lit(0L)).cast("double") / col("n")
          * lit(1e6)).cast("long").as("f_u"))
    val stats = f.groupBy("w").agg(count(lit(1)).as("ns"),
      sum("f_u").as("sf"), sum(col("f_u") * col("f_u")).as("sff"))
    val z = f.join(broadcast(stats), "w")
      .select(col("source"), col("w"),
        when(col("ns") * col("sff") === col("sf") * col("sf"), lit(0L))
          .otherwise(round(
            (col("f_u").cast("double") - col("sf").cast("double") / col("ns")) /
            (sqrt((col("ns") * col("sff") - col("sf") * col("sf"))
              .cast("double")) / col("ns").cast("double")) * lit(1e6))
            .cast("long")).as("z_u"))
    val za = z.select(col("source").as("source_a"), col("w"),
      col("z_u").as("za"))
    val zb = z.select(col("source").as("source_b"), col("w"),
      col("z_u").as("zb"))
    za.join(zb, Seq("w")).where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_words"),
        round(sum(abs(col("za") - col("zb"))).cast("double") /
          count(lit(1))).cast("long").as("d_u"))
      .select(col("source_a"), col("source_b"), col("n_words"),
        (col("d_u").cast("double") / 1e6).as("delta"))
      .orderBy("source_a", "source_b")
  }
  /** Mixed-language document detection: language-ID per fixed-size
    * chunk (the [[langId]] marker classifier over [[Corpus.chunk]]'s
    * windows), then per document the chunk-language distribution —
    * n_langs, the plurality language and its share, and the mixed
    * flag (more than one language AND plurality under 80%, both
    * pure-integer comparisons). Catches the "English page with an
    * embedded French quote block" docs a whole-document classifier
    * (q38) papers over — exactly the docs a monolingual training
    * mix should route to segmentation.
    *
    * Scale: chunking is map-only; one (doc, lang) rollup and one
    * doc rollup — no joins beyond the plurality pick.
    */
  def langPurity(docs: DataFrame, chunkSize: Int = 32,
                 overlap: Int = 0): DataFrame = {
    val chunks = Corpus.chunk(docs, chunkSize, overlap)
      .select(col("doc_id"), langId(col("chunk_text")).as("cl"))
    val byLang = chunks.groupBy("doc_id", "cl")
      .agg(count(lit(1)).as("c"))
      .trackedPersist()
    byLang.groupBy("doc_id")
      .agg(sum("c").as("n_chunks"), count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("cl"))).as("top"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("top.cl").as("top_lang"),
        round(col("top.c").cast("double") / col("n_chunks"), 6)
          .as("top_share"),
        (col("n_langs") > 1L &&
          col("top.c") * lit(10L) < col("n_chunks") * lit(8L))
          .as("is_mixed"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve — what fraction of all token
    * OCCURRENCES the top-k most frequent types cover, for each k in
    * `ks`. The number a tokenizer/vocab designer reads before fixing
    * a vocab size (coverage@32k ≈ how often the model sees <unk>),
    * and a corpus-health companion to the Zipf slope (q146): natural
    * text saturates fast, templated text almost immediately.
    *
    * Rank-by-frequency routes through Ranks.rowNumberExact (the
    * count-VALUE-dictionary decomposition), so there is NO global
    * window over the vocabulary frame; all per-k masses accumulate
    * in ONE aggregate row (conditional sums), then unstack via a
    * bounded literal-array explode — one token shuffle + one
    * vocabulary aggregate total, |ks| output rows.
    */
  /** Self-BLEU diversity (Zhu et al. 2018, "Texygen: A Benchmarking
    * Platform for Text Generation Models"): within each prompt's
    * response roster, each response is scored against the OTHER k−1
    * responses as a multi-reference clipped n-gram precision (the
    * BLEU numerator family of [[clippedNgramPrecision]], n ∈ {1, 2});
    * high self-BLEU = mode collapse (responses quote each other) —
    * the inverse readout of q359's distinct-n.
    *
    * Multi-reference clipping WITHOUT the k² pairwise blow-up: the
    * reference count of gram g for response i is max_{j≠i} c_j(g),
    * which needs only the roster-wide TOP-2 statistic per (prompt, n,
    * gram) — m1 = max count, nmax = #responses attaining it, m2 = max
    * count strictly below — because max_{j≠i} c_j = m1 unless i is
    * the UNIQUE argmax, in which case it is m2 (or 0 when i is the
    * only response holding g). Tie-FREE integer logic: no argmax
    * tie-breaking exists to diverge cross-engine.
    *
    * Per response p_n = Σ_g min(c_i(g), ref_i(g)) / total_n_grams_i,
    * quantized to a 1e-9 BIGINT before the prompt rollup (integer
    * sums are shuffle-order-free — the chrF discipline); each prompt
    * reports the response-macro average. A single-response prompt has
    * an empty reference set ⇒ p_n = 0 (Texygen defines self-BLEU for
    * k ≥ 2; the degenerate value is documented, not hidden).
    * Responses with no bigram are excluded from the p_2 average
    * (NULL when none remain).
    *
    * Scale shape: gram explodes + three aggregates and two equi-joins
    * all keyed on (prompt, n, gram) — one shuffle partitioning reused
    * end-to-end, no windows, no pairwise response join; the per-gram
    * count frame is trackedPersist'd (it feeds three consumers).
    */
  def selfBleu(responses: DataFrame, promptCol: String = "prompt_id",
               idCol: String = "resp_id",
               textCol: String = "text"): DataFrame = {
    // NULL prompt/id/text rows score nothing and would form
    // null-keyed phantom groups (size(NULL) is −1!) — filter first
    val toks = responses
      .filter(col(promptCol).isNotNull && col(idCol).isNotNull &&
        col(textCol).isNotNull)
      .select(col(promptCol).as("_p"),
        col(idCol).as("_r"), tokens(col(textCol)).as("_toks"))
    val uni = toks.select(col("_p"), col("_r"), lit(1).as("_n"),
      explode(col("_toks")).as("_g"))
    val bi = toks.filter(size(col("_toks")) >= 2)
      .select(col("_p"), col("_r"), lit(2).as("_n"),
        explode(expr("transform(sequence(0, size(_toks) - 2), i -> " +
          "concat(_toks[i], ' ', _toks[i + 1]))")).as("_g"))
    val cnt = uni.unionByName(bi)
      .groupBy("_p", "_n", "_g", "_r").agg(count(lit(1)).as("_c"))
      .trackedPersist()
    val m1 = cnt.groupBy("_p", "_n", "_g").agg(max(col("_c")).as("_m1"))
    val top2 = cnt.join(m1, Seq("_p", "_n", "_g"))
      .groupBy("_p", "_n", "_g")
      .agg(max(col("_m1")).as("_m1"),
        sum(when(col("_c") === col("_m1"), 1L).otherwise(0L))
          .as("_nmax"),
        max(when(col("_c") < col("_m1"), col("_c"))).as("_m2"))
    val clipped = cnt.join(top2, Seq("_p", "_n", "_g"))
      .select(col("_p"), col("_r"), col("_n"),
        least(col("_c"),
          when(col("_c") === col("_m1") && col("_nmax") === 1L,
            coalesce(col("_m2"), lit(0L))).otherwise(col("_m1")))
          .as("_clip"))
      .groupBy("_p", "_r", "_n").agg(sum(col("_clip")).as("_cl"))
      .trackedPersist()
    val tot = toks.select(col("_p"), col("_r"),
      size(col("_toks")).cast("long").as("_t1"),
      greatest(size(col("_toks")) - 1, lit(0)).cast("long").as("_t2"))
    val per = tot
      .join(clipped.filter(col("_n") === 1)
        .select(col("_p"), col("_r"), col("_cl").as("_c1")),
        Seq("_p", "_r"), "left")
      .join(clipped.filter(col("_n") === 2)
        .select(col("_p"), col("_r"), col("_cl").as("_c2")),
        Seq("_p", "_r"), "left")
      .select(col("_p"),
        round(lit(1e9) * coalesce(col("_c1"), lit(0L)) / col("_t1"))
          .cast("long").as("_q1"),
        when(col("_t2") > 0L,
          round(lit(1e9) * coalesce(col("_c2"), lit(0L)) / col("_t2"))
            .cast("long")).as("_q2"))
    per.groupBy(col("_p"))
      .agg(count(lit(1)).as("n_resp"),
        sum(col("_q1")).as("_s1"),
        count(col("_q2")).as("_n2"),
        sum(col("_q2")).as("_s2"))
      .select(col("_p").as(promptCol), col("n_resp"),
        round(col("_s1").cast("double") / col("n_resp") / 1e9, 6)
          .as("self_p1"),
        when(col("_n2") > 0L,
          round(col("_s2").cast("double") / col("_n2") / 1e9, 6))
          .as("self_p2"))
      .orderBy(promptCol)
  }

  /** Tokenizer fertility profile per language — the tokenizer-quality
    * diagnostic every multilingual pipeline reports (Ács 2019;
    * Rust et al. 2021 "How Good is Your Tokenizer?"): fertility =
    * subword pieces per whitespace word (1.0 = the tokenizer never
    * splits; high = the language is poorly served by the vocab) and
    * chars per piece (the byte-economy view). Pieces are the BPE
    * pre-tokenizer's view — alnum runs + single other non-space
    * chars — in lookaround-FREE regex form ('[a-z0-9]+|[^a-z0-9\s]')
    * so DuckDB's RE2 oracle runs the identical pattern
    * ([[subwordCount]]'s lookaround split has no RE2 twin). Piece
    * chars need no second regex pass: every non-whitespace char lands
    * in exactly one piece, so the mass is the whitespace-stripped
    * length.
    *
    * Scale shape: map-only per-doc counts + ONE group-keyed sum
    * aggregate; two rounded divisions on the aggregate. No joins, no
    * windows.
    */
  def fertility(docs: DataFrame, groupCol: String = "lang",
                textCol: String = "text"): DataFrame = {
    val piecePat = "[a-z0-9]+|[^a-z0-9\\s]"
    val per = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("_grp"),
      size(tokens(col(textCol))).cast("long").as("_w"),
      size(regexp_extract_all(lower(col(textCol)), lit(piecePat),
        lit(0))).cast("long").as("_p"),
      length(regexp_replace(lower(col(textCol)), "\\s+", ""))
        .cast("long").as("_pc"))
    per.groupBy(col("_grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_words"),
        sum(col("_p")).as("n_pieces"),
        sum(col("_pc")).as("piece_chars"))
      .select(col("_grp").as(groupCol), col("n_docs"), col("n_words"),
        col("n_pieces"), col("piece_chars"),
        round(col("n_pieces").cast("double") / col("n_words"), 6)
          .as("fertility"),
        when(col("n_pieces") > 0L,
          round(col("piece_chars").cast("double") / col("n_pieces"), 6))
          .as("chars_per_piece"))
      .orderBy(groupCol)
  }

  /** Word error rate (the ASR/generation edit-rate metric; TER
    * without shifts — Snover et al. 2006 reduce to exactly this when
    * the shift search is disabled): word-level Levenshtein distance
    * between candidate and reference token prefixes (capped at
    * `maxTokens`, the [[rougeL]] discipline), WER = edits / ref_len.
    * Pairs with a NULL side are unscorable and dropped.
    *
    * The edit count is the textbook O(m·n) row DP, run natively per
    * row by [[graft.functions.PairCounts.tokenEdits]]; the DuckDB
    * oracle unrolls a prefix-min fold over the same capped tokens and
    * reaches the same integer.
    *
    * Scale shape: map-only — the kernel in one projection, the single
    * rounded division per row. No joins, no windows.
    */
  def wer(pairs: DataFrame, maxTokens: Int = 24,
          idCol: String = "pair_id", candCol: String = "cand_text",
          refCol: String = "ref_text"): DataFrame = {
    require(maxTokens >= 1, s"wer: maxTokens >= 1, got $maxTokens")
    val scorable = pairs.filter(col(idCol).isNotNull &&
      col(candCol).isNotNull && col(refCol).isNotNull)
    cappedTokens(scorable, maxTokens, idCol, candCol, refCol)
      .select(col(idCol),
        size(col("_ct")).cast("long").as("cand_len"),
        size(col("_rt")).cast("long").as("ref_len"),
        PairCounts.tokenEdits(col("_ct"), col("_rt")).as("edits"))
      .select(col(idCol), col("cand_len"), col("ref_len"), col("edits"),
        when(col("ref_len") > 0L,
          round(col("edits").cast("double") / col("ref_len"), 6))
          .as("wer"))
      .orderBy(idCol)
  }

  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000),
                    textCol: String = "text"): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"vocabCoverage: ks must be positive, got $ks")
    val counts = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ranked = graft.engine.Ranks
      .rowNumberExact(counts, "c", "w", valueDesc = true, out = "r",
        withTotal = false)
    val perK = ks.flatMap { k =>
      Seq(sum(when(col("r") <= k, 1L).otherwise(0L)).as(s"_t$k"),
        sum(when(col("r") <= k, col("c")).otherwise(0L)).as(s"_o$k"))
    }
    val a = ranked.agg(count(lit(1)).cast("long").as("n_types_total"),
      (Seq(sum(col("c")).cast("long").as("n_occ_total")) ++ perK): _*)
    val stacked = a.select(col("n_types_total"), col("n_occ_total"),
      explode(array(ks.map(k => struct(lit(k).as("k"),
        col(s"_t$k").cast("long").as("t"),
        col(s"_o$k").cast("long").as("o"))): _*)).as("s"))
    stacked.select(col("s.k").as("k"),
        col("s.t").as("n_types"), col("s.o").as("occ_covered"),
        col("n_types_total"), col("n_occ_total"),
        round(col("s.o").cast("double") / col("n_occ_total"), 6)
          .as("coverage"))
      .orderBy("k")
  }
}
