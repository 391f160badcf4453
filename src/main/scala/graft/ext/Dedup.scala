package graft.ext

import graft.engine.TrackedCache.Trackable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed
  * scale-first:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle on
  *    the hash key, O(1) state per group, trivially 100 TB-safe.
  *  - MinHash + LSH banding: per-doc signature (narrow, no shuffle),
  *    explode to (band, bandHash) buckets, self-join INSIDE buckets
  *    only — the classic way to avoid the O(n²) all-pairs join.
  *  - SimHash: 64-bit signature via bit-voting over token hashes;
  *    near-dup candidates = equal signatures (or banded sub-keys).
  *  - n-gram Jaccard: inverted-index join on shared shingles — the
  *    exact verification path, also used standalone at moderate scale.
  *
  * Everything is built from higher-order column functions (no UDFs):
  * signatures are computed inside the JVM expression interpreter,
  * candidate generation is plain relational algebra that Catalyst
  * plans with hash shuffles + AQE skew handling.
  */
object Dedup {

  /** Default document-frequency cap for `ngramJaccardPairs`: a
    * shingle shared by more than this many docs is boilerplate, and
    * its posting list would contribute up to cap² pairs to the
    * inverted-index join (10⁶ at this value — bounded work per
    * shingle regardless of corpus size).
    */
  val DefaultMaxDf: Long = 1000L

  /** Default combined-membership cap for `dedupAgainstIndex` buckets:
    * a (band, bucket) whose shard+index membership exceeds this is
    * boilerplate (its members are better caught by exact dedup), and
    * uncapped it would emit up to n_new·n_idx candidates. Far above
    * any honest bucket at test scale, so the oracle — which does not
    * model the cap — sees the identity; the binding behavior is
    * law-tested in DedupSpec.
    */
  val DefaultMaxBucket: Long = 10000L

  // ——— exact dedup ———

  /** Keep one row per distinct fingerprint (the min-id row), count
    * copies. Reference pattern: groupBy(hash) → min/count.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(TextStats.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  // ——— shingles ———

  /** Word n-gram shingles per doc: (id, shingle) long form, distinct
    * by default (set semantics for Jaccard). Guarded for docs shorter
    * than n tokens. Pass `distinct = false` when the consumer is
    * multiset-insensitive (e.g. MinHash `min` — skips a full shuffle).
    */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text", distinct: Boolean = true): DataFrame = {
    // materialize the token array in its own projection FIRST: a
    // split() referenced inside the transform/slice lambda re-executes
    // per element (interpreted HOFs evaluate children per call) —
    // O(|tokens|²) tokenization per row, measured 7× slower at sf0.1
    val withToks = docs.select(col(idCol), TextStats.tokens(col(textCol)).as("_toks"))
    val toks = col("_toks")
    val sh = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array(array_join(toks, " ")))
    val long = withToks.select(col(idCol), explode(sh).as("shingle"))
    if (distinct) long.distinct() else long
  }

  // ——— MinHash + LSH ———

  /** MinHash in relational form: explode shingles to long form, cross
    * with the k seeds, take `min(md5(seed || shingle))` per (doc,
    * seed) in ONE codegen'd hash aggregate.
    *
    * Why not a per-row signature expression: a nested
    * transform/array_min HOF tree is interpreted (no codegen) and
    * Catalyst's CollapseProject re-inlines it into every consumer, so
    * the k×|shingles| hash work re-executes once per band — measured
    * 140 s on 500 docs. The relational form is k·|shingles| rows
    * through a hash aggregate: ~1 s at test scale, and at 100 TB it
    * shuffles on (doc, seed) — partition-parallel, spillable, and
    * AQE-coalesced, which a 100-MB-wide row expression is not.
    *
    * Hash family: md5(seed || "|" || shingle) — engine-portable
    * (DuckDB has md5), so LSH bucketing is oracle-checkable
    * end-to-end. Returns (id, seed, mh).
    */
  def minhashLong(docs: DataFrame, n: Int, k: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, n, idCol, textCol)
    val seeds = sh.sparkSession.range(k).select(col("id").cast("int").as("seed"))
    sh.crossJoin(broadcast(seeds))
      .groupBy(col(idCol), col("seed"))
      .agg(min(md5(concat(col("seed").cast("string"), lit("|"), col("shingle")))).as("mh"))
  }

  /** LSH banding in ONE aggregation pass: the k min-hashes are k
    * conditional `min` aggregates over the shingle long form (no k×
    * row explosion, no second shuffle), then each band's bucket key is
    * md5 of its sorted (seed:mh) pairs — the same strings/sort as the
    * DuckDB oracle's list_sort/array_to_string, so results stay
    * engine-portable. Returns (id, band, bucket).
    *
    * Scale: one shuffle on the doc id with k-wide agg state; band
    * bucketing is a narrow projection. (The seed-exploded
    * `minhashLong` form shuffles k× the rows — use it only when the
    * signature itself is the product.)
    */
  /** Universal-hash family parameters: k hashes derived from ONE md5
    * per shingle via h_s = (A·h + s·B) mod M (engine-portable integer
    * arithmetic; h = first 7 md5 hex chars < 2^28, so A·h < 2^59 —
    * no 64-bit overflow in either engine). One md5 per shingle beats
    * k md5s per shingle ~k× on the dominant cost.
    */
  private val HashA = 1640531527L
  private val HashB = 2654435769L
  private val HashM = 4294967296L

  def lshBuckets(docs: DataFrame, n: Int, k: Int, bands: Int,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    // distinct = false: min() is multiset-insensitive, so the
    // distinct's (doc, shingle) shuffle is pure cost here
    val sh = shingles(docs, n, idCol, textCol, distinct = false)
      .withColumn("h", conv(substring(md5(col("shingle")), 1, 7), 16, 10).cast("long"))
    val minCols = (0 until k).map(s =>
      min((lit(HashA) * col("h") + lit(s.toLong * HashB)) % lit(HashM)).as(s"mh$s"))
    val mins = sh.groupBy(col(idCol)).agg(minCols.head, minCols.tail: _*)
    // bucket key = the band's min-hashes in seed order (plain string —
    // equality is all that matters, and both engines render longs alike)
    val bucketCols = (0 until bands).map { b =>
      concat_ws(",", (b * r until (b + 1) * r).map(s => col(s"mh$s").cast("string")): _*)
    }
    mins.select(col(idCol),
      posexplode(array(bucketCols: _*)).as(Seq("band", "bucket")))
  }

  /** Candidate pairs from LSH buckets: docs sharing ANY (band, bucket).
    * The join is per-bucket — no all-pairs blowup; skewed buckets are
    * handled by AQE skew-join splitting at scale.
    *
    * `maxBucket` is the hot-bucket guard: a bucket holding B docs
    * emits B²/2 pairs, so one boilerplate bucket with 10⁵ members
    * yields 5·10⁹ pairs AQE can spread but not shrink. Buckets above
    * the cap are dropped entirely — their members collide on a
    * non-discriminative signature (identical boilerplate detected
    * better by exact dedup), and a TRUE near-dup pair inside a
    * dropped bucket still surfaces through any of the other bands
    * (the OR construction). Same count-over-window shape as the
    * `maxDf` shingle cap. `None` = uncapped.
    */
  def minhashCandidates(docs: DataFrame, n: Int = 3, k: Int = 32,
                        bands: Int = 8, idCol: String = "doc_id",
                        textCol: String = "text",
                        maxBucket: Option[Long] = None): DataFrame = {
    val b0 = lshBuckets(docs, n, k, bands, idCol, textCol)
    val b = maxBucket match {
      case Some(cap) =>
        b0.withColumn("_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
          .filter(col("_n") <= cap)
          .select(col(idCol), col("band"), col("bucket"))
      case None => b0
    }
    val l = b.toDF("id_a", "band", "bucket")
    val r = b.toDF("id_b", "band", "bucket")
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  // ——— n-gram Jaccard (inverted index) ———

  /** Exact Jaccard similarity over distinct n-gram shingle sets for
    * all pairs sharing ≥1 shingle. Inverted-index shape: shuffle on
    * shingle, then on (id_a, id_b) — never materializes the n² pairs
    * that share nothing.
    *
    * `maxDf` is the scale guard: the inverted-index join is quadratic
    * WITHIN a shingle's posting list, so one shingle shared by 10⁶
    * docs yields 10¹² pairs — AQE can redistribute that work but not
    * shrink it. Capping document frequency drops only the
    * non-discriminative shingles (stopword runs, boilerplate) whose
    * posting lists cause the blowup; Jaccard is then computed exactly
    * over the remaining (discriminative) shingle universe on BOTH the
    * intersection and the set sizes, so the score stays a true
    * Jaccard — of the filtered sets — and stays oracle-expressible.
    * The DEFAULT is capped (`Some(DefaultMaxDf)`): the quadratic
    * uncapped path must be an explicit `maxDf = None` opt-in, so a
    * user copying the one-liner cannot inherit the 10¹²-pair blowup
    * by accident (exact-over-all-shingles is only safe for moderate
    * corpora — the 100 TB path is `minhashVerifiedPairs`).
    */
  /** EXACT word-level Jaccard similarity join by prefix filtering
    * (the PPJoin family): with all token sets ordered by one global
    * (document-frequency asc, token) ranking, two sets with
    * J(a,b) ≥ num/den MUST share a token among each set's first
    * |x| − ⌈(num/den)·|x|⌉ + 1 tokens — so candidates come only from
    * joins on those RARE prefix tokens, and hot tokens (which sit at
    * the end of every ordered set) never generate candidates.
    * Unlike the `maxDf` cap this loses NO recall — the prefix
    * theorem guarantees every qualifying pair survives — and unlike
    * MinHash it has no false-negative probability. The verify stage
    * recomputes exact Jaccard on the candidates; the threshold test
    * is an integer cross-multiplication.
    *
    * Scale: the token-rank dictionary is token-vocabulary-sized; the
    * candidate join is bounded by prefix posting lists (rarest
    * tokens) further pruned by the PPJoin length filter
    * (J ≥ t ⇒ min(n_a,n_b)·den ≥ num·max(n_a,n_b)); the verify join
    * by candidate count × set size. The threshold is an exact
    * rational num/den so prefix lengths and the final test replay
    * bit-identically in any engine.
    *
    * Degenerate-input caveat: prefix filtering prunes via RARE
    * tokens, so it needs a Zipfian vocabulary (any natural corpus).
    * On a corpus whose every token is hot (tiny shared vocab),
    * posting lists approach n and the candidate set approaches
    * all-pairs — there, use `minhashVerifiedPairs` (probabilistic)
    * or the `maxDf`-capped join (bounded, recall-documented)
    * instead.
    */
  def prefixFilterJoin(docs: DataFrame, num: Int, den: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(num > 0 && den >= num, s"need 0 < num/den <= 1, got $num/$den")
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("t"))
      .where(col("t") =!= "").distinct()
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // rare-first token total order via Ranks — the only ordered
    // window runs over the doc-frequency VALUE dictionary, never the
    // vocabulary frame (vocab grows with the corpus)
    val rk = graft.engine.Ranks
      .rowNumberExact(toks.groupBy("t").agg(count(lit(1)).as("dfreq")),
        "dfreq", "t", out = "trk", withTotal = false)
      .select("t", "trk")
    val pos = toks.join(rk, Seq("t")).join(sz, Seq("doc_id"))
      .withColumn("p", row_number().over(
        Window.partitionBy("doc_id").orderBy("trk")))
    // prefix length L = n − ceil(num·n/den) + 1, all integer
    val pref = pos
      .where(col("p") <= col("n") - expr(s"($num * n + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("trk"), col("n"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.trk") === col("b.trk") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * den >=
            greatest(col("a.n"), col("b.n")) * num)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    val ta = toks.select(col("doc_id").as("da"), col("t"))
    val tb = toks.select(col("doc_id").as("db"), col("t"))
    val inter = cand.join(ta, Seq("da")).join(tb, Seq("db", "t"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .where(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardPairs(docs: DataFrame, n: Int, minJaccard: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxDf: Option[Long] = Some(Dedup.DefaultMaxDf)): DataFrame = {
    // join on 64-bit shingle hashes, not variable-length strings: the
    // counts are identical absent a 64-bit collision, and fixed-width
    // keys roughly halve the two shuffles' cost
    val shAll = shingles(docs, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    val sh = maxDf match {
      case Some(cap) =>
        // df via count-over-window on the shingle partitioning: one
        // shuffle computes df in place (no groupBy + semi-join back),
        // and the downstream inverted-index join keys on the SAME
        // shingle hash — both join children arrive pre-partitioned,
        // so the window's exchange is reused (measured 2× vs the
        // agg+semi-join form at sf0.1)
        shAll.withColumn("_df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
          .filter(col("_df") <= cap)
          .select(col(idCol), col("shingle"))
      case None => shAll
    }
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val l = sh.toDF("id_a", "shingle")
    val r = sh.toDF("id_b", "shingle")
    val inter = l.join(r, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("id_a", "na"), "id_a")
      .join(counts.toDF("id_b", "nb"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| over distinct
    * n-gram shingle sets — the quote/wrapper detector symmetric
    * Jaccard structurally misses (a 100-shingle doc fully embedded in
    * a 10,000-shingle doc has Jaccard ≤ 0.01 but containment 1.0;
    * the standard dedup batteries run BOTH gates). Emits one row per
    * unordered pair sharing ≥1 surviving shingle with both directed
    * scores; `minContainment` filters on the larger direction.
    *
    * Same inverted-index shape and `maxDf` hot-shingle guard as
    * `ngramJaccardPairs` (capped by default — the uncapped quadratic
    * path is an explicit opt-in), so the scale posture is identical:
    * shuffle on shingle hash, then on the pair, never the n² blowup.
    */
  def containmentPairs(docs: DataFrame, n: Int, minContainment: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxDf: Option[Long] = Some(Dedup.DefaultMaxDf)): DataFrame = {
    val shAll = shingles(docs, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    val sh = maxDf match {
      case Some(cap) =>
        shAll.withColumn("_df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
          .filter(col("_df") <= cap)
          .select(col(idCol), col("shingle"))
      case None => shAll
    }
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val l = sh.toDF("id_a", "shingle")
    val r = sh.toDF("id_b", "shingle")
    val inter = l.join(r, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("id_a", "na"), "id_a")
      .join(counts.toDF("id_b", "nb"), "id_b")
      .withColumn("cont_a", round(col("inter").cast("double") / col("na"), 6))
      .withColumn("cont_b", round(col("inter").cast("double") / col("nb"), 6))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("id_a", "id_b", "cont_a", "cont_b")
  }

  /** The composed large-corpus near-dup path: MinHash/LSH candidate
    * generation followed by exact-Jaccard verification ON THE
    * CANDIDATES ONLY. This is the default shape for corpus-wide dedup
    * at scale — candidate count is ~linear in corpus size (banding
    * keeps buckets small), so the verify step's joins are bounded by
    * Σ|candidate pair shingles|, never by any shingle's posting list.
    *
    * Verify shape: candidates × left-doc shingles (shuffle on id_a),
    * inner join against right-doc shingles on (id_b, shingle) →
    * intersection counts; set sizes join in as in the exact path.
    * Probabilistic recall comes from the LSH stage (pinned in
    * DedupSpec at 100% on planted dups); precision is exact.
    */
  def minhashVerifiedPairs(docs: DataFrame, n: Int = 3, k: Int = 32,
                           bands: Int = 8, minJaccard: Double = 0.5,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val cand = minhashCandidates(docs, n, k, bands, idCol, textCol)
    val sh = shingles(docs, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.toDF("id_a", "shingle"), "id_a")
      .join(sh.toDF("id_b", "shingle"), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("id_a", "na"), "id_a")
      .join(counts.toDF("id_b", "nb"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Duplicate propensity by document-length bucket: equi-depth
    * length bands × membership rate in `dupIds` (whatever duplicate
    * notion the caller computed — exact fingerprint members, verified
    * near-dup pair members, cluster members) — answers "does
    * duplication concentrate in short (templated) or long (mirrored)
    * documents?", which decides whether a dedup pass should be
    * length-stratified. All integer counts; bucket assignment is
    * `Ranks.ntileExact` (bit-identical to `ntile(n) OVER (ORDER BY
    * len, id)`, ordered window over the length dictionary only —
    * no corpus-wide single-reducer sort).
    */
  def dupRateByLength(docs: DataFrame, dupIds: DataFrame, nBuckets: Int = 5,
                      idCol: String = "doc_id",
                      lenCol: String = "n_chars"): DataFrame = {
    val joined = docs.select(col(idCol), col(lenCol))
      .join(dupIds.select(col(idCol)).distinct()
        .withColumn("_dup", lit(1L)), Seq(idCol), "left")
      .withColumn("is_dup", coalesce(col("_dup"), lit(0L)))
    val flagged =
      graft.engine.Ranks.ntileExact(joined, nBuckets, lenCol, idCol)
    flagged.groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        min(lenCol).as("len_lo"), max(lenCol).as("len_hi"),
        sum("is_dup").as("n_dup_docs"))
      .withColumn("dup_rate",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
      .orderBy("bucket")
  }

  /** Near-dup-aware sampling weights — the "repetition-aware mixing"
    * step between dedup and training: instead of dropping near-dup
    * cluster members, every document gets weight 1e6 / cluster_size
    * in micro-units (integer floor division — engine-exact), so a
    * 10-copy template contributes ONE document's worth of probability
    * mass while unique documents keep weight 1e6. Singleton /
    * unclustered docs form their own cluster (id = doc_id).
    *
    * Scale: the cluster frame comes from [[nearDupClusters]] (already
    * bounded); sizes are a cluster-dictionary aggregate; the doc join
    * is one equi-join. No window, no fan-out.
    */
  def clusterSampleWeights(docs: DataFrame, pairs: DataFrame,
                           idCol: String = "doc_id"): DataFrame = {
    val clusters = nearDupClusters(pairs) // (id, cluster)
    val sizes = clusters.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    docs.select(col(idCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(sizes, Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        graft.engine.Ranks.idiv(lit(1000000L),
          coalesce(col("cluster_size"), lit(1L))).as("weight_micro"))
      .orderBy(idCol)
  }

  /** Benchmark decontamination by MinHash signature (the
    * signature-level sibling of the n-gram-overlap decontamination —
    * same LSH machinery as near-dup detection, pointed across the
    * train/benchmark boundary): flag every NON-benchmark document
    * whose verified Jaccard against some benchmark document reaches
    * `minJaccard`, reporting its best match (max jaccard, min
    * benchmark id tie-break).
    *
    * Scale: exactly minhashVerifiedPairs' profile (banded buckets
    * bound the candidate join; verification bounded by candidates) +
    * one roles join and a per-flagged-doc window — nothing new
    * explodes. At 100 TB the benchmark side is small by nature, so
    * its signatures broadcast.
    */
  def decontaminateByMinhash(docs: DataFrame, isBenchmark: Column,
                             n: Int = 3, k: Int = 32, bands: Int = 8,
                             minJaccard: Double = 0.5,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashVerifiedPairs(docs, n, k, bands, minJaccard,
      idCol, textCol)
    val roles = docs.select(col(idCol), isBenchmark.cast("boolean").as("_b"))
    val straddling = pairs
      .join(roles.toDF("id_a", "_ba"), "id_a")
      .join(roles.toDF("id_b", "_bb"), "id_b")
      .filter(col("_ba") =!= col("_bb"))
      .select(
        when(col("_ba"), col("id_b")).otherwise(col("id_a")).as(idCol),
        when(col("_ba"), col("id_a")).otherwise(col("id_b"))
          .as("matched_benchmark"),
        col("jaccard"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("jaccard").desc, col("matched_benchmark"))
    straddling.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Per-source dedup report card: document count, exact-duplicate
    * members (non-keeper copies), and documents appearing in any
    * verified near-dup pair — the catalog-metadata view a mixture
    * designer reads next to q122's quality report before setting
    * rates. Pure composition of `exactGroups` and
    * `minhashVerifiedPairs` plus two id-keyed joins; inherits their
    * scale guards wholesale.
    */
  def dedupReport(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 8,
                  minJaccard: Double = 0.5,
                  idCol: String = "doc_id", sourceCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val fp = docs.select(col(idCol), col(sourceCol),
      TextStats.fingerprint(col(textCol)).as("fp"))
    val groups = fp.groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("nc"))
    val exact = fp.join(groups, "fp")
      .select(col(idCol), col(sourceCol),
        when(col("nc") > 1 && col(idCol) =!= col("keeper"), 1L)
          .otherwise(0L).as("is_dup"))
    val pairs = minhashVerifiedPairs(docs, n, k, bands, minJaccard,
      idCol, textCol)
    val nearIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol)))
      .distinct().withColumn("_near", lit(1L))
    exact.join(nearIds, Seq(idCol), "left")
      .groupBy(sourceCol).agg(
        count(lit(1)).as("n_docs"),
        sum("is_dup").as("exact_dup_docs"),
        sum(coalesce(col("_near"), lit(0L))).as("near_dup_docs"))
  }

  /** Dedup-quality audit: LSH candidate generation measured against
    * exact-Jaccard ground truth — recall (what fraction of true
    * near-dup pairs the banding surfaces) and raw-candidate
    * precision (how much the exact-verify stage must filter). A
    * pipeline tuning (k, bands) reads THESE numbers, so the engine
    * ships the measurement as an operator rather than a notebook
    * ritual. One full-outer join + one aggregate, no collect; at
    * corpus scale run it on a stratified sample (the truth side is
    * the quadratic one — that is the point of the audit).
    */
  def auditLshRecall(docs: DataFrame, n: Int = 3, k: Int = 32,
                     bands: Int = 8, minJaccard: Double = 0.5,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val truth = ngramJaccardPairs(docs, n, minJaccard, idCol, textCol,
        maxDf = None)
      .select("id_a", "id_b").withColumn("_t", lit(1L))
    val cand = minhashCandidates(docs, n, k, bands, idCol, textCol)
      .withColumn("_c", lit(1L))
    truth.join(cand, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(col("_t")).as("n_true"),
        sum(col("_c")).as("n_cand"),
        sum(col("_t") * col("_c")).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"),
        round(col("n_hit").cast("double") / col("n_cand"), 6)
          .as("cand_precision"))
  }

  /** Benchmark decontamination: flag training documents sharing ≥
    * `minShared` distinct n-gram shingles with any document of an
    * evaluation set — the n-gram-overlap contamination check every
    * serious training-data pipeline runs before a model ships (the
    * GPT-3/PaLM appendix methodology). Returns (idCol, evalIdCol,
    * n_shared); `applyDecontamination` drops flagged docs.
    *
    * Shape: cross-corpus inverted index — corpus shingles (maxDf-
    * capped: an n-gram shared by half the corpus is boilerplate, not
    * contamination evidence, and its posting list is the quadratic
    * risk) joined to eval-set shingles on the 64-bit hash, one
    * count aggregate per (doc, eval) pair. The eval side is
    * benchmark-sized, so the join's build side stays small at any
    * corpus scale.
    */
  def contaminationPairs(corpus: DataFrame, evalDocs: DataFrame,
                         n: Int, minShared: Long,
                         idCol: String = "doc_id", textCol: String = "text",
                         evalIdCol: String = "eval_id",
                         maxDf: Option[Long] = Some(Dedup.DefaultMaxDf)): DataFrame = {
    val cShAll = shingles(corpus, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    val cSh = maxDf match {
      case Some(cap) =>
        cShAll.withColumn("_df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
          .filter(col("_df") <= cap)
          .select(col(idCol), col("shingle"))
      case None => cShAll
    }
    val eSh = shingles(evalDocs, n, evalIdCol, textCol)
      .select(col(evalIdCol), xxhash64(col("shingle")).as("shingle"))
    cSh.join(eSh, "shingle")
      .groupBy(col(idCol), col(evalIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Drop every corpus doc flagged against ANY eval doc: one
    * anti-join on the doc id.
    */
  def applyDecontamination(corpus: DataFrame, pairs: DataFrame,
                           idCol: String = "doc_id"): DataFrame =
    corpus.join(pairs.select(col(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Cross-shard contamination MATRIX — the pairwise generalization
    * of [[contaminationPairs]]' train-vs-eval check: for every
    * unordered pair of corpus shards (train/val/test splits, crawl
    * snapshots, data vendors…), how many DISTINCT n-gram shingles
    * appear in BOTH, each side's own distinct-shingle count, and the
    * resulting shingle-set Jaccard. "Which of my splits bleed into
    * each other, and how much" in one dictionary-sized table.
    *
    * Scale shape: the per-shard shingle SET is one hash-aggregate
    * (distinct over (shard, shingle-hash) — shingle strings are
    * hashed to 64 bits before the shuffle so the exchange carries 8
    * bytes, not n-gram text); the per-shingle shard set is bounded by
    * the shard COUNT (a deployment constant, ≤ dozens), so the pair
    * explode is ≤ C(nShards, 2) per shingle — no doc-pair explosion
    * and no maxDf cap needed, because the "posting list" is capped by
    * construction. The final aggregate is matrix-sized. At 100 TB:
    * one scan + two shuffles, both keyed on the 64-bit shingle hash.
    *
    * The shard label keeps its NATIVE identity via a string cast, so
    * non-numeric labels ("train"/"val"/"vendor_a") group correctly; a
    * NULL shard label fails the job on the data plane (raise_error)
    * rather than silently collapsing nulls into one bogus group.
    * Because shingles are pre-hashed to 64 bits, the distinct counts
    * (and hence Jaccard) are collision-APPROXIMATE: expected
    * overcount ≈ s²/2⁶⁵ shared shingles for s distinct shingles —
    * negligible below ~10¹² shingles per shard, and the price of an
    * 8-byte exchange instead of shipping n-gram text.
    */
  def shardContaminationMatrix(docs: DataFrame, shardCol: Column,
                               n: Int = 3, textCol: String = "text"): DataFrame = {
    val withShard = docs.select(
      when(shardCol.isNull, raise_error(lit(
        "shardContaminationMatrix: NULL shard label — every doc must carry a non-null shard")))
        .otherwise(shardCol.cast("string")).as("_shard"),
      col(textCol))
    val sh = shingles(withShard, n, idCol = "_shard", textCol = textCol,
        distinct = false)
      .select(col("_shard"), xxhash64(col("shingle")).as("shingle"))
      .distinct()
    val perShard = sh.groupBy("_shard").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.groupBy("shingle")
      .agg(collect_set(col("_shard")).as("shards"))
      .filter(size(col("shards")) >= 2)
      .select(explode(col("shards")).as("shard_a"), col("shards"))
      .select(col("shard_a"), explode(col("shards")).as("shard_b"))
      .filter(col("shard_a") < col("shard_b"))
      .groupBy("shard_a", "shard_b")
      .agg(count(lit(1)).as("n_shared_shingles"))
    pairs
      .join(broadcast(perShard.select(col("_shard").as("shard_a"),
        col("n_sh").as("n_sh_a"))), Seq("shard_a"))
      .join(broadcast(perShard.select(col("_shard").as("shard_b"),
        col("n_sh").as("n_sh_b"))), Seq("shard_b"))
      .select(col("shard_a"), col("shard_b"), col("n_shared_shingles"),
        col("n_sh_a"), col("n_sh_b"),
        round(col("n_shared_shingles").cast("double") /
          (col("n_sh_a") + col("n_sh_b") - col("n_shared_shingles"))
            .cast("double"), 6).as("jaccard"))
      .orderBy("shard_a", "shard_b")
  }

  /** Dedup survivorship-bias audit: exact dedup keeps the min-id doc
    * per fingerprint — does that removal SKEW the corpus quality mix?
    * Every doc is bucketed into 10 fixed stopword-density bins
    * (integer arithmetic: (10·stop_n) div n_tokens, capped at 9 —
    * fixed bins, not quantiles, so no global ordered window), then
    * per bin: population, kept, removed, removal rate, and the
    * kept-vs-population corpus share. Boilerplate concentrates in
    * specific strata, so dedup silently re-weights the training
    * mixture — share_kept pulling away from share_all in a bin is
    * exactly that signal.
    *
    * Scale shape: one fingerprint hash-aggregate (same shuffle as
    * [[exactGroups]]), one fp-keyed join back, then a 10-row
    * dictionary aggregate; totals attach via a broadcast 1-row cross
    * join.
    */
  def dedupQualityBias(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // built in two steps so the bin expression reads the materialized
    // counts, not a re-inlined tokenization per reference
    val counted = docs.select(col(idCol),
      TextStats.fingerprint(col(textCol)).as("fp"),
      TextStats.stopwordCount(col(textCol)).as("_stop"),
      TextStats.tokenCount(col(textCol)).as("_toks"))
    val withBin = counted.select(col(idCol), col("fp"),
      least(expr("(10 * _stop) div _toks"), lit(9L)).as("quality_bin"))
    val keepers = withBin.groupBy("fp").agg(min(col(idCol)).as("_keeper"))
    val flagged = withBin.join(keepers, Seq("fp"))
      .select(col("quality_bin"),
        (col(idCol) === col("_keeper")).cast("long").as("_kept"))
    val per = flagged.groupBy("quality_bin")
      .agg(count(lit(1)).as("n_docs"), sum("_kept").as("n_kept"))
    val tot = per.agg(sum("n_docs").cast("long").as("_total"),
      sum("n_kept").cast("long").as("_total_kept"))
    per.crossJoin(broadcast(tot))
      .select(col("quality_bin"), col("n_docs"),
        col("n_kept").cast("long").as("n_kept"),
        (col("n_docs") - col("n_kept")).cast("long").as("n_removed"),
        round((col("n_docs") - col("n_kept")).cast("double") /
          col("n_docs").cast("double"), 6).as("removal_rate"),
        round(col("n_docs").cast("double") / col("_total").cast("double"),
          6).as("share_all"),
        round(col("n_kept").cast("double") /
          col("_total_kept").cast("double"), 6).as("share_kept"))
      .orderBy("quality_bin")
  }

  /** Canonical-representative selection per near-dup cluster — the
    * keep-BEST policy. [[exactGroups]]/q57 keep the MIN-ID member
    * (keep-first); production web pipelines (C4, RefinedWeb) keep the
    * LONGEST member of each near-dup clique, because truncated
    * mirrors and paywall stubs are usually the shorter copies. Per
    * cluster: the keeper (argmax chars, min-id tie-break), member
    * count, kept/total/reclaimable bytes.
    *
    * `clusters` is [[nearDupClusters]]' output (id, cluster). Scale
    * shape: one join on the doc id, one window PARTITIONED BY the
    * cluster id (clique-sized frames — near-dup cliques are small by
    * construction once verify pruned false buckets), one aggregate.
    */
  def clusterCanonicalKeepers(clusters: DataFrame, docs: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val len = docs.select(col(idCol).as("id"),
      length(col(textCol)).cast("long").as("_n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("_n_chars").desc, col("id"))
    clusters.join(len, Seq("id"))
      .withColumn("_rn", row_number().over(w))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("_rn") === 1, col("id"))).as("keeper"),
        max(when(col("_rn") === 1, col("_n_chars"))).as("bytes_kept"),
        sum("_n_chars").cast("long").as("bytes_total"))
      .select(col("cluster"), col("n_members"), col("keeper"),
        col("bytes_kept"), col("bytes_total"),
        (col("bytes_total") - col("bytes_kept")).as("bytes_saved"))
      .orderBy("cluster")
  }

  // ——— incremental dedup against a persisted index ———

  /** The persisted LSH index for incremental (new-shard-vs-corpus)
    * dedup: the banded bucket table plus the exact-verification
    * sidecar (per-doc shingle hashes). Both are linear in corpus
    * size. A continuously-ingesting pipeline builds this ONCE per
    * corpus epoch and dedups each arriving shard against it — the
    * full-corpus recompute (`minhashVerifiedPairs` over old ∪ new)
    * re-signs 100 TB to admit a 100 GB shard; this shape touches
    * only the shard plus the candidate-bucket slices of the index.
    */
  /** `params` = the (n, k, bands) family the index was built with —
    * part of the index's identity: querying a bucket table with a
    * different family silently produces garbage candidates, so the
    * persisted layouts carry the params and `dedupAgainstIndex`
    * REFUSES a mismatch. None only for hand-assembled indexes.
    */
  final case class LshIndex(buckets: DataFrame, shingles: DataFrame,
                            params: Option[(Int, Int, Int)] = None)

  /** Build the index tables for `docs` (the corpus side). */
  def buildLshIndex(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): LshIndex = {
    val b = lshBuckets(docs, n, k, bands, idCol, textCol)
    val sh = shingles(docs, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    LshIndex(b, sh, Some((n, k, bands)))
  }

  /** Persist / reload the index. Buckets are bucketed-by-write on
    * (band, bucket) partitioning at real scale via the caller's
    * `partitionBy`; here the layout is plain parquet — the read side
    * shuffles on the join key either way, once.
    */
  // params ride as metadata, never as Spark jobs: a sidecar text file
  // for the parquet layout, table properties for the catalog layout —
  // a 1-row params *table* costs a full write job (~0.5 s per bench
  // run of q91, measured) for three integers
  private def renderParams(p: (Int, Int, Int)): String =
    s"${p._1} ${p._2} ${p._3}"

  private def parseParams(s: String): Option[(Int, Int, Int)] =
    s.trim.split("\\s+") match {
      case Array(n, k, b) => Some((n.toInt, k.toInt, b.toInt))
      case _ => None
    }

  def writeLshIndex(index: LshIndex, path: String): Unit = {
    index.buckets.write.mode("overwrite").parquet(s"$path/buckets")
    index.shingles.write.mode("overwrite").parquet(s"$path/shingles")
    // Hadoop FS, not java.nio: the index lives wherever the parquet
    // does (hdfs://, s3a://, file:) and the sidecar must follow — a
    // local-only write would silently bypass the family guard on read
    index.params.foreach { p =>
      val spark = index.buckets.sparkSession
      val loc = new org.apache.hadoop.fs.Path(path, "params.txt")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(loc, true)
      try out.write(renderParams(p).getBytes("UTF-8")) finally out.close()
    }
  }

  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val loc = new org.apache.hadoop.fs.Path(path, "params.txt")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val params =
      if (fs.exists(loc)) {
        val in = fs.open(loc)
        try parseParams(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
        finally in.close()
      } else None
    LshIndex(spark.read.parquet(s"$path/buckets"),
      spark.read.parquet(s"$path/shingles"), params)
  }

  /** Persist the index BUCKETED on its join keys — the co-location
    * lever for a corpus-scale index: the bucket table lays out by
    * (band, bucket) and the shingle sidecar by the doc id, so every
    * shard-vs-index join shuffles ONLY the shard — the 100 TB index
    * side reads straight from its buckets with no exchange (the
    * window-based hot-bucket cap rides the same layout for free).
    * Plan-asserted in ScaleSpec. Bucketed layouts need the table
    * catalog, hence saveAsTable; the plain-parquet `writeLshIndex`
    * remains for catalog-free deployments.
    */
  /** Drop `table` and clear any STALE warehouse directory left by a
    * previous session: a fresh in-memory catalog does not know tables
    * a prior JVM created, so `mode(overwrite)` cannot replace them and
    * CTAS refuses the existing location (LOCATION_ALREADY_EXISTS).
    */
  private[ext] def resetManagedTable(spark: org.apache.spark.sql.SparkSession,
                                     table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    // When the catalog knows the table, delete its REAL location (a
    // relocated warehouse or non-default database would make the
    // guessed path wrong in both directions). Only for the orphaned
    // case — a stale dir from a prior JVM the fresh in-memory catalog
    // never heard of — fall back to the default-warehouse layout, and
    // only if the dir actually looks like a Spark table (data files /
    // _SUCCESS), so an unrelated same-named directory survives.
    val realLoc: Option[org.apache.hadoop.fs.Path] =
      if (catalog.tableExists(ident))
        Some(new org.apache.hadoop.fs.Path(catalog.getTableMetadata(ident).location))
      else None
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val hconf = spark.sparkContext.hadoopConfiguration
    realLoc match {
      case Some(loc) =>
        val fs = loc.getFileSystem(hconf)
        if (fs.exists(loc)) fs.delete(loc, true)
      case None =>
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
        val fs = loc.getFileSystem(hconf)
        if (fs.exists(loc)) {
          val looksLikeTable = fs.listStatus(loc).exists { st =>
            val nm = st.getPath.getName
            nm == "_SUCCESS" || nm.startsWith("part-") || nm.startsWith("_spark_metadata")
          }
          if (looksLikeTable) fs.delete(loc, true)
        }
    }
  }

  def writeLshIndexBucketed(index: LshIndex, tablePrefix: String,
                            buckets: Int = 64): Unit = {
    val spark = index.buckets.sparkSession
    resetManagedTable(spark, s"${tablePrefix}_buckets")
    resetManagedTable(spark, s"${tablePrefix}_shingles")
    index.buckets.write.bucketBy(buckets, "band", "bucket")
      .sortBy("band", "bucket")
      .mode("overwrite").saveAsTable(s"${tablePrefix}_buckets")
    // shingle verify joins on (doc id, shingle); bucketing on the id
    // prefix satisfies the join's clustering requirement
    val idCol = index.shingles.columns.head
    index.shingles.write.bucketBy(buckets, idCol).sortBy(idCol)
      .mode("overwrite").saveAsTable(s"${tablePrefix}_shingles")
    // catalog-only metadata op — no job
    index.params.foreach(p => spark.sql(
      s"ALTER TABLE `${tablePrefix}_buckets` SET TBLPROPERTIES " +
        s"('graft.lsh.family' = '${renderParams(p)}')"))
  }

  def readLshIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                           tablePrefix: String): LshIndex = {
    // catalog API, not SHOW TBLPROPERTIES output parsing: the command's
    // result shape (column count, missing-property message text) is not
    // a stable interface; the table metadata map is.
    val params = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(s"${tablePrefix}_buckets"))
      .properties.get("graft.lsh.family")
      .flatMap(parseParams)
    LshIndex(spark.table(s"${tablePrefix}_buckets"),
      spark.table(s"${tablePrefix}_shingles"), params)
  }

  /** Extend an index with a new shard's signatures — the epoch-append
    * step of the continuously-ingesting topology: dedup the shard
    * against the index (`dedupAgainstIndex`), admit the survivors,
    * then fold the SURVIVORS' buckets and shingles into the index so
    * the next shard dedups against them too. Union only — no re-read
    * or re-signing of the existing corpus; at real scale the unions
    * land in the partitioned/bucketed layout on the next index write.
    * Family params carry over (and the shard is signed with them).
    */
  def appendToLshIndex(index: LshIndex, admitted: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): LshIndex = {
    // A param-less index (hand-assembled, or persisted before the
    // family sidecar existed) must be refused, not defaulted: signing
    // the shard with a guessed family silently poisons the index —
    // the exact mismatch dedupAgainstIndex rejects loudly.
    require(index.params.isDefined,
      "appendToLshIndex: index carries no (n, k, bands) family params; " +
        "rebuild it with buildLshIndex / re-persist with writeLshIndex*, or " +
        "construct LshIndex(..., params = Some((n, k, bands))) explicitly")
    val (n, k, bands) = index.params.get
    val nb = lshBuckets(admitted, n, k, bands, idCol, textCol)
    val ns = shingles(admitted, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    LshIndex(index.buckets.union(nb), index.shingles.union(ns), index.params)
  }

  /** Near-dup pairs of a NEW shard against the persisted index:
    * shard signatures joined to the index's buckets (candidates =
    * shared (band, bucket)), then exact Jaccard verified on the
    * candidates only, using the index's shingle sidecar — no re-read
    * of the old corpus text. Returns (id_new, id_idx, jaccard ≥
    * minJaccard).
    *
    * Scale shape: the shard side is small by definition; its bucket
    * table broadcasts when it fits, otherwise the join shuffles on
    * (band, bucket) — the index side's natural layout. The verify
    * joins are bounded by candidate shingles, exactly as in
    * `minhashVerifiedPairs`. `maxBucket` (default `DefaultMaxBucket`)
    * drops degenerate boilerplate buckets by their COMBINED
    * membership; at 100 TB one such bucket would otherwise emit
    * |shard ∩ bucket| × |index ∩ bucket| candidates.
    */
  def dedupAgainstIndex(newDocs: DataFrame, index: LshIndex,
                        n: Int = 3, k: Int = 32, bands: Int = 8,
                        minJaccard: Double = 0.5,
                        maxBucket: Option[Long] = Some(Dedup.DefaultMaxBucket),
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    // family mismatch = silent garbage candidates; refuse it outright
    index.params.foreach(p => require(p == ((n, k, bands)),
      s"dedupAgainstIndex called with (n=$n, k=$k, bands=$bands) but the " +
        s"index was built with (n=${p._1}, k=${p._2}, bands=${p._3}) — " +
        "the LSH family is part of the index's identity"))
    val nb0 = lshBuckets(newDocs, n, k, bands, idCol, textCol)
      .toDF("id_new", "band", "bucket")
    val ib0 = index.buckets.toDF("id_idx", "band", "bucket")
    // per-side membership via count-over-window BEFORE the join: each
    // window partitions on exactly the join key, so its exchange is
    // the join's exchange (q70's cap shape) — and the cap filters
    // hot buckets before they can emit n_new × n_idx rows
    val (nb, ib) = maxBucket match {
      case Some(_) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
        (nb0.withColumn("_nn", count(lit(1)).over(w)),
          ib0.withColumn("_ni", count(lit(1)).over(w)))
      case None => (nb0, ib0)
    }
    val joined = nb.join(ib, Seq("band", "bucket"))
    val cand0 = maxBucket match {
      case Some(cap) => joined.filter(col("_nn") + col("_ni") <= cap)
      case None => joined
    }
    val cand = cand0.select("id_new", "id_idx").distinct()
    val newSh = shingles(newDocs, n, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
    val nCounts = newSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_new"))
      .toDF("id_new", "n_new")
    val iCounts = index.shingles.groupBy(col(idCol)).agg(count(lit(1)).as("n_idx"))
      .toDF("id_idx", "n_idx")
    val inter = cand
      .join(newSh.toDF("id_new", "shingle"), "id_new")
      .join(index.shingles.toDF("id_idx", "shingle"), Seq("id_idx", "shingle"))
      .groupBy("id_new", "id_idx").agg(count(lit(1)).as("inter"))
    inter
      .join(nCounts, "id_new")
      .join(iCounts, "id_idx")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n_new") + col("n_idx") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_new", "id_idx", "jaccard")
  }

  /** Admit only the new-shard docs that do NOT near-dup anything in
    * the index (keep-the-corpus policy): one anti-join on the shard.
    */
  def applyIncrementalDedup(newDocs: DataFrame, pairs: DataFrame,
                            idCol: String = "doc_id"): DataFrame =
    newDocs.join(pairs.select(col("id_new").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Apply near-dedup: drop every doc that appears as the LATER
    * member (id_b) of a candidate pair — the standard greedy
    * keep-earliest policy. (Full transitive clustering needs
    * connected components — iterative joins or GraphFrames — which
    * greedy approximates exactly when clusters are pairs/chains
    * anchored at their minimum id, the common near-dup shape.)
    * One anti-join: shuffle on the id, linear at any scale.
    */
  def applyNearDedup(docs: DataFrame, pairs: DataFrame,
                     idCol: String = "doc_id"): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Transitive near-dup clusters: connected components over the
    * candidate-pair graph by iterative min-label propagation — the
    * standard large-scale formulation (no driver-side graph; each
    * iteration is one join + one aggregate, data never leaves
    * executors). Converges in O(diameter) iterations; near-dup
    * graphs are shallow (chains/stars), so `maxIter` is a backstop,
    * and non-convergence raises rather than returning wrong labels.
    * Returns (id, cluster) where cluster = min id of the component.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    // persist the symmetrized edge list BEFORE deriving nodes: both the
    // self-loop union and `nodes` read it, and unpersisted each branch
    // would re-evaluate the whole upstream pair lineage (for q58 that
    // lineage is the full MinHash-verify — measured 2.7 s per extra
    // evaluation at sf0.1; the edge list itself is 2·|pairs| rows).
    // MEMORY_AND_DISK_SER, not MEMORY_ONLY: these blocks live for the
    // whole loop, and serialized storage keeps them off the GC's scan
    // set while disk spill (instead of eviction+recompute) bounds the
    // cost under heap pressure — the r5 driver bench showed the
    // deserialized form GC-thrashing late in the battery.
    val loopLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val edges0 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(loopLevel)
    val nodes = edges0.select(col("src").as("id")).distinct()
    // self-loops make each iteration ONE join + ONE aggregate: the
    // min over (neighbors ∪ self) is the new label, and the self-loop
    // row carries the node's previous label out of the same aggregate
    // (`_old`), so convergence ("any new < old?") needs no second
    // join — one count job per iteration materializes the cache AND
    // answers it (measured 35% faster than join+agg+join at sf0.1)
    // NO distinct here: min-label propagation is invariant under
    // duplicate edges (min over a multiset), so deduping the union is
    // pure shuffle cost — 2|pairs| + |nodes| rows at corpus scale —
    // paid once for zero semantic effect. Callers passing duplicated
    // pairs just propagate over a few redundant rows.
    val edges = edges0
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .persist(loopLevel)
    var labels = nodes.withColumn("cluster", col("id"))
      .withColumn("_old", col("id")).persist(loopLevel)
    var converged = false
    // localCheckpoint persists its row RDD OUTSIDE the CacheManager,
    // so `labels.unpersist()` is a no-op on checkpointed iterations;
    // track the live checkpoint's leaf RDDs and free them when the
    // NEXT checkpoint materializes (by then nothing cached roots at
    // the old one — the intermediate cached frames that did have all
    // been unpersisted). The FINAL checkpoint must survive: the
    // returned labels may root at it; it is reclaimed by the
    // ContextCleaner once the result is garbage, or explicitly by a
    // caller sweeping `sc.getPersistentRDDs` (the bench does).
    var liveCkptRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    // convergence-check BATCHING (r18 optimization round): at
    // sf-bench scale each count action costs a full job (scheduling
    // floor ≈ the whole per-round cost on small graphs — the r17
    // q399 reading: ~10 rounds × one join+agg+count job each); at
    // corpus scale the count is a barrier. Min-label propagation is
    // MONOTONE (labels only decrease) and idempotent once stable, so
    // checking every 2nd round is exact — a round past convergence is
    // a no-op and the next checked round reads 0 changes. Unchecked
    // rounds run NO action: the next checked count materializes the
    // ≤2-round chain in one job. For that lazy chain to stay LINEAR,
    // the pointer-jump lookup must NOT self-join the current round's
    // frame (two references to an unmaterialized subtree double the
    // work per lazy level — measured 45 s on the q399 graph when the
    // round-9 eager checkpoint replayed a 2-level self-join chain);
    // it reads the last MATERIALIZED generation (`anchor`) instead.
    // The lagged jump is still exact: label_s[m] ≤ m for every
    // generation s (a node's label never exceeds its id), so the
    // update stays monotone with the same unique fixed point (all
    // labels = component min), and at stability anchor[m] = m (a
    // component-min node's label is itself in every generation), so
    // the jump is a no-op and convergence detection is unchanged.
    // Unpersists of frames feeding an unmaterialized chain are
    // DEFERRED to the next action — freeing a localCheckpoint parent
    // early would truncate lineage the pending job still needs.
    var deferredFrees: List[DataFrame] = Nil
    var anchor = labels // last materialized generation (jump lookup)
    var i = 0
    while (!converged && i < maxIter) {
      val propagated = edges
        .join(labels.select(col("id").as("src"), col("cluster")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster")).as("cluster"),
          min(when(col("src") === col("dst"), col("cluster"))).as("_old"))
      // real near-dup graphs (pairs/stars/short chains) converge in
      // the plain hops above; past that we're in a deep-chain regime,
      // so switch on pointer-jumping — label ← anchor(label), one
      // extra lookup join per iteration against the LAST MATERIALIZED
      // labels — which turns O(diameter) into O(log diameter) (the
      // anchor lags ≤2 rounds, so reach still compounds geometrically).
      // Every label IS a node id (min over ids), so the lookup always
      // resolves; left join + coalesce is belt and braces.
      val jumped =
        if (i < 4) propagated
        else propagated.join(
            anchor.select(col("id").as("cluster"), col("cluster").as("_c2")),
            Seq("cluster"), "left")
          .select(col("id"), coalesce(col("_c2"), col("cluster")).as("cluster"),
            col("_old"))
      // periodic localCheckpoint: the cached chain protects against
      // recomputation only while every block survives; at depth the
      // logical plan also grows per iteration (analysis cost, lineage
      // replay on eviction). Truncate both every 5 iterations.
      val isCkpt = (i + 1) % 5 == 0
      val next = if (isCkpt) jumped.localCheckpoint() else jumped.persist(loopLevel)
      // check on odd rounds, checkpoint rounds (eager anyway) and the
      // last admissible round; a graph needing exactly maxIter rounds
      // still reads its 0-change count at i = maxIter - 1
      val doCheck = isCkpt || i % 2 == 1 || i == maxIter - 1
      if (doCheck) {
        converged = next.filter(col("cluster") < col("_old")).count() == 0L
        // the chain up to `next` is materialized now — flush deferred
        // frees plus this round's own superseded frames (the old
        // anchor is one of them; nothing lazy references it anymore)
        deferredFrees.foreach(_.unpersist())
        deferredFrees = Nil
        labels.unpersist() // no-op when labels was itself a checkpoint
        if (isCkpt) {
          // the new checkpoint is materialized (count above) and its
          // plan is a fresh LogicalRDD — nothing live references the
          // previous checkpoint's blocks anymore; free them now
          liveCkptRdds.foreach(_.unpersist(blocking = false))
          liveCkptRdds = org.apache.spark.sql.GraftBridge.leafRdds(next)
        }
        anchor = next
      } else {
        deferredFrees ::= labels
      }
      labels = next
      i += 1
    }
    deferredFrees.foreach(_.unpersist())
    edges.unpersist()
    edges0.unpersist()
    require(converged, s"nearDupClusters: not converged after $maxIter iterations")
    // the result stays cached (recomputing it would replay the whole
    // loop) but is ADOPTED into the TrackedCache ledger, so the
    // harness's between-query release() frees it; when the last
    // iteration was a checkpoint the DataFrame-level unpersist is a
    // no-op, so its blocks go to the RDD ledger too (previously they
    // waited on the ContextCleaner's GC)
    graft.engine.TrackedCache.adopt(labels)
    graft.engine.TrackedCache.adoptRdds(liveCkptRdds)
    labels.select("id", "cluster")
  }

  // ——— edit-distance (typo) dedup ———

  /** Near-dup pairs by Levenshtein distance, blocked: candidates are
    * generated ONLY within equal `blockCol` groups (the classic
    * blocking-key trick — all-pairs edit distance is O(n²) and dies at
    * scale; per-block it's O(Σ|block|²), controlled by key choice).
    * `levenshtein` is codegen'd and engine-portable (same DP
    * definition in DuckDB).
    */
  def editDistancePairs(df: DataFrame, idCol: String, nameCol: String,
                        blockCol: Column, maxDist: Int): DataFrame = {
    val blocked = df.select(col(idCol), col(nameCol), blockCol.as("_block"))
    val a = blocked.toDF("id_a", "name_a", "_block")
    val b = blocked.toDF("id_b", "name_b", "_block")
    a.join(b, "_block")
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
  }

  // ——— SimHash ———

  /** 64-bit SimHash: each token votes ±1 on each bit of its xxhash64;
    * bit i of the signature = sign of the vote sum. Near-dups share
    * signatures (Hamming-close docs collide on banded sub-keys).
    * Pure HOF expressions; one pass, no shuffle.
    */
  def simhash64(textCol: Column): Column =
    // native single-pass expression (graft.functions.SimHash): the
    // unrolled 64×aggregate HOF form ran interpreted and 100× slower
    graft.functions.SimHash.simhash64(TextStats.tokens(textCol))

  /** Docs grouped by identical SimHash (exact-collision near-dups). */
  def simhashGroups(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    docs.select(col(idCol), simhash64(col(textCol)).as("simhash"))
      .groupBy("simhash")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Engine-portable SimHash: the same bit-vote construction as the
    * native expression but over an md5-derived 60-bit token hash
    * (15 hex chars < 2^60 — positive in both engines' int64), so the
    * signature is reproducible in DuckDB and the whole operator is
    * oracle-checkable (q37) — the same second-hash-family trick as
    * MinHash (q36). Shape: one token explode (narrow), ONE shuffle on
    * the doc id carrying `bits` conditional-sum vote aggregates —
    * identical cost profile to `lshBuckets`. The native xxhash64
    * expression (`simhash64`) stays the production fast path (one
    * pass, zero shuffle); Hamming agreement between the two families
    * is pinned in DedupSpec.
    */
  def simhashPortableSig(docs: DataFrame, bits: Int = 60,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(bits <= 60, "15 md5 hex chars carry 60 bits")
    val toks = docs
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val voteCols = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val votes = toks.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    val sig = (0 until bits)
      .map(i => when(col(s"v$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** Portable-family SimHash collision groups (the oracle-facing twin
    * of `simhashGroups`).
    */
  def simhashPortableGroups(docs: DataFrame, bits: Int = 60,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    simhashPortableSig(docs, bits, idCol, textCol)
      .groupBy("simhash")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** SimHash near-dup PAIRS (Manku et al. 2007 — the web-dedup
    * classic): candidates share at least one of `bands` equal
    * signature slices; exact Hamming distance verifies candidates
    * only. With maxHamming < bands, recall is EXACT by pigeonhole —
    * a pair differing in <= maxHamming bits cannot differ in every
    * one of the bands, so banding only prunes, never misses. Uses the
    * portable md5 family so the entire operator (signature, banding,
    * verify) replays in the oracle (q97).
    *
    * Scale shape: banding is a narrow projection; the candidate join
    * shuffles on (band, bucket) — 2^bandBits buckets bound posting
    * lists; verify joins on the ids. No all-pairs stage anywhere.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4,
                   bits: Int = 60, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    require(maxHamming < bands,
      s"exact recall needs maxHamming < bands (got $maxHamming >= $bands)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    // the signature stage (token explode + 60 conditional-sum
    // aggregates) feeds THREE consumers (banding + both verify
    // joins); Catalyst does not dedup common subtrees, so an eager
    // localCheckpoint materializes it once — one doc-count-sized
    // table, reclaimed by the ContextCleaner when the result dies
    val sigs = simhashPortableSig(docs, bits, idCol, textCol).trackedLocalCheckpoint()
    val banded = sigs.select(col(idCol), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
            .as("bucket"))): _*)).as("_bb"))
      .select(col(idCol), col("_bb.band").as("band"), col("_bb.bucket").as("bucket"))
    val cand = banded.toDF("id_a", "band", "bucket")
      .join(banded.toDF("id_b", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sigs.toDF("id_a", "sig_a"), "id_a")
      .join(sigs.toDF("id_b", "sig_b"), "id_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-dup provenance matrix: fold a (id_a, id_b) pair frame (any
    * dedup path's output) over a (id, source) provenance table into
    * per-source-pair counts — "which sources copy from which", the
    * view a mixture designer reads before setting per-source rates.
    * Pairs are normalized with least/greatest so the matrix is
    * upper-triangular regardless of pair orientation.
    *
    * Scale: two joins keyed on doc id (the provenance side is
    * (id, source) — thin; broadcast when it fits), then a group count
    * on source pairs (output ≤ |sources|²).
    */
  def dupProvenanceMatrix(pairs: DataFrame, provenance: DataFrame,
                          idCol: String = "doc_id",
                          sourceCol: String = "source"): DataFrame = {
    val a = provenance.select(col(idCol).as("id_a"), col(sourceCol).as("_sa"))
    val b = provenance.select(col(idCol).as("id_b"), col(sourceCol).as("_sb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  // ——— duplicate SPANS (sub-document exact dedup) ———

  /** Positional duplicate-span detection — the distributed shape of
    * suffix-array substring dedup ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022): an n-token gram that
    * occurs ≥ `minCount` times ANYWHERE in the corpus (across docs or
    * repeated within one) marks the span [pos, pos+n) as duplicated;
    * overlapping marked spans merge into maximal intervals per doc
    * (gaps-and-islands over a running max of span ends).
    *
    * Differs from `Corpus.stripBoilerplate` (q81): that drops fixed
    * non-overlapping lines by document frequency; this slides over
    * EVERY position, so a duplicated passage is caught at any offset.
    *
    * Returns per doc: (doc_id, n_tokens, n_dup_spans, dup_tokens,
    * dup_fraction) — the removal decision (drop doc above a dup
    * fraction, or cut the spans) is the caller's policy.
    *
    * Scale: positional grams are corpus-linear (one row per token);
    * the hot-gram filter is a count aggregate on the gram key; the
    * join back marks positions (output ≤ gram count — NO pair
    * explosion, so unlike the Jaccard inverted index this needs no
    * df cap); island-merge is one per-doc window. Three linear
    * shuffles total, each on a scalable key. The gram stage is
    * deliberately computed twice (hot-filter side + mark side)
    * rather than persisted: the intermediate is corpus-sized × n,
    * and recomputing a narrow map stage is the cheaper trade at
    * 100 TB (same call as `shingles`' consumers).
    */
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): over the whitespace-normalized lowercased text,
    * hash every char `k`-gram, slide a window of `w` consecutive gram
    * hashes, and select each window's MINIMUM (rightmost on ties).
    * Unlike mod-p fingerprint sampling this carries the winnowing
    * GUARANTEE: any shared substring of length ≥ k + w − 1 chars
    * produces at least one shared fingerprint — position-robust
    * plagiarism/near-dup detection with a density bound of
    * ~2/(w+1) fingerprints per gram.
    *
    * Returns one row per selected (id, fingerprint hash, gram pos).
    * The rightmost-min tie rule is encoded arithmetically: windows
    * minimize `hash·2²⁴ + (2²⁴−1−pos)`, so equal hashes prefer the
    * LARGER position — one partitioned window `min`, no argmin UDF.
    * Docs shorter than k+w−1 chars contribute their single truncated
    * window (the global min of what grams they have).
    *
    * Scale shape: gram explode is map-side (linear in chars); the
    * window is per-doc partitioned (frame = one doc's grams); the
    * fingerprint set is ~2/(w+1) of grams. Positions beyond 2²⁴
    * (16.7M chars) are dropped from fingerprinting — document-scale
    * texts past that belong in [[dupSpans]]' islands instead.
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            nativeHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"winnowingFingerprints: k >= 2, got $k")
    require(w >= 2, s"winnowingFingerprints: w >= 2, got $w")
    // Gram hash, 36 bits either way (the ·2²⁴ packing needs h < 2³⁹):
    // `nativeHash` swaps the md5-hex-prefix hash for codegen'd
    // xxhash64 (seed 42) mod 2³⁶ — 5-10× cheaper per gram, the
    // production path; the md5 form stays the default because a plain
    // SQL oracle can replay it (q357 keeps that path hash-verified on
    // a capped slice, while the xx path is verified against an
    // INDEPENDENT driver-side scalar reference — the q61 precedent).
    val gramHash: Column => Column =
      if (nativeHash) g => pmod(xxhash64(g), lit(68719476736L))
      else g => conv(substring(md5(g), 1, 9), 16, 10).cast("long")
    // normalized text in its OWN projection (interpreted-HOF re-eval
    // trap), then the RELATIONAL LONG FORM (the minhashLong rule):
    // posexplode the POSITION sequence and compute substr + hash on
    // the exploded rows, where whole-stage codegen runs them — the
    // transform-lambda form (gram strings built inside an interpreted
    // HOF) measured 10× slower on the gram stage at sf0.1
    // r19 (guide §2.3 "shuffle keys/metadata instead of payloads",
    // §2.4): hash-partition the DOC rows by id BEFORE the gram
    // explode. The per-doc window below requires clustering by id —
    // without this the Exchange lands ABOVE the explode and shuffles
    // one row per CHARACTER (id, ng, pos, c — ~30 bytes × total
    // corpus chars); posexplode/filter/project preserve the child's
    // partitioning, so pre-partitioning the (id, text) rows satisfies
    // the window with a doc-sized shuffle and the gram rows never
    // cross the wire. spreadForCompute keeps the explode+hash stage
    // at full session width (the gram hashing is compute-dense).
    val norm = graft.engine.Skew.spreadForCompute(
      docs.select(col(idCol),
        regexp_replace(lower(col(textCol)), "\\s+", " ").as("_s")),
      col(idCol))
    val grams = norm.select(col(idCol),
      (greatest(length(col("_s")) - lit(k - 1), lit(1)))
        .cast("long").as("_ng"),
      col("_s"),
      posexplode(sequence(lit(0),
        greatest(length(col("_s")) - lit(k), lit(0))))
        .as(Seq("pos", "_z")))
      .filter(col("pos") < lit(16777216L))
      .select(col(idCol), col("_ng"), col("pos"),
        gramHash(expr(s"substring(_s, pos + 1, $k)")).as("h"))
    val comb = grams.select(col(idCol), col("_ng"),
      col("pos").cast("long").as("pos"),
      (col("h") * lit(16777216L) + (lit(16777215L) - col("pos")))
        .as("c"))
    val winMin = min(col("c")).over(Window.partitionBy(idCol)
      .orderBy("pos").rowsBetween(0, w - 1))
    comb.withColumn("m", winMin)
      .filter(col("pos") === 0 || col("pos") <= col("_ng") - lit(w.toLong))
      .select(col(idCol), expr("m div 16777216").as("fp"),
        (lit(16777215L) - pmod(col("m"), lit(16777216L))).as("fp_pos"))
      .distinct()
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints —
    * [[winnowingFingerprints]] pushed through the standard inverted-
    * index join: docs sharing ≥ `minShared` selected fingerprints,
    * with hot fingerprints (df > `maxDf`) dropped from the posting
    * join (the boilerplate guard every posting-list dedup here uses).
    * Emits each side's fingerprint count and the overlap coefficient
    * n_shared / min(n_fp) — 1.0 means one doc's fingerprint set is
    * contained in the other's.
    */
  def winnowingCandidates(docs: DataFrame, k: Int = 5, w: Int = 4,
                          minShared: Long = 2, maxDf: Long = 50,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          nativeHash: Boolean = false): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"winnowingCandidates: minShared >= 1, maxDf >= 2")
    val sel = winnowingFingerprints(docs, k, w, idCol, textCol, nativeHash)
      .select(col(idCol), col("fp")).distinct()
      .trackedPersist()
    val perDoc = sel.groupBy(idCol).agg(count(lit(1)).as("n_fp"))
    val cold = sel.groupBy("fp").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("fp")
    val posting = sel.join(cold, "fp")
    val pairs = posting.select(col("fp"), col(idCol).as("id_a"))
      .join(posting.select(col("fp"), col(idCol).as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(perDoc.select(col(idCol).as("id_a"), col("n_fp").as("n_fp_a")),
        Seq("id_a"))
      .join(perDoc.select(col(idCol).as("id_b"), col("n_fp").as("n_fp_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"),
        round(col("n_shared").cast("double") /
          least(col("n_fp_a"), col("n_fp_b")).cast("double"), 6)
          .as("overlap"))
      .orderBy("id_a", "id_b")
  }

  def dupSpans(docs: DataFrame, n: Int = 8, minCount: Long = 2,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"dupSpans: n must be >= 1 (got $n)")
    require(minCount >= 2, s"dupSpans: minCount must be >= 2 (got $minCount)")
    // token array in its OWN projection (interpreted-HOF re-eval trap)
    val withToks = docs.select(col(idCol),
      TextStats.tokens(col(textCol)).as("_toks"))
    val nToks = withToks.select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"))
    val grams = withToks
      .filter(size(col("_toks")) >= n)
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), size(col("_toks")) - lit(n - 1)),
          i => array_join(slice(col("_toks"), i, lit(n)), " ")))
          .as(Seq("pos", "gram")))
    val hot = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select("gram")
    val marked = grams.join(hot, "gram")
      .select(col(idCol), col("pos"), (col("pos") + n).as("end"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val prevMax = max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = marked
      .withColumn("new_isl",
        when(prevMax.isNull || col("pos") > prevMax, 1).otherwise(0))
      .withColumn("isl",
        sum(col("new_isl")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands.groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("end")).as("e"))
    val perDoc = spans.groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).as("dup_tokens"))
    nToks.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_fraction"))
  }

  /** Fuzzy entity resolution over a NAME DICTIONARY: Jaro–Winkler
    * pairs among the distinct values of `nameCol` at/above
    * `threshold` (compared on the 6-dp rounding both engines share).
    * The self-join runs on the distinct-value dictionary, not the
    * rows — name vocabularies grow orders of magnitude slower than
    * corpora, which is what makes the quadratic candidate space
    * survivable. For dictionaries that are themselves large, pass
    * `blockOnFirstChar = true`: candidates are generated only within
    * first-character blocks (the classic blocking tradeoff — misses
    * pairs differing in position 0, cuts candidates ~|Σ|-fold).
    * The kernel is the codegen'd native [[graft.functions.JaroWinkler]].
    */
  /** Threshold-tuning curve over a verified near-dup pair set: bin
    * the exact Jaccard scores (`binsPerUnit` bins per 1.0) and report,
    * per bin floor, the pair count in the bin and the reverse
    * cumulative "pairs you would merge at threshold ≥ t" — the one
    * table a dedup operator reads before committing to a threshold,
    * produced from ONE pair materialization instead of re-running the
    * pipeline per candidate threshold. Dictionary-sized output; the
    * window runs over the bin spine.
    */
  def dedupThresholdCurve(pairs: DataFrame, binsPerUnit: Int = 20,
                          jaccardCol: String = "jaccard"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(binsPerUnit >= 1, s"binsPerUnit >= 1, got $binsPerUnit")
    pairs
      .select((floor(col(jaccardCol) * binsPerUnit) / binsPerUnit).as("thr"))
      .groupBy("thr").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above", sum("n_pairs").over(
        Window.orderBy(col("thr").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("thr"), col("n_pairs").cast("long").as("n_pairs"),
        col("n_at_or_above").cast("long").as("n_at_or_above"))
      .orderBy("thr")
  }

  /** Golden-record survivorship — the step AFTER entity resolution:
    * merge every source row of a matched cluster into ONE canonical
    * record under declarative survivorship rules. Clusters come from
    * [[entityClusters]]'s pipeline (JW pairs → connected components
    * over the name DICTIONARY); unmatched names stay their own
    * singleton cluster, so every input row survives into exactly one
    * golden record. Rules:
    *
    *   - `modeCols`: plurality wins, ties to the SMALLEST value —
    *     the deterministic promise Spark's `mode()` doesn't make
    *     (same convention as `Profile.modeShare`)
    *   - `maxCols`: largest value wins (freshness/most-complete
    *     proxies sort ascending under max)
    *
    * plus `n_rows` / `n_names` lineage counts per golden record.
    *
    * Scale: the quadratic JW step runs on the distinct-name
    * dictionary only (gated/blocked exactly as [[jaroWinklerPairs]]);
    * source rows join the dictionary-sized assignment once on the
    * name (broadcast-able), then every rule is a cluster-keyed
    * aggregation — mode columns add one (cluster, value) aggregate +
    * a cluster-partitioned window each, all on post-merge
    * dictionary-sized frames.
    */
  def goldenRecords(df: DataFrame, nameCol: String, threshold: Double,
                    modeCols: Seq[(String, String)],
                    maxCols: Seq[(String, String)],
                    blockOnFirstChar: Boolean = false,
                    maxNames: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = jaroWinklerPairs(df, nameCol, threshold, blockOnFirstChar,
        maxNames)
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      .trackedLocalCheckpoint()
    val assign = nearDupClusters(pairs)
      .select(col("id").as("_gname"), col("cluster"))
    val rows = df.filter(col(nameCol).isNotNull)
      .withColumn("_gname", col(nameCol))
      .join(assign, Seq("_gname"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("_gname")))
    val baseAggs = count(lit(1)).as("n_rows") +:
      countDistinct(col("_gname")).as("n_names") +:
      maxCols.map { case (c, out) => max(col(c)).as(out) }
    val base = rows.groupBy("cluster").agg(baseAggs.head, baseAggs.tail: _*)
    val modes = modeCols.map { case (c, out) =>
      val w = Window.partitionBy("cluster")
        .orderBy(col("_cnt").desc, col(c))
      rows.groupBy("cluster", c).agg(count(lit(1)).as("_cnt"))
        .withColumn("_rk", row_number().over(w))
        .where(col("_rk") === 1)
        .select(col("cluster"), col(c).as(out))
    }
    modes.foldLeft(base)(_.join(_, Seq("cluster")))
      .withColumnRenamed("cluster", "canonical")
      .orderBy("canonical")
  }

  /** Entity resolution: fuzzy-match clusters over a name dictionary.
    * Jaro–Winkler pairs at `threshold` (q172's native kernel) feed
    * the connected-components operator; each cluster reports its
    * canonical form (lexicographically smallest member — CC's label
    * by construction), size, and the sorted member roster. The
    * "ACME Corp / ACME Corp. / Acme Corporation are one vendor"
    * operator. All work is dictionary-sized; rows never join.
    */
  def entityClusters(df: DataFrame, nameCol: String,
                     threshold: Double,
                     blockOnFirstChar: Boolean = false,
                     maxNames: Long = 100000L): DataFrame = {
    val pairs = jaroWinklerPairs(df, nameCol, threshold, blockOnFirstChar,
        maxNames)
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      .trackedLocalCheckpoint()
    nearDupClusters(pairs)
      .groupBy(col("cluster").as("canonical"))
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", sort_array(collect_list("id"))).as("members"))
      .orderBy("canonical")
  }

  /** All name pairs above a Jaro–Winkler threshold over the DISTINCT
    * dictionary of `nameCol`.
    *
    * GUARDED: with `blockOnFirstChar = false` the plan is an O(n²)
    * cartesian product over the dictionary, so the call counts the
    * distinct names up front and REFUSES dictionaries beyond
    * `maxNames` (default 100k ⇒ ≤ 5·10⁹ JW evaluations) rather than
    * silently launching an un-finishable job — a 10⁷-name dictionary
    * is 10¹⁴ pairs. `blockOnFirstChar = true` is the scale path
    * (first-char equality bounds each block; JW ≥ 0.7 pairs almost
    * always share a first char since the Winkler prefix bonus and
    * the Jaro window both reward shared prefixes) and is ungated.
    * Raise `maxNames` only for a deliberate bounded verification run.
    */
  def jaroWinklerPairs(df: DataFrame, nameCol: String, threshold: Double,
                       blockOnFirstChar: Boolean = false,
                       maxNames: Long = 100000L): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    val names = df.select(col(nameCol).as("name")).filter(col("name").isNotNull)
      .distinct()
    if (!blockOnFirstChar) {
      val n = names.count()
      require(n <= maxNames,
        s"jaroWinklerPairs with blockOnFirstChar=false is an O(n²) " +
          s"dictionary cross join and refuses $n distinct names " +
          s"(maxNames=$maxNames). At scale pass blockOnFirstChar=true " +
          "(first-char blocking — bounded blocks, same shuffle key on " +
          "both sides); raise maxNames only for a deliberate bounded " +
          "verification run.")
    }
    val a = names.select(col("name").as("name_a"))
    val b = names.select(col("name").as("name_b"))
    val joined =
      if (blockOnFirstChar)
        a.withColumn("_blk", substring(col("name_a"), 1, 1))
          .join(b.withColumn("_blk", substring(col("name_b"), 1, 1)), "_blk")
          .drop("_blk")
      else a.crossJoin(b)
    joined.filter(col("name_a") < col("name_b"))
      .withColumn("jw", round(jaroWinkler(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= threshold)
      .select("name_a", "name_b", "jw")
      .orderBy("name_a", "name_b")
  }

  /** Blocking-quality evaluation for entity resolution: how much
    * does first-char blocking cut the pair space (reduction ratio),
    * and how many of the TRUE matches does it keep (pair
    * completeness)? The standard record-linkage blocking scorecard
    * (Christen 2012) — run it on a dictionary SAMPLE before trusting
    * a blocking key at corpus scale, where the blocked join is the
    * only affordable path.
    *
    * One row out: (n_names, n_all_pairs, n_block_pairs, n_true,
    * n_true_in_block, reduction_ratio, pair_completeness);
    * pair_completeness is NULL when no true pairs exist. Blocked-pair
    * counts come from block SIZES (Σ s·(s−1)/2 — an aggregation, no
    * join); the ground-truth side is the deliberate O(n²) dictionary
    * scan, gated by `maxNames` exactly like [[jaroWinklerPairs]] —
    * this is an EVAL operator, quadratic by definition.
    */
  def blockingQuality(df: DataFrame, nameCol: String, threshold: Double,
                      maxNames: Long = 100000L): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    val names = df.select(col(nameCol).as("name"))
      .filter(col("name").isNotNull).distinct()
    val n = names.count()
    require(n <= maxNames,
      s"blockingQuality's truth side is an O(n²) dictionary cross join " +
        s"and refuses $n distinct names (maxNames=$maxNames); evaluate " +
        "on a dictionary sample instead.")
    val cnt = names.agg(count(lit(1)).as("c"))
    val bp = names.groupBy(substring(col("name"), 1, 1).as("b"))
      .agg(count(lit(1)).as("s"))
      .agg(sum(expr("s * (s - 1) div 2")).cast("long").as("n_block_pairs"))
    val a = names.select(col("name").as("name_a"))
    val b = names.select(col("name").as("name_b"))
    val tp = a.crossJoin(b).filter(col("name_a") < col("name_b"))
      .filter(round(jaroWinkler(col("name_a"), col("name_b")), 6)
        >= threshold)
      .agg(count(lit(1)).as("n_true"),
        sum(when(substring(col("name_a"), 1, 1) ===
          substring(col("name_b"), 1, 1), 1L).otherwise(0L)).cast("long")
          .as("n_true_in_block"))
    cnt.crossJoin(bp).crossJoin(tp)
      .select(col("c").cast("long").as("n_names"),
        expr("c * (c - 1) div 2").cast("long").as("n_all_pairs"),
        col("n_block_pairs"),
        col("n_true").cast("long").as("n_true"),
        coalesce(col("n_true_in_block"), lit(0L)).as("n_true_in_block"),
        round(lit(1.0) - col("n_block_pairs").cast("double") /
          expr("c * (c - 1) div 2").cast("double"), 6).as("reduction_ratio"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(round(coalesce(col("n_true_in_block"), lit(0L))
            .cast("double") / col("n_true").cast("double"), 6))
          .as("pair_completeness"))
  }

  /** Pair-set agreement between two near-dup METHODS — the
    * method-selection audit (lexical MinHash vs semantic SemDeDup is
    * THE practical question: how much does embedding dedup add beyond
    * n-gram dedup, and vice versa?): both pair sets normalized to
    * unordered (u, v), full-outer joined, and reduced to the overlap
    * ledger — sizes, both/only counts, and the pair-set Jaccard.
    * One pair-keyed shuffle over frames that are already capped by
    * their producers; 1-row output.
    */
  def pairSetAgreement(a: DataFrame, b: DataFrame,
                       methodA: String, methodB: String): DataFrame = {
    def norm(df: DataFrame) = df
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .distinct()
    val j = norm(a).withColumn("_ina", lit(1))
      .join(norm(b).withColumn("_inb", lit(1)), Seq("u", "v"), "full_outer")
    j.agg(
        coalesce(sum(when(col("_ina") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_a"),
        coalesce(sum(when(col("_inb") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_b"),
        coalesce(sum(when(col("_ina") === 1 && col("_inb") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("n_both"),
        count(lit(1)).as("_n_union"))
      .select(lit(methodA).as("method_a"), lit(methodB).as("method_b"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("n_both").cast("long").as("n_both"),
        (col("n_a") - col("n_both")).cast("long").as("n_a_only"),
        (col("n_b") - col("n_both")).cast("long").as("n_b_only"),
        when(col("_n_union") > 0,
          round(col("n_both").cast("double") / col("_n_union"), 6))
          .as("pair_jaccard"))
  }
}
