package graft.queries

import graft.Tables
import graft.engine.TrackedCache.Trackable
import graft.ext.{Dedup, Privacy, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication battery over the `documents` table
  * (training-data pipeline operators; SURVEY.md §7 extensions).
  * Oracle-parity notes are on each query; operators whose arithmetic
  * has no DuckDB twin (xxhash64 families, the stub codec) share it as
  * parquet artifacts / scalar-reference fixtures instead (Fixtures),
  * so every query is hash-checked.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Shared oracle for the incremental shard-vs-index dedup: q72 runs
    * it against the plain-parquet index, q91 against the BUCKETED
    * index layout (writeLshIndexBucketed → readLshIndexBucketed) —
    * identical result set by construction, so both hash-match the
    * same SQL. Identical md5 universal-hash family; candidates =
    * shard×index bucket joins; exact Jaccard on candidates.
    */
  /** Shared CTE chain: md5-family MinHash → LSH buckets → candidate
    * pairs → exact-Jaccard verification, ending in
    * `vp(id_a, id_b, jaccard)`. q59 selects it directly; q116 joins
    * provenance on top — one arithmetic definition, two consumers.
    */
  private val verifiedPairsCte: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(ts) >= 3
      |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
      |      ELSE [array_to_string(ts, ' ')] END) AS shingle
      |  FROM toks
      |), hashed AS (
      |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
      |  FROM sh
      |), mins AS (
      |  SELECT doc_id, seed,
      |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
      |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
      |  GROUP BY doc_id, seed
      |), buckets AS (
      |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
      |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
      |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM buckets a
      |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT c.id_a, c.id_b, COUNT(*) AS i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.id_a
      |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2
      |), vp AS (
      |  SELECT id_a, id_b,
      |    ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      |  FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id
      |  JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
      |)""".stripMargin

  /** Shared recursive-CTE chain for near-dup clustering: the q59
    * verified-pair derivation → symmetric edges → transitive closure
    * (WITH RECURSIVE reach) → per-doc cluster id, ending in
    * `clusters(id, cluster)`. q58 selects it directly; q160
    * aggregates the size histogram on top.
    */
  private val clustersCte: String =
    """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), hashed AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
        |  FROM sh
        |), mins AS (
        |  SELECT doc_id, seed,
        |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
        |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
        |  GROUP BY doc_id, seed
        |), buckets AS (
        |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
        |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM buckets a
        |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON id_a = ca.doc_id
        |  JOIN cnt cb ON id_b = cb.doc_id
        |  WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), clusters AS (
        |  SELECT id, CAST(least(id, min(dst)) AS BIGINT) AS cluster FROM (
        |    SELECT src AS id, dst FROM reach
        |  ) GROUP BY id
        |)""".stripMargin


  private val incrementalDedupSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(ts) >= 3
      |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
      |      ELSE [array_to_string(ts, ' ')] END) AS shingle
      |  FROM toks
      |), hashed AS (
      |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
      |  FROM sh
      |), mins AS (
      |  SELECT doc_id, seed,
      |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
      |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
      |  GROUP BY doc_id, seed
      |), buckets AS (
      |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
      |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
      |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_idx
      |  FROM buckets a
      |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT c.id_new, c.id_idx, COUNT(*) AS i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.id_new
      |  JOIN sh b ON b.doc_id = c.id_idx AND b.shingle = a.shingle
      |  GROUP BY 1, 2
      |)
      |SELECT id_new, id_idx,
      |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter
      |JOIN cnt ca ON id_new = ca.doc_id
      |JOIN cnt cb ON id_idx = cb.doc_id
      |WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
      |ORDER BY id_new, id_idx""".stripMargin

  val queries: Seq[Q] = Seq(

    // ——— token counting ———
    Q("q30_text_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy("doc_id")
    },

    // ——— quality scoring ———
    Q("q31_text_quality",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |       t -> t IN ('the','a','an','of','and','to','in','is','on','for'))) AS BIGINT) AS stop_n,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_n,
        |  ROUND(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |        / len(string_split_regex(lower(text), '\s+')), 6) AS mean_word_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextStats.stopwordCount(col("text")).as("stop_n"),
        TextStats.punctCount(col("text")).as("punct_n"),
        round(TextStats.meanWordLen(col("text")), 6).as("mean_word_len"))
        .orderBy("doc_id")
    },

    // ——— fingerprinting (md5 of normalized text — portable) ———
    Q("q32_text_fingerprint",
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ——— per-language corpus stats ———
    Q("q33_lang_stats",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    },

    // ——— exact dedup (hash-groupBy) ———
    Q("q34_dedup_exact",
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY keeper""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(docs(s, dir)).orderBy("keeper")
    },

    // ——— n-gram Jaccard near-dup pairs (inverted index, exact) ———
    Q("q35_dedup_ngram_jaccard",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN cnt ca ON id_a = ca.doc_id
        |JOIN cnt cb ON id_b = cb.doc_id
        |WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // the labeled UNCAPPED correctness baseline: `maxDf = None` is
      // an explicit opt-in (the API default caps at DefaultMaxDf);
      // scale twins are q59/q60
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.5,
        maxDf = None)
        .orderBy("id_a", "id_b")
    },

    // ——— apply the dedup: the KEPT document set after dropping the
    //     later member of every jaccard≥0.5 near-dup pair. Pairs come
    //     from the composed SCALE path (MinHash/LSH candidates →
    //     exact verify), not the all-pairs inverted index — this is
    //     the default shape a 100 TB corpus dedup runs. ———
    Q("q57_dedup_apply",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), hashed AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
        |  FROM sh
        |), mins AS (
        |  SELECT doc_id, seed,
        |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
        |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
        |  GROUP BY doc_id, seed
        |), buckets AS (
        |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
        |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM buckets a
        |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT c.id_a, c.id_b, COUNT(*) AS i
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2
        |), dropped AS (
        |  SELECT DISTINCT id_b FROM inter
        |  JOIN cnt ca ON id_a = ca.doc_id
        |  JOIN cnt cb ON id_b = cb.doc_id
        |  WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
        |)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT id_b FROM dropped)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = Dedup.minhashVerifiedPairs(docs(s, dir), n = 3, k = 32,
        bands = 8, minJaccard = 0.5)
      Dedup.applyNearDedup(docs(s, dir), pairs)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ——— incremental dedup: a NEW shard (doc_id % 10 = 7) against
    //     the LSH index built from the REST of the corpus — the
    //     continuously-ingesting topology (index built once, each
    //     shard dedups against it without re-signing the corpus).
    //     Oracle: identical md5 universal-hash family; candidates =
    //     shard×index bucket joins; exact Jaccard on candidates. ———
    Q("q72_dedup_incremental", incrementalDedupSql) { (s, dir) =>
      val d = docs(s, dir)
      val newShard = d.filter(col("doc_id") % 10 === 7)
      val corpus = d.filter(col("doc_id") % 10 =!= 7)
      val index = Dedup.buildLshIndex(corpus, n = 3, k = 32, bands = 8)
      Dedup.dedupAgainstIndex(newShard, index, n = 3, k = 32, bands = 8,
        minJaccard = 0.5)
        .orderBy("id_new", "id_idx")
    },

    // ——— the SAME incremental dedup, but against the BUCKETED index
    //     layout (saveAsTable bucketBy(band, bucket) / bucketBy(id)):
    //     the 100 TB shape, where every shard-vs-index join shuffles
    //     only the shard and the index side reads straight from its
    //     buckets with no exchange (plan-asserted in ScaleSpec). The
    //     oracle is identical to q72's — the layout must not change
    //     the result set. ———
    Q("q91_dedup_incremental_bucketed", incrementalDedupSql) { (s, dir) =>
      val d = docs(s, dir)
      val newShard = d.filter(col("doc_id") % 10 === 7)
      val corpus = d.filter(col("doc_id") % 10 =!= 7)
      val index = Dedup.buildLshIndex(corpus, n = 3, k = 32, bands = 8)
      Dedup.writeLshIndexBucketed(index, "graft_q91_idx", buckets = 16)
      val bucketed = Dedup.readLshIndexBucketed(s, "graft_q91_idx")
      Dedup.dedupAgainstIndex(newShard, bucketed, n = 3, k = 32, bands = 8,
        minJaccard = 0.5)
        .orderBy("id_new", "id_idx")
    },

    // ——— sketch aggregates: HLL vocabulary stats. The oracle checks
    //     the EXACT columns; the sketch's error contract rides along
    //     as a boolean the oracle pins to TRUE — a drifting sketch
    //     breaks the hash. Production form: Sketches.vocabSketch
    //     (approx only — fixed-size agg state at any corpus size). ———
    Q("q73_sketch_vocab",
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |)
        |SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_exact,
        |  CAST(COUNT(*) AS BIGINT) AS total_tokens,
        |  TRUE AS hll_within_3rsd
        |FROM toks GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.ext.Sketches.vocabChecked(docs(s, dir)).orderBy("lang")
    },

    // ——— sketch aggregates: GK quantile doc-length profile. Exact
    //     quantiles oracle against quantile_cont (q24's pinned
    //     equivalence); percentile_approx's rank-error contract is
    //     the TRUE-pinned boolean. Production form:
    //     Sketches.docLengthSketch. ———
    Q("q74_sketch_quantiles",
      """WITH lens AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents
        |)
        |SELECT lang,
        |  ROUND(quantile_cont(n_tok, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(n_tok, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(n_tok, 0.75), 6) AS p75,
        |  ROUND(quantile_cont(n_tok, 0.95), 6) AS p95,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS approx_in_rank_bounds
        |FROM lens GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.ext.Sketches.docLengthChecked(docs(s, dir),
        probs = Seq(0.25, 0.5, 0.75, 0.95)).orderBy("lang")
    },

    // ——— Count-Min point frequencies: per-lang sketch probed at the
    //     exact top-5 tokens; the one-sided and width-bound contracts
    //     ride the hash compare as TRUE-pinned booleans (q73/q74's
    //     sketch-contract pattern). Production form: the CMS blob
    //     alone — depth×width state per group at any corpus size. ———
    Q("q86_cms_frequencies",
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), ex AS (
        |  SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2
        |), top AS (
        |  SELECT lang, tok, n,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
        |  FROM ex
        |)
        |SELECT lang, tok AS token, CAST(n AS BIGINT) AS n_exact,
        |  TRUE AS cms_lower_ok, TRUE AS cms_within_bound
        |FROM top WHERE rn <= 5
        |ORDER BY lang, token""".stripMargin) { (s, dir) =>
      import graft.functions.CountMin
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir).select(col("lang"),
        explode(TextStats.tokens(col("text"))).as("tok"))
      val cms = toks.groupBy("lang")
        .agg(CountMin.cmsAgg(col("tok"), depth = 5, width = 2048).as("blob"),
          count(lit(1)).as("n_total"))
      val top = toks.groupBy("lang", "tok").agg(count(lit(1)).as("n_exact"))
        .withColumn("_rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_exact").desc, col("tok"))))
        .filter(col("_rn") <= 5)
      top.join(cms, "lang")
        .select(col("lang"), col("tok").as("token"), col("n_exact"),
          (CountMin.cmsEstimate(col("blob"), col("tok")) >= col("n_exact"))
            .as("cms_lower_ok"),
          (CountMin.cmsEstimate(col("blob"), col("tok")) <= col("n_exact")
            + ceil(lit(3.0 * math.E) * col("n_total") / lit(2048)).cast("long"))
            .as("cms_within_bound"))
        .orderBy("lang", "token")
    },

    // ——— heavy hitters: exact per-lang top-5 tokens (oracle-able)
    //     plus the Misra-Gries sketch's CONTAINMENT guarantee as a
    //     TRUE-pinned boolean — every top-5 token's frequency exceeds
    //     n/(k+1) on this corpus, so the sketch must hold it
    //     regardless of merge order. Production form: the MG summary
    //     alone (O(k) state per group vs one row per distinct token). ———
    Q("q75_heavy_hitters",
      """WITH toks AS (
        |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), cnt AS (
        |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY lang, tok
        |), top5 AS (
        |  SELECT lang, tok, cnt FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) <= 5
        |)
        |SELECT lang, tok, cnt, TRUE AS in_sketch
        |FROM top5
        |ORDER BY lang, tok""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir).select(col("lang"),
        explode(TextStats.tokens(col("text"))).as("tok"))
      val exact = toks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      val top5 = exact.withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))))
        .filter(col("rn") <= 5).drop("rn")
      val sketch = toks.groupBy("lang")
        .agg(graft.functions.ApproxTopK.approxTopK(col("tok"), 64).as("mg"))
      top5.join(sketch, "lang")
        .select(col("lang"), col("tok"), col("cnt"),
          exists(col("mg"), e => e.getField("tok") === col("tok")).as("in_sketch"))
        .orderBy("lang", "tok")
    },

    // ——— PII-density triage per source: deterministic synthetic PII
    //     planted into id-derived subsets (both engines fabricate the
    //     identical text), then the per-source document rate and
    //     length-normalized hits-per-kilochar — the "which feeds leak"
    //     view that decides where q76's redaction pass runs first. ———
    Q("q298_pii_density", {
      s"""WITH t AS (
         |  SELECT source,
         |    CASE
         |      WHEN doc_id % 5 < 2 THEN text || ' reach user'
         |        || CAST(doc_id AS VARCHAR) || '@example.com'
         |      WHEN doc_id % 7 = 0 THEN text || ' call 555-123-'
         |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE text END AS t
         |  FROM documents
         |), g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN len(regexp_extract_all(t, '${graft.ext.Privacy.EmailRe}'))
         |      + len(regexp_extract_all(t, '${graft.ext.Privacy.PhoneRe}'))
         |      + len(regexp_extract_all(t, '${graft.ext.Privacy.Ipv4Re}')) > 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
         |    CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.EmailRe}'))) AS BIGINT) AS n_emails,
         |    CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.PhoneRe}'))) AS BIGINT) AS n_phones,
         |    CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.Ipv4Re}'))) AS BIGINT) AS n_ips,
         |    CAST(SUM(strlen(t)) AS BIGINT) AS chars
         |  FROM t GROUP BY 1
         |)
         |SELECT source, n_docs, n_docs_with_pii, n_emails, n_phones, n_ips,
         |  round(CAST(n_docs_with_pii AS DOUBLE) / n_docs, 6) AS pii_doc_rate,
         |  round(CAST(n_emails + n_phones + n_ips AS DOUBLE) * 1000.0 / chars,
         |    6) AS pii_per_kchar
         |FROM g ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val injected = docs(s, dir).select(col("source"),
        when(col("doc_id") % 5 < 2,
            concat(col("text"), lit(" reach user"),
              col("doc_id").cast("string"), lit("@example.com")))
          .when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" call 555-123-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      graft.ext.Privacy.piiDensity(injected)
    },

    // ——— dedup-method agreement: MinHash-verified LEXICAL pairs vs
    //     SemDeDup SEMANTIC pairs (ids aligned doc↔embedding, the
    //     q292 topology premise) reduced to the overlap ledger — the
    //     method-selection audit answering "what does embedding dedup
    //     add beyond n-gram dedup". Both pair CTEs are the replayed
    //     q59/q87 oracles. ———
    Q("q326_dedup_method_agreement", {
      s"""$verifiedPairsCte,
         |cents AS (SELECT cell, comps FROM read_parquet('${graft.queries.Fixtures.sqlPath("q326_centroids")}')),
         |ascored AS (
         |  SELECT e.vec_id, c.cell,
         |    -2.0 * list_sum(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.comps[i] AS DOUBLE)))
         |      + list_sum(list_transform(c.comps,
         |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS score
         |  FROM embeddings e CROSS JOIN cents c
         |), assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS rn
         |    FROM ascored) WHERE rn = 1
         |), vemb AS (
         |  SELECT e.vec_id, e.embedding, a.cell
         |  FROM embeddings e JOIN assigned a USING (vec_id)
         |), sp AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM vemb a JOIN vemb b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
         |        i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6)
         |    >= 0.4
         |), vpn AS (
         |  SELECT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
         |  FROM vp GROUP BY 1, 2
         |), spn AS (
         |  SELECT LEAST(id_a, id_b) AS u, GREATEST(id_a, id_b) AS v
         |  FROM sp GROUP BY 1, 2
         |), m AS (
         |  SELECT (vpn.u IS NOT NULL) AS ina, (spn.u IS NOT NULL) AS inb
         |  FROM vpn FULL OUTER JOIN spn ON vpn.u = spn.u AND vpn.v = spn.v
         |)
         |SELECT 'minhash_lexical' AS method_a, 'semdedup_semantic' AS method_b,
         |  CAST(COALESCE(SUM(CASE WHEN ina THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
         |  CAST(COALESCE(SUM(CASE WHEN inb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
         |  CAST(COALESCE(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both,
         |  CAST(COALESCE(SUM(CASE WHEN ina THEN 1 ELSE 0 END), 0)
         |    - COALESCE(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a_only,
         |  CAST(COALESCE(SUM(CASE WHEN inb THEN 1 ELSE 0 END), 0)
         |    - COALESCE(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b_only,
         |  CASE WHEN COUNT(*) > 0 THEN
         |    round(CAST(COALESCE(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0)
         |      AS DOUBLE) / COUNT(*), 6) END AS pair_jaccard
         |FROM m""".stripMargin
    }) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = graft.ext.Similarity.kmeansCentroids(e, kCells = 8, iters = 3)
      graft.queries.Fixtures.write("q326_centroids",
        graft.queries.Fixtures.floatVectorTable(s, "cell", "comps", cents))
      val lexical = graft.ext.Dedup.minhashVerifiedPairs(docs(s, dir),
        n = 3, k = 32, bands = 8, minJaccard = 0.5)
      val semantic = graft.ext.Similarity.semanticNearDupPairs(e, cents,
        threshold = 0.4)
      graft.ext.Dedup.pairSetAgreement(lexical, semantic,
        "minhash_lexical", "semdedup_semantic")
    },

    // ——— redaction-completeness audit: plant q298's synthetic PII,
    //     redact with q76's pass, RE-SCAN the redacted text with the
    //     same detectors — hits_after is the compliance finding (0
    //     here), chars_delta the bytes removed. The completeness law
    //     as a table, not a hope. ———
    Q("q327_redaction_audit", {
      s"""WITH t AS (
         |  SELECT source,
         |    CASE
         |      WHEN doc_id % 5 < 2 THEN text || ' reach user'
         |        || CAST(doc_id AS VARCHAR) || '@example.com'
         |      WHEN doc_id % 7 = 0 THEN text || ' call 555-123-'
         |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      WHEN doc_id % 11 = 3 THEN text || ' from 10.0.'
         |        || CAST(doc_id % 256 AS VARCHAR) || '.'
         |        || CAST(doc_id * 3 % 256 AS VARCHAR)
         |      ELSE text END AS t
         |  FROM documents
         |), red AS (
         |  SELECT source, t,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '${graft.ext.Privacy.EmailRe}', '[EMAIL]', 'g'),
         |      '${graft.ext.Privacy.PhoneRe}', '[PHONE]', 'g'),
         |      '${graft.ext.Privacy.Ipv4Re}', '[IP]', 'g') AS r
         |  FROM t
         |)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.EmailRe}'))) AS BIGINT) AS emails_before,
         |  CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.PhoneRe}'))) AS BIGINT) AS phones_before,
         |  CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.Ipv4Re}'))) AS BIGINT) AS ips_before,
         |  CAST(SUM(len(regexp_extract_all(r, '${graft.ext.Privacy.EmailRe}'))
         |    + len(regexp_extract_all(r, '${graft.ext.Privacy.PhoneRe}'))
         |    + len(regexp_extract_all(r, '${graft.ext.Privacy.Ipv4Re}'))) AS BIGINT) AS hits_after,
         |  CAST(SUM(strlen(t) - strlen(r)) AS BIGINT) AS chars_delta
         |FROM red GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, dir) =>
      val planted = docs(s, dir).select(col("source"),
        when(col("doc_id") % 5 < 2,
            concat(col("text"), lit(" reach user"),
              col("doc_id").cast("string"), lit("@example.com")))
          .when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" call 555-123-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .when(col("doc_id") % 11 === 3,
            concat(col("text"), lit(" from 10.0."),
              (col("doc_id") % 256).cast("string"), lit("."),
              (col("doc_id") * 3 % 256).cast("string")))
          .otherwise(col("text")).as("text"))
      graft.ext.Privacy.redactionAudit(planted)
    },

    // ——— leaked-credential scan per source: deterministic synthetic
    //     secrets (lowercase-hex digest / sk_-prefixed key / 41-char
    //     mixed-alphabet blob, each derived from doc_id and fabricated
    //     IDENTICALLY in both engines) planted into disjoint id
    //     subsets, then the per-source flag rate and secret-byte
    //     fraction (memorization-risk proxy). Patterns single-sourced
    //     from ext.Privacy; matched bytes counted via replace-diff. ———
    Q("q313_secret_scan", {
      s"""WITH t AS (
         |  SELECT source,
         |    CASE
         |      WHEN doc_id % 17 = 3 THEN text || ' '
         |        || md5('h:' || CAST(doc_id AS VARCHAR))
         |      WHEN doc_id % 13 = 4 THEN text || ' sk_'
         |        || md5('k:' || CAST(doc_id AS VARCHAR))
         |      WHEN doc_id % 19 = 6 THEN text || ' K'
         |        || upper(substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 24))
         |        || substr(md5('c:' || CAST(doc_id AS VARCHAR)), 1, 16)
         |      ELSE text END AS t
         |  FROM documents
         |), g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CASE WHEN
         |        len(regexp_extract_all(t, '${graft.ext.Privacy.HexSecretRe}'))
         |      + len(regexp_extract_all(t, '${graft.ext.Privacy.PrefixedKeyRe}'))
         |      + len(regexp_extract_all(t, '${graft.ext.Privacy.B64SecretRe}')) > 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |    CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.HexSecretRe}'))) AS BIGINT) AS n_hex,
         |    CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.PrefixedKeyRe}'))) AS BIGINT) AS n_key,
         |    CAST(SUM(len(regexp_extract_all(t, '${graft.ext.Privacy.B64SecretRe}'))) AS BIGINT) AS n_b64,
         |    CAST(SUM(
         |        (strlen(t) - strlen(regexp_replace(t, '${graft.ext.Privacy.HexSecretRe}', '', 'g')))
         |      + (strlen(t) - strlen(regexp_replace(t, '${graft.ext.Privacy.PrefixedKeyRe}', '', 'g')))
         |      + (strlen(t) - strlen(regexp_replace(t, '${graft.ext.Privacy.B64SecretRe}', '', 'g')))
         |    ) AS BIGINT) AS secret_chars,
         |    CAST(SUM(strlen(t)) AS BIGINT) AS chars
         |  FROM t GROUP BY 1
         |)
         |SELECT source, n_docs, n_flagged, n_hex, n_key, n_b64, secret_chars,
         |  round(CAST(secret_chars AS DOUBLE) / chars, 6) AS secret_char_frac
         |FROM g ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val planted = docs(s, dir).select(col("source"),
        when(col("doc_id") % 17 === 3,
            concat(col("text"), lit(" "),
              md5(concat(lit("h:"), col("doc_id").cast("string")))))
          .when(col("doc_id") % 13 === 4,
            concat(col("text"), lit(" sk_"),
              md5(concat(lit("k:"), col("doc_id").cast("string")))))
          .when(col("doc_id") % 19 === 6,
            concat(col("text"), lit(" K"),
              upper(substring(md5(concat(lit("b:"),
                col("doc_id").cast("string"))), 1, 24)),
              substring(md5(concat(lit("c:"),
                col("doc_id").cast("string"))), 1, 16)))
          .otherwise(col("text")).as("text"))
      graft.ext.Privacy.secretScan(planted)
    },

    // ——— PII detect + redact: deterministic synthetic PII (email /
    //     phone / IPv4 derived from doc_id, fabricated IDENTICALLY in
    //     both engines) appended to real text, then counted and
    //     redacted with patterns single-sourced from ext.Privacy —
    //     written in the Java-regex ∩ RE2 subset so Spark and DuckDB
    //     agree byte-for-byte. ———
    Q("q76_pii_redact", {
      s"""WITH pii AS (
         |  SELECT doc_id,
         |    substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or 555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |      || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Privacy.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${Privacy.PhoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${Privacy.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Privacy.EmailRe}', '[EMAIL]', 'g'),
         |    '${Privacy.PhoneRe}', '[PHONE]', 'g'),
         |    '${Privacy.Ipv4Re}', '[IP]', 'g') AS redacted
         |FROM pii
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val withPii = docs(s, dir).select(col("doc_id"), concat(
        substring(col("text"), 1, 40), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string")).as("t"))
      withPii.select(col("doc_id"),
        Privacy.emailCount(col("t")).cast("long").as("n_emails"),
        Privacy.phoneCount(col("t")).cast("long").as("n_phones"),
        Privacy.ipCount(col("t")).cast("long").as("n_ips"),
        Privacy.redact(col("t")).as("redacted"))
        .orderBy("doc_id")
    },

    // ——— transitive near-dup clusters (connected components; oracle
    //     = recursive-CTE reachability over the same MinHash-verified
    //     pair graph) ———
    Q("q58_dedup_clusters",
      s"""$clustersCte
         |SELECT id, cluster FROM clusters
         |ORDER BY id""".stripMargin) { (s, dir) =>
      // localCheckpoint: the pair list is tiny (tens of rows at sf0.1)
      // but its lineage is the full MinHash-verify; without truncation
      // every iteration cache inside nearDupClusters roots that whole
      // plan, which is what GC-thrashed the r5 driver bench. One eager
      // materialization here makes the CC loop's inputs self-contained.
      val pairs = Dedup.minhashVerifiedPairs(docs(s, dir), n = 3, k = 32,
        bands = 8, minJaccard = 0.5)
        .select("id_a", "id_b")
        .trackedLocalCheckpoint()
      Dedup.nearDupClusters(pairs)
        .select(col("id"), col("cluster").cast("long").as("cluster"))
        .orderBy("id")
    },

    // ——— Gini concentration of token frequencies: 0 = even use,
    //     → 1 = few tokens dominate; all-integer until the final
    //     division. ———
    Q("q162_token_gini",
      """WITH c AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1
        |), r AS (
        |  SELECT c, CAST(row_number() OVER (ORDER BY c ASC, w ASC) AS BIGINT)
        |    AS i
        |  FROM c
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(i * c) AS BIGINT) AS sic
        |  FROM r
        |)
        |SELECT n, sc AS n_tokens,
        |  ROUND((2.0 * sic - CAST(n + 1 AS DOUBLE) * sc)
        |    / (CAST(n AS DOUBLE) * sc), 6) AS gini
        |FROM s""".stripMargin) { (s, dir) =>
      TextStats.tokenGini(docs(s, dir))
    },

    // ——— near-dup propensity by length band (equi-depth quintiles):
    //     does duplication concentrate in short or long docs? (This
    //     corpus has NO exact duplicates — the near-dup pair members
    //     are the meaningful duplicate notion.) Decides
    //     length-stratified dedup. ———
    Q("q163_dup_rate_by_length",
      s"""$verifiedPairsCte,
         |nd AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT id_a AS doc_id FROM vp UNION ALL SELECT id_b FROM vp)
         |), fl AS (
         |  SELECT d.doc_id, d.n_chars,
         |    CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
         |    CAST(ntile(5) OVER (ORDER BY d.n_chars, d.doc_id) AS BIGINT)
         |      AS bucket
         |  FROM documents d LEFT JOIN nd USING (doc_id)
         |)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(n_chars) AS len_lo, MAX(n_chars) AS len_hi,
         |  CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
         |  ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_rate
         |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup.minhashVerifiedPairs(d, n = 3, k = 32,
        bands = 8, minJaccard = 0.5)
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
      Dedup.dupRateByLength(d, dupIds, nBuckets = 5)
    },

    // ——— near-dup-aware sampling weights (repetition-aware mixing):
    //     every doc keeps weight 1e6 // cluster_size micro-units —
    //     a 10-copy template contributes one doc's worth of
    //     probability mass instead of being dropped; unique docs
    //     keep 1e6. The keep-and-downweight alternative to q57's
    //     keep-one dedup apply. ———
    Q("q294_cluster_weights",
      s"""$clustersCte,
         |sizes AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM clusters GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  CAST(COALESCE(c.cluster, d.doc_id) AS BIGINT) AS cluster,
         |  CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
         |  CAST(1000000 // COALESCE(s.cluster_size, 1) AS BIGINT)
         |    AS weight_micro
         |FROM documents d
         |LEFT JOIN clusters c ON d.doc_id = c.id
         |LEFT JOIN sizes s ON c.cluster = s.cluster
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup.minhashVerifiedPairs(d, n = 3, k = 32,
          bands = 8, minJaccard = 0.5)
        .select("id_a", "id_b")
        .trackedLocalCheckpoint()
      Dedup.clusterSampleWeights(d, pairs)
    },

    // ——— Fleiss' κ over a synthetic 3-rater panel (md5-derived
    //     labels with a 75% base-agreement coin — both engines replay
    //     the identical formula): the crowd-annotation QA statistic
    //     next to Cohen's κ (q176); exact integer sufficient
    //     statistics, HUGEINT/DECIMAL(38,0) products, NULL on uneven
    //     panels or degenerate chance agreement. ———
    Q("q295_fleiss_kappa",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 3)) AS r FROM documents
        |), lab AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))
        |      AS BIGINT) % 4 AS base,
        |    CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR),
        |      '#', CAST(r AS VARCHAR))), 1, 7)) AS BIGINT) % 100 AS coin
        |  FROM r
        |), rat AS (
        |  SELECT doc_id,
        |    CASE WHEN coin < 75 THEN base
        |      ELSE (base + 1 + coin % 3) % 4 END AS cat
        |  FROM lab
        |), cells AS (SELECT doc_id AS u, cat, COUNT(*) AS c FROM rat GROUP BY 1, 2),
        |un AS (SELECT u, SUM(c * c) AS ss, SUM(c) AS m FROM cells GROUP BY 1),
        |us AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units, MIN(m) AS mn,
        |    MAX(m) AS mx, CAST(SUM(ss) AS BIGINT) AS sum_ss
        |  FROM un
        |), ct AS (SELECT cat, SUM(c) AS t FROM cells GROUP BY 1),
        |cs AS (
        |  SELECT SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS sum_t2,
        |    CAST(COUNT(*) AS BIGINT) AS n_cats
        |  FROM ct
        |)
        |SELECT 'synthetic_3rater' AS measure, n_units,
        |  CAST(mx AS BIGINT) AS m_raters, n_cats,
        |  round(CAST(sum_ss - n_units * mx AS DOUBLE)
        |    / CAST(CAST(n_units * mx AS HUGEINT) * (mx - 1) AS DOUBLE), 6)
        |    AS p_observed,
        |  round(CAST(sum_t2 AS DOUBLE)
        |    / (CAST(n_units * mx AS DOUBLE) * CAST(n_units * mx AS DOUBLE)), 6)
        |    AS p_expected,
        |  CASE WHEN mn = mx AND mx >= 2 AND
        |      CAST(n_units * mx AS HUGEINT) * CAST(n_units * mx AS HUGEINT)
        |        <> sum_t2 THEN
        |    round(CAST(CAST(sum_ss - n_units * mx AS HUGEINT)
        |        * (CAST(n_units * mx AS HUGEINT) * CAST(n_units * mx AS HUGEINT))
        |        - sum_t2 * (CAST(n_units * mx AS HUGEINT) * (mx - 1)) AS DOUBLE)
        |      / CAST((CAST(n_units * mx AS HUGEINT) * (mx - 1))
        |        * (CAST(n_units * mx AS HUGEINT) * CAST(n_units * mx AS HUGEINT)
        |          - sum_t2) AS DOUBLE), 6)
        |  END AS kappa
        |FROM us CROSS JOIN cs""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val base = conv(substring(md5(col("doc_id").cast("string")), 1, 7),
        16, 10).cast("long") % 4
      val coin = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("#"), col("r").cast("string"))), 1, 7), 16, 10).cast("long") % 100
      val ratings = d
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("r"))
        .select(col("doc_id"),
          when(coin < 75, base)
            .otherwise((base + lit(1L) + coin % 3) % 4).as("cat"))
      TextStats.fleissKappa(ratings, "doc_id", "cat", "synthetic_3rater")
    },

    // ——— Krippendorff's α (nominal): Fleiss' missing-data-tolerant
    //     sibling — a 4-rater synthetic panel where each rater SKIPS
    //     ~30% of units (md5 coin), so per-unit rating counts vary
    //     and κ's equal-panel precondition fails exactly where α is
    //     designed to work. Same exact-integer discipline as q295. ———
    Q("q319_krippendorff_alpha",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS r FROM documents
        |), kept AS (
        |  SELECT doc_id, r FROM r
        |  WHERE CAST(concat('0x', substring(md5('ka' || CAST(doc_id AS VARCHAR)
        |    || '@' || CAST(r AS VARCHAR)), 1, 7)) AS BIGINT) % 10 >= 3
        |), rat AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)), 1, 7))
        |        AS BIGINT) % 100 < 75
        |      THEN CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 4
        |      ELSE (CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 4
        |        + 1 + CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)), 1, 7))
        |        AS BIGINT) % 100 % 3) % 4 END AS cat
        |  FROM kept
        |), cells AS (SELECT doc_id AS u, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM rat GROUP BY 1, 2),
        |units AS (
        |  SELECT u, CAST(SUM(c) AS BIGINT) AS m FROM cells GROUP BY 1
        |  HAVING SUM(c) >= 2
        |), us AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |         CAST(SUM(m) AS BIGINT) AS n
        |  FROM units
        |), pc AS (
        |  SELECT cells.u, cells.cat, cells.c, units.m
        |  FROM cells JOIN units USING (u)
        |), sd AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(1e9 * CAST(c AS DOUBLE)
        |    * CAST(m - c AS DOUBLE) / CAST(m - 1 AS DOUBLE)) AS BIGINT)), 0)
        |    AS BIGINT) AS sdo
        |  FROM pc
        |), cs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats,
        |    COALESCE(SUM(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT)),
        |      CAST(0 AS HUGEINT)) AS sum_nc2
        |  FROM (SELECT cat, CAST(SUM(c) AS BIGINT) AS nc FROM pc GROUP BY 1)
        |)
        |SELECT 'synthetic_4rater_missing' AS measure, n_units, n, n_cats,
        |  round(CAST(sdo AS DOUBLE) / 1e9 / n, 6) AS d_o,
        |  round(CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sum_nc2
        |      AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6) AS d_e,
        |  CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
        |      <> sum_nc2 THEN
        |    round(1.0 - CAST(CAST(sdo AS HUGEINT) * (n - 1) AS DOUBLE)
        |      / (1e9 * CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sum_nc2
        |        AS DOUBLE)), 6)
        |  END AS alpha
        |FROM us CROSS JOIN sd CROSS JOIN cs""".stripMargin) { (s, dir) =>
      val uid = col("doc_id").cast("string")
      val rid = col("r").cast("string")
      val skip = conv(substring(md5(concat(lit("ka"), uid, lit("@"), rid)),
        1, 7), 16, 10).cast("long") % 10 < 3
      val base = conv(substring(md5(concat(lit("ka"), uid)), 1, 7),
        16, 10).cast("long") % 4
      val coin = conv(substring(md5(concat(lit("ka"), uid, lit("#"), rid)),
        1, 7), 16, 10).cast("long") % 100
      val ratings = docs(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("r"))
        .filter(!skip)
        .select(col("doc_id"),
          when(coin < 75, base)
            .otherwise((base + lit(1L) + coin % 3) % 4).as("cat"))
      TextStats.krippendorffAlpha(ratings, "doc_id", "cat",
        "synthetic_4rater_missing")
    },

    // ——— degenerate-text run detector: longest immediate-repeat run
    //     (period 1) and longest 2-back-equal chain (period 2) per
    //     doc — the model-generated-loop signature q62's distinct
    //     ratio dilutes away; top-20 worst offenders, doc-partitioned
    //     windows only. ———
    Q("q296_degenerate_runs",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), p AS (
        |  SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM toks
        |), t AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i >= 2 AND ts[i] = ts[i - 1] THEN 0 ELSE 1 END AS b1,
        |    CASE WHEN i >= 3 AND ts[i] = ts[i - 2] THEN 0 ELSE 1 END AS b2
        |  FROM p
        |), c AS (
        |  SELECT doc_id, i,
        |    SUM(b1) OVER (PARTITION BY doc_id ORDER BY i) AS g1,
        |    SUM(b2) OVER (PARTITION BY doc_id ORDER BY i) AS g2
        |  FROM t
        |), r1 AS (
        |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_repeat_run FROM (
        |    SELECT doc_id, g1, COUNT(*) AS c FROM c GROUP BY 1, 2)
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_period2_chain FROM (
        |    SELECT doc_id, g2, COUNT(*) AS c FROM c GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT doc_id, max_repeat_run, max_period2_chain
        |FROM r1 JOIN r2 USING (doc_id)
        |ORDER BY greatest(max_repeat_run, max_period2_chain) DESC, doc_id
        |LIMIT 20""".stripMargin) { (s, dir) =>
      TextStats.degenerateRuns(docs(s, dir), topK = 20)
    },

    // ——— near-dup cluster SIZE histogram: how duplication clumps
    //     (many pairs vs few large cliques decide whether to keep
    //     one-per-cluster or weight-down) — the q58 chain + two
    //     integer aggregations. ———
    Q("q160_cluster_sizes",
      s"""$clustersCte,
         |sizes AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM clusters GROUP BY 1
         |)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val pairs = Dedup.minhashVerifiedPairs(docs(s, dir), n = 3, k = 32,
        bands = 8, minJaccard = 0.5)
        .select("id_a", "id_b")
        .trackedLocalCheckpoint()
      Dedup.nearDupClusters(pairs)
        .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },

    // ——— MinHash + LSH candidate pairs (md5 family — full oracle) ———
    Q("q36_dedup_minhash_lsh",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), hashed AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
        |  FROM sh
        |), mins AS (
        |  SELECT doc_id, seed,
        |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
        |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
        |  GROUP BY doc_id, seed
        |), buckets AS (
        |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
        |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
        |)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM buckets a
        |JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), n = 3, k = 32, bands = 8)
        .orderBy("id_a", "id_b")
    },

    // ——— the composed 100 TB dedup path: MinHash/LSH candidates →
    //     exact-Jaccard verification ON CANDIDATES ONLY. The oracle
    //     rebuilds the identical md5-family buckets (as q36) and then
    //     verifies jaccard restricted to the candidate pairs. ———
    Q("q59_dedup_minhash_verified",
      s"""$verifiedPairsCte
         |SELECT id_a, id_b, jaccard FROM vp
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashVerifiedPairs(docs(s, dir), n = 3, k = 32, bands = 8,
        minJaccard = 0.5)
        .orderBy("id_a", "id_b")
    },

    // ——— near-dup PROVENANCE matrix (which sources copy from
    //     which): the q59 verified pairs joined to each side's
    //     source, pair-normalized with least/greatest so the matrix
    //     is upper-triangular. The dedup-analytics view a mixture
    //     designer reads before setting per-source rates. ———
    Q("q116_dup_provenance",
      s"""$verifiedPairsCte
         |SELECT LEAST(a.source, b.source) AS source_a,
         |  GREATEST(a.source, b.source) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM vp
         |JOIN documents a ON vp.id_a = a.doc_id
         |JOIN documents b ON vp.id_b = b.doc_id
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = Dedup.minhashVerifiedPairs(d, n = 3, k = 32, bands = 8,
        minJaccard = 0.5)
      Dedup.dupProvenanceMatrix(pairs, d.select(col("doc_id"), col("source")))
        .orderBy("source_a", "source_b")
    },

    // ——— doc-frequency-capped exact Jaccard: the guarded form of
    //     q35 — shingles appearing in > 10 docs are dropped BEFORE the
    //     inverted-index join (both set sizes and intersections use
    //     the filtered universe, so the score is a true Jaccard of
    //     discriminative shingle sets) ———
    Q("q60_dedup_jaccard_capped",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), dfc AS (
        |  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 10
        |), sh AS (
        |  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfc USING (shingle)
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN cnt ca ON id_a = ca.doc_id
        |JOIN cnt cb ON id_b = cb.doc_id
        |WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.5,
        maxDf = Some(10L))
        .orderBy("id_a", "id_b")
    },

    // ——— benchmark decontamination: corpus docs sharing ≥ 5 capped
    //     3-gram shingles with the held-out "benchmark" slice
    //     (doc_id % 10 = 0). Cross-corpus inverted index; cap df
    //     computed on the corpus side, mirroring the engine. ———
    Q("q88_decontamination",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), csh0 AS (
        |  SELECT doc_id, shingle FROM sh0 WHERE doc_id % 10 <> 0
        |), dfc AS (
        |  SELECT shingle FROM csh0 GROUP BY shingle HAVING COUNT(*) <= 10
        |), csh AS (
        |  SELECT csh0.doc_id, csh0.shingle FROM csh0 JOIN dfc USING (shingle)
        |), esh AS (
        |  SELECT doc_id AS eval_id, shingle FROM sh0 WHERE doc_id % 10 = 0
        |)
        |SELECT c.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM csh c JOIN esh e USING (shingle)
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 5
        |ORDER BY doc_id, eval_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val evalSet = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      Dedup.contaminationPairs(corpus, evalSet, n = 3, minShared = 5L,
        maxDf = Some(10L))
        .orderBy("doc_id", "eval_id")
    },

    // ——— dedup-quality audit: LSH candidate recall / raw precision
    //     vs exact-Jaccard ground truth, as ONE full-outer join +
    //     aggregate. The oracle rebuilds both sides (q35's truth,
    //     q57's md5 banding) and the same confusion counts. ———
    Q("q90_dedup_audit",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |), truth AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON id_a = ca.doc_id
        |  JOIN cnt cb ON id_b = cb.doc_id
        |  WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
        |), hashed AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
        |  FROM sh
        |), mins AS (
        |  SELECT doc_id, seed,
        |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
        |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
        |  GROUP BY doc_id, seed
        |), buckets AS (
        |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
        |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM buckets a
        |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |), j AS (
        |  SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE NULL END AS _t,
        |         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE NULL END AS _c
        |  FROM truth t FULL OUTER JOIN cand c
        |    ON t.id_a = c.id_a AND t.id_b = c.id_b
        |)
        |SELECT CAST(SUM(_t) AS BIGINT) AS n_true,
        |  CAST(SUM(_c) AS BIGINT) AS n_cand,
        |  CAST(SUM(_t * _c) AS BIGINT) AS n_hit,
        |  ROUND(CAST(SUM(_t * _c) AS DOUBLE) / SUM(_t), 6) AS recall,
        |  ROUND(CAST(SUM(_t * _c) AS DOUBLE) / SUM(_c), 6) AS cand_precision
        |FROM j""".stripMargin) { (s, dir) =>
      Dedup.auditLshRecall(docs(s, dir), n = 3, k = 32, bands = 8,
        minJaccard = 0.5)
    },

    // ——— asymmetric containment |A∩B|/|A|: the quote/wrapper gate
    //     symmetric Jaccard misses; same capped inverted index as
    //     q60, both directed scores emitted. ———
    Q("q82_containment_dedup",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), dfc AS (
        |  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 10
        |), sh AS (
        |  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN dfc USING (shingle)
        |), cnt AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b USING (shingle)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  ROUND(CAST(i AS DOUBLE) / ca.n, 6) AS cont_a,
        |  ROUND(CAST(i AS DOUBLE) / cb.n, 6) AS cont_b
        |FROM inter
        |JOIN cnt ca ON id_a = ca.doc_id
        |JOIN cnt cb ON id_b = cb.doc_id
        |WHERE GREATEST(ROUND(CAST(i AS DOUBLE) / ca.n, 6),
        |               ROUND(CAST(i AS DOUBLE) / cb.n, 6)) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(docs(s, dir), n = 3, minContainment = 0.6,
        maxDf = Some(10L))
        .orderBy("id_a", "id_b")
    },

    // ——— MinHash candidates with the hot-bucket skew guard: buckets
    //     holding > 10 docs are dropped (non-discriminative
    //     signatures; the B² pair blowup is the one cost AQE cannot
    //     shrink) ———
    Q("q70_dedup_lsh_bucket_capped",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(ts) >= 3
        |      THEN list_transform(range(1, len(ts) - 1), i -> array_to_string(ts[i:i+2], ' '))
        |      ELSE [array_to_string(ts, ' ')] END) AS shingle
        |  FROM toks
        |), hashed AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(shingle), 1, 7)) AS BIGINT) AS h
        |  FROM sh
        |), mins AS (
        |  SELECT doc_id, seed,
        |    MIN((1640531527 * h + seed * CAST(2654435769 AS BIGINT)) % 4294967296) AS mh
        |  FROM hashed CROSS JOIN (SELECT CAST(unnest(range(0, 32)) AS INT) AS seed) seeds
        |  GROUP BY doc_id, seed
        |), buckets AS (
        |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
        |  FROM mins GROUP BY doc_id, CAST(seed // 4 AS INT)
        |), bcnt AS (
        |  SELECT band, bucket FROM buckets GROUP BY band, bucket HAVING COUNT(*) <= 10
        |), kept AS (
        |  SELECT b.doc_id, b.band, b.bucket FROM buckets b JOIN bcnt USING (band, bucket)
        |)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM kept a
        |JOIN kept b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), n = 3, k = 32, bands = 8,
        maxBucket = Some(10L))
        .orderBy("id_a", "id_b")
    },

    // ——— SimHash collision groups, portable md5 bit-vote family —
    //     full oracle (the same second-hash-family trick as q36); the
    //     native xxhash64 expression stays the fast path, with
    //     family agreement pinned in DedupSpec ———
    Q("q37_dedup_simhash",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM toks
        |), votes AS (
        |  SELECT doc_id, i,
        |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT CAST(unnest(range(0, 60)) AS INT) AS i) bits
        |  GROUP BY doc_id, i
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
        |      AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id
        |)
        |SELECT simhash, CAST(MIN(doc_id) AS BIGINT) AS keeper,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM sig GROUP BY simhash
        |ORDER BY keeper""".stripMargin) { (s, dir) =>
      Dedup.simhashPortableGroups(docs(s, dir)).orderBy("keeper")
    },

    // ——— SimHash near-dup PAIRS (Manku et al.): banded sub-key
    //     candidates + exact Hamming verify; maxHamming < bands ⇒
    //     exact recall by pigeonhole. Same portable md5 signature CTE
    //     as q37; banding/verify replayed with shifts + bit_count. ———
    Q("q97_simhash_pairs",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM toks
        |), votes AS (
        |  SELECT doc_id, i,
        |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT CAST(unnest(range(0, 60)) AS INT) AS i) bits
        |  GROUP BY doc_id, i
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
        |      AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id
        |), banded AS (
        |  SELECT doc_id, b.band, (simhash >> (b.band * 15)) & 32767 AS bucket
        |  FROM sig CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS INT) AS band) b
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a
        |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id
        |)
        |SELECT c.id_a, c.id_b,
        |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        |FROM cand c
        |JOIN sig sa ON sa.doc_id = c.id_a
        |JOIN sig sb ON sb.doc_id = c.id_b
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 3, bands = 4)
        .orderBy("id_a", "id_b")
    },

    // ——— CCNet perplexity buckets: head/middle/tail thirds of the
    //     corpus by unigram-LM score; thresholds = rounded exact
    //     quantiles (broadcast, no global sort). ———
    Q("q98_perplexity_buckets",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), freq AS (
        |  SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
        |), n AS (SELECT COUNT(*) AS n FROM toks),
        |scored AS (
        |  SELECT t.doc_id, ROUND(AVG(ln(CAST(f.tf AS DOUBLE) / n.n)), 6) AS avg_logprob
        |  FROM toks t JOIN freq f USING (tok) CROSS JOIN n
        |  GROUP BY t.doc_id
        |), th AS (
        |  SELECT ROUND(quantile_cont(avg_logprob, 0.6666666666666666), 6) AS t_head,
        |         ROUND(quantile_cont(avg_logprob, 0.3333333333333333), 6) AS t_mid
        |  FROM scored
        |)
        |SELECT s.doc_id, s.avg_logprob,
        |  CASE WHEN s.avg_logprob >= th.t_head THEN 'head'
        |       WHEN s.avg_logprob >= th.t_mid THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s CROSS JOIN th
        |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      TextStats.perplexityBuckets(docs(s, dir)).orderBy("doc_id")
    },

    // ——— native single-pass xxhash64 SimHash. DuckDB has no xxhash64,
    //     so the oracle reads REFERENCE signatures recomputed on the
    //     driver by an independent scalar pipeline (own xxh64
    //     implementation, own tokenizer, own vote loop —
    //     Fixtures.simhashScalar) and groups over them in SQL: the
    //     Catalyst expression, its tokenization plumbing and the
    //     grouping are all hash-checked end-to-end (was rows-only in
    //     r2). ———
    Q("q61_simhash_native",
      s"""SELECT simhash, CAST(MIN(doc_id) AS BIGINT) AS keeper,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM read_parquet('${Fixtures.sqlPath("q61_simhash_ref")}')
         |GROUP BY simhash
         |ORDER BY keeper""".stripMargin) { (s, dir) =>
      Fixtures.write("q61_simhash_ref", Fixtures.simhashFixture(docs(s, dir)))
      Dedup.simhashGroups(docs(s, dir)).orderBy("keeper")
    },

    // ——— language-ID heuristic: marker scoring with alphabetical
    //     tiebreak. The oracle SQL is GENERATED from the same marker
    //     table (TextStats.langMarkers) so the two sides cannot
    //     drift; CASE x WHEN picks the first (alphabetical) match,
    //     mirroring the engine's -index struct tiebreak. ———
    Q("q38_lang_id", {
      val langs = TextStats.langMarkers.toSeq.sortBy(_._1)
      val scoreCols = langs.map { case (lang, ms) =>
        val terms = ms.map(m =>
          s"(CASE WHEN contains(lower(text), '${m.replace("'", "''")}') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"($terms) AS s_$lang"
      }.mkString(",\n        ")
      val names = langs.map { case (l, _) => s"s_$l" }
      val pick = langs.map { case (l, _) => s"WHEN s_$l THEN '$l'" }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |        $scoreCols
         |  FROM documents
         |)
         |SELECT doc_id, lang,
         |  CASE greatest(${names.mkString(", ")}) $pick END AS lang_pred
         |FROM scored
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        TextStats.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // ——— composite quality score (bounded [0,1]; same double
    //     arithmetic as the oracle, so bit-comparable) ———
    Q("q39_quality_score",
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(lower(text), '\s+')) AS n,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        t -> t IN ('the','a','an','of','and','to','in','is','on','for'))) AS stop_n,
        |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_n
        |  FROM documents
        |)
        |SELECT doc_id,
        |  ROUND((least(length(text) / 200.0, 1.0)
        |       + (1.0 - least(CAST(punct_n AS DOUBLE) / n, 1.0))
        |       + (CASE WHEN CAST(stop_n AS DOUBLE) / n BETWEEN 0.01 AND 0.6
        |               THEN 1.0 ELSE 0.5 END)) / 3.0, 6) AS quality
        |FROM base
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // ——— the Gopher quality-rule battery (Rae et al. 2021 §A1.1):
    //     structural metrics + composite gate, map-only. Same
    //     formulas replayed in SQL, rule thresholds single-valued in
    //     both engines. ———
    Q("q83_gopher_rules",
      """WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(text), '\s+') AS ts,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    ROUND(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(ts), 6) AS mean_word_len,
        |    ROUND(CAST(length(text) - length(replace(text, '#', ''))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |      / len(ts), 6) AS symbol_ratio,
        |    ROUND(CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*•]')))
        |      AS DOUBLE) / len(ls), 6) AS bullet_line_frac,
        |    ROUND(CAST(len(list_filter(ls, l -> ends_with(l, '...')))
        |      AS DOUBLE) / len(ls), 6) AS ellipsis_line_frac,
        |    ROUND(CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
        |      AS DOUBLE) / len(ts), 6) AS alpha_word_frac,
        |    CAST(CAST(list_contains(ts, 'the') AS INT)
        |      + CAST(list_contains(ts, 'be') AS INT)
        |      + CAST(list_contains(ts, 'to') AS INT)
        |      + CAST(list_contains(ts, 'of') AS INT)
        |      + CAST(list_contains(ts, 'and') AS INT)
        |      + CAST(list_contains(ts, 'that') AS INT)
        |      + CAST(list_contains(ts, 'have') AS INT)
        |      + CAST(list_contains(ts, 'with') AS INT) AS BIGINT) AS stop_hits
        |  FROM base
        |)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
        |  (n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio <= 0.1
        |    AND bullet_line_frac <= 0.9
        |    AND ellipsis_line_frac <= 0.3
        |    AND alpha_word_frac >= 0.8
        |    AND stop_hits >= 2) AS pass
        |FROM m
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextStats.gopherQuality(docs(s, dir)).orderBy("doc_id")
    },

    // ——— unigram log-prob quality score (the corpus's own unigram
    //     model as the LM proxy — CCNet's perplexity-bucket shape).
    //     avg(ln tf/N) replayed in SQL; round(6) absorbs summation-
    //     order FP reorder error (~1e-13 over ~60 terms). ———
    Q("q89_unigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), freq AS (
        |  SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
        |), n AS (SELECT COUNT(*) AS n FROM toks)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(AVG(ln(CAST(f.tf AS DOUBLE) / n.n)), 6) AS avg_logprob
        |FROM toks t JOIN freq f USING (tok) CROSS JOIN n
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      TextStats.unigramLogProb(docs(s, dir)).orderBy("doc_id")
    },

    // ——— cross-source vocabulary overlap: pairwise Jaccard of the
    //     distinct-token sets per source — the corpus-comparison op
    //     behind mixture design ("how much does source A's vocab
    //     overlap B's?"). Vocabulary-sized joins only. ———
    Q("q103_vocab_overlap",
      """WITH v AS (
        |  SELECT DISTINCT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), sizes AS (
        |  SELECT source, COUNT(*) AS n FROM v GROUP BY source
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS i
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT src_a, src_b, CAST(i AS BIGINT) AS n_shared,
        |  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      val v = docs(s, dir)
        .select(col("source"), explode(TextStats.tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = v.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = v.toDF("src_a", "tok")
        .join(v.toDF("src_b", "tok"), "tok")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("i"))
      inter
        .join(sizes.toDF("src_a", "na"), "src_a")
        .join(sizes.toDF("src_b", "nb"), "src_b")
        .select(col("src_a"), col("src_b"), col("i").as("n_shared"),
          round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6)
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    // ——— bigram log-prob quality score (one LM rung above q89:
    //     mean ln c(w1,w2)/c(w1) under the corpus's own bigram model;
    //     MLE — observed bigrams always have positive count). ———
    Q("q95_bigram_logprob",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), flat AS (
        |  SELECT doc_id, unnest(ts) AS tok FROM toks
        |), uf AS (
        |  SELECT tok, COUNT(*) AS cu FROM flat GROUP BY tok
        |), bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i+1]])) AS bg
        |  FROM toks WHERE len(ts) >= 2
        |), bi2 AS (
        |  SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM bi
        |), bf AS (
        |  SELECT w1, w2, COUNT(*) AS cb FROM bi2 GROUP BY 1, 2
        |)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(ln(CAST(f.cb AS DOUBLE) / u.cu)), 6) AS avg_logprob
        |FROM bi2 b
        |JOIN bf f ON b.w1 = f.w1 AND b.w2 = f.w2
        |JOIN uf u ON b.w1 = u.tok
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      TextStats.bigramLogProb(docs(s, dir)).orderBy("doc_id")
    },

    // ——— BPE pair-count round (tokenizer training's inner statistic:
    //     adjacent char-pair frequency weighted by word frequency;
    //     the merge argmax comes from this table). ———
    Q("q96_bpe_pair_counts",
      """WITH flat AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
        |), wc AS (
        |  SELECT w, COUNT(*) AS wc FROM flat GROUP BY w
        |), p AS (
        |  SELECT wc,
        |    unnest(list_transform(range(1, len(w)), i -> substring(w, CAST(i AS INT), 2))) AS pair
        |  FROM wc WHERE len(w) >= 2
        |)
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS total
        |FROM p GROUP BY pair
        |ORDER BY total DESC, pair
        |LIMIT 25""".stripMargin) { (s, dir) =>
      TextStats.bpePairCounts(docs(s, dir), k = 25)
    },

    // ——— full TF-IDF matrix (deterministically ordered by doc/token;
    //     ln() rounded to 6 — no float-order-dependent ranking) ———
    Q("q47_tfidf",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |  ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |ORDER BY tf.doc_id, tf.token""".stripMargin) { (s, dir) =>
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      tf.join(df, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("tfidf"))
        .orderBy("doc_id", "token")
    },

    // ——— corpus token frequency (vocabulary head) ———
    Q("q45_token_topk",
      """SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS t FROM documents)
        |GROUP BY t
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(explode(TextStats.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },

    // ——— filter-disparity audit: per-language keep rate of the
    //     Gopher gate (relaxed bands so the synthetic corpus
    //     discriminates) vs the corpus-wide rate — the fairness check
    //     that catches an English-tuned gate starving other languages
    //     out of the mix. Disparity computed from RAW ratios, rounded
    //     once. ———
    Q("q318_filter_disparity",
      """WITH base AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(lower(text), '\s+') AS ts,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents
        |), m AS (
        |  SELECT lang,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    ROUND(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(ts), 6) AS mean_word_len,
        |    ROUND(CAST(length(text) - length(replace(text, '#', ''))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |      / len(ts), 6) AS symbol_ratio,
        |    ROUND(CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*•]')))
        |      AS DOUBLE) / len(ls), 6) AS bullet_line_frac,
        |    ROUND(CAST(len(list_filter(ls, l -> ends_with(l, '...')))
        |      AS DOUBLE) / len(ls), 6) AS ellipsis_line_frac,
        |    ROUND(CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]')))
        |      AS DOUBLE) / len(ts), 6) AS alpha_word_frac,
        |    CAST(CAST(list_contains(ts, 'the') AS INT)
        |      + CAST(list_contains(ts, 'be') AS INT)
        |      + CAST(list_contains(ts, 'to') AS INT)
        |      + CAST(list_contains(ts, 'of') AS INT)
        |      + CAST(list_contains(ts, 'and') AS INT)
        |      + CAST(list_contains(ts, 'that') AS INT)
        |      + CAST(list_contains(ts, 'have') AS INT)
        |      + CAST(list_contains(ts, 'with') AS INT) AS BIGINT) AS stop_hits
        |  FROM base
        |), p AS (
        |  SELECT lang,
        |    (n_words BETWEEN 30 AND 100000
        |      AND mean_word_len BETWEEN 3.0 AND 10.0
        |      AND symbol_ratio <= 0.1
        |      AND bullet_line_frac <= 0.9
        |      AND ellipsis_line_frac <= 0.3
        |      AND alpha_word_frac >= 0.8
        |      AND stop_hits >= 1) AS pass
        |  FROM m
        |), g AS (
        |  SELECT lang AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |  FROM p GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
        |         CAST(SUM(n_pass) AS BIGINT) AS tp
        |  FROM g
        |)
        |SELECT grp, n_docs, n_pass,
        |  round(CAST(n_pass AS DOUBLE) / n_docs, 6) AS keep_rate,
        |  round(CAST(tp AS DOUBLE) / tn, 6) AS overall_rate,
        |  CASE WHEN tp > 0 THEN round((CAST(n_pass AS DOUBLE) / n_docs)
        |    / (CAST(tp AS DOUBLE) / tn), 6) END AS disparity
        |FROM g CROSS JOIN t ORDER BY grp""".stripMargin) { (s, dir) =>
      TextStats.filterDisparity(docs(s, dir), minWords = 30L,
        minStopHits = 1L)
    },

    // ——— vocabulary coverage@k curve: occurrence mass covered by the
    //     top-k token types (the vocab-size design number). Rank via
    //     Ranks.rowNumberExact (count-dictionary, no global window);
    //     all k's accumulate in ONE aggregate row then unstack. ———
    Q("q314_vocab_coverage",
      """WITH counts AS (
        |  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS t
        |        FROM documents)
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS r
        |  FROM counts
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_types_total,
        |         CAST(SUM(c) AS BIGINT) AS n_occ_total
        |  FROM counts
        |), ks(k) AS (VALUES (5), (20), (100))
        |SELECT ks.k AS k,
        |  CAST(SUM(CASE WHEN ranked.r <= ks.k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_types,
        |  CAST(SUM(CASE WHEN ranked.r <= ks.k THEN ranked.c ELSE 0 END)
        |    AS BIGINT) AS occ_covered,
        |  tot.n_types_total, tot.n_occ_total,
        |  round(CAST(SUM(CASE WHEN ranked.r <= ks.k THEN ranked.c ELSE 0 END)
        |    AS DOUBLE) / tot.n_occ_total, 6) AS coverage
        |FROM ranked CROSS JOIN ks CROSS JOIN tot
        |GROUP BY ks.k, tot.n_types_total, tot.n_occ_total
        |ORDER BY k""".stripMargin) { (s, dir) =>
      TextStats.vocabCoverage(docs(s, dir), ks = Seq(5, 20, 100))
    },

    // ——— edit-distance (typo) dedup, blocked on the head noun —
    //     levenshtein is the same DP definition in both engines ———
    Q("q50_edit_distance_dedup",
      """WITH p AS (
        |  SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS blk FROM part
        |)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      // over DISTINCT names (the typo-lexicon), not id pairs: with a
      // low-cardinality name vocabulary, id-level pairs explode
      // quadratically in duplicates (measured 24 s / 5M rows at sf0.1
      // for zero extra information) — dedup the lexicon, then join
      // survivors back to ids if needed
      val names = graft.Tables.load(s, dir, "part").select("p_name").distinct()
      Dedup.editDistancePairs(names, "p_name", "p_name",
        blockCol = split(col("p_name"), " ").getItem(1), maxDist = 2)
        .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"))
        .orderBy("name_a", "name_b")
    },

    // ——— multimodal plumbing: binary payloads → frame sampling →
    //     batched feature extraction. The oracle re-derives the media
    //     topology (kind, frame sampling) from `documents` in SQL and
    //     joins the codec seam's values from a fixture recomputed by
    //     a scalar loop (Fixtures.multimodalFixture) — so the
    //     distributed synthesis/explode/mapPartitions/norm plumbing
    //     is hash-checked against an independent scalar reference
    //     (was rows-only in r2; the codec itself is the documented
    //     deterministic stub either way). ———
    Q("q44_multimodal_features",
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         |    CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 10 + 2 AS INT)
         |         ELSE 1 END AS n_frames
         |  FROM documents
         |), f AS (
         |  SELECT media_id, kind, CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame
         |  FROM m
         |)
         |SELECT f.media_id, f.kind, f.frame, x.feat_norm
         |FROM f JOIN read_parquet('${Fixtures.sqlPath("q44_codec_ref")}') x
         |  ON f.media_id = x.media_id AND f.frame = x.frame
         |ORDER BY f.media_id, f.frame""".stripMargin) { (s, dir) =>
      Fixtures.write("q44_codec_ref", Fixtures.multimodalFixture(docs(s, dir)))
      graft.ext.Multimodal.featurePipeline(docs(s, dir))
        .select("media_id", "kind", "frame", "feat_norm")
        .orderBy("media_id", "frame")
    },

    // ——— cross-media duplicate FRAMES (the media twin of exact
    //     dedup — repeated intros / stock footage / re-uploads): the
    //     oracle re-derives the media/frame topology from `documents`
    //     in SQL (q44's pattern) and takes only the codec seam's
    //     feature CSVs from the scalar-reference fixture, md5-ing
    //     them itself — so the distributed decode → fingerprint →
    //     mark path is what the hash compare checks. Payloads
    //     simulate RE-UPLOADS (each media carries its 5-group
    //     leader's bytes): this corpus has no exact text dups, so
    //     without the grouping every frame is unique and the op is
    //     vacuous. ———
    Q("q120_frame_dedup",
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 10 + 2 AS INT)
         |         ELSE 1 END AS n_frames
         |  FROM documents
         |), fr AS (
         |  SELECT media_id, CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame
         |  FROM m
         |), f AS (
         |  SELECT fr.media_id, fr.frame, md5(x.featcsv) AS fp
         |  FROM fr JOIN read_parquet('${Fixtures.sqlPath("q120_frame_ref")}') x
         |    ON fr.media_id = x.media_id AND fr.frame = x.frame
         |), hot AS (
         |  SELECT fp FROM f GROUP BY fp HAVING COUNT(DISTINCT media_id) >= 2
         |), marked AS (
         |  SELECT media_id, COUNT(*) AS n_dup FROM f JOIN hot USING (fp)
         |  GROUP BY 1
         |), tot AS (
         |  SELECT media_id, COUNT(*) AS n_frames FROM f GROUP BY 1
         |)
         |SELECT t.media_id, CAST(t.n_frames AS BIGINT) AS n_frames,
         |  CAST(COALESCE(k.n_dup, 0) AS BIGINT) AS n_dup_frames,
         |  ROUND(CAST(COALESCE(k.n_dup, 0) AS DOUBLE) / t.n_frames, 6) AS dup_frac
         |FROM tot t LEFT JOIN marked k USING (media_id)
         |ORDER BY t.media_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      // re-upload groups of 5: payload = the group leader's bytes
      val leaders = d.select((col("doc_id")).as("_lid"), col("text").as("_ltext"))
      val reuploads = d.select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(5))).as("_lid"))
        .join(leaders, "_lid")
        .select(col("doc_id"), col("_ltext").as("text"))
      Fixtures.write("q120_frame_ref",
        Fixtures.multimodalFrameCsvFixture(reuploads))
      graft.ext.Multimodal.frameDedup(reuploads).orderBy("media_id")
    },

    // ——— duplicate SPANS (sub-document dedup, the suffix-array-paper
    //     shape): an 8-token gram occurring ≥2 times anywhere in the
    //     corpus marks [pos, pos+8); overlapping marks merge into
    //     maximal islands per doc. Unlike q81's fixed lines this
    //     slides over every offset. Oracle replays positional grams,
    //     the hot-gram filter, and the gaps-and-islands merge. ———
    Q("q106_span_dedup",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), grams AS (
        |  SELECT doc_id, CAST(p AS INT) AS pos,
        |    array_to_string(ts[CAST(p + 1 AS INT) : CAST(p + 8 AS INT)], ' ') AS gram
        |  FROM toks, unnest(range(0, GREATEST(len(ts) - 7, 0))) AS t(p)
        |), hot AS (
        |  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
        |), marked AS (
        |  SELECT g.doc_id, g.pos, g.pos + 8 AS e
        |  FROM grams g JOIN hot USING (gram)
        |), flagged AS (
        |  SELECT doc_id, pos, e,
        |    CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w
        |         THEN 1 ELSE 0 END AS f
        |  FROM marked
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), islands AS (
        |  SELECT *, SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM flagged
        |), spans AS (
        |  SELECT doc_id, isl, MIN(pos) AS s, MAX(e) AS e
        |  FROM islands GROUP BY doc_id, isl
        |), perdoc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
        |    CAST(SUM(e - s) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |), nt AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks
        |)
        |SELECT n.doc_id, n.n_tokens,
        |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
        |  COALESCE(p.dup_tokens, 0) AS dup_tokens,
        |  ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / n.n_tokens, 6)
        |    AS dup_fraction
        |FROM nt n LEFT JOIN perdoc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.dupSpans(docs(s, dir), n = 8, minCount = 2).orderBy("doc_id")
    },

    // ——— inverted-index build (search/retrieval index): per token
    //     df, total tf, and the "doc:tf,…" posting list ordered by
    //     doc id. minDf=2 trims the hapax tail; the maxDf guard for
    //     corpus-sized stop-word lists is exercised in specs (no
    //     token reaches it at fixture scale). ———
    Q("q107_inverted_index",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), t AS (
        |  SELECT token, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(SUM(tf) AS BIGINT) AS tf_total,
        |  string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
        |             ',' ORDER BY doc_id) AS postings
        |FROM t GROUP BY token
        |HAVING COUNT(*) >= 2
        |ORDER BY token""".stripMargin) { (s, dir) =>
      TextStats.invertedIndex(docs(s, dir), minDf = 2).orderBy("token")
    },

    // ——— hashed-feature logistic classifier (the fastText-shaped
    //     corpus filter): distill a topical teacher rule into a
    //     256-bucket linear model by distributed IRLS (sufficient-
    //     statistic passes + driver Newton solve — GD needs ~200
    //     passes on these co-activated features, IRLS two), then
    //     score the corpus. The trained weights ship as a fixture
    //     (bucket −1 = bias); the oracle replays the md5 feature
    //     hashing, the ascending-bucket contribution fold, and the
    //     sigmoid in SQL. ———
    Q("q112_classifier_distill",
      s"""WITH wt AS (SELECT bucket, w FROM read_parquet('${Fixtures.sqlPath("q112_weights")}') WHERE bucket >= 0),
         |bias AS (SELECT w AS b FROM read_parquet('${Fixtures.sqlPath("q112_weights")}') WHERE bucket = -1),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
         |  FROM documents
         |), feats AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(CAST(concat('0x', substring(md5(token), 1, 15)) AS BIGINT) % 256 AS BIGINT) AS bucket
         |  FROM toks
         |), zs AS (
         |  SELECT f.doc_id, list_sum(list(wt.w ORDER BY f.bucket)) AS s
         |  FROM feats f JOIN wt USING (bucket) GROUP BY f.doc_id
         |)
         |SELECT z.doc_id,
         |  ROUND(1.0 / (1.0 + exp(-(bias.b + z.s))), 6) AS score,
         |  1.0 / (1.0 + exp(-(bias.b + z.s))) >= 0.5 AS pred
         |FROM zs z CROSS JOIN bias
         |ORDER BY z.doc_id""".stripMargin) { (s, dir) =>
      import graft.ext.Classifier
      // teacher rule: docs mentioning ALL THREE topic terms (a k-of-n
      // threshold — linearly separable from presence features, and it
      // splits this corpus ~1:1); the student must discover which 3
      // of 256 hash buckets carry the rule
      val toks = TextStats.tokens(col("text"))
      val labeled = docs(s, dir).withColumn("y",
        (array_contains(toks, "spark") && array_contains(toks, "stream") &&
          array_contains(toks, "window")).cast("int"))
      // 2 IRLS iterations reach 100% teacher fidelity on this corpus
      // (ClassifierSpec pins 2-pass convergence on separable data)
      val model = Classifier.train(labeled, "y", dim = 256, iters = 2)
      Fixtures.write("q112_weights", {
        import s.implicits._
        ((-1L, model.bias) +: model.weights.zipWithIndex.toSeq
          .map { case (w, j) => (j.toLong, w) }).toDF("bucket", "w")
      })
      Classifier.score(docs(s, dir), model)
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("pred"))
        .orderBy("doc_id")
    },

    // ——— collocation mining: PMI of adjacent token pairs (min count
    //     10, top 25 by rounded PMI then bigram — a total order both
    //     engines reproduce; ONE ln per surviving bigram, integer
    //     counts everywhere else). ———
    Q("q127_pmi_bigrams",
      """WITH toks AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), uc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
        |  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1
        |), bc AS (
        |  SELECT b[1] AS w1, b[2] AS w2, CAST(COUNT(*) AS BIGINT) AS cxy
        |  FROM (SELECT unnest(list_transform(range(1, len(ts)),
        |          i -> [ts[i], ts[i+1]])) AS b
        |        FROM toks WHERE len(ts) >= 2)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 10
        |), tot AS (
        |  SELECT (SELECT CAST(SUM(cw) AS BIGINT) FROM uc) AS n_tokens,
        |         (SELECT CAST(SUM(cxy) AS BIGINT) FROM bc) AS m_bigrams
        |), scored AS (
        |  SELECT bc.w1 || ' ' || bc.w2 AS bigram, bc.cxy,
        |    ROUND(ln(CAST(bc.cxy AS DOUBLE) * t.n_tokens * t.n_tokens
        |      / (CAST(t.m_bigrams AS DOUBLE) * u1.cw * u2.cw)), 6) AS pmi
        |  FROM bc
        |  JOIN uc u1 ON bc.w1 = u1.w
        |  JOIN uc u2 ON bc.w2 = u2.w
        |  CROSS JOIN tot t
        |)
        |SELECT bigram, cxy, pmi FROM scored
        |QUALIFY row_number() OVER (ORDER BY pmi DESC, bigram ASC) <= 25
        |ORDER BY pmi DESC, bigram""".stripMargin) { (s, dir) =>
      TextStats.pmiBigrams(docs(s, dir), minCount = 10, k = 25)
        .orderBy(col("pmi").desc, col("bigram"))
    },

    // ——— windowed co-occurrence PMI (±3 positions, symmetric pairs):
    //     the word2vec-style co-occurrence table, surfacing
    //     collocations that skip words (q127's adjacent bigrams
    //     cannot). ———
    Q("q159_cooccurrence_pmi",
      """WITH toks AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS ts FROM documents
        |), pairs0 AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(ts)), i ->
        |    list_transform(range(1, least(3, len(ts) - i) + 1), o ->
        |      [least(ts[i], ts[i+o]), greatest(ts[i], ts[i+o])])))) AS p
        |  FROM toks WHERE len(ts) >= 2
        |), pc AS (
        |  SELECT p[1] AS w1, p[2] AS w2, CAST(COUNT(*) AS BIGINT) AS cxy
        |  FROM pairs0 GROUP BY 1, 2 HAVING COUNT(*) >= 10
        |), uc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
        |  FROM (SELECT unnest(ts) AS w FROM toks WHERE len(ts) >= 2)
        |  GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT CAST(SUM(cw) AS BIGINT) FROM uc) AS n_tokens,
        |         (SELECT CAST(SUM(cxy) AS BIGINT) FROM pc) AS m_pairs
        |), scored AS (
        |  SELECT pc.w1 || ' ' || pc.w2 AS pair, pc.cxy,
        |    ROUND(ln(CAST(pc.cxy AS DOUBLE) * t.n_tokens * t.n_tokens
        |      / (CAST(t.m_pairs AS DOUBLE) * u1.cw * u2.cw)), 6) AS pmi
        |  FROM pc
        |  JOIN uc u1 ON pc.w1 = u1.w
        |  JOIN uc u2 ON pc.w2 = u2.w
        |  CROSS JOIN tot t
        |)
        |SELECT pair, cxy, pmi FROM scored
        |QUALIFY row_number() OVER (ORDER BY pmi DESC, pair ASC) <= 25
        |ORDER BY pmi DESC, pair""".stripMargin) { (s, dir) =>
      TextStats.cooccurrencePmi(docs(s, dir), window = 3, minCount = 10, k = 25)
        .orderBy(col("pmi").desc, col("pair"))
    },

    // ——— sentence segmentation stats. The synthetic corpus carries
    //     no punctuation, so the battery derives a punctuated twin
    //     via plain (non-regex, exactly portable) substring replace;
    //     real-text behavior is pinned in TextStatsSpec. ———
    Q("q131_sentence_stats",
      """WITH punct AS (
        |  SELECT doc_id, replace(text, ' table ', '. ') AS text FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |                x -> regexp_matches(x, '[A-Za-z0-9]')) AS sents
        |  FROM punct
        |), t AS (
        |  SELECT doc_id, len(sents) AS n_sentences,
        |    list_transform(sents, x -> len(list_filter(
        |      string_split_regex(x, '\s+'), y -> y <> ''))) AS stoks
        |  FROM s
        |)
        |SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CASE WHEN n_sentences > 0
        |    THEN ROUND(CAST(list_sum(stoks) AS DOUBLE) / n_sentences, 6)
        |  END AS avg_sentence_tokens,
        |  CASE WHEN n_sentences > 0
        |    THEN CAST(list_aggregate(stoks, 'max') AS BIGINT)
        |  END AS max_sentence_tokens
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val punct = docs(s, dir).select(col("doc_id"),
        replace(col("text"), lit(" table "), lit(". ")).as("text"))
      TextStats.sentenceStats(punct).orderBy("doc_id")
    },

    // ——— information-theoretic mixture stats: per-source unigram
    //     entropy + KL divergence from the corpus blend (1e-9
    //     micro-unit term sums — order-free, vocabulary-bounded). ———
    Q("q134_entropy_kl",
      """WITH ps AS (
        |  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents
        |), pc AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM ps GROUP BY 1, 2
        |), st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM pc GROUP BY 1),
        |cw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM pc GROUP BY 1),
        |nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS nn FROM cw),
        |terms AS (
        |  SELECT pc.source, st.n,
        |    CAST(pc.c AS DOUBLE) / st.n AS p,
        |    CAST(cw.cw AS DOUBLE) / nn.nn AS q
        |  FROM pc JOIN st USING (source) JOIN cw USING (w) CROSS JOIN nn
        |)
        |SELECT source, MAX(n) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(round(-p * ln(p) * 1e9) AS BIGINT)) AS DOUBLE)
        |    / 1e9, 6) AS entropy,
        |  ROUND(CAST(SUM(CAST(round(p * ln(p / q) * 1e9) AS BIGINT)) AS DOUBLE)
        |    / 1e9, 6) AS kl_vs_corpus
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      TextStats.unigramEntropyKl(docs(s, dir)).orderBy("source")
    },

    // ——— language-ID confusion matrix vs labeled ground truth:
    //     (lang, lang_pred, n, row fraction) — the accuracy report
    //     for q38's classifier, built from the same marker SQL. ———
    Q("q154_langid_confusion", {
      val langs = TextStats.langMarkers.toSeq.sortBy(_._1)
      val scoreCols = langs.map { case (lang, ms) =>
        val terms = ms.map(m =>
          s"(CASE WHEN contains(lower(text), '${m.replace("'", "''")}') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"($terms) AS s_$lang"
      }.mkString(",\n        ")
      val names = langs.map { case (l, _) => s"s_$l" }
      val pick = langs.map { case (l, _) => s"WHEN s_$l THEN '$l'" }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |        $scoreCols
         |  FROM documents
         |), pred AS (
         |  SELECT lang,
         |    CASE greatest(${names.mkString(", ")}) $pick END AS lang_pred
         |  FROM scored
         |), cells AS (
         |  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2
         |), rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY 1)
         |SELECT c.lang, c.lang_pred, c.n,
         |  ROUND(CAST(c.n AS DOUBLE) / r.row_n, 6) AS frac
         |FROM cells c JOIN rt r USING (lang)
         |ORDER BY c.lang, c.lang_pred""".stripMargin
    }) { (s, dir) =>
      TextStats.langIdConfusion(docs(s, dir)).orderBy("lang", "lang_pred")
    },

    // ——— source-outlier detection from text alone: hashed-bucket
    //     token distributions vs the source's mean distribution,
    //     top-10 most distant docs per source — the embedding-free
    //     twin of q114's label outliers. ———
    Q("q155_hashvec_outliers",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents
        |), pc AS (
        |  SELECT doc_id, source,
        |    CAST(CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 16
        |      AS INT) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2, 3
        |), dn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM pc GROUP BY 1),
        |spine AS (
        |  SELECT d.doc_id, d.source, t.b
        |  FROM (SELECT doc_id, source FROM documents) d
        |  CROSS JOIN (SELECT CAST(unnest(range(0, 16)) AS INT) AS b) t
        |), fr AS (
        |  SELECT s.doc_id, s.source, s.b,
        |    CAST(round(CAST(COALESCE(p.c, 0) AS DOUBLE) / n.n * 1e9) AS BIGINT)
        |      AS f_u
        |  FROM spine s
        |  LEFT JOIN pc p ON s.doc_id = p.doc_id AND s.b = p.b
        |  JOIN dn n ON s.doc_id = n.doc_id
        |), cent AS (
        |  SELECT source, b, CAST(SUM(f_u) AS DOUBLE) / COUNT(*) / 1e9 AS cent
        |  FROM fr GROUP BY 1, 2
        |), dist AS (
        |  SELECT f.doc_id, f.source,
        |    CAST(SUM(CAST(round((CAST(f.f_u AS DOUBLE) / 1e9 - c.cent)
        |      * (CAST(f.f_u AS DOUBLE) / 1e9 - c.cent) * 1e12) AS BIGINT))
        |      AS BIGINT) AS su
        |  FROM fr f JOIN cent c ON f.source = c.source AND f.b = c.b
        |  GROUP BY 1, 2
        |)
        |SELECT doc_id, source, sq_dist, CAST(rn AS BIGINT) AS rn
        |FROM (
        |  SELECT doc_id, source,
        |    ROUND(CAST(su AS DOUBLE) / 1e12, 6) AS sq_dist,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ROUND(CAST(su AS DOUBLE) / 1e12, 6) DESC, doc_id) AS rn
        |  FROM dist
        |)
        |WHERE rn <= 10
        |ORDER BY source, rn""".stripMargin) { (s, dir) =>
      TextStats.hashVecSourceOutliers(docs(s, dir), dim = 16, k = 10)
        .orderBy("source", "rn")
    },

    // ——— per-source dedup report card: exact-duplicate members +
    //     near-dup-flagged docs next to q122's quality report — pure
    //     composition of the q34 fingerprint and q59 MinHash chains. ———
    Q("q148_dedup_report",
      s"""$verifiedPairsCte,
         |fpx AS (
         |  SELECT doc_id, source,
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fpv
         |  FROM documents
         |), g AS (
         |  SELECT fpv, MIN(doc_id) AS keeper, COUNT(*) AS nc FROM fpx GROUP BY 1
         |), e AS (
         |  SELECT f.doc_id, f.source,
         |    CASE WHEN g.nc > 1 AND f.doc_id <> g.keeper THEN 1 ELSE 0 END
         |      AS is_dup
         |  FROM fpx f JOIN g USING (fpv)
         |), nd AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT id_a AS doc_id FROM vp UNION ALL SELECT id_b AS doc_id FROM vp)
         |)
         |SELECT e.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(e.is_dup) AS BIGINT) AS exact_dup_docs,
         |  CAST(SUM(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS near_dup_docs
         |FROM e LEFT JOIN nd USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.ext.Dedup.dedupReport(docs(s, dir)).orderBy("source")
    },

    // ——— hashing-trick document vectors (md5 bucket family, dim 16,
    //     length-normalized, micro-unit CSV): the deterministic
    //     "embedding" for corpora that have none. ———
    Q("q149_hash_doc_vectors",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents
        |), pc AS (
        |  SELECT doc_id,
        |    CAST(CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) % 16
        |      AS INT) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2
        |), nt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM pc GROUP BY 1),
        |grid AS (
        |  SELECT nt.doc_id, nt.n, t.b
        |  FROM nt CROSS JOIN (SELECT CAST(unnest(range(0, 16)) AS INT) AS b) t
        |)
        |SELECT g.doc_id, CAST(MAX(g.n) AS BIGINT) AS n_tokens,
        |  string_agg(CAST(CAST(round(CAST(COALESCE(p.c, 0) AS DOUBLE) / g.n
        |      * 1e6) AS BIGINT) AS VARCHAR), ',' ORDER BY g.b) AS vec_csv
        |FROM grid g LEFT JOIN pc p ON g.doc_id = p.doc_id AND g.b = p.b
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
      TextStats.hashDocVectors(docs(s, dir), dim = 16).orderBy("doc_id")
    },

    // ——— pairwise Jensen–Shannon divergence between sources' token
    //     distributions (zero-filled source×vocab spine; 0·ln0 = 0;
    //     1e-9-quantized terms). The source-merge-candidate map. ———
    Q("q145_jsd_matrix",
      """WITH pc AS (
        |  SELECT source AS src, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source,
        |          unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2
        |), st AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM pc GROUP BY 1),
        |vocab AS (SELECT DISTINCT w FROM pc),
        |spine AS (SELECT st.src, v.w FROM st CROSS JOIN vocab v),
        |pr AS (
        |  SELECT s.src, s.w, CAST(COALESCE(p.c, 0) AS DOUBLE) / t.n AS p
        |  FROM spine s LEFT JOIN pc p ON s.src = p.src AND s.w = p.w
        |  JOIN st t ON s.src = t.src
        |), pairs AS (
        |  SELECT a.src AS source_a, b.src AS source_b, a.p AS pa, b.p AS pb
        |  FROM pr a JOIN pr b ON a.w = b.w AND a.src < b.src
        |)
        |SELECT source_a, source_b,
        |  ROUND(CAST(SUM(CAST(round((
        |      CASE WHEN pa > 0
        |        THEN 0.5 * pa * ln(pa / ((pa + pb) / 2.0)) ELSE 0.0 END
        |    + CASE WHEN pb > 0
        |        THEN 0.5 * pb * ln(pb / ((pa + pb) / 2.0)) ELSE 0.0 END
        |    ) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9, 6) AS jsd
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      TextStats.jsdMatrix(docs(s, dir)).orderBy("source_a", "source_b")
    },

    // ——— Zipf's-law fit: OLS slope of ln(count) on ln(rank) over the
    //     frequency table — corpus-health in one number (natural text
    //     ≈ −1; this synthetic near-uniform corpus ≈ 0). Four exact
    //     integer OLS sums → deterministic slope/intercept. ———
    Q("q146_zipf_fit",
      """WITH c AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1 HAVING COUNT(*) >= 5
        |), r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM c
        |), u AS (
        |  SELECT
        |    CAST(round(ln(CAST(r AS DOUBLE)) * 1e9) AS BIGINT) AS x_u,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS y_u,
        |    CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS xy_u,
        |    CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS xx_u
        |  FROM r
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x_u) AS BIGINT) AS sx,
        |    CAST(SUM(y_u) AS BIGINT) AS sy, CAST(SUM(xy_u) AS BIGINT) AS sxy,
        |    CAST(SUM(xx_u) AS BIGINT) AS sxx
        |  FROM u
        |)
        |SELECT n,
        |  ROUND((n * (CAST(sxy AS DOUBLE) / 1e9)
        |      - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
        |    / (n * (CAST(sxx AS DOUBLE) / 1e9)
        |      - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)), 6)
        |    AS slope,
        |  ROUND(((CAST(sy AS DOUBLE) / 1e9)
        |      - ((n * (CAST(sxy AS DOUBLE) / 1e9)
        |        - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9))
        |      / (n * (CAST(sxx AS DOUBLE) / 1e9)
        |        - (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9)))
        |      * (CAST(sx AS DOUBLE) / 1e9)) / n, 6) AS intercept
        |FROM s""".stripMargin) { (s, dir) =>
      TextStats.zipfFit(docs(s, dir), minCount = 5)
    },

    // ——— signature-level benchmark decontamination: the q59 MinHash
    //     chain pointed across the train/benchmark boundary (every
    //     20th doc is "benchmark"); each contaminated train doc
    //     reports its best match. Complements q88's n-gram overlap
    //     form. ———
    Q("q142_minhash_decontaminate",
      s"""$verifiedPairsCte
         |SELECT doc_id, matched_benchmark, jaccard FROM (
         |  SELECT
         |    CASE WHEN id_a % 20 = 0 THEN id_b ELSE id_a END AS doc_id,
         |    CASE WHEN id_a % 20 = 0 THEN id_a ELSE id_b END AS matched_benchmark,
         |    jaccard,
         |    row_number() OVER (
         |      PARTITION BY CASE WHEN id_a % 20 = 0 THEN id_b ELSE id_a END
         |      ORDER BY jaccard DESC,
         |        CASE WHEN id_a % 20 = 0 THEN id_a ELSE id_b END) AS rn
         |  FROM vp
         |  WHERE (id_a % 20 = 0) <> (id_b % 20 = 0)
         |) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ext.Dedup.decontaminateByMinhash(docs(s, dir),
          isBenchmark = col("doc_id") % 20 === 0,
          n = 3, k = 32, bands = 8, minJaccard = 0.5)
        .orderBy("doc_id")
    },

    // ——— token burstiness: variance-to-mean ratio of per-doc counts
    //     (index of dispersion; zero-occurrence docs count). Integer
    //     S1/S2 sufficient statistics → single deterministic double
    //     expression per token. ———
    Q("q141_burstiness",
      """WITH pd AS (
        |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2
        |), agg AS (
        |  SELECT w, CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(c * c) AS BIGINT) AS s2,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs_with
        |  FROM pd GROUP BY 1 HAVING SUM(c) >= 100
        |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT w AS token, s1 AS n_occ, n_docs_with,
        |  ROUND((CAST(s2 AS DOUBLE) / n
        |       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |    / (CAST(s1 AS DOUBLE) / n), 6) AS vmr
        |FROM agg CROSS JOIN nd
        |ORDER BY vmr DESC, token""".stripMargin) { (s, dir) =>
      TextStats.burstiness(docs(s, dir), minCount = 100)
        .orderBy(col("vmr").desc, col("token"))
    },

    // ——— tokenizer-coverage diagnostic: OOV rate per source against
    //     the corpus's own top-20 vocabulary (count desc, token asc —
    //     a deterministic cut). ———
    Q("q133_oov_rate",
      """WITH ps AS (
        |  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents
        |), pc AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM ps GROUP BY 1, 2
        |), vc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM pc GROUP BY 1),
        |vocab AS (
        |  SELECT w, 1 AS _in FROM vc
        |  QUALIFY row_number() OVER (ORDER BY cw DESC, w ASC) <= 20
        |)
        |SELECT pc.source, CAST(SUM(pc.c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v._in IS NULL THEN pc.c ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  ROUND(CAST(SUM(CASE WHEN v._in IS NULL THEN pc.c ELSE 0 END) AS DOUBLE)
        |    / SUM(pc.c), 6) AS oov_rate
        |FROM pc LEFT JOIN vocab v USING (w)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      TextStats.oovRate(docs(s, dir), vocabSize = 20).orderBy("source")
    },

    // ——— BM25 lexical retrieval for a literal 3-term query: integer
    //     tf/df/dl/N, one ln per term, per-term contributions
    //     micro-quantized before the per-doc sum. The lexical half of
    //     hybrid search (fuse with q169). ———
    Q("q175_bm25", {
      val k1p1 = f"${1.2 + 1.0}%.17g"
      s"""WITH toksArr AS (
         |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts
         |  FROM documents
         |), toks AS (SELECT doc_id, unnest(ts) AS token FROM toksArr),
         |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toksArr),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(dl) AS BIGINT) AS sum_dl
         |  FROM dl
         |), tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
         |  WHERE token IN ('query', 'join', 'fast') GROUP BY 1, 2
         |), dft AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |term AS (
         |  SELECT tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (CAST(t.n_docs - dft.df AS DOUBLE) + 0.5)
         |               / (CAST(dft.df AS DOUBLE) + 0.5))
         |      * (CAST(tf.tf AS DOUBLE) * $k1p1)
         |      / (CAST(tf.tf AS DOUBLE)
         |         + 1.2 * (1.0 - 0.75 + 0.75
         |                  * (CAST(dl.dl * t.n_docs AS DOUBLE) / t.sum_dl)))
         |      * 1000000) AS BIGINT) AS contrib
         |  FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN tot t
         |)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         |  ROUND(CAST(SUM(contrib) AS DOUBLE) / 1000000, 6) AS score
         |FROM term GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, dir) =>
      TextStats.bm25(docs(s, dir), Seq("query", "join", "fast"), k = 20)
    },

    // ——— Cohen's κ of the marker classifier vs the true label:
    //     chance-corrected agreement as ONE exact integer ratio
    //     (D·n − S)/(n² − S) — no float po/pe intermediates. ———
    Q("q176_cohen_kappa", {
      val langs = TextStats.langMarkers.toSeq.sortBy(_._1)
      val scoreCols = langs.map { case (lang, ms) =>
        val terms = ms.map(m =>
          s"(CASE WHEN contains(lower(text), '${m.replace("'", "''")}') THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"($terms) AS s_$lang"
      }.mkString(",\n        ")
      val names = langs.map { case (l, _) => s"s_$l" }
      val pick = langs.map { case (l, _) => s"WHEN s_$l THEN '$l'" }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |        $scoreCols
         |  FROM documents
         |), pred AS (
         |  SELECT lang AS t,
         |    CASE greatest(${names.mkString(", ")}) $pick END AS p
         |  FROM scored
         |), cells AS (
         |  SELECT t, p, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
         |), rc AS (SELECT t, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
         |cc AS (SELECT p, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
         |ag AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS d
         |  FROM cells
         |), sv AS (
         |  SELECT CAST(COALESCE(SUM(rn * cn), 0) AS BIGINT) AS s
         |  FROM rc JOIN cc ON rc.t = cc.p
         |)
         |SELECT n_rows, d AS n_agree,
         |  ROUND(CAST(d AS DOUBLE) / n_rows, 6) AS observed,
         |  ROUND(CAST(s AS DOUBLE) / (n_rows * n_rows), 6) AS expected,
         |  CASE WHEN n_rows * n_rows <> s THEN
         |    ROUND(CAST(d * n_rows - s AS DOUBLE) / (n_rows * n_rows - s), 6)
         |  END AS kappa
         |FROM ag CROSS JOIN sv""".stripMargin
    }) { (s, dir) =>
      val pred = docs(s, dir).select(col("lang"),
        TextStats.langId(col("text")).as("lang_pred"))
      TextStats.cohenKappa(pred, "lang", "lang_pred")
    },

    // ——— vocabulary growth (Heaps' curve): distinct tokens
    //     accumulated at each doc-order decile — all integers via
    //     per-token first-doc + prefix evaluation at nearest-rank
    //     boundaries. A flattening curve = diminishing lexical
    //     return from more of this corpus. ———
    Q("q178_vocab_growth",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents
        |), fd AS (SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY 1),
        |pd AS (SELECT fd, CAST(COUNT(*) AS BIGINT) AS nw FROM fd GROUP BY 1),
        |ids AS (
        |  SELECT doc_id AS doc,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nd
        |  FROM (SELECT DISTINCT doc_id FROM documents)
        |), cps AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS checkpoint),
        |bounds AS (
        |  SELECT c.checkpoint, i.doc AS bound_doc, i.rn AS n_docs
        |  FROM ids i JOIN cps c
        |    ON i.rn = CAST(floor(c.checkpoint * i.nd / 10) AS BIGINT)
        |)
        |SELECT b.checkpoint, b.bound_doc, b.n_docs,
        |  CAST(COALESCE(SUM(p.nw), 0) AS BIGINT) AS vocab
        |FROM bounds b LEFT JOIN pd p ON p.fd <= b.bound_doc
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, dir) =>
      TextStats.vocabGrowth(docs(s, dir), nCheckpoints = 10)
    },

    // ——— weighted (multiset) Jaccard between source token profiles:
    //     Σmin / (T_a + T_b − Σmin) — one exact BIGINT ratio per
    //     pair; only SHARED tokens ever join. The integer companion
    //     to the q145 JSD matrix. ———
    Q("q179_weighted_jaccard",
      """WITH tf AS (
        |  SELECT src, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT source AS src,
        |          unnest(string_split_regex(lower(text), '\s+')) AS token
        |        FROM documents)
        |  GROUP BY 1, 2
        |), tot AS (SELECT src, CAST(SUM(tf) AS BIGINT) AS t FROM tf GROUP BY 1),
        |sh AS (
        |  SELECT a.src AS src_a, b.src AS src_b,
        |    CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS s_min
        |  FROM tf a JOIN tf b ON a.token = b.token AND a.src < b.src
        |  GROUP BY 1, 2
        |)
        |SELECT sh.src_a, sh.src_b, sh.s_min AS shared_mass,
        |  ROUND(CAST(sh.s_min AS DOUBLE) / (ta.t + tb.t - sh.s_min), 6)
        |    AS w_jaccard
        |FROM sh JOIN tot ta ON ta.src = sh.src_a
        |        JOIN tot tb ON tb.src = sh.src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      TextStats.sourceWeightedJaccard(docs(s, dir))
    },

    // ——— per-source L-moment shape statistics (l1, l2, τ3, τ4):
    //     integer probability-weighted sums over ranked n_chars, each
    //     emitted ratio ONE division of exact BIGINTs; tie order
    //     provably irrelevant. The robust, bounded alternative to
    //     skewness/kurtosis for length-distribution monitoring. ———
    Q("q180_lmoments",
      """WITH r AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) AS i
        |  FROM documents
        |), s AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s0,
        |    CAST(SUM((i-1)*x) AS BIGINT) AS s1,
        |    CAST(SUM((i-1)*(i-2)*x) AS BIGINT) AS s2,
        |    CAST(SUM((i-1)*(i-2)*(i-3)*x) AS BIGINT) AS s3
        |  FROM r GROUP BY 1
        |)
        |SELECT grp, n,
        |  ROUND(CAST(s0 AS DOUBLE) / n, 6) AS l1,
        |  CASE WHEN n > 1 THEN
        |    ROUND(CAST(2*s1 - s0*(n-1) AS DOUBLE) / (n*(n-1)), 6) END AS l2,
        |  CASE WHEN n > 2 AND 2*s1 - s0*(n-1) <> 0 THEN
        |    ROUND(CAST(6*s2 - 6*s1*(n-2) + s0*(n-1)*(n-2) AS DOUBLE)
        |      / ((2*s1 - s0*(n-1)) * (n-2)), 6) END AS t3,
        |  CASE WHEN n > 3 AND 2*s1 - s0*(n-1) <> 0 THEN
        |    ROUND(CAST(20*s3 - 30*s2*(n-3) + 12*s1*(n-2)*(n-3)
        |               - s0*(n-1)*(n-2)*(n-3) AS DOUBLE)
        |      / ((2*s1 - s0*(n-1)) * (n-2) * (n-3)), 6) END AS t4
        |FROM s ORDER BY grp""".stripMargin) { (s, dir) =>
      TextStats.lMoments(docs(s, dir), "n_chars", "source")
    },

    // ——— reliability diagram + ECE for the distilled classifier
    //     (the q112 chain): score-order deciles, per-bin confidence
    //     vs teacher-label accuracy, ECE from the exact integer
    //     numerator Σ|sy·1e6 − ssm|. The third evaluation leg next
    //     to AUC (q165) and κ (q176). ———
    Q("q181_calibration",
      s"""WITH wt AS (SELECT bucket, w FROM read_parquet('${Fixtures.sqlPath("q181_weights")}') WHERE bucket >= 0),
         |bias AS (SELECT w AS b FROM read_parquet('${Fixtures.sqlPath("q181_weights")}') WHERE bucket = -1),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
         |  FROM documents
         |), feats AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(CAST(concat('0x', substring(md5(token), 1, 15)) AS BIGINT) % 256 AS BIGINT) AS bucket
         |  FROM toks
         |), zs AS (
         |  SELECT f.doc_id, list_sum(list(wt.w ORDER BY f.bucket)) AS s
         |  FROM feats f JOIN wt USING (bucket) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT z.doc_id,
         |    CAST(round(1.0 / (1.0 + exp(-(bias.b + z.s))) * 1000000) AS BIGINT)
         |      AS sm
         |  FROM zs z CROSS JOIN bias
         |), lab AS (
         |  SELECT doc_id,
         |    CAST(MAX(CASE WHEN token = 'spark' THEN 1 ELSE 0 END)
         |       * MAX(CASE WHEN token = 'stream' THEN 1 ELSE 0 END)
         |       * MAX(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS y
         |  FROM toks GROUP BY doc_id
         |), b AS (
         |  SELECT s.sm, l.y,
         |    CAST(ntile(10) OVER (ORDER BY s.sm, s.doc_id) AS BIGINT) AS bin
         |  FROM sc s JOIN lab l USING (doc_id)
         |), g AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(sm) AS BIGINT) AS ssm, CAST(SUM(y) AS BIGINT) AS sy
         |  FROM b GROUP BY 1
         |)
         |SELECT bin, n,
         |  ROUND(CAST(ssm AS DOUBLE) / (n * 1000000.0), 6) AS confidence,
         |  ROUND(CAST(sy AS DOUBLE) / n, 6) AS accuracy,
         |  ROUND(CAST(SUM(ABS(sy * 1000000 - ssm)) OVER () AS DOUBLE)
         |    / (SUM(n) OVER () * 1000000.0), 6) AS ece
         |FROM g ORDER BY bin""".stripMargin) { (s, dir) =>
      import graft.ext.Classifier
      val toks = TextStats.tokens(col("text"))
      val labeled = docs(s, dir).withColumn("y",
        (array_contains(toks, "spark") && array_contains(toks, "stream") &&
          array_contains(toks, "window")).cast("int"))
      val model = Classifier.train(labeled, "y", dim = 256, iters = 2)
      Fixtures.write("q181_weights", {
        import s.implicits._
        ((-1L, model.bias) +: model.weights.zipWithIndex.toSeq
          .map { case (w, j) => (j.toLong, w) }).toDF("bucket", "w")
      })
      val scored = Classifier.score(labeled, model)
        .join(labeled.select(col("doc_id"), col("y")), "doc_id")
      Classifier.calibrationBins(scored, "y", "score", bins = 10)
    },

    // ——— Brier score + Murphy decomposition (REL − RES + UNC) of the
    //     q181 classifier's forecasts: fixed-width micro-score bins
    //     (integer arithmetic, no quantile window), exact integer /
    //     DECIMAL(38,0) sufficient statistics, 1e-9-quantized per-bin
    //     terms — the one-number calibration summary next to ECE. ———
    Q("q320_brier_decomposition", {
      s"""WITH wt AS (SELECT bucket, w FROM read_parquet('${Fixtures.sqlPath("q320_weights")}') WHERE bucket >= 0),
         |bias AS (SELECT w AS b FROM read_parquet('${Fixtures.sqlPath("q320_weights")}') WHERE bucket = -1),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
         |  FROM documents
         |), feats AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(CAST(concat('0x', substring(md5(token), 1, 15)) AS BIGINT) % 256 AS BIGINT) AS bucket
         |  FROM toks
         |), zs AS (
         |  SELECT f.doc_id, list_sum(list(wt.w ORDER BY f.bucket)) AS s
         |  FROM feats f JOIN wt USING (bucket) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT z.doc_id,
         |    CAST(round(1.0 / (1.0 + exp(-(bias.b + z.s))) * 1000000) AS BIGINT)
         |      AS sm
         |  FROM zs z CROSS JOIN bias
         |), lab AS (
         |  SELECT doc_id,
         |    CAST(MAX(CASE WHEN token = 'spark' THEN 1 ELSE 0 END)
         |       * MAX(CASE WHEN token = 'stream' THEN 1 ELSE 0 END)
         |       * MAX(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS y
         |  FROM toks GROUP BY doc_id
         |), b AS (
         |  SELECT s.sm, l.y,
         |    CAST(least(floor(CAST(s.sm AS DOUBLE) * 10 / 1000000.0), 9)
         |      AS BIGINT) AS bin
         |  FROM sc s JOIN lab l USING (doc_id)
         |), g AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(sm) AS BIGINT) AS ssm, CAST(SUM(y) AS BIGINT) AS sy,
         |    SUM(CAST(sm - y * 1000000 AS HUGEINT)
         |      * CAST(sm - y * 1000000 AS HUGEINT)) AS sq
         |  FROM b GROUP BY 1
         |), t AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
         |    CAST(SUM(sy) AS BIGINT) AS syt, SUM(sq) AS sqt
         |  FROM g
         |), terms AS (
         |  SELECT g.n, t.nt, t.syt, t.sqt,
         |    CAST(round(1e9 * CAST(g.n AS DOUBLE)
         |      * ((CAST(g.ssm AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000.0)
         |          - CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE))
         |        * (CAST(g.ssm AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000.0)
         |          - CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE))))
         |      AS BIGINT) AS rel_u,
         |    CAST(round(1e9 * CAST(g.n AS DOUBLE)
         |      * ((CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE)
         |          - CAST(t.syt AS DOUBLE) / CAST(t.nt AS DOUBLE))
         |        * (CAST(g.sy AS DOUBLE) / CAST(g.n AS DOUBLE)
         |          - CAST(t.syt AS DOUBLE) / CAST(t.nt AS DOUBLE))))
         |      AS BIGINT) AS res_u
         |  FROM g CROSS JOIN t
         |)
         |SELECT nt AS n, CAST(COUNT(*) AS BIGINT) AS n_bins,
         |  round(CAST(sqt AS DOUBLE) / 1e12 / nt, 6) AS brier,
         |  round(CAST(SUM(rel_u) AS DOUBLE) / 1e9 / nt, 6) AS reliability,
         |  round(CAST(SUM(res_u) AS DOUBLE) / 1e9 / nt, 6) AS resolution,
         |  round((CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
         |    * (1.0 - CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
         |    AS uncertainty
         |FROM terms GROUP BY nt, syt, sqt""".stripMargin
    }) { (s, dir) =>
      import graft.ext.Classifier
      val toks = TextStats.tokens(col("text"))
      val labeled = docs(s, dir).withColumn("y",
        (array_contains(toks, "spark") && array_contains(toks, "stream") &&
          array_contains(toks, "window")).cast("int"))
      val model = Classifier.train(labeled, "y", dim = 256, iters = 2)
      Fixtures.write("q320_weights", {
        import s.implicits._
        ((-1L, model.bias) +: model.weights.zipWithIndex.toSeq
          .map { case (w, j) => (j.toLong, w) }).toDF("bucket", "w")
      })
      val scored = Classifier.score(labeled, model)
        .join(labeled.select(col("doc_id"), col("y")), "doc_id")
      Classifier.brierDecomposition(scored, "y", "score", bins = 10)
    },

    // ——— token-weighted length quartiles per source: "the doc length
    //     below which half the TOKENS sit" — nearest-rank on integer
    //     cumulative weights, no interpolation; the budgeting view of
    //     length distributions. ———
    Q("q185_weighted_median",
      """WITH base AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS w
        |  FROM documents
        |), g AS (SELECT grp, v, CAST(SUM(w) AS BIGINT) AS w FROM base GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, v, w,
        |    CAST(SUM(w) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
        |    CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS tw
        |  FROM g
        |)
        |SELECT grp, MAX(tw) AS total_weight,
        |  MAX(CASE WHEN cw - w < ceil(0.25 * tw) AND ceil(0.25 * tw) <= cw
        |      THEN v END) AS w_q1,
        |  MAX(CASE WHEN cw - w < ceil(0.5 * tw) AND ceil(0.5 * tw) <= cw
        |      THEN v END) AS w_median,
        |  MAX(CASE WHEN cw - w < ceil(0.75 * tw) AND ceil(0.75 * tw) <= cw
        |      THEN v END) AS w_q3
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).select(col("source"), col("n_chars"),
        size(TextStats.tokens(col("text"))).cast("long").as("w"))
      graft.ext.Profile.weightedQuantiles(base, "n_chars", "w", "source")
    },

    // ——— deterministic mode + share (modal language per source,
    //     smallest-value tie-break) — the promise Spark's own mode()
    //     aggregate doesn't make. ———
    Q("q186_mode_share",
      """WITH counts AS (
        |  SELECT source AS grp, lang AS v, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2
        |), r AS (
        |  SELECT grp, v, n,
        |    row_number() OVER (PARTITION BY grp ORDER BY n DESC, v) AS rn,
        |    CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS tot
        |  FROM counts
        |)
        |SELECT grp, v AS mode, n AS mode_n, tot AS total_n,
        |  ROUND(CAST(n AS DOUBLE) / tot, 6) AS share
        |FROM r WHERE rn = 1 ORDER BY grp""".stripMargin) { (s, dir) =>
      graft.ext.Profile.modeShare(docs(s, dir), "lang", "source")
    },

    // ——— token-blocklist safety filter per source: whole-token
    //     matching on the corpus tokenization (never substrings), the
    //     blocklist riding as an array literal in two codegen'd
    //     map-only expressions — no join, no shuffle before the
    //     per-source rollup. ———
    Q("q201_blocklist",
      """WITH t AS (
        |  SELECT source AS grp,
        |    string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents
        |), f AS (
        |  SELECT grp,
        |    CASE WHEN len(list_filter(ts,
        |      x -> list_contains(['slow', 'error', 'leak'], x))) > 0
        |      THEN 1 ELSE 0 END AS flag,
        |    CAST(len(list_filter(ts,
        |      x -> list_contains(['slow', 'error', 'leak'], x))) AS BIGINT)
        |      AS hits
        |  FROM t
        |)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(flag) AS BIGINT) AS n_flagged,
        |  CAST(SUM(hits) AS BIGINT) AS n_hits,
        |  ROUND(CAST(SUM(flag) AS DOUBLE) / COUNT(*), 6) AS flag_rate
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.ext.Privacy.blocklistStats(docs(s, dir),
        Seq("slow", "error", "leak"))
    },

    // ——— EXACT Jaccard ≥ 3/5 similarity join by prefix filtering
    //     (PPJoin): candidates only from each set's rarest
    //     L = n − ⌈3n/5⌉ + 1 tokens under one global (df, token)
    //     order, pruned by the length filter — zero recall loss;
    //     verify is an integer cross-multiplication. Runs on the
    //     deterministic 1-in-10 doc sample: this synthetic corpus's
    //     tiny shared vocab is the technique's documented degenerate
    //     case (posting lists ≈ n), so full-corpus battery runs are
    //     the q41-style test-scale verification path only. ———
    Q("q202_prefix_filter_join",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
        |    FROM documents WHERE doc_id % 10 = 0) WHERE t <> ''
        |), sz AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1
        |), rk AS (
        |  SELECT t, row_number() OVER (ORDER BY dfreq, t) AS trk FROM (
        |    SELECT t, COUNT(*) AS dfreq FROM toks GROUP BY 1)
        |), pos AS (
        |  SELECT k.doc_id, r.trk, s.n,
        |    row_number() OVER (PARTITION BY k.doc_id ORDER BY r.trk) AS p
        |  FROM toks k JOIN rk r ON k.t = r.t JOIN sz s ON s.doc_id = k.doc_id
        |), pref AS (
        |  SELECT doc_id, trk FROM pos WHERE p <= n - ((3 * n + 4) // 5) + 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM pref a JOIN pref b ON a.trk = b.trk AND a.doc_id < b.doc_id
        |), i AS (
        |  SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cand c JOIN toks ta ON ta.doc_id = c.da
        |              JOIN toks tb ON tb.doc_id = c.db AND tb.t = ta.t
        |  GROUP BY 1, 2
        |)
        |SELECT i.da AS doc_a, i.db AS doc_b, i.inter,
        |  sa.n + sb.n - i.inter AS uni,
        |  ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6)
        |    AS jaccard
        |FROM i JOIN sz sa ON sa.doc_id = i.da
        |       JOIN sz sb ON sb.doc_id = i.db
        |WHERE i.inter * 5 >= (sa.n + sb.n - i.inter) * 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      graft.ext.Dedup.prefixFilterJoin(
        docs(s, dir).filter(col("doc_id") % 10 === 0), num = 3, den = 5)
    },

    // ——— per-source skewness + excess kurtosis of doc lengths from
    //     raw INTEGER power sums (Σx..Σx⁴ exact BIGINTs, one pass);
    //     the central-moment algebra is a fixed double expression
    //     over them — identical IEEE sequence in both engines. ———
    Q("q207_shape_moments",
      """WITH a AS (
        |  SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS s1,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2,
        |    CAST(SUM(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
        |    CAST(SUM(n_chars * n_chars * n_chars * n_chars) AS BIGINT) AS s4
        |  FROM documents GROUP BY 1
        |), m AS (
        |  SELECT grp, n, CAST(s1 AS DOUBLE) / n AS mean,
        |    CAST(s2 AS DOUBLE) / n AS e2,
        |    CAST(s3 AS DOUBLE) / n AS e3,
        |    CAST(s4 AS DOUBLE) / n AS e4
        |  FROM a
        |), c AS (
        |  SELECT grp, n, mean,
        |    e2 - mean * mean AS m2,
        |    e3 - 3 * mean * e2 + 2 * mean * mean * mean AS m3,
        |    e4 - 4 * mean * e3 + 6 * mean * mean * e2
        |       - 3 * mean * mean * mean * mean AS m4
        |  FROM m
        |)
        |SELECT grp, n, round(mean, 6) AS mean, round(m2, 6) AS m2,
        |  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
        |FROM c ORDER BY grp""".stripMargin) { (s, dir) =>
      graft.ext.Profile.shapeMoments(docs(s, dir), "source", "n_chars")
    },

    // ——— dedup threshold-tuning curve: the q59 verified pairs binned
    //     by exact Jaccard (1/20 bins) with the reverse cumulative
    //     "pairs merged at ≥ t" — one pair materialization answers
    //     every candidate threshold. ———
    Q("q212_dedup_threshold_curve",
      s"""$verifiedPairsCte
         |SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(COUNT(*)) OVER (ORDER BY thr DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_at_or_above
         |FROM (SELECT floor(jaccard * 20) / 20 AS thr FROM vp)
         |GROUP BY thr ORDER BY thr""".stripMargin) { (s, dir) =>
      val pairs = Dedup.minhashVerifiedPairs(docs(s, dir), n = 3, k = 32,
        bands = 8, minJaccard = 0.5).trackedLocalCheckpoint()
      Dedup.dedupThresholdCurve(pairs, binsPerUnit = 20)
    },

    // ——— DSIR-style importance weights for target-domain selection:
    //     every doc scored by mean ln p_target/p_corpus over its
    //     tokens (target = the src0 slice, add-one smoothed over the
    //     corpus vocabulary; corpus = plain MLE). Top-50 = the docs
    //     to upsample for a src0-flavored mixture. round(6) absorbs
    //     summation-order FP noise before the rank cut (q89
    //     discipline). ———
    Q("q230_dsir_weights",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), corpus AS (SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok),
        |nc AS (SELECT COUNT(*) AS cn FROM toks),
        |tgt AS (SELECT tok, COUNT(*) AS tf FROM toks
        |        WHERE source = 'src0' GROUP BY tok),
        |nt AS (SELECT COUNT(*) AS tn FROM toks WHERE source = 'src0'),
        |vocab AS (SELECT COUNT(*) AS v FROM corpus),
        |scored AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    ROUND(AVG(
        |      ln((CAST(COALESCE(g.tf, 0) AS DOUBLE) + 1.0)
        |         / CAST(nt.tn + vocab.v AS DOUBLE))
        |      - ln(CAST(c.cf AS DOUBLE) / CAST(nc.cn AS DOUBLE))), 6)
        |      AS importance
        |  FROM toks t
        |  JOIN corpus c USING (tok)
        |  LEFT JOIN tgt g USING (tok)
        |  CROSS JOIN nc CROSS JOIN nt CROSS JOIN vocab
        |  GROUP BY t.doc_id
        |)
        |SELECT doc_id, n_tokens, importance
        |FROM scored ORDER BY importance DESC, doc_id LIMIT 50""".stripMargin) {
      (s, dir) =>
      TextStats.dsirWeights(docs(s, dir), targetSource = "src0")
        .orderBy(col("importance").desc, col("doc_id")).limit(50)
    },

    // ——— K-minimum-values overlap sketch: each source keeps its 64
    //     smallest-md5 vocabulary tokens; a pair's union bottom-64
    //     is a valid sketch of A∪B, and its both-sides fraction
    //     estimates Jaccard — all pair work on fixed-size sketches,
    //     independent of vocabulary size (exact when the union fits
    //     in k, pinned as a law vs q103's full computation). ———
    Q("q240_kmv_overlap",
      """WITH v AS (
        |  SELECT DISTINCT source AS src,
        |    unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), v2 AS (SELECT src, tok FROM v WHERE tok <> ''),
        |sk AS (
        |  SELECT src, tok, md5(tok) AS h FROM (
        |    SELECT src, tok, row_number() OVER (PARTITION BY src
        |      ORDER BY md5(tok), tok) AS rk
        |    FROM v2)
        |  WHERE rk <= 64
        |), srcs AS (SELECT DISTINCT src FROM sk),
        |pairs AS (
        |  SELECT a.src AS sa, b.src AS sb
        |  FROM srcs a JOIN srcs b ON a.src < b.src
        |), u AS (
        |  SELECT p.sa, p.sb, s.tok, s.h,
        |    MAX(CASE WHEN s.src = p.sa THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN s.src = p.sb THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s ON s.src = p.sa OR s.src = p.sb
        |  GROUP BY 1, 2, 3, 4
        |), cut AS (
        |  SELECT * FROM (
        |    SELECT u.*, row_number() OVER (PARTITION BY sa, sb
        |      ORDER BY h, tok) AS urk FROM u)
        |  WHERE urk <= 64
        |)
        |SELECT sa AS src_a, sb AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_sketch,
        |  CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
        |  CAST(CAST(round(SUM(in_a * in_b) * 1e6 / COUNT(*)) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS est_jaccard
        |FROM cut GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.ext.Sketches.kmvOverlap(docs(s, dir), k = 64)
    },

    // ——— canonical keeper per near-dup cluster: keep-LONGEST (the
    //     C4/RefinedWeb policy — truncated mirrors are the shorter
    //     copies), vs q57's keep-first. Oracle extends q58's replayed
    //     transitive clusters with the same per-cluster argmax. ———
    Q("q307_cluster_canonical",
      s"""$clustersCte,
         |cl AS (
         |  SELECT c.id, c.cluster,
         |    CAST(strlen(d.text) AS BIGINT) AS n_chars
         |  FROM clusters c JOIN documents d ON d.doc_id = c.id
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, id) AS rn
         |  FROM cl
         |)
         |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  MAX(CASE WHEN rn = 1 THEN id END) AS keeper,
         |  MAX(CASE WHEN rn = 1 THEN n_chars END) AS bytes_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
         |  CAST(SUM(n_chars) AS BIGINT) -
         |    MAX(CASE WHEN rn = 1 THEN n_chars END) AS bytes_saved
         |FROM rk GROUP BY cluster
         |ORDER BY cluster""".stripMargin) { (s, dir) =>
      val pairs = Dedup.minhashVerifiedPairs(docs(s, dir), n = 3, k = 32,
        bands = 8, minJaccard = 0.5)
        .select("id_a", "id_b")
        .trackedLocalCheckpoint()
      Dedup.clusterCanonicalKeepers(Dedup.nearDupClusters(pairs),
        docs(s, dir))
    },

    // ——— winnowing fingerprints (Schleimer–Wilkerson–Aiken / MOSS):
    //     char-5-gram hashes, window-of-4 rightmost-min selection via
    //     the combined hash·2²⁴+(2²⁴−1−pos) key, then the standard
    //     df-capped posting join to shared-fingerprint candidate
    //     pairs. The winnowing GUARANTEE (any shared run ≥ k+w−1
    //     chars yields a shared fingerprint) is what q34/q106 lack:
    //     position-robust, alignment-free. PRODUCTION hash = native
    //     codegen'd xxhash64 mod 2³⁶ (the md5-hex-per-gram constant
    //     was the battery's 2nd-slowest entry); DuckDB has no
    //     xxhash64, so the oracle posting-joins over REFERENCE
    //     fingerprints recomputed on the driver by an independent
    //     scalar pipeline (Fixtures.winnowingXxFixture — own
    //     normalizer, own xxh64, own window-min loop: the q61
    //     discipline), and q357 keeps the md5 path's full SQL replay
    //     alive on a capped slice. ———
    Q("q332_winnowing_dedup",
      s"""WITH sel AS (
        |  SELECT DISTINCT doc_id, fp
        |  FROM read_parquet('${Fixtures.sqlPath("q332_winnow_ref")}')
        |), per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM sel GROUP BY 1
        |), cold AS (
        |  SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 50
        |), posting AS (
        |  SELECT s.doc_id, s.fp FROM sel s JOIN cold USING (fp)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM posting a JOIN posting b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |)
        |SELECT id_a, id_b, n_shared, pa.n_fp AS n_fp_a, pb.n_fp AS n_fp_b,
        |  round(CAST(n_shared AS DOUBLE) /
        |    CAST(LEAST(pa.n_fp, pb.n_fp) AS DOUBLE), 6) AS overlap
        |FROM pairs JOIN per pa ON pairs.id_a = pa.doc_id
        |JOIN per pb ON pairs.id_b = pb.doc_id
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Fixtures.write("q332_winnow_ref",
        Fixtures.winnowingXxFixture(docs(s, dir), k = 5, w = 4))
      Dedup.winnowingCandidates(docs(s, dir), k = 5, w = 4,
        minShared = 2, maxDf = 50, nativeHash = true)
    },

    // ——— the md5 winnowing path kept fully SQL-replayed on a capped
    //     slice (the q332 oracle before the xxhash64 switch): every
    //     stage — normalize, per-gram md5-prefix hash, combined-key
    //     window min, selection filter, df-capped posting join — is
    //     recomputed by DuckDB from the raw text, so the two winnowing
    //     hash paths cross-check each other: q332 verifies the
    //     distributed machinery against an independent scalar
    //     reference at full scale, q357 verifies the gram-hash
    //     arithmetic cross-engine where the md5 constant is
    //     affordable. ———
    Q("q357_winnowing_md5_slice",
      """WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        |  FROM documents WHERE doc_id < 500
        |), grams AS (
        |  SELECT doc_id, GREATEST(len(s) - 4, 1) AS ng, CAST(p AS BIGINT)
        |      AS pos,
        |    CAST(concat('0x', substring(md5(substring(s, CAST(p + 1 AS INT),
        |      5)), 1, 9)) AS BIGINT) AS h
        |  FROM norm, unnest(range(0, GREATEST(len(s) - 4, 1))) AS t(p)
        |), comb AS (
        |  SELECT doc_id, ng, pos, h * 16777216 + (16777215 - pos) AS c
        |  FROM grams WHERE pos < 16777216
        |), wins AS (
        |  SELECT doc_id, ng, pos, MIN(c) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM comb
        |), sel AS (
        |  SELECT DISTINCT doc_id, m // 16777216 AS fp
        |  FROM wins WHERE pos = 0 OR pos <= ng - 4
        |), per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM sel GROUP BY 1
        |), cold AS (
        |  SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 50
        |), posting AS (
        |  SELECT s.doc_id, s.fp FROM sel s JOIN cold USING (fp)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM posting a JOIN posting b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |)
        |SELECT id_a, id_b, n_shared, pa.n_fp AS n_fp_a, pb.n_fp AS n_fp_b,
        |  round(CAST(n_shared AS DOUBLE) /
        |    CAST(LEAST(pa.n_fp, pb.n_fp) AS DOUBLE), 6) AS overlap
        |FROM pairs JOIN per pa ON pairs.id_a = pa.doc_id
        |JOIN per pb ON pairs.id_b = pb.doc_id
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.winnowingCandidates(docs(s, dir).filter(col("doc_id") < 500),
        k = 5, w = 4, minShared = 2, maxDf = 50)
    },

    // ——— split-conformal prediction over the q181 classifier chain:
    //     md5-coin calibration half → nonconformity (1−p(true), micro
    //     grid) → qhat at nearest rank ⌈(n+1)(1−α)⌉ via the Ranks
    //     value-dictionary decomposition (no row-scale sort) → eval
    //     half coverage + prediction-set efficiency. The
    //     distribution-free guarantee, checked as data. ———
    Q("q335_conformal_coverage", {
      s"""WITH wt AS (SELECT bucket, w FROM read_parquet('${graft.queries.Fixtures.sqlPath("q335_weights")}') WHERE bucket >= 0),
         |bias AS (SELECT w AS b FROM read_parquet('${graft.queries.Fixtures.sqlPath("q335_weights")}') WHERE bucket = -1),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
         |  FROM documents
         |), feats AS (
         |  SELECT DISTINCT doc_id,
         |    CAST(CAST(concat('0x', substring(md5(token), 1, 15)) AS BIGINT) % 256 AS BIGINT) AS bucket
         |  FROM toks
         |), zs AS (
         |  SELECT f.doc_id, list_sum(list(wt.w ORDER BY f.bucket)) AS s
         |  FROM feats f JOIN wt USING (bucket) GROUP BY f.doc_id
         |), sc AS (
         |  SELECT z.doc_id,
         |    CAST(round(1.0 / (1.0 + exp(-(bias.b + z.s))) * 1000000) AS BIGINT)
         |      AS sm
         |  FROM zs z CROSS JOIN bias
         |), lab AS (
         |  SELECT doc_id,
         |    CAST(MAX(CASE WHEN token = 'spark' THEN 1 ELSE 0 END)
         |       * MAX(CASE WHEN token = 'stream' THEN 1 ELSE 0 END)
         |       * MAX(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS y
         |  FROM toks GROUP BY doc_id
         |), base AS (
         |  SELECT sc.doc_id, lab.y, sc.sm,
         |    CASE WHEN lab.y = 1 THEN 1000000 - sc.sm ELSE sc.sm END AS nc,
         |    CAST(concat('0x', substring(md5(concat(CAST(sc.doc_id AS VARCHAR),
         |      ':cal1')), 1, 15)) AS BIGINT) % 2 = 0 AS is_cal
         |  FROM sc JOIN lab USING (doc_id)
         |), caln AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS ncal FROM base WHERE is_cal
         |), cum AS (
         |  SELECT nc, SUM(c) OVER (ORDER BY nc) AS cumc FROM (
         |    SELECT nc, CAST(COUNT(*) AS BIGINT) AS c FROM base
         |    WHERE is_cal GROUP BY nc)
         |), qh AS (
         |  -- rank NULL (⇒ qhat NULL ⇒ infinite threshold) when
         |  -- ceil((n_cal+1)(1-alpha)) > n_cal, mirroring conformalSplit
         |  SELECT MIN(CASE WHEN cumc >= CASE WHEN CAST(ceil(
         |      CAST(ncal + 1 AS DOUBLE) * CAST(0.9 AS DOUBLE)) AS BIGINT)
         |        <= ncal THEN CAST(ceil(CAST(ncal + 1 AS DOUBLE)
         |        * CAST(0.9 AS DOUBLE)) AS BIGINT) END
         |      THEN nc END) AS qhat,
         |    MAX(ncal) AS n_cal
         |  FROM cum CROSS JOIN caln
         |), ev AS (
         |  SELECT b.y, b.nc, qh.qhat, qh.n_cal,
         |    CASE WHEN qh.qhat IS NULL OR 1000000 - b.sm <= qh.qhat
         |      THEN 1 ELSE 0 END AS in1,
         |    CASE WHEN qh.qhat IS NULL OR b.sm <= qh.qhat
         |      THEN 1 ELSE 0 END AS in0
         |  FROM base b CROSS JOIN qh WHERE NOT b.is_cal
         |)
         |SELECT ROUND(CAST(0.9 AS DOUBLE), 6) AS target_coverage,
         |  MAX(n_cal) AS n_cal, MAX(qhat) AS qhat_micro,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  ROUND(CAST(SUM(CASE WHEN qhat IS NULL OR nc <= qhat
         |    THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 6) AS coverage,
         |  ROUND(CAST(SUM(in1 + in0) AS DOUBLE) / COUNT(*), 6)
         |    AS avg_set_size,
         |  ROUND(CAST(SUM(CASE WHEN in1 + in0 = 0 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*), 6) AS share_empty,
         |  ROUND(CAST(SUM(CASE WHEN in1 + in0 = 2 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*), 6) AS share_both
         |FROM ev""".stripMargin
    }) { (s, dir) =>
      import graft.ext.Classifier
      val toks = TextStats.tokens(col("text"))
      val labeled = docs(s, dir).withColumn("y",
        (array_contains(toks, "spark") && array_contains(toks, "stream") &&
          array_contains(toks, "window")).cast("int"))
      val model = Classifier.train(labeled, "y", dim = 256, iters = 2)
      graft.queries.Fixtures.write("q335_weights", {
        import s.implicits._
        ((-1L, model.bias) +: model.weights.zipWithIndex.toSeq
          .map { case (w, j) => (j.toLong, w) }).toDF("bucket", "w")
      })
      val scored = Classifier.score(labeled, model)
        .join(labeled.select(col("doc_id"), col("y")), "doc_id")
      Classifier.conformalSplit(scored, "y", "score", alpha = 0.1)
    },

    // ——— conformalized quantile regression (Romano et al. 2019) on
    //     the events value stream, grouped by event_type: per-group
    //     nearest-rank [q10, q90] train interval, signed CQR scores
    //     on the calibration quarter, qhat at ⌈(n+1)(1−α)⌉, eval
    //     coverage/width of [q_lo−qhat, q_hi+qhat]. The continuous
    //     completion of q335's binary split-conformal report; integer
    //     cent grid throughout, quantiles and qhat from value
    //     dictionaries (Ranks), never a row-scale sort. ———
    Q("q339_cqr_intervals",
      """WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS yc,
        |    CAST(concat('0x', substring(md5(concat(CAST(event_id AS VARCHAR),
        |      ':cqr1')), 1, 15)) AS BIGINT) % 4 AS coin
        |  FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL
        |), tr AS (
        |  SELECT g, yc, CAST(COUNT(*) AS BIGINT) AS c FROM base
        |  WHERE coin <= 1 GROUP BY 1, 2
        |), trc AS (
        |  SELECT g, yc,
        |    SUM(c) OVER (PARTITION BY g ORDER BY yc) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM tr
        |), qt AS (
        |  SELECT g, CAST(MAX(n) AS BIGINT) AS n_train,
        |    MIN(CASE WHEN cum >= GREATEST(CAST(ceil(CAST(n AS DOUBLE)
        |      * CAST(0.1 AS DOUBLE)) AS BIGINT), 1) THEN yc END) AS qlo,
        |    MIN(CASE WHEN cum >= LEAST(CAST(ceil(CAST(n AS DOUBLE)
        |      * CAST(0.9 AS DOUBLE)) AS BIGINT), n) THEN yc END) AS qhi
        |  FROM trc GROUP BY 1
        |), cal AS (
        |  SELECT GREATEST(qt.qlo - b.yc, b.yc - qt.qhi) AS e
        |  FROM base b JOIN qt ON b.g = qt.g WHERE b.coin = 2
        |), caln AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal
        |), ecum AS (
        |  SELECT e, SUM(c) OVER (ORDER BY e) AS cumc FROM (
        |    SELECT e, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY e)
        |), qh AS (
        |  -- rank NULL (⇒ qhat NULL ⇒ infinite interval) when
        |  -- ceil((n_cal+1)(1-alpha)) > n_cal, mirroring cqr
        |  SELECT MIN(CASE WHEN cumc >= CASE WHEN CAST(ceil(
        |      CAST(n_cal + 1 AS DOUBLE) * CAST(0.8 AS DOUBLE)) AS BIGINT)
        |        <= n_cal THEN CAST(ceil(CAST(n_cal + 1 AS DOUBLE)
        |        * CAST(0.8 AS DOUBLE)) AS BIGINT) END
        |      THEN e END) AS qhat,
        |    MAX(n_cal) AS n_cal
        |  FROM ecum CROSS JOIN caln
        |)
        |SELECT b.g AS event_type, qt.n_train,
        |  round(CAST(qt.qlo AS DOUBLE) / 100, 6) AS q_lo,
        |  round(CAST(qt.qhi AS DOUBLE) / 100, 6) AS q_hi,
        |  qh.n_cal, qh.qhat AS qhat_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  round(CAST(SUM(CASE WHEN qh.qhat IS NULL
        |    OR (b.yc >= qt.qlo - qh.qhat AND b.yc <= qt.qhi + qh.qhat)
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS coverage,
        |  CASE WHEN qh.qhat IS NOT NULL THEN
        |    round(CAST(qt.qhi - qt.qlo + 2 * qh.qhat AS DOUBLE) / 100, 6)
        |  END AS width
        |FROM base b JOIN qt ON b.g = qt.g CROSS JOIN qh
        |WHERE b.coin = 3
        |GROUP BY b.g, qt.n_train, qt.qlo, qt.qhi, qh.n_cal, qh.qhat
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      import graft.ext.Classifier
      Classifier.cqr(graft.Tables.load(s, dir, "events"),
        "event_type", "value", "event_id", alpha = 0.2)
    },

    // ——— B-cubed cluster evaluation (Bagga–Baldwin / Amigó et al.):
    //     exact-dup clusters (md5 of whitespace-normalized text)
    //     scored against a planted doc_id//4 gold partition. Terms
    //     quantized to 1e-9 BIGINTs before summation (the q331
    //     discipline) so both engines add integers; F1 from the raw
    //     sums in one mirrored expression. One contingency aggregate
    //     + dictionary marginals. ———
    Q("q349_bcubed_cluster_eval",
      """WITH a AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS c,
        |    doc_id // 4 AS g
        |  FROM documents
        |), cg AS (
        |  SELECT c, g, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1, 2
        |), cs AS (
        |  SELECT c, CAST(SUM(n) AS BIGINT) AS nc FROM cg GROUP BY 1
        |), gs AS (
        |  SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM cg GROUP BY 1
        |), t AS (
        |  SELECT cg.n,
        |    CAST(round(1e9 * cg.n * cg.n / cs.nc) AS BIGINT) AS tp,
        |    CAST(round(1e9 * cg.n * cg.n / gs.ng) AS BIGINT) AS tr
        |  FROM cg JOIN cs USING (c) JOIN gs USING (g)
        |), s AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_items,
        |    CAST(SUM(tp) AS BIGINT) AS sp, CAST(SUM(tr) AS BIGINT) AS sr
        |  FROM t
        |)
        |SELECT n_items,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cs) AS n_clusters,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM gs) AS n_classes,
        |  round(CAST(sp AS DOUBLE) / 1e9 / n_items, 6) AS bcubed_precision,
        |  round(CAST(sr AS DOUBLE) / 1e9 / n_items, 6) AS bcubed_recall,
        |  CASE WHEN sp + sr > 0 THEN
        |    round(2.0 * sp * sr / (sp + sr) / (n_items * 1e9), 6)
        |  END AS bcubed_f1
        |FROM s""".stripMargin) { (s, dir) =>
      import graft.ext.Evals
      val assign = docs(s, dir).select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("cluster"),
        expr("doc_id div 4").as("gold"))
      Evals.bcubed(assign, "doc_id", "cluster", "gold")
    },

    // ——— BLEU modified-precision components (Papineni et al. 2002)
    //     over adjacent-doc pairs (even doc = candidate, doc+1 =
    //     reference): clipped unigram/bigram counts — all-integer —
    //     plus the brevity-penalty length inputs. The geometric mean
    //     is a downstream scalar choice; the engine work is the
    //     clipping joins. ———
    Q("q350_bleu_components",
      """WITH p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS ct, b.text AS rt
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0
        |), ct AS (
        |  SELECT pair_id, string_split_regex(lower(ct), '\s+') AS ts FROM p
        |), rt AS (
        |  SELECT pair_id, string_split_regex(lower(rt), '\s+') AS ts FROM p
        |), c1 AS (
        |  SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |    SELECT pair_id, unnest(ts) AS g FROM ct) GROUP BY 1, 2
        |), r1 AS (
        |  SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |    SELECT pair_id, unnest(ts) AS g FROM rt) GROUP BY 1, 2
        |), c2 AS (
        |  SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |    SELECT pair_id, unnest(list_transform(range(1, len(ts)),
        |      i -> concat(ts[i], ' ', ts[i + 1]))) AS g
        |    FROM ct WHERE len(ts) >= 2) GROUP BY 1, 2
        |), r2 AS (
        |  SELECT pair_id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |    SELECT pair_id, unnest(list_transform(range(1, len(ts)),
        |      i -> concat(ts[i], ' ', ts[i + 1]))) AS g
        |    FROM rt WHERE len(ts) >= 2) GROUP BY 1, 2
        |), k1 AS (
        |  SELECT c1.pair_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS clipped_1
        |  FROM c1 JOIN r1 ON c1.pair_id = r1.pair_id AND c1.g = r1.g
        |  GROUP BY 1
        |), k2 AS (
        |  SELECT c2.pair_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS clipped_2
        |  FROM c2 JOIN r2 ON c2.pair_id = r2.pair_id AND c2.g = r2.g
        |  GROUP BY 1
        |), lens AS (
        |  SELECT p.pair_id, CAST(len(ct.ts) AS BIGINT) AS cand_len,
        |    CAST(len(rt.ts) AS BIGINT) AS ref_len
        |  FROM p JOIN ct USING (pair_id) JOIN rt USING (pair_id)
        |)
        |SELECT l.pair_id, l.cand_len, l.ref_len,
        |  COALESCE(k1.clipped_1, 0) AS clipped_1,
        |  round(CAST(COALESCE(k1.clipped_1, 0) AS DOUBLE) / l.cand_len, 6)
        |    AS p1,
        |  COALESCE(k2.clipped_2, 0) AS clipped_2,
        |  CASE WHEN l.cand_len >= 2 THEN
        |    round(CAST(COALESCE(k2.clipped_2, 0) AS DOUBLE)
        |      / (l.cand_len - 1), 6)
        |  END AS p2
        |FROM lens l
        |LEFT JOIN k1 USING (pair_id)
        |LEFT JOIN k2 USING (pair_id)
        |ORDER BY l.pair_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("pair_id"),
          col("text").as("cand_text"))
        .filter(col("pair_id") % 2 === 0)
        .join(d.select((col("doc_id") - 1).as("pair_id"),
          col("text").as("ref_text")), Seq("pair_id"))
      TextStats.clippedNgramPrecision(pairs)
    },

    // ——— SQuAD answer scoring (Rajpurkar et al. 2016): exact match
    //     on normalized text + bag-of-tokens F1 = 2·overlap /
    //     (|cand|+|ref|) — all integers, one rounded division each.
    //     Every 10th candidate pairs with ITSELF so the EM branch is
    //     exercised, the rest with the next doc. ———
    Q("q351_answer_f1",
      """WITH p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS ct, b.text AS rt
        |  FROM documents a JOIN documents b
        |    ON b.doc_id = a.doc_id +
        |      CASE WHEN a.doc_id % 10 = 0 THEN 0 ELSE 1 END
        |  WHERE a.doc_id % 2 = 0
        |), cn AS (
        |  SELECT pair_id, w, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |    SELECT pair_id, unnest(string_split_regex(lower(ct), '\s+'))
        |      AS w FROM p) GROUP BY 1, 2
        |), rn AS (
        |  SELECT pair_id, w, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |    SELECT pair_id, unnest(string_split_regex(lower(rt), '\s+'))
        |      AS w FROM p) GROUP BY 1, 2
        |), ov AS (
        |  SELECT cn.pair_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS overlap
        |  FROM cn JOIN rn ON cn.pair_id = rn.pair_id AND cn.w = rn.w
        |  GROUP BY 1
        |), lens AS (
        |  SELECT pair_id,
        |    CAST(len(string_split_regex(lower(ct), '\s+')) AS BIGINT)
        |      AS cand_len,
        |    CAST(len(string_split_regex(lower(rt), '\s+')) AS BIGINT)
        |      AS ref_len,
        |    CASE WHEN regexp_replace(trim(lower(ct)), '\s+', ' ', 'g')
        |       = regexp_replace(trim(lower(rt)), '\s+', ' ', 'g')
        |      THEN 1 ELSE 0 END AS em
        |  FROM p
        |)
        |SELECT l.pair_id, l.cand_len, l.ref_len,
        |  CAST(l.em AS BIGINT) AS exact_match,
        |  COALESCE(o.overlap, 0) AS overlap,
        |  round(CAST(COALESCE(o.overlap, 0) AS DOUBLE) / l.cand_len, 6)
        |    AS p_tok,
        |  round(CAST(COALESCE(o.overlap, 0) AS DOUBLE) / l.ref_len, 6)
        |    AS r_tok,
        |  round(2.0 * COALESCE(o.overlap, 0) / (l.cand_len + l.ref_len), 6)
        |    AS f1
        |FROM lens l LEFT JOIN ov o USING (pair_id)
        |ORDER BY l.pair_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val cand = d.select(col("doc_id").as("pair_id"),
          col("text").as("cand_text"),
          (col("doc_id") + when(col("doc_id") % 10 === 0, 0)
            .otherwise(1)).as("_ref_id"))
        .filter(col("pair_id") % 2 === 0)
      val pairs = cand
        .join(d.select(col("doc_id").as("_ref_id"),
          col("text").as("ref_text")), Seq("_ref_id"))
        .drop("_ref_id")
      TextStats.answerTokenF1(pairs)
    },

    // ——— ROUGE-L (Lin 2004) over q350's adjacent-doc pairs: LCS
    //     recall/precision/F on 24-token-capped sequences. Spark runs
    //     the O(m·n) LCS row DP natively per pair
    //     (`PairCounts.tokenLcs`); the oracle unrolls the
    //     dependency-free prefix-max recurrence over the same capped
    //     tokens as 24 MATERIALIZED CTEs (the btChainSql discipline —
    //     the dp column is referenced several times per step, so an
    //     inlining planner would go exponential). Both are exact
    //     integer DPs, so they agree bit for bit. ———
    Q("q354_rouge_l", {
      val L = 24
      val steps = (1 to L).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT pair_id, ctoks, rtoks, n,
           |    CASE WHEN len(ctoks) >= $t THEN
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(range(1, n + 1), j ->
           |          GREATEST(dp[j + 1],
           |            list_max(list_transform(range(1, j + 1), i ->
           |              dp[i] + CASE WHEN rtoks[i] = ctoks[$t]
           |                THEN 1 ELSE 0 END)))))
           |    ELSE dp END AS dp
           |  FROM d${t - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS MATERIALIZED (
         |  SELECT a.doc_id AS pair_id, a.text AS ct, b.text AS rt
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 2 = 0
         |), tk AS MATERIALIZED (
         |  SELECT pair_id,
         |    string_split_regex(lower(ct), '\\s+')[1:$L] AS ctoks,
         |    string_split_regex(lower(rt), '\\s+')[1:$L] AS rtoks
         |  FROM p
         |), d0 AS MATERIALIZED (
         |  SELECT pair_id, ctoks, rtoks, len(rtoks) AS n,
         |    list_transform(range(0, len(rtoks) + 1),
         |      x -> CAST(0 AS BIGINT)) AS dp
         |  FROM tk
         |),
         |$steps
         |SELECT pair_id, CAST(len(ctoks) AS BIGINT) AS cand_len,
         |  CAST(n AS BIGINT) AS ref_len,
         |  CAST(dp[n + 1] AS BIGINT) AS lcs,
         |  round(CAST(dp[n + 1] AS DOUBLE) / len(ctoks), 6) AS rouge_l_p,
         |  round(CAST(dp[n + 1] AS DOUBLE) / n, 6) AS rouge_l_r,
         |  round(CAST(2.0 AS DOUBLE) * dp[n + 1] / (len(ctoks) + n), 6)
         |    AS rouge_l_f
         |FROM d$L ORDER BY pair_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("pair_id"),
          col("text").as("cand_text"))
        .filter(col("pair_id") % 2 === 0)
        .join(d.select((col("doc_id") - 1).as("pair_id"),
          col("text").as("ref_text")), Seq("pair_id"))
      TextStats.rougeL(pairs, maxTokens = 24)
    },

    // ——— chrF2 (Popović 2015) over q350's pairs: clipped character
    //     1..6-gram precision/recall (whitespace stripped),
    //     macro-averaged over orders with per-order 1e-9 quantization
    //     (integer sums are shuffle-order-free), β=2 recall weighting.
    //     Per-order totals come straight from string lengths; Spark
    //     counts the clipped grams inside each pair's row
    //     (`PairCounts.chrfClipped`), the oracle with a gram join. ———
    Q("q358_chrf",
      """WITH p AS (
        |  SELECT a.doc_id AS pair_id, a.text AS ct, b.text AS rt
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0
        |), ch AS (
        |  SELECT pair_id,
        |    regexp_replace(lower(ct), '\s+', '', 'g') AS c,
        |    regexp_replace(lower(rt), '\s+', '', 'g') AS r
        |  FROM p
        |), cg AS (
        |  SELECT pair_id, n, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |    SELECT pair_id, CAST(n AS BIGINT) AS n,
        |      substring(c, CAST(tp.p AS INT), CAST(n AS INT)) AS g
        |    FROM ch, unnest(range(1, 7)) tn(n),
        |      unnest(range(1, len(c) - n + 2)) tp(p)
        |  ) GROUP BY 1, 2, 3
        |), rg AS (
        |  SELECT pair_id, n, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |    SELECT pair_id, CAST(n AS BIGINT) AS n,
        |      substring(r, CAST(tp.p AS INT), CAST(n AS INT)) AS g
        |    FROM ch, unnest(range(1, 7)) tp2(n),
        |      unnest(range(1, len(r) - n + 2)) tp(p)
        |  ) GROUP BY 1, 2, 3
        |), clip AS (
        |  SELECT cg.pair_id, cg.n,
        |    CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS cl
        |  FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
        |    AND cg.g = rg.g
        |  GROUP BY 1, 2
        |), spine AS (
        |  SELECT pair_id, CAST(n AS BIGINT) AS n,
        |    GREATEST(len(c) - n + 1, 0) AS tc,
        |    GREATEST(len(r) - n + 1, 0) AS tr
        |  FROM ch, unnest(range(1, 7)) tn(n)
        |), per AS (
        |  SELECT s.pair_id,
        |    CAST(round(1e9 * COALESCE(cl, 0) / GREATEST(tc, 1)) AS BIGINT)
        |      AS pu,
        |    CAST(round(1e9 * COALESCE(cl, 0) / GREATEST(tr, 1)) AS BIGINT)
        |      AS ru
        |  FROM spine s LEFT JOIN clip
        |    ON clip.pair_id = s.pair_id AND clip.n = s.n
        |), agg AS (
        |  SELECT pair_id, CAST(SUM(pu) AS BIGINT) AS sp,
        |    CAST(SUM(ru) AS BIGINT) AS sr
        |  FROM per GROUP BY 1
        |)
        |SELECT pair_id,
        |  round(CAST(sp AS DOUBLE) / 6e9, 6) AS chrf_p,
        |  round(CAST(sr AS DOUBLE) / 6e9, 6) AS chrf_r,
        |  CASE WHEN CAST(4 AS DOUBLE) * sp + sr > 0 THEN
        |    round(CAST(5 AS DOUBLE) * sp * sr /
        |      (CAST(4 AS DOUBLE) * sp + sr) / 6e9, 6)
        |  ELSE 0.0 END AS chrf2
        |FROM agg ORDER BY pair_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("pair_id"),
          col("text").as("cand_text"))
        .filter(col("pair_id") % 2 === 0)
        .join(d.select((col("doc_id") - 1).as("pair_id"),
          col("text").as("ref_text")), Seq("pair_id"))
      TextStats.chrF(pairs, maxN = 6)
    },

    // ——— distinct-n diversity (Li et al. 2016): per 8-response
    //     prompt roster, unique/total word 1- and 2-grams — the
    //     standard mode-collapse diagnostic over sampled generations.
    //     All counting; two rounded divisions. ———
    Q("q359_distinct_n",
      """WITH r AS (
        |  SELECT CAST(doc_id // 8 AS BIGINT) AS prompt_id, text
        |  FROM documents
        |), t AS (
        |  SELECT prompt_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM r
        |), u1 AS (
        |  SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS uniq_1,
        |    CAST(SUM(c) AS BIGINT) AS total_1
        |  FROM (
        |    SELECT prompt_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |      SELECT prompt_id, unnest(ts) AS g FROM t) GROUP BY 1, 2
        |  ) GROUP BY 1
        |), u2 AS (
        |  SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS uniq_2,
        |    CAST(SUM(c) AS BIGINT) AS total_2
        |  FROM (
        |    SELECT prompt_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |      SELECT prompt_id, unnest(list_transform(range(1, len(ts)),
        |        i -> concat(ts[i], ' ', ts[i + 1]))) AS g
        |      FROM t WHERE len(ts) >= 2) GROUP BY 1, 2
        |  ) GROUP BY 1
        |), resp AS (
        |  SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS n_resp
        |  FROM r GROUP BY 1
        |)
        |SELECT resp.prompt_id, resp.n_resp,
        |  COALESCE(total_1, 0) AS total_1, COALESCE(uniq_1, 0) AS uniq_1,
        |  CASE WHEN COALESCE(total_1, 0) > 0 THEN
        |    round(CAST(uniq_1 AS DOUBLE) / total_1, 6) END AS distinct_1,
        |  COALESCE(total_2, 0) AS total_2, COALESCE(uniq_2, 0) AS uniq_2,
        |  CASE WHEN COALESCE(total_2, 0) > 0 THEN
        |    round(CAST(uniq_2 AS DOUBLE) / total_2, 6) END AS distinct_2
        |FROM resp
        |LEFT JOIN u1 USING (prompt_id)
        |LEFT JOIN u2 USING (prompt_id)
        |ORDER BY prompt_id""".stripMargin) { (s, dir) =>
      TextStats.distinctN(
        docs(s, dir).select(expr("doc_id div 8").as("prompt_id"),
          col("text")),
        "prompt_id", "text")
    },

    // ——— self-BLEU diversity (Zhu et al. 2018) over q359's 8-response
    //     prompt rosters: each response scored against the other 7 as
    //     multi-reference clipped n-gram precision (n=1,2). The
    //     reference clip max_{j≠i} c_j needs only the roster-wide
    //     TOP-2 statistic per (prompt, n, gram) — tie-free integer
    //     logic, no k² pairwise join — then 1e-9-quantized per-response
    //     ratios integer-sum into the prompt macro average. ———
    Q("q360_self_bleu",
      """WITH r AS (
        |  SELECT CAST(doc_id // 8 AS BIGINT) AS prompt_id,
        |    doc_id AS resp_id, text
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), t AS (
        |  SELECT prompt_id, resp_id,
        |    string_split_regex(lower(text), '\s+') AS ts
        |  FROM r
        |), g AS (
        |  SELECT prompt_id, resp_id, 1 AS n, unnest(ts) AS g FROM t
        |  UNION ALL
        |  SELECT prompt_id, resp_id, 2 AS n,
        |    unnest(list_transform(range(1, len(ts)),
        |      i -> concat(ts[i], ' ', ts[i + 1]))) AS g
        |  FROM t WHERE len(ts) >= 2
        |), c AS (
        |  SELECT prompt_id, n, g, resp_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM g GROUP BY 1, 2, 3, 4
        |), m1 AS (
        |  SELECT prompt_id, n, g, MAX(c) AS m1 FROM c GROUP BY 1, 2, 3
        |), st AS (
        |  SELECT c.prompt_id, c.n, c.g, MAX(m1.m1) AS m1,
        |    CAST(SUM(CASE WHEN c.c = m1.m1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nmax,
        |    MAX(CASE WHEN c.c < m1.m1 THEN c.c END) AS m2
        |  FROM c JOIN m1 USING (prompt_id, n, g) GROUP BY 1, 2, 3
        |), cl AS (
        |  SELECT c.prompt_id, c.resp_id, c.n,
        |    CAST(SUM(LEAST(c.c,
        |      CASE WHEN c.c = st.m1 AND st.nmax = 1
        |        THEN COALESCE(st.m2, 0) ELSE st.m1 END)) AS BIGINT) AS cl
        |  FROM c JOIN st USING (prompt_id, n, g) GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT prompt_id, resp_id, CAST(len(ts) AS BIGINT) AS t1,
        |    CAST(GREATEST(len(ts) - 1, 0) AS BIGINT) AS t2
        |  FROM t
        |), pr AS (
        |  SELECT tot.prompt_id,
        |    CAST(round(1e9 * COALESCE(c1.cl, 0) / t1) AS BIGINT) AS q1,
        |    CASE WHEN t2 > 0 THEN
        |      CAST(round(1e9 * COALESCE(c2.cl, 0) / t2) AS BIGINT)
        |    END AS q2
        |  FROM tot
        |  LEFT JOIN cl c1 ON c1.prompt_id = tot.prompt_id
        |    AND c1.resp_id = tot.resp_id AND c1.n = 1
        |  LEFT JOIN cl c2 ON c2.prompt_id = tot.prompt_id
        |    AND c2.resp_id = tot.resp_id AND c2.n = 2
        |)
        |SELECT prompt_id, CAST(COUNT(*) AS BIGINT) AS n_resp,
        |  round(CAST(SUM(q1) AS DOUBLE) / COUNT(*) / 1e9, 6) AS self_p1,
        |  CASE WHEN COUNT(q2) > 0 THEN
        |    round(CAST(SUM(q2) AS DOUBLE) / COUNT(q2) / 1e9, 6)
        |  END AS self_p2
        |FROM pr GROUP BY 1 ORDER BY prompt_id""".stripMargin) { (s, dir) =>
      TextStats.selfBleu(
        docs(s, dir).select(expr("doc_id div 8").as("prompt_id"),
          col("doc_id").as("resp_id"), col("text")),
        "prompt_id", "resp_id", "text")
    },

    // ——— word error rate (TER without shifts) over q354's pair
    //     fixture: word-level Levenshtein on 24-token-capped prefixes.
    //     Spark runs the O(m·n) row DP natively per pair
    //     (`PairCounts.tokenEdits`); the oracle unrolls the prefix-min
    //     rewrite new[j] = min_{i≤j}(c_i + (j−i)) (trailing insertions
    //     cost 1 each) as 24 MATERIALIZED CTEs. Integer DPs ⇒
    //     bit-exact. ———
    Q("q361_wer", {
      val L = 24
      val steps = (1 to L).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT pair_id, ctoks, rtoks, n,
           |    CASE WHEN len(ctoks) >= $t THEN
           |      list_transform(range(0, n + 1), j ->
           |        list_min(list_transform(range(0, j + 1), i ->
           |          CASE WHEN i = 0 THEN dp[1] + 1
           |            ELSE LEAST(dp[i + 1] + 1,
           |              dp[i] + CASE WHEN rtoks[i] = ctoks[$t]
           |                THEN 0 ELSE 1 END) END
           |          + (j - i))))
           |    ELSE dp END AS dp
           |  FROM d${t - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS MATERIALIZED (
         |  SELECT a.doc_id AS pair_id, a.text AS ct, b.text AS rt
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 2 = 0
         |), tk AS MATERIALIZED (
         |  SELECT pair_id,
         |    string_split_regex(lower(ct), '\\s+')[1:$L] AS ctoks,
         |    string_split_regex(lower(rt), '\\s+')[1:$L] AS rtoks
         |  FROM p
         |), d0 AS MATERIALIZED (
         |  SELECT pair_id, ctoks, rtoks, len(rtoks) AS n,
         |    list_transform(range(0, len(rtoks) + 1),
         |      x -> CAST(x AS BIGINT)) AS dp
         |  FROM tk
         |),
         |$steps
         |SELECT pair_id, CAST(len(ctoks) AS BIGINT) AS cand_len,
         |  CAST(n AS BIGINT) AS ref_len,
         |  CAST(dp[n + 1] AS BIGINT) AS edits,
         |  CASE WHEN n > 0 THEN
         |    round(CAST(dp[n + 1] AS DOUBLE) / n, 6) END AS wer
         |FROM d$L ORDER BY pair_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("pair_id"),
          col("text").as("cand_text"))
        .filter(col("pair_id") % 2 === 0)
        .join(d.select((col("doc_id") - 1).as("pair_id"),
          col("text").as("ref_text")), Seq("pair_id"))
      TextStats.wer(pairs, maxTokens = 24)
    },

    // ——— tokenizer fertility per language (Ács 2019, Rust et al.
    //     2021): pieces per word + chars per piece, pieces = the BPE
    //     pre-tokenizer view in lookaround-free regex form (identical
    //     RE2 pattern in both engines); piece chars = the
    //     whitespace-stripped length (every non-ws char lands in
    //     exactly one piece). Map-only + one lang-keyed sum. ———
    Q("q363_fertility",
      """WITH per AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
        |      AS w,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS p,
        |    CAST(length(regexp_replace(lower(text), '\s+', '', 'g'))
        |      AS BIGINT) AS pc
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS n_words,
        |  CAST(SUM(p) AS BIGINT) AS n_pieces,
        |  CAST(SUM(pc) AS BIGINT) AS piece_chars,
        |  round(CAST(SUM(p) AS DOUBLE) / SUM(w), 6) AS fertility,
        |  CASE WHEN SUM(p) > 0 THEN
        |    round(CAST(SUM(pc) AS DOUBLE) / SUM(p), 6)
        |  END AS chars_per_piece
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      TextStats.fertility(docs(s, dir))
    },

    // ——— Krippendorff's α, INTERVAL metric (the continuous-score
    //     completion of q319's nominal α — reward-model / LLM-judge
    //     gradings where near-misses must earn partial credit):
    //     4-judge synthetic panel, judges 0–2 within ±3 of the unit's
    //     base score, judge 3 uniform noise. Both disagreement sums
    //     collapse to moment identities (no pair join); HUGEINT ↔
    //     DECIMAL(38,0) products, 1e-6-quantized per-unit terms. ———
    Q("q369_alpha_interval",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j FROM documents
        |  WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u,
        |    CASE WHEN j < 3 THEN
        |      (doc_id * 31) % 50 + CAST(concat('0x', substring(md5('ki'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 7 - 3
        |    ELSE CAST(concat('0x', substring(md5('ki'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 50 END AS x
        |  FROM r
        |), units AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM rat GROUP BY 1 HAVING COUNT(*) >= 2
        |), us AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(m) AS BIGINT) AS n,
        |    SUM(CAST(sx AS HUGEINT)) AS sv,
        |    SUM(sxx) AS svv
        |  FROM units
        |), sd AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(2e6 *
        |    CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT)
        |      * CAST(sx AS HUGEINT) AS DOUBLE)
        |    / CAST(m - 1 AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) AS sdo
        |  FROM units
        |)
        |SELECT 'judge_scores_4rater' AS measure, n_units, n,
        |  round(CAST(sdo AS DOUBLE) / 1e6 / n, 6) AS d_o,
        |  round(CAST(2 AS DOUBLE) * CAST(CAST(n AS HUGEINT) * svv
        |      - sv * sv AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6) AS d_e,
        |  CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * svv <> sv * sv THEN
        |    round(1.0 - CAST(CAST(sdo AS HUGEINT) * (n - 1) AS DOUBLE)
        |      / (2e6 * CAST(CAST(n AS HUGEINT) * svv - sv * sv
        |         AS DOUBLE)), 6)
        |  END AS alpha
        |FROM us CROSS JOIN sd""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).select(col("doc_id"),
        explode(sequence(lit(0L), lit(3L))).as("j"))
      val coin = conv(substring(md5(concat(lit("ki"),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val x = when(col("j") < 3L,
        (col("doc_id") * 31 % 50) + coin % 7 - 3).otherwise(coin % 50)
      TextStats.krippendorffAlphaInterval(
        r.select(col("doc_id").as("u"), x.as("x")), "u", "x",
        "judge_scores_4rater")
    },

    // ——— Kendall's W coefficient of concordance (1939, tie-corrected)
    //     on the 4-judge panel: do the judges ORDER the documents the
    //     same way? Ranks in exact 2x units from the per-judge SCORE
    //     DICTIONARY cumulative (never a row-scale sort per judge);
    //     every term an integer until one final division. Reports the
    //     mean pairwise Spearman (kW−1)/(k−1) alongside. ———
    Q("q370_kendall_w",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j FROM documents
        |  WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u, j,
        |    CASE WHEN j < 3 THEN
        |      (doc_id * 31) % 50 + CAST(concat('0x', substring(md5('kw'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 7 - 3
        |    ELSE CAST(concat('0x', substring(md5('kw'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 50 END AS x
        |  FROM r
        |), cnt AS (
        |  SELECT j, x, CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM rat GROUP BY 1, 2
        |), rd AS (
        |  SELECT j, x,
        |    2 * (COALESCE(SUM(ct) OVER (PARTITION BY j ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
        |      + ct - 1 AS r2
        |  FROM cnt
        |), rk AS (
        |  SELECT rat.u, rd.r2
        |  FROM rat JOIN rd ON rat.j = rd.j AND rat.x = rd.x
        |), items AS (
        |  SELECT u, CAST(SUM(r2) AS BIGINT) AS rr,
        |    CAST(COUNT(*) AS BIGINT) AS kk
        |  FROM rk GROUP BY 1
        |), ist AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    SUM(CAST(rr AS HUGEINT) * CAST(rr AS HUGEINT)) AS sr2,
        |    CAST(SUM(kk) AS BIGINT) AS n_ratings
        |  FROM items
        |), tst AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_judges, SUM(t) AS st,
        |    MAX(jc) AS jmx
        |  FROM (
        |    SELECT j, SUM(CAST(ct AS HUGEINT) * CAST(ct AS HUGEINT)
        |      * CAST(ct AS HUGEINT) - CAST(ct AS HUGEINT)) AS t,
        |      CAST(SUM(ct) AS BIGINT) AS jc
        |    FROM cnt GROUP BY 1)
        |), djn AS (
        |  -- exactly-once gate: min over judges of DISTINCT items
        |  SELECT MIN(jd) AS jdn FROM (
        |    SELECT j, CAST(COUNT(DISTINCT u) AS BIGINT) AS jd
        |    FROM rat GROUP BY 1)
        |), fin AS (
        |  SELECT n_items, n_judges, n_ratings,
        |    CASE WHEN jdn = jmx AND jmx = n_items
        |      THEN 1 ELSE 0 END AS complete,
        |    3 * (sr2 - CAST(n_judges AS HUGEINT)
        |      * CAST(n_judges AS HUGEINT) * CAST(n_items AS HUGEINT)
        |      * CAST(n_items + 1 AS HUGEINT)
        |      * CAST(n_items + 1 AS HUGEINT)) AS num,
        |    CAST(n_judges AS HUGEINT) * CAST(n_judges AS HUGEINT)
        |      * (CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT)
        |         * CAST(n_items AS HUGEINT) - CAST(n_items AS HUGEINT))
        |      - CAST(n_judges AS HUGEINT) * st AS den
        |  FROM ist CROSS JOIN tst CROSS JOIN djn
        |)
        |SELECT n_items, n_judges, n_ratings,
        |  CASE WHEN den <> 0 AND complete = 1 THEN
        |    round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS w,
        |  CASE WHEN den <> 0 AND complete = 1 AND n_judges > 1 THEN
        |    round((CAST(n_judges AS DOUBLE) *
        |        (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |      - CAST(1 AS DOUBLE)) / CAST(n_judges - 1 AS DOUBLE), 6)
        |  END AS mean_spearman
        |FROM fin""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).select(col("doc_id"),
        explode(sequence(lit(0L), lit(3L))).as("j"))
      val coin = conv(substring(md5(concat(lit("kw"),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val x = when(col("j") < 3L,
        (col("doc_id") * 31 % 50) + coin % 7 - 3).otherwise(coin % 50)
      TextStats.kendallW(
        r.select(col("doc_id").as("u"), col("j"), x.as("x")),
        "u", "j", "x")
    },

    // ——— Krippendorff's α, ORDINAL metric (the Likert/rubric-scale
    //     completion of the agreement family: q295 Fleiss, q319
    //     nominal α, q369 interval α, q370 W): category distances
    //     from the CUMULATIVE pairable marginals — mapping each
    //     rating to the integer 2φ_c = 2·N_c − n_c reduces the whole
    //     statistic to the interval moment pipeline, exactly. 4-judge
    //     panel on a 5-category rubric, judges 0–2 within ±1 of the
    //     unit's base category, judge 3 uniform. ———
    Q("q371_alpha_ordinal",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j FROM documents
        |  WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u,
        |    CASE WHEN j < 3 THEN
        |      least(greatest(doc_id % 5 + CAST(concat('0x',
        |        substring(md5('ko' || CAST(doc_id AS VARCHAR) || '#'
        |          || CAST(j AS VARCHAR)), 1, 7)) AS BIGINT) % 3 - 1,
        |        0), 4)
        |    ELSE CAST(concat('0x', substring(md5('ko'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 5 END AS c
        |  FROM r
        |), pu AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM rat GROUP BY 1 HAVING COUNT(*) >= 2
        |), pair AS (
        |  SELECT rat.u, rat.c FROM rat JOIN pu USING (u)
        |), marg AS (
        |  SELECT c, CAST(COUNT(*) AS BIGINT) AS nc FROM pair GROUP BY 1
        |), phi AS (
        |  SELECT c, 2 * SUM(nc) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nc AS x2
        |  FROM marg
        |), ncat AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats FROM phi
        |), xv AS (
        |  SELECT pair.u, CAST(phi.x2 AS BIGINT) AS x
        |  FROM pair JOIN phi USING (c)
        |), units AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM xv GROUP BY 1 HAVING COUNT(*) >= 2
        |), us AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(m) AS BIGINT) AS n,
        |    SUM(CAST(sx AS HUGEINT)) AS sv,
        |    SUM(sxx) AS svv
        |  FROM units
        |), sd AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(2e6 *
        |    CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT)
        |      * CAST(sx AS HUGEINT) AS DOUBLE)
        |    / CAST(m - 1 AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) AS sdo
        |  FROM units
        |)
        |SELECT 'rubric_5cat_4rater' AS measure, n_units, n, n_cats,
        |  round(CAST(sdo AS DOUBLE) / 1e6 / n, 6) AS d_o,
        |  round(CAST(2 AS DOUBLE) * CAST(CAST(n AS HUGEINT) * svv
        |      - sv * sv AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6) AS d_e,
        |  CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * svv <> sv * sv THEN
        |    round(1.0 - CAST(CAST(sdo AS HUGEINT) * (n - 1) AS DOUBLE)
        |      / (2e6 * CAST(CAST(n AS HUGEINT) * svv - sv * sv
        |         AS DOUBLE)), 6)
        |  END AS alpha
        |FROM us CROSS JOIN sd CROSS JOIN ncat""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).select(col("doc_id"),
        explode(sequence(lit(0L), lit(3L))).as("j"))
      val coin = conv(substring(md5(concat(lit("ko"),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val c = when(col("j") < 3L,
        least(greatest(col("doc_id") % 5 + coin % 3 - 1, lit(0L)),
          lit(4L))).otherwise(coin % 5)
      TextStats.krippendorffAlphaOrdinal(
        r.select(col("doc_id").as("u"), c.as("c")), "u", "c",
        "rubric_5cat_4rater")
    },

    // ——— weighted Cohen's κ (Cohen 1968): the 2-rater ordinal-scale
    //     agreement with partial credit — linear |i−j| and quadratic
    //     (i−j)² disagreement weights from ONE confusion-cell pass;
    //     every term an exact integer (marginal products on HUGEINT ↔
    //     DECIMAL(38,0)), one division per κ. Two synthetic raters
    //     within ±1 of the unit's base category on a 5-point rubric. ———
    Q("q375_weighted_kappa",
      """WITH rat AS (
        |  SELECT
        |    least(greatest(doc_id % 5 + CAST(concat('0x',
        |      substring(md5('wka#' || CAST(doc_id AS VARCHAR)), 1, 7))
        |      AS BIGINT) % 3 - 1, 0), 4) AS a,
        |    least(greatest(doc_id % 5 + CAST(concat('0x',
        |      substring(md5('wkb#' || CAST(doc_id AS VARCHAR)), 1, 7))
        |      AS BIGINT) % 3 - 1, 0), 4) AS b
        |  FROM documents WHERE doc_id IS NOT NULL
        |), cells AS (
        |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM rat GROUP BY 1, 2
        |), rows_ AS (
        |  SELECT a, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1
        |), cols_ AS (
        |  SELECT b, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1
        |), obs AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COALESCE(SUM(n * ABS(a - b)), 0) AS BIGINT) AS swol,
        |    CAST(COALESCE(SUM(n * (a - b) * (a - b)), 0) AS BIGINT)
        |      AS swoq
        |  FROM cells
        |), expd AS (
        |  SELECT
        |    COALESCE(SUM(CAST(rn AS HUGEINT) * cn * ABS(a - b)), 0)
        |      AS swel,
        |    COALESCE(SUM(CAST(rn AS HUGEINT) * cn * (a - b) * (a - b)),
        |      0) AS sweq
        |  FROM rows_ CROSS JOIN cols_
        |)
        |SELECT n_rows,
        |  round(CAST(swol AS DOUBLE) / n_rows, 6) AS do_linear,
        |  round(CAST(swel AS DOUBLE) / (CAST(n_rows AS DOUBLE)
        |    * CAST(n_rows AS DOUBLE)), 6) AS de_linear,
        |  CASE WHEN swel > 0 THEN
        |    round(CAST(swel - CAST(n_rows AS HUGEINT) * swol AS DOUBLE)
        |      / CAST(swel AS DOUBLE), 6) END AS kappa_linear,
        |  round(CAST(swoq AS DOUBLE) / n_rows, 6) AS do_quadratic,
        |  round(CAST(sweq AS DOUBLE) / (CAST(n_rows AS DOUBLE)
        |    * CAST(n_rows AS DOUBLE)), 6) AS de_quadratic,
        |  CASE WHEN sweq > 0 THEN
        |    round(CAST(sweq - CAST(n_rows AS HUGEINT) * swoq AS DOUBLE)
        |      / CAST(sweq AS DOUBLE), 6) END AS kappa_quadratic
        |FROM obs CROSS JOIN expd""".stripMargin) { (s, dir) =>
      def coin(tag: String) = conv(substring(md5(concat(lit(tag),
        col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long")
      def cat(tag: String) =
        least(greatest(col("doc_id") % 5 + coin(tag) % 3 - 1, lit(0L)),
          lit(4L))
      TextStats.weightedKappa(
        docs(s, dir).filter(col("doc_id").isNotNull)
          .select(cat("wka#").as("a"), cat("wkb#").as("b")),
        "a", "b")
    },

    // ——— Cronbach's α (1951): internal consistency of a 4-item score
    //     panel — all four items track the unit's base score (±3
    //     noise, per-item constant offset, which α ignores), so the
    //     panel is coherent and α lands high. Exact integer variance
    //     forms n·Σx²−(Σx)² on HUGEINT; one division. ———
    Q("q378_cronbach_alpha",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u, j,
        |    (doc_id * 31) % 50 + CAST(concat('0x', substring(md5('cr#'
        |      || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |      1, 7)) AS BIGINT) % 7 - 3 + j AS x
        |  FROM r
        |), items AS (
        |  -- jmn = min DISTINCT units per item, jmx = max raw count:
        |  -- jmn = jmx = n_units is the exactly-once crossing gate
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    COALESCE(SUM(CAST(jn AS HUGEINT) * sxx
        |      - CAST(sx AS HUGEINT) * sx), 0) AS sa,
        |    MIN(jd) AS jmn, MAX(jn) AS jmx
        |  FROM (SELECT j, CAST(COUNT(*) AS BIGINT) AS jn,
        |    CAST(COUNT(DISTINCT u) AS BIGINT) AS jd,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx FROM rat GROUP BY 1)
        |), units AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(um) AS BIGINT) AS n_ratings,
        |    SUM(CAST(t AS HUGEINT)) AS st,
        |    SUM(CAST(t AS HUGEINT) * t) AS stt,
        |    MIN(ud) AS umn, MAX(um) AS umx
        |  FROM (SELECT u, CAST(COUNT(*) AS BIGINT) AS um,
        |    CAST(COUNT(DISTINCT j) AS BIGINT) AS ud,
        |    CAST(SUM(x) AS BIGINT) AS t FROM rat GROUP BY 1)
        |)
        |SELECT n_units, n_items, n_ratings,
        |  CASE WHEN n_units > 0 THEN
        |    round(CAST(sa AS DOUBLE) / (CAST(n_units AS DOUBLE)
        |      * CAST(n_units AS DOUBLE)), 6) END AS sum_item_var,
        |  CASE WHEN n_units > 0 THEN
        |    round(CAST(CAST(n_units AS HUGEINT) * stt - st * st
        |      AS DOUBLE) / (CAST(n_units AS DOUBLE)
        |      * CAST(n_units AS DOUBLE)), 6) END AS total_var,
        |  CASE WHEN n_items >= 2
        |      AND CAST(n_units AS HUGEINT) * stt - st * st <> 0
        |      AND jmn = jmx AND jmx = n_units
        |      AND umn = umx AND umx = n_items THEN
        |    round(CAST(CAST(n_items AS HUGEINT)
        |        * ((CAST(n_units AS HUGEINT) * stt - st * st) - sa)
        |        AS DOUBLE)
        |      / CAST(CAST(n_items - 1 AS HUGEINT)
        |        * (CAST(n_units AS HUGEINT) * stt - st * st)
        |        AS DOUBLE), 6) END AS alpha
        |FROM units CROSS JOIN items""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
      val coin = conv(substring(md5(concat(lit("cr#"),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val x = (col("doc_id") * 31 % 50) + coin % 7 - 3 + col("j")
      TextStats.cronbachAlpha(
        r.select(col("doc_id").as("u"), col("j"), x.as("x")),
        "u", "j", "x")
    },

    // ——— ICC(2,1) (Shrout & Fleiss 1979, two-way random, absolute
    //     agreement, single rater): the same coherent 4-judge panel
    //     but with SYSTEMATIC per-judge offsets (+3j), which this ICC
    //     — unlike Cronbach/consistency forms — charges against
    //     agreement. One integer rational from the two-way ANOVA
    //     identity; MSR/MSC/MSE reported as diagnostics. ———
    Q("q379_icc21",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u, j,
        |    (doc_id * 31) % 50 + CAST(concat('0x', substring(md5('ic#'
        |      || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |      1, 7)) AS BIGINT) % 5 - 2 + 3 * j AS x
        |  FROM r
        |), units AS (
        |  -- min DISTINCT / max raw per margin: exactly-once gate
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(CAST(t AS HUGEINT) * t) AS stt,
        |    MIN(ud) AS umn, MAX(um) AS umx
        |  FROM (SELECT u, CAST(COUNT(*) AS BIGINT) AS um,
        |    CAST(COUNT(DISTINCT j) AS BIGINT) AS ud,
        |    CAST(SUM(x) AS BIGINT) AS t FROM rat GROUP BY 1)
        |), raters AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_raters,
        |    SUM(CAST(g AS HUGEINT) * g) AS sgg,
        |    MIN(jd) AS jmn, MAX(jn) AS jmx
        |  FROM (SELECT j, CAST(COUNT(*) AS BIGINT) AS jn,
        |    CAST(COUNT(DISTINCT u) AS BIGINT) AS jd,
        |    CAST(SUM(x) AS BIGINT) AS g FROM rat GROUP BY 1)
        |), grand AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_ratings,
        |    SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM rat
        |), fin AS (
        |  SELECT n_units, n_raters, n_ratings,
        |    CAST(n_ratings AS HUGEINT) * sxx - s * s AS t,
        |    CAST(n_units AS HUGEINT) * stt - s * s AS rr,
        |    CAST(n_raters AS HUGEINT) * sgg - s * s AS cc,
        |    CASE WHEN umn = umx AND umx = n_raters
        |      AND jmn = jmx AND jmx = n_units
        |      AND n_units >= 2 AND n_raters >= 2
        |      THEN 1 ELSE 0 END AS ok
        |  FROM units CROSS JOIN raters CROSS JOIN grand
        |)
        |SELECT n_units, n_raters, n_ratings,
        |  CASE WHEN ok = 1 THEN round(CAST(rr AS DOUBLE)
        |    / CAST(CAST(n_ratings AS HUGEINT) * (n_units - 1)
        |      AS DOUBLE), 6) END AS msr,
        |  CASE WHEN ok = 1 THEN round(CAST(cc AS DOUBLE)
        |    / CAST(CAST(n_ratings AS HUGEINT) * (n_raters - 1)
        |      AS DOUBLE), 6) END AS msc,
        |  CASE WHEN ok = 1 THEN round(CAST(t - rr - cc AS DOUBLE)
        |    / CAST(CAST(n_ratings AS HUGEINT) * (n_units - 1)
        |      * (n_raters - 1) AS DOUBLE), 6) END AS mse,
        |  CASE WHEN ok = 1
        |      AND CAST(n_units AS HUGEINT) * rr * (n_raters - 1)
        |        + CAST(n_units AS HUGEINT) * (n_raters - 1)
        |          * (t - rr - cc)
        |        + CAST(n_raters AS HUGEINT)
        |          * (cc * (n_units - 1) - (t - rr - cc)) <> 0 THEN
        |    round(CAST(CAST(n_units AS HUGEINT)
        |        * (rr * (n_raters - 1) - (t - rr - cc)) AS DOUBLE)
        |      / CAST(CAST(n_units AS HUGEINT) * rr * (n_raters - 1)
        |        + CAST(n_units AS HUGEINT) * (n_raters - 1)
        |          * (t - rr - cc)
        |        + CAST(n_raters AS HUGEINT)
        |          * (cc * (n_units - 1) - (t - rr - cc)) AS DOUBLE),
        |      6) END AS icc
        |FROM fin""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
      val coin = conv(substring(md5(concat(lit("ic#"),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val x = (col("doc_id") * 31 % 50) + coin % 5 - 2 + col("j") * 3
      TextStats.icc21(
        r.select(col("doc_id").as("u"), col("j"), x.as("x")),
        "u", "j", "x")
    },

    // ——— Gwet's AC1 (2008): the kappa-paradox-proof agreement
    //     coefficient — 4 raters, skewed prevalence (80% of units in
    //     the majority category, the normal quality-gate shape where
    //     κ collapses), 85% adherence. Per-unit agreement ratios and
    //     per-(unit, category) prevalence fractions 1e-9-quantized;
    //     three dictionary rollups, no windows. ———
    Q("q391_gwet_ac1",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u,
        |    CASE WHEN CAST(concat('0x', substring(md5('ga#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 100 < 85
        |      THEN CASE WHEN doc_id % 10 < 8 THEN 0
        |        ELSE 1 + (doc_id % 2) END
        |      ELSE CAST(concat('0x', substring(md5('gb#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 3
        |    END AS cat
        |  FROM r
        |), cells AS MATERIALIZED (
        |  SELECT u, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM rat GROUP BY 1, 2
        |), units AS MATERIALIZED (
        |  SELECT u, CAST(SUM(c) AS BIGINT) AS m,
        |    CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM cells GROUP BY 1 HAVING SUM(c) >= 2
        |), us AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(COALESCE(SUM(CAST(round(1e9 * CAST(ss - m AS DOUBLE)
        |      / CAST(m * (m - 1) AS DOUBLE)) AS BIGINT)), 0) AS BIGINT)
        |      AS spa
        |  FROM units
        |), prev AS (
        |  SELECT cat, CAST(SUM(CAST(round(1e9 * CAST(c AS DOUBLE)
        |    / CAST(m AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sc
        |  FROM cells JOIN units USING (u) GROUP BY 1
        |), cs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats,
        |    CAST(COALESCE(SUM(CAST(round(1e9
        |      * (CAST(sc AS DOUBLE) / 1e9 / n_units)
        |      * (CAST(1.0 AS DOUBLE)
        |        - CAST(sc AS DOUBLE) / 1e9 / n_units)) AS BIGINT)), 0)
        |      AS BIGINT) AS sqt
        |  FROM prev CROSS JOIN us
        |)
        |SELECT 'ac1_panel' AS measure, n_units, n_cats,
        |  CASE WHEN n_units > 0 THEN
        |    round(CAST(spa AS DOUBLE) / 1e9 / n_units, 6) END
        |    AS p_observed,
        |  CASE WHEN n_units > 0 AND n_cats >= 2 THEN
        |    round(CAST(sqt AS DOUBLE) / 1e9 / (n_cats - 1), 6) END
        |    AS p_expected,
        |  CASE WHEN n_units > 0 AND n_cats >= 2 THEN
        |    round((CAST(spa AS DOUBLE) / 1e9 / n_units
        |      - CAST(sqt AS DOUBLE) / 1e9 / (n_cats - 1))
        |      / (CAST(1.0 AS DOUBLE)
        |        - CAST(sqt AS DOUBLE) / 1e9 / (n_cats - 1)), 6) END
        |    AS ac1
        |FROM us CROSS JOIN cs""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
      def coin(tag: String) = conv(substring(md5(concat(lit(tag),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val base = when(col("doc_id") % 10 < 8, 0L)
        .otherwise(lit(1L) + col("doc_id") % 2)
      val cat = when(coin("ga#") % 100 < 85, base)
        .otherwise(coin("gb#") % 3)
      TextStats.gwetAC1(
        r.select(col("doc_id").as("u"), cat.as("cat")),
        "u", "cat", "ac1_panel")
    },

    // ——— Gwet's AC2, quadratic weights: the ordinal completion of
    //     q391 — 4 raters on a 5-point rubric, ratings mostly within
    //     ±1 of the unit's base level (near-misses count partial
    //     agreement). Weighted cross terms 1e-9-quantized per
    //     (unit, k, l) pair; the weight grid per cell; one unit-keyed
    //     cell self-join bounded by C² = 25. ———
    Q("q392_gwet_ac2",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rat AS (
        |  SELECT doc_id AS u,
        |    CASE WHEN CAST(concat('0x', substring(md5('g2a#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 100 < 80
        |      THEN LEAST(4, GREATEST(0, (doc_id * 7) % 5
        |        + CAST(concat('0x', substring(md5('g2b#'
        |          || CAST(doc_id AS VARCHAR) || '#'
        |          || CAST(j AS VARCHAR)), 1, 7)) AS BIGINT) % 3 - 1))
        |      ELSE CAST(concat('0x', substring(md5('g2c#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 5
        |    END AS cat
        |  FROM r
        |), cells AS MATERIALIZED (
        |  SELECT u, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM rat GROUP BY 1, 2
        |), units AS MATERIALIZED (
        |  SELECT u, CAST(SUM(c) AS BIGINT) AS m
        |  FROM cells GROUP BY 1 HAVING SUM(c) >= 2
        |), scale AS (
        |  SELECT CAST(MAX(cat) - MIN(cat) AS BIGINT) AS span,
        |    CAST(COUNT(DISTINCT cat) AS BIGINT) AS n_cats
        |  FROM cells JOIN units USING (u)
        |), pt AS (
        |  SELECT a.u, units.m,
        |    CAST(round(1e9 * (CAST(1.0 AS DOUBLE)
        |        - (CAST(abs(a.cat - b.cat) AS DOUBLE) / span)
        |          * (CAST(abs(a.cat - b.cat) AS DOUBLE) / span))
        |      * CAST(a.c * b.c AS DOUBLE)) AS BIGINT) AS qw
        |  FROM cells a JOIN cells b ON a.u = b.u
        |    JOIN units ON a.u = units.u
        |    CROSS JOIN scale
        |), us AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(COALESCE(SUM(qpa), 0) AS BIGINT) AS spa
        |  FROM (
        |    SELECT CAST(round(CAST(SUM(qw) - 1000000000 * m AS DOUBLE)
        |      / CAST(m * (m - 1) AS DOUBLE)) AS BIGINT) AS qpa
        |    FROM pt GROUP BY u, m)
        |), cd AS MATERIALIZED (
        |  SELECT DISTINCT cat FROM cells JOIN units USING (u)
        |), grid AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(1e9
        |    * (CAST(1.0 AS DOUBLE)
        |      - (CAST(abs(a.cat - b.cat) AS DOUBLE) / span)
        |        * (CAST(abs(a.cat - b.cat) AS DOUBLE) / span)))
        |    AS BIGINT)), 0) AS BIGINT) AS stw
        |  FROM cd a CROSS JOIN cd b CROSS JOIN scale
        |), prev AS (
        |  SELECT cat, CAST(SUM(CAST(round(1e9 * CAST(c AS DOUBLE)
        |    / CAST(m AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sc
        |  FROM cells JOIN units USING (u) GROUP BY 1
        |), cs AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(1e9
        |      * (CAST(sc AS DOUBLE) / 1e9 / n_units)
        |      * (CAST(1.0 AS DOUBLE)
        |        - CAST(sc AS DOUBLE) / 1e9 / n_units)) AS BIGINT)), 0)
        |      AS BIGINT) AS sqt
        |  FROM prev CROSS JOIN us
        |)
        |SELECT 'ac2_panel' AS measure, n_units, n_cats,
        |  CAST(2 AS BIGINT) AS power,
        |  CASE WHEN n_units > 0 AND n_cats >= 2 AND span > 0 THEN
        |    round(CAST(spa AS DOUBLE) / 1e9 / n_units, 6) END
        |    AS p_observed,
        |  CASE WHEN n_units > 0 AND n_cats >= 2 AND span > 0 THEN
        |    round((CAST(stw AS DOUBLE) / 1e9
        |        / CAST(n_cats * (n_cats - 1) AS DOUBLE))
        |      * (CAST(sqt AS DOUBLE) / 1e9), 6) END AS p_expected,
        |  CASE WHEN n_units > 0 AND n_cats >= 2 AND span > 0 THEN
        |    round((CAST(spa AS DOUBLE) / 1e9 / n_units
        |      - (CAST(stw AS DOUBLE) / 1e9
        |          / CAST(n_cats * (n_cats - 1) AS DOUBLE))
        |        * (CAST(sqt AS DOUBLE) / 1e9))
        |      / (CAST(1.0 AS DOUBLE)
        |        - (CAST(stw AS DOUBLE) / 1e9
        |            / CAST(n_cats * (n_cats - 1) AS DOUBLE))
        |          * (CAST(sqt AS DOUBLE) / 1e9)), 6) END AS ac2
        |FROM us CROSS JOIN scale CROSS JOIN grid CROSS JOIN cs""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
      def coin(tag: String) = conv(substring(md5(concat(lit(tag),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val base = col("doc_id") * 7 % 5
      val cat = when(coin("g2a#") % 100 < 80,
        least(lit(4L), greatest(lit(0L), base + coin("g2b#") % 3 - 1)))
        .otherwise(coin("g2c#") % 5)
      TextStats.gwetAC2(
        r.select(col("doc_id").as("u"), cat.as("cat")),
        "u", "cat", "ac2_panel", power = 2)
    },

    // ——— bootstrap UNCERTAINTY for Gwet's AC2 (quadratic weights)
    //     on the q392 ordinal panel — completes the q393/q49
    //     reliability-interval family on its third measure: the
    //     instrument (C, span, T_w) is fixed; per-resample pa reuses
    //     the per-unit weighted-agreement terms (the C²-bounded pair
    //     join runs ONCE on the full panel, never per resample). ———
    Q("q397_ac2_bootstrap_ci",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rat AS MATERIALIZED (
        |  SELECT doc_id AS u,
        |    CASE WHEN CAST(concat('0x', substring(md5('g2a#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 100 < 80
        |      THEN LEAST(4, GREATEST(0, (doc_id * 7) % 5
        |        + CAST(concat('0x', substring(md5('g2b#'
        |          || CAST(doc_id AS VARCHAR) || '#'
        |          || CAST(j AS VARCHAR)), 1, 7)) AS BIGINT) % 3 - 1))
        |      ELSE CAST(concat('0x', substring(md5('g2c#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 5
        |    END AS cat
        |  FROM r
        |), cells0 AS MATERIALIZED (
        |  SELECT u, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM rat GROUP BY 1, 2
        |), units AS MATERIALIZED (
        |  SELECT u, CAST(SUM(c) AS BIGINT) AS m
        |  FROM cells0 GROUP BY 1 HAVING SUM(c) >= 2
        |), cells AS MATERIALIZED (
        |  SELECT cells0.u, cells0.cat, cells0.c, units.m
        |  FROM cells0 JOIN units USING (u)
        |), scale AS MATERIALIZED (
        |  SELECT CAST(MAX(cat) - MIN(cat) AS BIGINT) AS span,
        |    CAST(COUNT(DISTINCT cat) AS BIGINT) AS n_cats
        |  FROM cells
        |), cd AS MATERIALIZED (
        |  SELECT DISTINCT cat FROM cells
        |), grid AS MATERIALIZED (
        |  SELECT CAST(COALESCE(SUM(CAST(round(1e9
        |    * (CAST(1.0 AS DOUBLE)
        |      - (CAST(abs(a.cat - b.cat) AS DOUBLE) / span)
        |        * (CAST(abs(a.cat - b.cat) AS DOUBLE) / span)))
        |    AS BIGINT)), 0) AS BIGINT) AS stw
        |  FROM cd a CROSS JOIN cd b CROSS JOIN scale
        |), pt AS (
        |  SELECT a.u, units.m,
        |    CAST(round(1e9 * (CAST(1.0 AS DOUBLE)
        |        - (CAST(abs(a.cat - b.cat) AS DOUBLE) / span)
        |          * (CAST(abs(a.cat - b.cat) AS DOUBLE) / span))
        |      * CAST(a.c * b.c AS DOUBLE)) AS BIGINT) AS qw
        |  FROM cells0 a JOIN cells0 b ON a.u = b.u
        |    JOIN units ON a.u = units.u
        |    CROSS JOIN scale
        |), uterm AS MATERIALIZED (
        |  SELECT u, m, CAST(round(CAST(SUM(qw) - 1000000000 * m
        |      AS DOUBLE) / CAST(m * (m - 1) AS DOUBLE)) AS BIGINT)
        |      AS qpa
        |  FROM pt GROUP BY u, m
        |), uw AS MATERIALIZED (
        |  SELECT r, CAST(SUM(w) AS BIGINT) AS nu,
        |    CAST(SUM(w * qpa) AS BIGINT) AS spa
        |  FROM (
        |    SELECT r, qpa, CASE WHEN uu < 3679 THEN 0
        |      WHEN uu < 7358 THEN 1 WHEN uu < 9197 THEN 2
        |      WHEN uu < 9810 THEN 3 WHEN uu < 9963 THEN 4
        |      ELSE 5 END AS w
        |    FROM (
        |      SELECT u, qpa, r, CAST(concat('0x', substring(md5('a2b#'
        |        || CAST(r AS VARCHAR) || '#' || CAST(u AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 10000 AS uu
        |      FROM (SELECT u, qpa, unnest(range(0, 200)) AS r
        |        FROM uterm)))
        |  GROUP BY 1 HAVING SUM(w) > 0
        |), cw AS MATERIALIZED (
        |  SELECT r, cat, CAST(SUM(w * qp) AS BIGINT) AS sc
        |  FROM (
        |    SELECT r, cat, qp, CASE WHEN uu < 3679 THEN 0
        |      WHEN uu < 7358 THEN 1 WHEN uu < 9197 THEN 2
        |      WHEN uu < 9810 THEN 3 WHEN uu < 9963 THEN 4
        |      ELSE 5 END AS w
        |    FROM (
        |      SELECT u, cat, qp, r, CAST(concat('0x', substring(md5('a2b#'
        |        || CAST(r AS VARCHAR) || '#' || CAST(u AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 10000 AS uu
        |      FROM (SELECT u, cat, CAST(round(1e9 * CAST(c AS DOUBLE)
        |        / CAST(m AS DOUBLE)) AS BIGINT) AS qp,
        |        unnest(range(0, 200)) AS r FROM cells)))
        |  GROUP BY 1, 2
        |), sqt AS (
        |  SELECT cw.r, CAST(COALESCE(SUM(CAST(round(1e9
        |      * (CAST(sc AS DOUBLE) / 1e9 / nu)
        |      * (CAST(1.0 AS DOUBLE)
        |        - CAST(sc AS DOUBLE) / 1e9 / nu)) AS BIGINT)), 0)
        |      AS BIGINT) AS sqt
        |  FROM cw JOIN uw ON cw.r = uw.r GROUP BY 1
        |), qv AS MATERIALIZED (
        |  SELECT uw.r, CAST(round(1e9
        |    * (CAST(spa AS DOUBLE) / 1e9 / nu
        |       - (CAST(stw AS DOUBLE) / 1e9
        |           / CAST(n_cats * (n_cats - 1) AS DOUBLE))
        |         * (CAST(sqt AS DOUBLE) / 1e9))
        |    / (CAST(1.0 AS DOUBLE)
        |       - (CAST(stw AS DOUBLE) / 1e9
        |           / CAST(n_cats * (n_cats - 1) AS DOUBLE))
        |         * (CAST(sqt AS DOUBLE) / 1e9))) AS BIGINT) AS v
        |  FROM uw JOIN sqt ON uw.r = sqt.r
        |  CROSS JOIN scale CROSS JOIN grid
        |  WHERE n_cats >= 2 AND span > 0
        |), st AS MATERIALIZED (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eff,
        |    CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sv,
        |    COALESCE(SUM(CAST(v AS HUGEINT) * v), CAST(0 AS HUGEINT))
        |      AS svv
        |  FROM qv
        |), rk AS (
        |  SELECT x.r, x.v, CAST(COUNT(*) AS BIGINT) AS rk
        |  FROM qv x JOIN qv y
        |    ON (y.v < x.v OR (y.v = x.v AND y.r <= x.r))
        |  GROUP BY 1, 2
        |), ci AS (
        |  SELECT
        |    MAX(CASE WHEN rk = (n_eff + 39) // 40 THEN
        |      round(CAST(v AS DOUBLE) / 1e9, 6) END) AS ci_lo,
        |    MAX(CASE WHEN rk = (39 * n_eff + 39) // 40 THEN
        |      round(CAST(v AS DOUBLE) / 1e9, 6) END) AS ci_hi
        |  FROM rk CROSS JOIN st
        |), pus AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(COALESCE(SUM(qpa), 0) AS BIGINT) AS pspa
        |  FROM uterm
        |), pprev AS (
        |  SELECT cat, CAST(SUM(CAST(round(1e9 * CAST(c AS DOUBLE)
        |    / CAST(m AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sc
        |  FROM cells GROUP BY 1
        |), pcs AS (
        |  SELECT CAST(COALESCE(SUM(CAST(round(1e9
        |      * (CAST(sc AS DOUBLE) / 1e9 / n_units)
        |      * (CAST(1.0 AS DOUBLE)
        |        - CAST(sc AS DOUBLE) / 1e9 / n_units)) AS BIGINT)), 0)
        |      AS BIGINT) AS sqt
        |  FROM pprev CROSS JOIN pus
        |)
        |SELECT 'ac2_panel' AS measure, 'ac2' AS stat, pus.n_units,
        |  scale.n_cats, CAST(200 AS BIGINT) AS b_resamples, st.n_eff,
        |  CASE WHEN pus.n_units > 0 AND scale.n_cats >= 2
        |      AND scale.span > 0 THEN
        |    round((CAST(pspa AS DOUBLE) / 1e9 / pus.n_units
        |      - (CAST(stw AS DOUBLE) / 1e9
        |          / CAST(scale.n_cats * (scale.n_cats - 1) AS DOUBLE))
        |        * (CAST(pcs.sqt AS DOUBLE) / 1e9))
        |      / (CAST(1.0 AS DOUBLE)
        |        - (CAST(stw AS DOUBLE) / 1e9
        |            / CAST(scale.n_cats * (scale.n_cats - 1)
        |              AS DOUBLE))
        |          * (CAST(pcs.sqt AS DOUBLE) / 1e9)), 6) END
        |    AS estimate,
        |  CASE WHEN st.n_eff >= 2 THEN
        |    round(sqrt(greatest((CAST(svv AS DOUBLE) / n_eff
        |      - (CAST(sv AS DOUBLE) / n_eff)
        |        * (CAST(sv AS DOUBLE) / n_eff))
        |      * n_eff / (n_eff - 1), CAST(0.0 AS DOUBLE))) / 1e9, 6)
        |    END AS se,
        |  ci.ci_lo, ci.ci_hi
        |FROM pus CROSS JOIN pcs CROSS JOIN scale CROSS JOIN grid
        |  CROSS JOIN st CROSS JOIN ci""".stripMargin) { (s, dir) =>
      val r = docs(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
      def coin(tag: String) = conv(substring(md5(concat(lit(tag),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val base = col("doc_id") * 7 % 5
      val cat = when(coin("g2a#") % 100 < 80,
        least(lit(4L), greatest(lit(0L), base + coin("g2b#") % 3 - 1)))
        .otherwise(coin("g2c#") % 5)
      TextStats.agreementBootstrapCI(
        r.select(col("doc_id").as("u"), cat.as("cat")),
        "u", "cat", "ac2_panel", measure = "ac2", b = 200,
        power = 2, seed = "a2b")
    },

    // ——— interpolated Kneser–Ney bigram scoring (d = 0.75): the
    //     continuation-probability lower order (distinct left
    //     contexts, not raw frequency) that stops boilerplate tokens
    //     with one fixed context from inflating LM scores — the
    //     quality rung above q95's MLE bigram. Three dictionaries
    //     from ONE (w1, w2) count; mean ln P_KN per doc, round(6)
    //     absorbing double-sum reorder (q89 discipline). ———
    Q("q382_kn_bigram",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |), b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
        |    unnest(list_transform(range(1, len(ts)), i -> ts[i + 1]))
        |      AS w2
        |  FROM t WHERE len(ts) >= 2
        |), bf AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2
        |), fc AS (
        |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS cl,
        |    CAST(COUNT(*) AS BIGINT) AS nr
        |  FROM bf GROUP BY 1
        |), tw AS (
        |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS nl FROM bf GROUP BY 1
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM bf
        |)
        |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(AVG(ln(
        |    (GREATEST(CAST(cb AS DOUBLE) - CAST(0.75 AS DOUBLE),
        |       CAST(0 AS DOUBLE))
        |     + CAST(0.75 AS DOUBLE) * nr * nl / bt) / cl)), 6)
        |    AS avg_kn_logprob
        |FROM b JOIN bf USING (w1, w2) JOIN fc USING (w1)
        |JOIN tw USING (w2) CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      TextStats.knBigramLogProb(
        docs(s, dir).filter(col("text").isNotNull &&
          col("doc_id").isNotNull))
    },

    // ——— bootstrap UNCERTAINTY for Gwet's AC1: the q391 panel with
    //     a deterministic Poisson(1) unit bootstrap (the q389 coin)
    //     — 200 resamples, each recomputing AC1 from weighted
    //     versions of the same 1e-9-quantized dictionary rollups,
    //     the category count C held fixed (the instrument is not
    //     resampled). SE = sample sd of resample coefficients; CI =
    //     q389 nearest-rank 2.5/97.5 by exact long comparison. The
    //     point estimate is computed INLINE from the shared
    //     persisted frames with gwetAC1's verbatim arithmetic;
    //     equality with the point operator is a spec-pinned law. ———
    Q("q393_ac1_bootstrap_ci",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j
        |  FROM documents WHERE doc_id IS NOT NULL
        |), rat AS MATERIALIZED (
        |  SELECT doc_id AS u,
        |    CASE WHEN CAST(concat('0x', substring(md5('ga#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 100 < 85
        |      THEN CASE WHEN doc_id % 10 < 8 THEN 0
        |        ELSE 1 + (doc_id % 2) END
        |      ELSE CAST(concat('0x', substring(md5('gb#'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 3
        |    END AS cat
        |  FROM r
        |), cells0 AS MATERIALIZED (
        |  SELECT u, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM rat GROUP BY 1, 2
        |), units AS MATERIALIZED (
        |  SELECT u, CAST(SUM(c) AS BIGINT) AS m,
        |    CAST(SUM(c * c) AS BIGINT) AS ss
        |  FROM cells0 GROUP BY 1 HAVING SUM(c) >= 2
        |), cells AS MATERIALIZED (
        |  SELECT cells0.u, cells0.cat, cells0.c, units.m
        |  FROM cells0 JOIN units USING (u)
        |), consts AS (
        |  SELECT CAST(COUNT(DISTINCT cat) AS BIGINT) AS n_cats
        |  FROM cells
        |), uterm AS MATERIALIZED (
        |  SELECT u, CAST(round(1e9 * CAST(ss - m AS DOUBLE)
        |    / CAST(m * (m - 1) AS DOUBLE)) AS BIGINT) AS qpa
        |  FROM units
        |), uw AS MATERIALIZED (
        |  SELECT r, CAST(SUM(w) AS BIGINT) AS nu,
        |    CAST(SUM(w * qpa) AS BIGINT) AS spa
        |  FROM (
        |    SELECT r, qpa, CASE WHEN uu < 3679 THEN 0
        |      WHEN uu < 7358 THEN 1 WHEN uu < 9197 THEN 2
        |      WHEN uu < 9810 THEN 3 WHEN uu < 9963 THEN 4
        |      ELSE 5 END AS w
        |    FROM (
        |      SELECT u, qpa, r, CAST(concat('0x', substring(md5('a1b#'
        |        || CAST(r AS VARCHAR) || '#' || CAST(u AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 10000 AS uu
        |      FROM (SELECT u, qpa, unnest(range(0, 200)) AS r
        |        FROM uterm)))
        |  GROUP BY 1 HAVING SUM(w) > 0
        |), cw AS MATERIALIZED (
        |  SELECT r, cat, CAST(SUM(w * qp) AS BIGINT) AS sc
        |  FROM (
        |    SELECT r, cat, qp, CASE WHEN uu < 3679 THEN 0
        |      WHEN uu < 7358 THEN 1 WHEN uu < 9197 THEN 2
        |      WHEN uu < 9810 THEN 3 WHEN uu < 9963 THEN 4
        |      ELSE 5 END AS w
        |    FROM (
        |      SELECT u, cat, qp, r, CAST(concat('0x', substring(md5('a1b#'
        |        || CAST(r AS VARCHAR) || '#' || CAST(u AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 10000 AS uu
        |      FROM (SELECT u, cat, CAST(round(1e9 * CAST(c AS DOUBLE)
        |        / CAST(m AS DOUBLE)) AS BIGINT) AS qp,
        |        unnest(range(0, 200)) AS r FROM cells)))
        |  GROUP BY 1, 2
        |), sqt AS (
        |  SELECT cw.r, CAST(COALESCE(SUM(CAST(round(1e9
        |      * (CAST(sc AS DOUBLE) / 1e9 / nu)
        |      * (CAST(1.0 AS DOUBLE)
        |        - CAST(sc AS DOUBLE) / 1e9 / nu)) AS BIGINT)), 0)
        |      AS BIGINT) AS sqt
        |  FROM cw JOIN uw ON cw.r = uw.r GROUP BY 1
        |), qv AS MATERIALIZED (
        |  SELECT uw.r, CAST(round(1e9
        |    * (CAST(spa AS DOUBLE) / 1e9 / nu
        |       - CAST(sqt AS DOUBLE) / 1e9 / (n_cats - 1))
        |    / (CAST(1.0 AS DOUBLE)
        |       - CAST(sqt AS DOUBLE) / 1e9 / (n_cats - 1)))
        |    AS BIGINT) AS v
        |  FROM uw JOIN sqt ON uw.r = sqt.r CROSS JOIN consts
        |  WHERE n_cats >= 2
        |), st AS MATERIALIZED (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eff,
        |    CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sv,
        |    COALESCE(SUM(CAST(v AS HUGEINT) * v), CAST(0 AS HUGEINT))
        |      AS svv
        |  FROM qv
        |), rk AS (
        |  SELECT x.r, x.v, CAST(COUNT(*) AS BIGINT) AS rk
        |  FROM qv x JOIN qv y
        |    ON (y.v < x.v OR (y.v = x.v AND y.r <= x.r))
        |  GROUP BY 1, 2
        |), ci AS (
        |  SELECT
        |    MAX(CASE WHEN rk = (n_eff + 39) // 40 THEN
        |      round(CAST(v AS DOUBLE) / 1e9, 6) END) AS ci_lo,
        |    MAX(CASE WHEN rk = (39 * n_eff + 39) // 40 THEN
        |      round(CAST(v AS DOUBLE) / 1e9, 6) END) AS ci_hi
        |  FROM rk CROSS JOIN st
        |), pus AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(COALESCE(SUM(CAST(round(1e9 * CAST(ss - m AS DOUBLE)
        |      / CAST(m * (m - 1) AS DOUBLE)) AS BIGINT)), 0) AS BIGINT)
        |      AS pspa
        |  FROM units
        |), pprev AS (
        |  SELECT cat, CAST(SUM(CAST(round(1e9 * CAST(c AS DOUBLE)
        |    / CAST(m AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sc
        |  FROM cells GROUP BY 1
        |), pcs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats,
        |    CAST(COALESCE(SUM(CAST(round(1e9
        |      * (CAST(sc AS DOUBLE) / 1e9 / n_units)
        |      * (CAST(1.0 AS DOUBLE)
        |        - CAST(sc AS DOUBLE) / 1e9 / n_units)) AS BIGINT)), 0)
        |      AS BIGINT) AS sqt
        |  FROM pprev CROSS JOIN pus
        |)
        |SELECT 'ac1_panel' AS measure, 'ac1' AS stat, pus.n_units,
        |  pcs.n_cats, CAST(200 AS BIGINT) AS b_resamples, st.n_eff,
        |  CASE WHEN pus.n_units > 0 AND pcs.n_cats >= 2 THEN
        |    round((CAST(pspa AS DOUBLE) / 1e9 / pus.n_units
        |      - CAST(pcs.sqt AS DOUBLE) / 1e9 / (pcs.n_cats - 1))
        |      / (CAST(1.0 AS DOUBLE)
        |        - CAST(pcs.sqt AS DOUBLE) / 1e9 / (pcs.n_cats - 1)),
        |      6) END AS estimate,
        |  CASE WHEN st.n_eff >= 2 THEN
        |    round(sqrt(greatest((CAST(svv AS DOUBLE) / n_eff
        |      - (CAST(sv AS DOUBLE) / n_eff)
        |        * (CAST(sv AS DOUBLE) / n_eff))
        |      * n_eff / (n_eff - 1), CAST(0.0 AS DOUBLE))) / 1e9, 6)
        |    END AS se,
        |  ci.ci_lo, ci.ci_hi
        |FROM pus CROSS JOIN pcs CROSS JOIN st CROSS JOIN ci"""
        .stripMargin) { (s, dir) =>
      val r = docs(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
      def coin(tag: String) = conv(substring(md5(concat(lit(tag),
        col("doc_id").cast("string"), lit("#"),
        col("j").cast("string"))), 1, 7), 16, 10).cast("long")
      val base = when(col("doc_id") % 10 < 8, 0L)
        .otherwise(lit(1L) + col("doc_id") % 2)
      val cat = when(coin("ga#") % 100 < 85, base)
        .otherwise(coin("gb#") % 3)
      TextStats.agreementBootstrapCI(
        r.select(col("doc_id").as("u"), cat.as("cat")),
        "u", "cat", "ac1_panel", measure = "ac1", b = 200,
        seed = "a1b")
    },

    // ——— bootstrap UNCERTAINTY for Krippendorff's α on the q319
    //     missing-data panel (4 raters, each skipping ~30% of units,
    //     so sub-2-rating units drop and resample sizes vary): the
    //     same deterministic Poisson(1) unit bootstrap — per
    //     resample, D_o reuses the per-unit 1e-9-quantized
    //     disagreement sums and D_e the weighted EXACT-integer
    //     category marginals (HUGEINT squares); degenerate resamples
    //     (n < 2 or single-category) drop from the CI. Fills the
    //     one unused battery id. ———
    Q("q49_alpha_bootstrap_ci",
      """WITH r AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS j FROM documents
        |), kept AS (
        |  SELECT doc_id, j FROM r
        |  WHERE CAST(concat('0x', substring(md5('ka'
        |    || CAST(doc_id AS VARCHAR) || '@' || CAST(j AS VARCHAR)),
        |    1, 7)) AS BIGINT) % 10 >= 3
        |), rat AS MATERIALIZED (
        |  SELECT doc_id AS u,
        |    CASE WHEN CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 100 < 75
        |      THEN CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 4
        |      ELSE (CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 4
        |        + 1 + CAST(concat('0x', substring(md5('ka'
        |        || CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 100 % 3) % 4 END AS cat
        |  FROM kept
        |), cells0 AS MATERIALIZED (
        |  SELECT u, cat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM rat GROUP BY 1, 2
        |), units AS MATERIALIZED (
        |  SELECT u, CAST(SUM(c) AS BIGINT) AS m
        |  FROM cells0 GROUP BY 1 HAVING SUM(c) >= 2
        |), cells AS MATERIALIZED (
        |  SELECT cells0.u, cells0.cat, cells0.c, units.m
        |  FROM cells0 JOIN units USING (u)
        |), uterm AS MATERIALIZED (
        |  SELECT u, m, CAST(SUM(CAST(round(1e9 * CAST(c AS DOUBLE)
        |    * CAST(m - c AS DOUBLE) / CAST(m - 1 AS DOUBLE))
        |    AS BIGINT)) AS BIGINT) AS qdo
        |  FROM cells GROUP BY 1, 2
        |), uw AS MATERIALIZED (
        |  SELECT r, CAST(SUM(w) AS BIGINT) AS nu,
        |    CAST(SUM(w * m) AS BIGINT) AS nr,
        |    CAST(SUM(w * qdo) AS BIGINT) AS spa
        |  FROM (
        |    SELECT r, m, qdo, CASE WHEN uu < 3679 THEN 0
        |      WHEN uu < 7358 THEN 1 WHEN uu < 9197 THEN 2
        |      WHEN uu < 9810 THEN 3 WHEN uu < 9963 THEN 4
        |      ELSE 5 END AS w
        |    FROM (
        |      SELECT u, m, qdo, r, CAST(concat('0x', substring(md5('kab#'
        |        || CAST(r AS VARCHAR) || '#' || CAST(u AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 10000 AS uu
        |      FROM (SELECT u, m, qdo, unnest(range(0, 200)) AS r
        |        FROM uterm)))
        |  GROUP BY 1 HAVING SUM(w) > 0
        |), cw AS MATERIALIZED (
        |  SELECT r, cat, CAST(SUM(w * c) AS BIGINT) AS nc
        |  FROM (
        |    SELECT r, cat, c, CASE WHEN uu < 3679 THEN 0
        |      WHEN uu < 7358 THEN 1 WHEN uu < 9197 THEN 2
        |      WHEN uu < 9810 THEN 3 WHEN uu < 9963 THEN 4
        |      ELSE 5 END AS w
        |    FROM (
        |      SELECT u, cat, c, r, CAST(concat('0x', substring(md5('kab#'
        |        || CAST(r AS VARCHAR) || '#' || CAST(u AS VARCHAR)),
        |        1, 7)) AS BIGINT) % 10000 AS uu
        |      FROM (SELECT u, cat, c, unnest(range(0, 200)) AS r
        |        FROM cells)))
        |  GROUP BY 1, 2
        |), s2 AS (
        |  SELECT r, COALESCE(SUM(CAST(nc AS HUGEINT) * nc),
        |    CAST(0 AS HUGEINT)) AS snc2
        |  FROM cw GROUP BY 1
        |), qv AS MATERIALIZED (
        |  SELECT uw.r, CAST(round(1e9 * (CAST(1.0 AS DOUBLE)
        |    - CAST(CAST(spa AS HUGEINT) * (nr - 1) AS DOUBLE)
        |    / (1e9 * CAST(CAST(nr AS HUGEINT) * nr - snc2 AS DOUBLE))))
        |    AS BIGINT) AS v
        |  FROM uw JOIN s2 ON uw.r = s2.r
        |  WHERE nr >= 2 AND CAST(nr AS HUGEINT) * nr <> snc2
        |), st AS MATERIALIZED (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eff,
        |    CAST(COALESCE(SUM(v), 0) AS BIGINT) AS sv,
        |    COALESCE(SUM(CAST(v AS HUGEINT) * v), CAST(0 AS HUGEINT))
        |      AS svv
        |  FROM qv
        |), rk AS (
        |  SELECT x.r, x.v, CAST(COUNT(*) AS BIGINT) AS rk
        |  FROM qv x JOIN qv y
        |    ON (y.v < x.v OR (y.v = x.v AND y.r <= x.r))
        |  GROUP BY 1, 2
        |), ci AS (
        |  SELECT
        |    MAX(CASE WHEN rk = (n_eff + 39) // 40 THEN
        |      round(CAST(v AS DOUBLE) / 1e9, 6) END) AS ci_lo,
        |    MAX(CASE WHEN rk = (39 * n_eff + 39) // 40 THEN
        |      round(CAST(v AS DOUBLE) / 1e9, 6) END) AS ci_hi
        |  FROM rk CROSS JOIN st
        |), pus AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(m) AS BIGINT) AS n
        |  FROM units
        |), psd AS (
        |  SELECT CAST(COALESCE(SUM(qdo), 0) AS BIGINT) AS sdo
        |  FROM uterm
        |), pcs AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats,
        |    COALESCE(SUM(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT)),
        |      CAST(0 AS HUGEINT)) AS sum_nc2
        |  FROM (SELECT cat, CAST(SUM(c) AS BIGINT) AS nc FROM cells
        |    GROUP BY 1)
        |)
        |SELECT 'alpha_panel' AS measure, 'alpha' AS stat,
        |  pus.n_units, pcs.n_cats, CAST(200 AS BIGINT) AS b_resamples,
        |  st.n_eff,
        |  CASE WHEN n >= 2 AND CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
        |      <> sum_nc2 THEN
        |    round(1.0 - CAST(CAST(sdo AS HUGEINT) * (n - 1) AS DOUBLE)
        |      / (1e9 * CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
        |        - sum_nc2 AS DOUBLE)), 6)
        |  END AS estimate,
        |  CASE WHEN st.n_eff >= 2 THEN
        |    round(sqrt(greatest((CAST(svv AS DOUBLE) / n_eff
        |      - (CAST(sv AS DOUBLE) / n_eff)
        |        * (CAST(sv AS DOUBLE) / n_eff))
        |      * n_eff / (n_eff - 1), CAST(0.0 AS DOUBLE))) / 1e9, 6)
        |    END AS se,
        |  ci.ci_lo, ci.ci_hi
        |FROM pus CROSS JOIN psd CROSS JOIN pcs CROSS JOIN st
        |  CROSS JOIN ci""".stripMargin) { (s, dir) =>
      val uid = col("doc_id").cast("string")
      val rid = col("j").cast("string")
      val skip = conv(substring(md5(concat(lit("ka"), uid, lit("@"),
        rid)), 1, 7), 16, 10).cast("long") % 10 < 3
      val base = conv(substring(md5(concat(lit("ka"), uid)), 1, 7),
        16, 10).cast("long") % 4
      val coin = conv(substring(md5(concat(lit("ka"), uid, lit("#"),
        rid)), 1, 7), 16, 10).cast("long") % 100
      val ratings = docs(s, dir)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(3L))).as("j"))
        .filter(!skip)
        .select(col("doc_id").as("u"),
          when(coin < 75, base)
            .otherwise((base + lit(1L) + coin % 3) % 4).as("cat"))
      TextStats.agreementBootstrapCI(ratings, "u", "cat",
        "alpha_panel", measure = "alpha", b = 200, seed = "kab")
    }
  )
}
