package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("token and stopword counting") {
    val df = Seq("The quick fox and the lazy dog").toDF("text")
    val r = df.select(
      TextStats.tokenCount($"text").as("n"),
      TextStats.stopwordCount($"text").as("stop"),
      TextStats.punctCount($"text").as("punct")).head()
    assert(r.getAs[Long]("n") === 7)
    assert(r.getAs[Long]("stop") === 3) // the, and, the
    assert(r.getAs[Long]("punct") === 0)
  }

  test("subword count approximates a BPE pre-tokenizer's view") {
    val df = Seq("don't stop-me now!").toDF("text")
    val n = df.select(TextStats.subwordCount($"text").as("n")).head().getLong(0)
    // don | ' | t | stop | - | me | now | ! → 8 pieces
    assert(n === 8)
  }

  test("fingerprint is whitespace/case-normalized") {
    val df = Seq(("A  B\tC", "a b c")).toDF("t1", "t2")
    val r = df.select(
      (TextStats.fingerprint($"t1") === TextStats.fingerprint($"t2")).as("eq")).head()
    assert(r.getAs[Boolean]("eq"))
  }

  test("langId picks the language whose markers dominate") {
    val df = Seq(
      ("en", "the cat and the dog is walking of course"),
      ("de", "der hund und die katze ist schnell"),
      ("zh", "这是一个的测试我有"),
      ("es", "el perro y la casa es de madera")
    ).toDF("expected", "text")
    val got = df.select($"expected", TextStats.langId($"text").as("got"))
      .as[(String, String)].collect()
    got.foreach { case (exp, pred) => assert(pred === exp, s"expected $exp got $pred") }
  }

  test("unigram logprob: common-token docs score above rare-token docs") {
    val docs = Seq(
      (0L, "the the the the"),          // most frequent token
      (1L, "rare1 rare2 rare3 rare4")   // singletons
    ).toDF("doc_id", "text")
    val m = TextStats.unigramLogProb(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logprob"))).toMap
    assert(m(0L)._1 === 4L && m(1L)._1 === 4L)
    assert(m(0L)._2 > m(1L)._2)  // ln(4/8) > ln(1/8)
    assert(m(0L)._2 === math.round(math.log(0.5) * 1e6) / 1e6)
  }

  test("gopher rules: clean prose passes, each degenerate shape fails its gate") {
    val longProse = ("the quick brown fox jumps over a lazy dog and " +
      "that sentence repeats with more plain words to have length ") * 5
    val docs = Seq(
      (0L, longProse),                                       // passes all
      (1L, "too short to count"),                            // n_words
      (2L, Seq.fill(60)("- bullet line").mkString("\n")),    // bullets
      (3L, (("#### " * 20) + longProse)),                    // symbols
      (4L, Seq.fill(60)("1 2 3 4 5 6 7 8 9 10").mkString(" ")) // no alpha
    ).toDF("doc_id", "text")
    val out = TextStats.gopherQuality(docs).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("pass")).toSeq ===
      Seq(true, false, false, false, false))
    val bulletDoc = out(2)
    assert(bulletDoc.getAs[Double]("bullet_line_frac") === 1.0)
    assert(out(4).getAs[Double]("alpha_word_frac") === 0.0)
  }

  test("quality score is bounded [0,1] and penalizes junk") {
    val df = Seq(
      ("good", "this is a perfectly reasonable sentence with enough words to score well and a few more tokens for length"),
      ("junk", "!!! ??? ... ,,, ;;; :::")
    ).toDF("kind", "text")
    val m = df.select($"kind", TextStats.qualityScore($"text").as("q"))
      .as[(String, Double)].collect().toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m("good") > m("junk"))
  }

  test("bigram logprob: hand-computed corpus; coherent beats shuffled") {
    // corpus: "a b" ×2 and "a c" ×1 → c(a)=3, c(a b)=2, c(a c)=1
    // doc 0 score = ln(2/3); doc 2 score = ln(1/3); single-token doc drops
    val docs = Seq(
      (0L, "a b"), (1L, "a b"), (2L, "a c"), (3L, "solo")
    ).toDF("doc_id", "text")
    val got = TextStats.bigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob"))).toMap
    assert(got.keySet === Set(0L, 1L, 2L))
    assert(got(0L)._1 === 1L)
    assert(math.abs(got(0L)._2 - math.log(2.0 / 3.0)) < 1e-6)
    assert(math.abs(got(2L)._2 - math.log(1.0 / 3.0)) < 1e-6)
    // the LM property: a document of corpus-frequent bigrams outscores
    // the same unigrams in an order the corpus never pairs
    val corpus = (0 until 20).map(i => (i.toLong, "the quick brown fox jumps")) :+
      (99L, "fox the jumps quick brown")
    val scored = TextStats.bigramLogProb(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(scored(0L) > scored(99L))
  }

  test("knBigramLogProb: hand-computed probabilities, per-context " +
    "normalization to exactly 1, and the continuation property " +
    "(one-context boilerplate scores below multi-context tokens)") {
    // corpus: "a b", "a c", "d b" → bigram types (a,b),(a,c),(d,b);
    // c(a)=2 N1+(a·)=2; c(d)=1 N1+(d·)=1; N1+(·b)=2 N1+(·c)=1; B=3
    // P(b|a) = (0.25 + 0.75·2·2/3)/2 = 0.625
    // P(c|a) = (0.25 + 0.75·2·1/3)/2 = 0.375   (sums to 1 with above)
    // P(b|d) = (0.25 + 0.75·1·2/3)/1 = 0.75
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "d b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextStats.knBigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("avg_kn_logprob")).toMap
    graft.engine.TrackedCache.release()
    assert(got.keySet === Set(0L, 1L, 2L)) // single-token doc drops
    assert(math.abs(got(0L) - math.log(0.625)) < 1e-6)
    assert(math.abs(got(1L) - math.log(0.375)) < 1e-6)
    assert(math.abs(got(2L) - math.log(0.75)) < 1e-6)
    // P(b|a) + P(c|a) = 1 exactly: interpolated KN normalizes over
    // the observed-continuation vocabulary
    assert(math.abs(math.exp(got(0L)) + math.exp(got(1L)) - 1.0) < 2e-6)

    // continuation property: "francisco" only ever follows "san"
    // (N1+ = 1) while "b" follows three contexts at the same unigram
    // frequency — the KN score of a (fresh-context, francisco) bigram
    // sits below the same-shape (fresh-context, b) bigram
    val corpus = Seq((0L, "san francisco"), (1L, "san francisco"),
      (2L, "san francisco"), (3L, "x b"), (4L, "y b"), (5L, "z b"),
      (10L, "q francisco"), (11L, "q b"))
      .toDF("doc_id", "text")
    val sc = TextStats.knBigramLogProb(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("avg_kn_logprob")).toMap
    graft.engine.TrackedCache.release()
    assert(sc(11L) > sc(10L))
  }

  test("perplexityBuckets: thirds are ordered and roughly balanced") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val out = TextStats.perplexityBuckets(docs).collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Double]("avg_logprob")))
    val byBucket = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    // ordering law: every head score >= every middle score >= every tail
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // thirds within quantile-tie slack
    val n = out.length
    byBucket.values.foreach(b =>
      assert(math.abs(b.size - n / 3.0) < n * 0.1, s"bucket sizes: ${byBucket.view.mapValues(_.size).toMap}"))
  }

  test("bpePairCounts: hand-computed weighted adjacent pairs") {
    // words: "aab" ×2, "ab" ×1 → pairs: aa(2), ab(2+1=3)
    val docs = Seq((0L, "aab ab"), (1L, "aab")).toDF("doc_id", "text")
    val got = TextStats.bpePairCounts(docs, k = 10).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("total"))
    assert(got.toMap === Map("aa" -> 2L, "ab" -> 3L))
    // ordered: count desc, then pair asc; "aaa" contributes aa twice
    // per occurrence
    val rep = Seq((0L, "aaa")).toDF("doc_id", "text")
    val reps = TextStats.bpePairCounts(rep).collect()
    assert(reps.length === 1 && reps.head.getAs[Long]("total") === 2L)
    assert(got.head._1 === "ab") // 3 > 2
  }

  test("invertedIndex: df/tf/postings exact, ordered, guards applied") {
    val docs = Seq(
      (3L, "cat dog cat"),
      (1L, "dog bird"),
      (2L, "cat stop stop"),
      (0L, "stop")).toDF("doc_id", "text")
    val idx = TextStats.invertedIndex(docs).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("df"), r.getAs[Long]("tf_total"),
          r.getAs[String]("postings"))).toMap
    // postings ordered by doc id even though doc 3 arrives first
    assert(idx("cat") === ((2L, 3L, "2:1,3:2")))
    assert(idx("dog") === ((2L, 2L, "1:1,3:1")))
    assert(idx("bird") === ((1L, 1L, "1:1")))
    assert(idx("stop") === ((2L, 3L, "0:1,2:2")))

    // minDf trims the hapax tail
    val trimmed = TextStats.invertedIndex(docs, minDf = 2)
      .collect().map(_.getAs[String]("token")).toSet
    assert(trimmed === Set("cat", "dog", "stop"))

    // maxDf drops the everything-token (its list would be corpus-sized)
    val capped = TextStats.invertedIndex(docs, maxDf = Some(1))
      .collect().map(_.getAs[String]("token")).toSet
    assert(capped === Set("bird"))
  }

  test("normalizeText: URLs stripped, charset restricted, idempotent") {
    val cases = Seq(
      ("Visit HTTPS://Ex.Com/a?b=1#f now", "visit now"),
      ("keep.  punct, ok! right?", "keep. punct, ok! right?"),
      ("tabs\tand\n\nnewlines", "tabs and newlines"),
      ("symbols @#$% stripped <b>tags</b>", "symbols stripped b tags b"),
      ("", "")).toDF("text", "expected")
    val bad = cases
      .filter(TextStats.normalizeText($"text") =!= $"expected").collect()
    assert(bad.isEmpty, bad.mkString(";"))
    // idempotence: normalizing a normalized text is the identity
    val twice = cases.select(
      TextStats.normalizeText($"text").as("once"))
      .filter(TextStats.normalizeText($"once") =!= $"once").count()
    assert(twice === 0L)
  }

  test("pmiBigrams: a perfect collocation tops promiscuous pairs") {
    // "epsilon zeta": both words occur ONLY in this pair (coupling
    // 30/30²); "alpha beta": alpha also pairs with gamma, beta also
    // follows delta (coupling 30/60²) → strictly lower PMI
    val docs = (
      (1 to 30).map(i => (i.toLong, "alpha beta")) ++
      (31 to 60).map(i => (i.toLong, "alpha gamma")) ++
      (61 to 90).map(i => (i.toLong, "delta beta")) ++
      (91 to 120).map(i => (i.toLong, "epsilon zeta"))).toDF("doc_id", "text")
    val top = TextStats.pmiBigrams(docs, minCount = 10, k = 10).collect()
    val byBigram = top.map(r => r.getString(0) -> r.getDouble(2)).toMap
    // PMI(epsilon zeta) = ln(16), PMI(alpha beta) = ln(4)
    assert(math.abs(byBigram("epsilon zeta") - math.log(16)) < 1e-5)
    assert(math.abs(byBigram("alpha beta") - math.log(4)) < 1e-5)
    assert(byBigram("epsilon zeta") > byBigram("alpha beta"))
    // every emitted pair respects the count floor
    assert(top.forall(_.getLong(1) >= 10L))
  }

  test("cooccurrencePmi: catches collocations that skip a word") {
    // "new ? york": never adjacent, always within the ±3 window;
    // fillers rotate so they pair promiscuously
    val docs = (1 to 30).map(i =>
      (i.toLong, s"new f${i % 3} york and some other f${(i + 1) % 3} words"))
      .toDF("doc_id", "text")
    val pairs = TextStats.cooccurrencePmi(docs, window = 3, minCount = 10, k = 20)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("pmi")).toMap
    assert(pairs.contains("new york"), pairs.keys.mkString(", "))
    // the skipping pair must outrank a filler pair when both surface
    val filler = pairs.keys.find(_.startsWith("f"))
    filler.foreach(f => assert(pairs("new york") > pairs(f)))
    // sanity: adjacent-bigram PMI CANNOT see "new york" on this corpus
    val bigrams = TextStats.pmiBigrams(docs, minCount = 1, k = 100)
      .collect().map(_.getString(0)).toSet
    assert(!bigrams.contains("new york"))
  }

  test("sentenceStats: hand-checked segmentation and token counts") {
    val docs = Seq(
      (1L, "Hello world. How are you today? Fine!"),
      (2L, "no punctuation at all"),
      (3L, "!!! ... ???"), // no alphanumeric sentence survives
      (4L, "One. Two three. Four five six.")).toDF("doc_id", "text")
    val r = TextStats.sentenceStats(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 3L) // Hello world | How are you today | Fine
    assert(math.abs(r(1L).getDouble(2) - (2 + 4 + 1) / 3.0) < 1e-6)
    assert(r(1L).getLong(3) === 4L)
    assert(r(2L).getLong(1) === 1L) // whole text = one sentence
    assert(r(3L).getLong(1) === 0L)
    assert(r(3L).isNullAt(2) && r(3L).isNullAt(3)) // no sentences → nulls
    assert(r(4L).getLong(1) === 3L && r(4L).getLong(3) === 3L)
  }

  test("burstiness: uniform token → VMR 0; concentrated → k(1−1/n)") {
    // "even" once per doc (4 docs); "burst" 8 times in one doc
    val docs = Seq(
      (1L, "even burst burst burst burst burst burst burst burst"),
      (2L, "even x"), (3L, "even y"), (4L, "even z"))
      .toDF("doc_id", "text")
    val r = TextStats.burstiness(docs, minCount = 4).collect()
      .map(x => x.getString(0) -> x).toMap
    // constant 1-per-doc: variance 0
    assert(r("even").getAs[Double]("vmr") === 0.0)
    // all k=8 in one of n=4 docs: VMR = k(1−1/n) = 6
    assert(math.abs(r("burst").getAs[Double]("vmr") - 6.0) < 1e-6)
    assert(r("burst").getAs[Long]("n_occ") === 8L)
    assert(r("burst").getAs[Long]("n_docs_with") === 1L)
    // the count floor applies
    assert(!r.contains("x"))
  }

  test("unigramEntropyKl: uniform → ln k; source = corpus → KL 0") {
    // both sources identical AND uniform over 4 tokens
    val docs = Seq((1L, "s1", "a b c d"), (2L, "s2", "a b c d"))
      .toDF("doc_id", "source", "text")
    val r = TextStats.unigramEntropyKl(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    for (s <- Seq("s1", "s2")) {
      assert(math.abs(r(s).getDouble(2) - math.log(4)) < 1e-6)
      assert(r(s).getDouble(3) === 0.0) // p == q exactly → every term 0
    }
    // a skewed source diverges from the blend; entropy drops
    val skew = Seq((1L, "s1", "a b c d"), (2L, "s2", "a a a a a a b"))
      .toDF("doc_id", "source", "text")
    val r2 = TextStats.unigramEntropyKl(skew).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r2("s2").getDouble(2) < r2("s1").getDouble(2))
    assert(r2("s2").getDouble(3) > 0.0 && r2("s1").getDouble(3) > 0.0)
  }

  test("langIdConfusion: diagonal for marker-clean docs, fractions sum to 1") {
    val docs = Seq(
      (1L, "en", "see the thing and most of it is here"),
      (2L, "en", "the king and the queen of things"),
      (3L, "de", "der hund und die katze ist schnell bei mir"),
      (4L, "zh", "的 是 了 在 有 我")).toDF("doc_id", "lang", "text")
    val m = TextStats.langIdConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getAs[Double]("frac"))).toMap
    assert(m(("en", "en"))._1 === 2L && m(("en", "en"))._2 === 1.0)
    assert(m(("de", "de"))._1 === 1L)
    assert(m(("zh", "zh"))._1 === 1L)
    assert(m.size === 3) // clean markers → pure diagonal
  }

  test("hashVecSourceOutliers: the planted off-profile doc ranks first") {
    val docs = (
      (1L to 9L).map(i => (i, "s1", "alpha beta gamma delta")) ++
      Seq((10L, "s1", "zzz qqq xxx www yyy")) ++
      (11L to 14L).map(i => (i, "s2", "same text everywhere here"))
    ).toDF("doc_id", "source", "text")
    val out = TextStats.hashVecSourceOutliers(docs, dim = 16, k = 3).collect()
    val s1 = out.filter(_.getString(1) == "s1").sortBy(_.getLong(3))
    assert(s1.head.getLong(0) === 10L, "planted outlier must rank first")
    assert(s1.head.getAs[Double]("sq_dist") >
      s1.last.getAs[Double]("sq_dist"))
    // identical docs in s2 → all distances 0
    val s2 = out.filter(_.getString(1) == "s2")
    assert(s2.forall(_.getAs[Double]("sq_dist") === 0.0))
    // per-source k bound
    assert(out.count(_.getString(1) == "s1") === 3)
  }

  test("hashDocVectors: dense, length-normalized, content-determined") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "alpha beta alpha gamma"), // same content → same vector
      (3L, "delta delta delta delta")).toDF("doc_id", "text")
    val v = TextStats.hashDocVectors(docs, dim = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(v(1L)._1 === 4L)
    assert(v(1L) === v(2L))
    assert(v(1L) !== v(3L))
    // dense: exactly dim entries; mass sums to 1e6 up to per-entry rounding
    val entries = v(1L)._2.split(",").map(_.toLong)
    assert(entries.length === 8)
    assert(math.abs(entries.sum - 1000000L) <= 8)
    // doc 3 is a single token 4× → all mass in one bucket
    assert(v(3L)._2.split(",").map(_.toLong).max === 1000000L)
  }

  test("jsdMatrix: identical sources → 0; disjoint vocabularies → ln 2") {
    val docs = Seq(
      (1L, "s1", "a b c d"), (2L, "s2", "a b c d"),   // identical dists
      (3L, "s3", "x y z w")                           // disjoint vocab
    ).toDF("doc_id", "source", "text")
    val m = TextStats.jsdMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("s1", "s2")) === 0.0)
    assert(math.abs(m(("s1", "s3")) - math.log(2)) < 1e-6)
    assert(math.abs(m(("s2", "s3")) - math.log(2)) < 1e-6)
    assert(m.size === 3) // upper-triangular, no self-pairs
  }

  test("tokenGini: 0 for perfectly even use, hand value when concentrated") {
    val even = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
    assert(TextStats.tokenGini(even).head().getAs[Double]("gini") === 0.0)
    // counts {1,1,1,97}: G = (2·394 − 5·100)/(4·100) = 0.72
    val conc = Seq((1L, ("x " * 97).trim + " p q r")).toDF("doc_id", "text")
    val g = TextStats.tokenGini(conc).head()
    assert(g.getLong(0) === 4L && g.getLong(1) === 100L)
    assert(g.getAs[Double]("gini") === 0.72)
  }

  test("zipfFit: exact harmonic counts fit slope −1") {
    // counts K/r at ranks 1..6 → ln c = ln K − 1·ln r exactly
    val counts = Seq(60, 30, 20, 15, 12, 10)
    val text = counts.zipWithIndex
      .flatMap { case (c, i) => Seq.fill(c)(s"tok$i") }.mkString(" ")
    val r = TextStats.zipfFit(Seq((1L, text)).toDF("doc_id", "text"),
      minCount = 5).head()
    assert(r.getLong(0) === 6L)
    assert(math.abs(r.getAs[Double]("slope") - (-1.0)) < 1e-4)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(60)) < 1e-4)
  }

  test("oovRate: coverage against the top-k corpus vocabulary") {
    // vocab by count desc, token asc; k=2 → {"a" (6), "b" (4)}
    val docs = Seq(
      (1L, "s1", "a a a b b rare1"),
      (2L, "s2", "a a a b b rare2 rare3")).toDF("doc_id", "source", "text")
    val r = TextStats.oovRate(docs, vocabSize = 2, sourceCol = "source")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s1").getLong(1) === 6L && r("s1").getLong(2) === 1L)
    assert(r("s2").getLong(1) === 7L && r("s2").getLong(2) === 2L)
    assert(math.abs(r("s2").getDouble(3) - 2.0 / 7) < 1e-6)
  }

  // ——— bm25 ———

  private def scoreOf(rows: Seq[(Long, String)], q: Seq[String]) =
    TextStats.bm25(rows.toDF("doc_id", "text"), q, k = 50)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("score")).toMap

  test("bm25: rarer term outweighs common term at equal tf and length") {
    val corpus = (1L to 20L).map(i => (i, "common filler filler filler")) ++
      Seq((100L, "rare filler filler filler"))
    val s = scoreOf(corpus, Seq("common", "rare"))
    assert(s(100L) > s(1L), s"rare-term doc should outrank: $s")
  }

  test("bm25: tf saturates sub-linearly; shorter doc wins at equal tf") {
    val corpus = Seq(
      (1L, "hit pad pad pad pad pad pad pad"),
      (2L, "hit hit hit hit hit hit hit pad"), // tf 7, same length
      (3L, "hit pad")) // same tf as 1, shorter
    val s = scoreOf(corpus, Seq("hit"))
    assert(s(2L) > s(1L) && s(2L) < 7 * s(1L),
      s"tf must help sub-linearly: $s")
    assert(s(3L) > s(1L), s"length norm must favor the short doc: $s")
  }

  test("bm25: only matching docs appear; scores deterministic under repartition") {
    val corpus = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) s"query pad$i pad" else s"pad$i pad pad"))
    val df = corpus.toDF("doc_id", "text")
    val a = TextStats.bm25(df, Seq("query"), k = 50).collect().toSeq
    assert(a.map(_.getLong(0)).forall(_ % 3 == 0))
    val b = TextStats.bm25(df.repartition(11), Seq("query"), k = 50)
      .collect().toSeq
    assert(a === b)
  }

  // ——— cohenKappa ———

  private def kappaOf(pairs: Seq[(String, String)]) = {
    val r = TextStats.cohenKappa(pairs.toDF("t", "p"), "t", "p").head()
    (r.getAs[Long]("n_rows"), r.getAs[Long]("n_agree"),
      if (r.isNullAt(r.fieldIndex("kappa"))) None
      else Some(r.getAs[Double]("kappa")))
  }

  test("cohenKappa: perfect agreement → 1; constant rater → 0; degenerate → null") {
    val perfect = Seq.tabulate(40)(i => (s"c${i % 3}", s"c${i % 3}"))
    assert(kappaOf(perfect)._3 === Some(1.0))
    // prediction constant while truth varies: exactly chance level
    val constant = Seq.tabulate(40)(i => (s"c${i % 3}", "c0"))
    assert(kappaOf(constant)._3 === Some(0.0))
    // both constant: expected agreement 1 → undefined
    assert(kappaOf(Seq.fill(10)(("x", "x")))._3 === None)
  }

  test("weightedKappa: perfect agreement → 1, binary reduces to " +
    "unweighted kappa, brute double-math reference, degenerate NULL") {
    def run(rows: Seq[(Long, Long)]) = {
      val r = TextStats.weightedKappa(rows.toDF("a", "b"), "a", "b")
        .collect().head
      graft.engine.TrackedCache.release()
      r
    }
    // perfect ordinal agreement: both weighted disagreements 0
    val perfect = Seq.tabulate(30)(i => (i.toLong % 5, i.toLong % 5))
    val p = run(perfect)
    assert(p.getAs[Double]("kappa_linear") === 1.0 &&
      p.getAs[Double]("kappa_quadratic") === 1.0 &&
      p.getAs[Double]("do_linear") === 0.0)

    // binary categories: every off-diagonal weight is 1 under both
    // schemes ⇒ linear = quadratic = unweighted Cohen's κ
    val bin = Seq.tabulate(40)(i =>
      ((i % 2).toLong, (if (i % 5 == 0) 1 - i % 2 else i % 2).toLong))
    val b = run(bin)
    val unweighted = TextStats.cohenKappa(
      bin.toDF("t", "p"), "t", "p").collect().head.getAs[Double]("kappa")
    assert(b.getAs[Double]("kappa_linear") === unweighted &&
      b.getAs[Double]("kappa_quadratic") === unweighted)

    // brute double-math reference on a mixed 4-category panel
    val rows = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 3L), (2L, 2L),
      (2L, 1L), (3L, 3L), (3L, 2L), (3L, 3L), (0L, 2L), (1L, 0L),
      (2L, 3L))
    def brute(w: (Long, Long) => Double): Double = {
      val n = rows.size.toDouble
      val ra = rows.groupBy(_._1).map { case (k, v) => k -> v.size }
      val rb = rows.groupBy(_._2).map { case (k, v) => k -> v.size }
      val swo = rows.map { case (i, j) => w(i, j) }.sum / n
      val swe = (for ((i, ni) <- ra; (j, nj) <- rb)
        yield ni * nj * w(i, j)).sum / (n * n)
      1.0 - swo / swe
    }
    val m = run(rows)
    assert(math.abs(m.getAs[Double]("kappa_linear") -
      brute((i, j) => math.abs(i - j).toDouble)) < 1e-6)
    assert(math.abs(m.getAs[Double]("kappa_quadratic") -
      brute((i, j) => { val d = (i - j).toDouble; d * d })) < 1e-6)

    // both raters constant on one shared category ⇒ expected
    // weighted disagreement 0 ⇒ NULL
    val flat = run(Seq.fill(8)((2L, 2L)))
    assert(flat.isNullAt(flat.fieldIndex("kappa_linear")) &&
      flat.isNullAt(flat.fieldIndex("kappa_quadratic")))
  }

  test("vocabGrowth: hand curve — each doc introduces exactly two tokens") {
    val docs = (1L to 10L).map(i => (i, s"w${i}a w${i}b w${i}a"))
      .toDF("doc_id", "text")
    val out = TextStats.vocabGrowth(docs, nCheckpoints = 10).collect()
    assert(out.length === 10)
    out.foreach { r =>
      assert(r.getAs[Long]("vocab") === 2 * r.getAs[Long]("checkpoint"))
      assert(r.getAs[Long]("n_docs") === r.getAs[Long]("checkpoint"))
    }
  }

  test("vocabGrowth: monotone, ends at the full vocabulary") {
    val docs = (1L to 40L).map(i =>
      (i, s"shared common w${i % 7} w${(i * 3) % 11}")).toDF("doc_id", "text")
    val out = TextStats.vocabGrowth(docs, nCheckpoints = 10).collect()
    val vocab = out.map(_.getAs[Long]("vocab")).toSeq
    assert(vocab === vocab.sorted)
    val total = docs.select(explode(TextStats.tokens(col("text"))))
      .distinct().count()
    assert(vocab.last === total)
    assert(out.last.getAs[Long]("n_docs") === 40L)
  }

  test("sourceWeightedJaccard: hand value, identity, disjoint absence") {
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "b", "x z"),
      (3L, "c", "x x y"),          // identical profile to a
      (4L, "d", "only disjoint words")
    ).toDF("doc_id", "source", "text")
    val out = TextStats.sourceWeightedJaccard(docs, "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("shared_mass"), r.getAs[Double]("w_jaccard"))).toMap
    // a vs b: min-mass 1 over (3 + 2 - 1) = 0.25
    assert(out(("a", "b")) === ((1L, 0.25)))
    assert(out(("a", "c")) === ((3L, 1.0)))
    // disjoint sources never appear as a pair
    assert(!out.keySet.exists { case (x, y) => x == "d" || y == "d" })
  }

  test("lMoments: uniform spacing is symmetric; mirroring negates t3") {
    val uni = (1L to 5L).map(x => ("u", x)).toDF("grp", "v")
    val r = TextStats.lMoments(uni, "v", "grp").head()
    assert(r.getAs[Double]("l1") === 3.0)
    assert(r.getAs[Double]("l2") === 1.0) // (n+1)/6 for 1..n
    assert(r.getAs[Double]("t3") === 0.0)
    val skewed = Seq(1L, 1L, 1L, 2L, 10L).map(("s", _)).toDF("grp", "v")
    val mirrored = Seq(1L, 1L, 1L, 2L, 10L).map(x => ("m", 11L - x))
      .toDF("grp", "v")
    val ts = TextStats.lMoments(skewed, "v", "grp").head().getAs[Double]("t3")
    val tm = TextStats.lMoments(mirrored, "v", "grp").head().getAs[Double]("t3")
    assert(ts > 0.0)
    assert(tm === -ts)
  }

  test("lMoments: degenerate groups answer nulls, not division errors") {
    val df = (Seq.fill(6)(("const", 7L)) ++ Seq(("tiny", 1L), ("tiny", 2L),
      ("tiny", 3L))).toDF("grp", "v")
    val by = TextStats.lMoments(df, "v", "grp").collect()
      .map(r => r.getString(0) -> r).toMap
    val c = by("const")
    assert(c.getAs[Double]("l2") === 0.0)
    assert(c.isNullAt(c.fieldIndex("t3")) && c.isNullAt(c.fieldIndex("t4")))
    val t = by("tiny") // n = 3: t3 defined, t4 needs n > 3
    assert(!t.isNullAt(t.fieldIndex("t3")))
    assert(t.isNullAt(t.fieldIndex("t4")))
  }

  test("lMoments: tie order cannot move the sums (repartition + shuffle)") {
    val df = (1L to 200L).map(i => ("g", (i % 7) + 1)).toDF("grp", "v")
    val a = TextStats.lMoments(df, "v", "grp").collect().toSeq
    val b = TextStats.lMoments(df.repartition(17), "v", "grp").collect().toSeq
    assert(a === b)
  }

  test("cohenKappa: hand-computed 2x2 value") {
    // matrix [[20,5],[10,15]] → po=0.7, pe=0.5, kappa=0.4 exactly
    val pairs = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val (n, d, k) = kappaOf(pairs)
    assert(n === 50L && d === 35L)
    assert(k === Some(0.4))
  }

  test("dsirWeights: hand-computed smoothing and ordering") {
    // corpus: x appears 3×, y 3× (cn=6, V=2); target=src0 holds "x x"
    // (tn=2) → p_t(x)=(2+1)/4=0.75, p_t(y)=1/4 (smoothed floor);
    // p_c = 0.5 for both. Scores: ln1.5, (ln1.5+ln0.5)/2, ln0.5.
    val docs = Seq(
      (1L, "src0", "x x"), (2L, "src1", "x y"), (3L, "src1", "y y")
    ).toDF("doc_id", "source", "text")
    val got = TextStats.dsirWeights(docs, "src0").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) === ((2L, 0.405465)))
    assert(got(2L) === ((2L, -0.143841)))
    assert(got(3L) === ((2L, -0.693147)))
    // target-flavored doc outranks mixed outranks off-target
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("dsirWeights: unseen-by-target tokens stay finite via add-one smoothing") {
    val docs = Seq((1L, "src0", "a"), (2L, "srcZ", "zzz never seen"))
      .toDF("doc_id", "source", "text")
    val w = TextStats.dsirWeights(docs, "src0").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!w(2L).isNaN && !w(2L).isInfinite,
      s"smoothing must keep unseen tokens finite, got ${w(2L)}")
  }
  test("burrowsDelta: twin sources score near zero, an outlier register far") {
    // s1/s2: identical register; s3: disjoint vocabulary emphasis
    val d1 = "the cat and the dog and the bird"
    val d3 = "zzz qqq xxx zzz qqq xxx zzz qqq"
    val docs = Seq(("s1", d1), ("s2", d1), ("s3", d3))
      .toDF("source", "text")
    val out = TextStats.burrowsDelta(docs, topN = 5).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("delta")).toMap
    assert(out.keySet === Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    assert(out(("s1", "s2")) === 0.0, "identical registers must tie")
    assert(out(("s1", "s3")) > out(("s1", "s2")) + 0.5)
    assert(out(("s1", "s3")) === out(("s2", "s3")))
  }
  test("langPurity: embedded foreign chunk flags the doc as mixed") {
    // 2 chunks of clear English + 1 chunk of clear Chinese markers
    // (each en block is exactly 32 tokens = one chunk)
    val en = Seq.fill(4)("the king and the queen of north is").mkString(" ")
    val zh = Seq.fill(32)("的是了在有我").mkString(" ")
    val docs = Seq(
      (1L, s"$en $en $zh"),          // 96 tokens → 3 chunks, 2 langs
      (2L, s"$en $en"))              // pure English
      .toDF("doc_id", "text")
    val out = TextStats.langPurity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val mixed = out(1L)
    assert(mixed.getAs[Long]("n_chunks") === 3L)
    assert(mixed.getAs[Long]("n_langs") === 2L)
    assert(mixed.getAs[String]("top_lang") === "en")
    assert(mixed.getAs[Boolean]("is_mixed")) // 2/3 < 0.8
    val pure = out(2L)
    assert(pure.getAs[Long]("n_langs") === 1L)
    assert(!pure.getAs[Boolean]("is_mixed"))
    assert(pure.getAs[Double]("top_share") === 1.0)
  }

  test("fleissKappa: hand-computed panel, perfect agreement, uneven panel null") {
    import spark.implicits._
    // classic hand case: u1 = (a,a,b), u2 = (b,b,b) -> kappa = 0.25
    val r1 = Seq((1L, "a"), (1L, "a"), (1L, "b"),
                 (2L, "b"), (2L, "b"), (2L, "b")).toDF("u", "cat")
    val k1 = TextStats.fleissKappa(r1, "u", "cat", "hand").head()
    assert(k1.getAs[Long]("n_units") === 2L)
    assert(k1.getAs[Long]("m_raters") === 3L)
    assert(k1.getAs[Double]("p_observed") === 0.666667)
    assert(k1.getAs[Double]("p_expected") === 0.555556)
    assert(k1.getAs[Double]("kappa") === 0.25)
    // perfect agreement on distinct labels -> kappa = 1
    val r2 = Seq((1L, "a"), (1L, "a"), (1L, "a"),
                 (2L, "b"), (2L, "b"), (2L, "b")).toDF("u", "cat")
    assert(TextStats.fleissKappa(r2, "u", "cat", "x")
      .head().getAs[Double]("kappa") === 1.0)
    // uneven panel (m differs across units) answers NULL, not a number
    val r3 = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"), (2L, "a"))
      .toDF("u", "cat")
    assert(TextStats.fleissKappa(r3, "u", "cat", "x").head().isNullAt(
      TextStats.fleissKappa(r3, "u", "cat", "x").schema.fieldIndex("kappa")))
    // constant labels everywhere: chance agreement is total -> NULL
    val r4 = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a")).toDF("u", "cat")
    val k4 = TextStats.fleissKappa(r4, "u", "cat", "x").head()
    assert(k4.isNullAt(k4.fieldIndex("kappa")))
  }

  test("degenerateRuns: planted loops rank first with exact run lengths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the model said the the the the the end"),      // run of 5
      (2L, "a b a b a b a b done"),                        // period-2 chain 8
      (3L, "perfectly normal text with no loops at all"),
      (4L, "x x")                                          // run of 2
    ).toDF("doc_id", "text")
    val out = TextStats.degenerateRuns(docs, topK = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 === 5L)   // "the" x5 immediate repeats
    // abababab: the chain island opens at the pattern's SECOND token
    // (the first has no 2-back neighbor), so 8 tokens score 7
    assert(out(2L)._2 === 7L)
    assert(out(3L) === ((1L, 1L)))
    assert(out(4L)._1 === 2L)
    // ranking: the worst offenders lead
    val ordered = TextStats.degenerateRuns(docs, topK = 2).collect().map(_.getLong(0))
    assert(ordered.toSeq === Seq(2L, 1L))
  }

  test("krippendorffAlpha: hand-computed nominal alpha, unpairable " +
    "units dropped, perfect and degenerate panels") {
    import spark.implicits._
    // u1 [0,0], u2 [0,1], u3 [1,1,1], u4 [0] (unpairable)
    val ratings = Seq((1L, 0L), (1L, 0L), (2L, 0L), (2L, 1L),
      (3L, 1L), (3L, 1L), (3L, 1L), (4L, 0L)).toDF("u", "cat")
    val r = TextStats.krippendorffAlpha(ratings, "u", "cat", "t").head()
    assert(r.getAs[Long]("n_units") === 3L)   // u4 dropped
    assert(r.getAs[Long]("n") === 7L)
    assert(r.getAs[Long]("n_cats") === 2L)
    // D_o = 2/7, D_e = (49-25)/42 = 4/7, alpha = 1 - (2/7)/(4/7) = 0.5
    assert(r.getAs[Double]("d_o") === 0.285714)
    assert(r.getAs[Double]("d_e") === 0.571429)
    assert(r.getAs[Double]("alpha") === 0.5)
    // perfect agreement → alpha 1
    val perfect = Seq((1L, 0L), (1L, 0L), (2L, 1L), (2L, 1L)).toDF("u", "cat")
    assert(TextStats.krippendorffAlpha(perfect, "u", "cat", "t")
      .head().getAs[Double]("alpha") === 1.0)
    // one category everywhere → D_e = 0 → alpha NULL
    val degen = Seq((1L, 0L), (1L, 0L), (2L, 0L), (2L, 0L)).toDF("u", "cat")
    val dr = TextStats.krippendorffAlpha(degen, "u", "cat", "t").head()
    assert(dr.isNullAt(dr.fieldIndex("alpha")))
  }

  test("filterDisparity: starved group reads under 1, exact ratios, " +
    "all-fail corpus yields null disparity") {
    import spark.implicits._
    val longText = ("the " + (1 to 40).map(i => s"word$i").mkString(" "))
    val docs = Seq(
      (0L, "en", longText), (1L, "en", longText),      // pass
      (2L, "xx", "too short the"), (3L, "xx", "also short the") // fail
    ).toDF("doc_id", "lang", "text")
    val out = TextStats.filterDisparity(docs, minWords = 30L,
      minStopHits = 1L).collect().map(r => r.getString(0) -> r).toMap
    assert(out("en").getAs[Long]("n_pass") === 2L)
    assert(out("xx").getAs[Long]("n_pass") === 0L)
    assert(out("en").getAs[Double]("keep_rate") === 1.0)
    assert(out("en").getAs[Double]("overall_rate") === 0.5)
    assert(out("en").getAs[Double]("disparity") === 2.0)
    assert(out("xx").getAs[Double]("disparity") === 0.0)
    // nothing passes anywhere → disparity is NULL, not a crash
    val none = TextStats.filterDisparity(
      Seq((0L, "en", "tiny")).toDF("doc_id", "lang", "text"),
      minWords = 30L, minStopHits = 1L).collect()
    assert(none.head.isNullAt(none.head.fieldIndex("disparity")))
  }

  test("vocabCoverage: exact masses at each k, tie-break by token, " +
    "monotone saturation to 1.0") {
    import spark.implicits._
    // counts: a=4, b=3, c=2, d=1 (10 occurrences, 4 types)
    val docs = Seq((0L, "a a b c"), (1L, "a a b b c d"))
      .toDF("doc_id", "text")
    val out = TextStats.vocabCoverage(docs, ks = Seq(1, 2, 10)).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(out(1L).getAs[Long]("n_types") === 1L)
    assert(out(1L).getAs[Long]("occ_covered") === 4L)   // just "a"
    assert(out(1L).getAs[Double]("coverage") === 0.4)
    assert(out(2L).getAs[Long]("occ_covered") === 7L)   // a + b
    assert(out(10L).getAs[Long]("n_types") === 4L)
    assert(out(10L).getAs[Double]("coverage") === 1.0)  // saturates
    assert(out(10L).getAs[Long]("n_occ_total") === 10L)
    // tie-break: with equal counts the lexicographically smaller
    // token ranks first — e/f both count 1; k=1 must pick "e"
    val ties = Seq((0L, "e f")).toDF("doc_id", "text")
    val t1 = TextStats.vocabCoverage(ties, ks = Seq(1)).head()
    assert(t1.getAs[Long]("occ_covered") === 1L)
    assert(t1.getAs[Long]("n_types") === 1L)
  }

  test("clippedNgramPrecision: identity scores 1, disjoint scores 0, " +
    "and clipping caps repeated candidate grams at the reference count") {
    val pairs = Seq(
      (0L, "x y z", "x y z"),       // identical → p1 = p2 = 1
      (1L, "a a b", "a c"),          // clip: min(2,1)+min(1,0)=1 → p1=1/3
      (2L, "q r", "s t"),            // disjoint → 0
      (3L, "w", "w w"))              // single token → p2 NULL
      .toDF("pair_id", "cand_text", "ref_text")
    val out = TextStats.clippedNgramPrecision(pairs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getDouble(4) === 1.0 && out(0L).getDouble(6) === 1.0)
    assert(out(1L).getLong(3) === 1L)            // clipped_1
    assert(out(1L).getDouble(4) === 0.333333)    // p1
    assert(out(1L).getLong(5) === 0L)            // clipped_2 ("a a","a b" vs "a c")
    assert(out(1L).getDouble(6) === 0.0)
    assert(out(2L).getDouble(4) === 0.0 && out(2L).getDouble(6) === 0.0)
    assert(out(3L).getDouble(4) === 1.0)
    assert(out(3L).isNullAt(6), "p2 undefined for a 1-token candidate")
  }

  test("answerTokenF1: EM normalizes whitespace/case, F1 is the " +
    "harmonic mean via 2*overlap/(lens), repeated tokens clip") {
    val pairs = Seq(
      (0L, "A  b", "a b"),      // EM after case+whitespace normalization
      (1L, "a b", "b c"),        // overlap 1 → P=R=F1=0.5
      (2L, "a a", "a"),          // clip: overlap 1, P=.5, R=1, F1=2/3
      (3L, "x y", "z w"))        // disjoint → all 0
      .toDF("pair_id", "cand_text", "ref_text")
    val out = TextStats.answerTokenF1(pairs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(3) === 1L)             // exact_match
    assert(out(0L).getDouble(7) === 1.0)          // f1
    assert(out(1L).getLong(3) === 0L)
    assert(out(1L).getDouble(5) === 0.5 && out(1L).getDouble(6) === 0.5 &&
      out(1L).getDouble(7) === 0.5)
    assert(out(2L).getLong(4) === 1L)             // overlap clipped
    assert(out(2L).getDouble(5) === 0.5 && out(2L).getDouble(6) === 1.0 &&
      out(2L).getDouble(7) === 0.666667)
    assert(out(3L).getLong(3) === 0L && out(3L).getDouble(7) === 0.0)
  }

  test("rougeL: planted subsequence ⇒ recall 1.0; identity ⇒ all 1; " +
    "hand-computed LCS; disjoint ⇒ 0") {
    val pairs = Seq(
      (0L, "the cat sat", "the cat sat"),            // identity
      (1L, "cat mat", "the cat on the mat today"),   // cand ⊆ ref order
      (2L, "a x b y c", "a b c z"),                  // LCS = a b c = 3
      (3L, "p q", "r s"))                            // disjoint
      .toDF("pair_id", "cand_text", "ref_text")
    val out = TextStats.rougeL(pairs).collect()
      .map(r => r.getAs[Long]("pair_id") -> r).toMap
    assert(out(0L).getAs[Long]("lcs") === 3L &&
      out(0L).getAs[Double]("rouge_l_p") === 1.0 &&
      out(0L).getAs[Double]("rouge_l_r") === 1.0 &&
      out(0L).getAs[Double]("rouge_l_f") === 1.0)
    // planted-subsequence law: every candidate token appears in the
    // reference IN ORDER ⇒ LCS = |cand| ⇒ precision 1.0 (recall 1.0
    // is the mirrored law with the sides swapped)
    assert(out(1L).getAs[Long]("lcs") === 2L &&
      out(1L).getAs[Double]("rouge_l_p") === 1.0)
    val swapped = TextStats.rougeL(Seq(
      (9L, "the cat on the mat today", "cat mat"))
      .toDF("pair_id", "cand_text", "ref_text")).collect().head
    assert(swapped.getAs[Double]("rouge_l_r") === 1.0)
    assert(out(2L).getAs[Long]("lcs") === 3L &&
      out(2L).getAs[Double]("rouge_l_r") === 0.75 &&
      out(2L).getAs[Double]("rouge_l_p") === 0.6)
    assert(out(3L).getAs[Long]("lcs") === 0L &&
      out(3L).getAs[Double]("rouge_l_f") === 0.0)
  }

  test("chrF: identity scores 1 everywhere; disjoint alphabets score " +
    "0; beta=2 weights recall double") {
    val pairs = Seq(
      (0L, "the cat", "the  CAT"),  // identical after lower+ws-strip
      (1L, "aaaa", "bbbb"),         // disjoint → 0
      (2L, "abcdef", "abc"))        // P < R (cand longer)
      .toDF("pair_id", "cand_text", "ref_text")
    val out = TextStats.chrF(pairs).collect()
      .map(r => r.getAs[Long]("pair_id") -> r).toMap
    assert(out(0L).getAs[Double]("chrf_p") === 1.0 &&
      out(0L).getAs[Double]("chrf_r") === 1.0 &&
      out(0L).getAs[Double]("chrf2") === 1.0)
    assert(out(1L).getAs[Double]("chrf2") === 0.0)
    val p = out(2L).getAs[Double]("chrf_p")
    val r = out(2L).getAs[Double]("chrf_r")
    val f = out(2L).getAs[Double]("chrf2")
    assert(p < r, s"cand ⊃ ref must have P < R: $p vs $r")
    // β=2: F sits between P and R but closer to R than the harmonic
    // mean (β=1) would — check against the exact 5PR/(4P+R) formula
    assert(math.abs(f - 5.0 * p * r / (4.0 * p + r)) < 2e-6,
      s"chrf2 drifted from 5PR/(4P+R): $f vs $p/$r")
    assert(f > 2.0 * p * r / (p + r) - 1e-9, "β=2 must sit above β=1")
  }

  test("q358/q354/q361 plans: each pair kernel is computed once, in " +
    "whole-stage codegen, with no Generate, no aggregate and no " +
    "shuffle but the spread and the final sort") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import graft.functions.{ChrFClipped, TokenEdits, TokenLcs}
    for ((q, kernel) <- Seq("q358_chrf" -> classOf[ChrFClipped],
        "q354_rouge_l" -> classOf[TokenLcs], "q361_wer" -> classOf[TokenEdits])) {
      val df = graft.SparkEntry.queries(q)(spark, sf001)
      df.collect() // AQE's final plan: query stages, codegen stages
      val nodes = graft.PlanChecks.executedNodes(df)
      val plan = df.queryExecution.executedPlan.treeString
      // CollapseProject would inline the kernel into each consumer
      // (2 × maxN quantization terms for chrF, 3 ratios for rougeL)
      assert(graft.PlanChecks.expressionCount(nodes, kernel) === 1,
        s"$q computes ${kernel.getSimpleName} more than once:\n$plan")
      val inCodegen = nodes.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists(_.expressions.exists(_.exists(kernel.isInstance))))
      assert(inCodegen, s"$q runs ${kernel.getSimpleName} outside whole-stage codegen:\n$plan")
      assert(!nodes.exists(n => n.isInstanceOf[GenerateExec] ||
        n.isInstanceOf[BaseAggregateExec]), s"$q explodes or aggregates:\n$plan")
      val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.forall(s => s.shuffleOrigin == REPARTITION_BY_NUM ||
        s.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$q shuffles for more than the spread and the sort:\n$plan")
    }
  }

  test("distinctN: identical roster collapses toward 1/k; fully " +
    "distinct tokens score 1; bigram totals are per-response") {
    val collapsed = Seq.fill(4)((0L, "same answer text"))
      .toDF("prompt_id", "text")
    val c = TextStats.distinctN(collapsed, "prompt_id", "text")
      .collect().head
    assert(c.getAs[Long]("n_resp") === 4L)
    assert(c.getAs[Long]("total_1") === 12L &&
      c.getAs[Long]("uniq_1") === 3L)
    assert(c.getAs[Double]("distinct_1") === 0.25) // 1/k exactly
    assert(c.getAs[Long]("total_2") === 8L && c.getAs[Long]("uniq_2") === 2L)
    val diverse = Seq((1L, "a b"), (1L, "c d")).toDF("prompt_id", "text")
    val d = TextStats.distinctN(diverse, "prompt_id", "text")
      .collect().head
    assert(d.getAs[Double]("distinct_1") === 1.0)
    // bigrams never span responses: 1 per 2-token response, both unique
    assert(d.getAs[Long]("total_2") === 2L &&
      d.getAs[Double]("distinct_2") === 1.0)
  }

  test("rougeL: the maxTokens cap truncates both sides before the DP") {
    // cand = 6 tokens, cap 4: only "a b c d" survives; ref "c d" ⇒
    // LCS 2, cand_len reports the CAPPED length
    val pairs = Seq((0L, "a b c d e f", "c d"))
      .toDF("pair_id", "cand_text", "ref_text")
    val out = TextStats.rougeL(pairs, maxTokens = 4).collect().head
    assert(out.getAs[Long]("cand_len") === 4L)
    assert(out.getAs[Long]("lcs") === 2L)
    assert(out.getAs[Double]("rouge_l_r") === 1.0)
    // tokens e/f beyond the cap must not count: uncapped LCS would
    // still be 2 here, but a cap-aware check is the cand_len above
  }

  test("selfBleu: identical roster scores 1; hand-computed mixed " +
    "roster; lone response scores 0 (empty reference set)") {
    val collapsed = Seq.fill(4)((0L, "same answer text"))
      .zipWithIndex.map { case ((p, t), i) => (p, i.toLong, t) }
      .toDF("prompt_id", "resp_id", "text")
    val c = TextStats.selfBleu(collapsed).collect().head
    assert(c.getAs[Long]("n_resp") === 4L)
    assert(c.getAs[Double]("self_p1") === 1.0)
    assert(c.getAs[Double]("self_p2") === 1.0)

    // r1="a b", r2="a b", r3="a c": gram 'a' is roster-wide (nmax=3),
    // 'b' shared by r1/r2 (nmax=2), 'c' unique to r3 (ref 0) ⇒
    // p1 = (1, 1, 0.5), self_p1 = 2.5/3; bigram "a b" shared (p2=1,1),
    // "a c" unique (p2=0) ⇒ self_p2 = 2/3
    val mixed = Seq((7L, 1L, "a b"), (7L, 2L, "a b"), (7L, 3L, "a c"))
      .toDF("prompt_id", "resp_id", "text")
    val m = TextStats.selfBleu(mixed).collect().head
    assert(m.getAs[Double]("self_p1") === 0.833333)
    assert(m.getAs[Double]("self_p2") === 0.666667)

    val lone = Seq((9L, 1L, "only response here"))
      .toDF("prompt_id", "resp_id", "text")
    val l = TextStats.selfBleu(lone).collect().head
    assert(l.getAs[Double]("self_p1") === 0.0)
    assert(l.getAs[Double]("self_p2") === 0.0)
    graft.engine.TrackedCache.release()
  }

  test("selfBleu: the unique-argmax clip uses the SECOND max — a " +
    "response repeating a token 3x clips against the others' best 1") {
    // r1 says 'x' three times; r2/r3 once each. For r1: ref = m2 = 1
    // (not its own 3) ⇒ clip 1/3; for r2/r3: ref = m1 = 3 ⇒ clip 1.
    val df = Seq((0L, 1L, "x x x"), (0L, 2L, "x"), (0L, 3L, "x"))
      .toDF("prompt_id", "resp_id", "text")
    val r = TextStats.selfBleu(df).collect().head
    // p1 = (1/3, 1, 1) ⇒ mean = 7/9 = 0.777778 (1e-9-quantized)
    assert(r.getAs[Double]("self_p1") === 0.777778)
    graft.engine.TrackedCache.release()
  }

  test("wer: identity 0; hand substitution/insertion; symmetry; " +
    "agreement with char-level levenshtein on single-char tokens") {
    val pairs = Seq(
      (0L, "a b c", "a b c"),   // identity: 0 edits
      (1L, "a b c", "a x c"),   // 1 substitution
      (2L, "a b", "a b c"),     // 1 insertion, wer = 1/3
      (3L, "q w e r", "z x"),   // hand: lev(qwer, zx) = 4
      (4L, "a b c d", "d c b a") // reversal: lev = 4? checked below
    ).toDF("pair_id", "cand_text", "ref_text")
    val out = TextStats.wer(pairs).collect().map(r =>
      r.getAs[Long]("pair_id") -> r).toMap
    assert(out(0L).getAs[Long]("edits") === 0L)
    assert(out(0L).getAs[Double]("wer") === 0.0)
    assert(out(1L).getAs[Long]("edits") === 1L)
    assert(out(1L).getAs[Double]("wer") === 0.333333)
    assert(out(2L).getAs[Long]("edits") === 1L)
    assert(out(2L).getAs[Double]("wer") === 0.333333)
    // single-char tokens ⇒ word DP must equal Spark's char DP
    val strs = Seq((3L, "qwer", "zx"), (4L, "abcd", "dcba"))
      .toDF("id", "a", "b")
    val lev = strs.select(col("id"), levenshtein(col("a"), col("b"))
      .cast("long").as("d")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(3L).getAs[Long]("edits") === lev(3L))
    assert(out(4L).getAs[Long]("edits") === lev(4L))

    // symmetry: swapping cand/ref preserves the edit count
    val swapped = Seq((1L, "a x c", "a b c"), (3L, "z x", "q w e r"))
      .toDF("pair_id", "cand_text", "ref_text")
    val sw = TextStats.wer(swapped).collect().map(r =>
      r.getAs[Long]("pair_id") -> r.getAs[Long]("edits")).toMap
    assert(sw(1L) === 1L && sw(3L) === 4L)
  }

  test("fertility: hand-computed pieces/words/chars, and a never-" +
    "splitting corpus reads exactly 1.0") {
    // "don't stop-me now!" → pieces don|'|t|stop|-|me|now|! = 8,
    // words = 3, non-ws chars = 16
    val df = Seq(("en", "don't stop-me now!"), ("en", "plain words"))
      .toDF("lang", "text")
    val r = TextStats.fertility(df).collect().head
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("n_words") === 5L)
    assert(r.getAs[Long]("n_pieces") === 10L) // 8 + plain|words
    assert(r.getAs[Long]("piece_chars") === 26L) // 16 + 10
    assert(r.getAs[Double]("fertility") === 2.0)
    assert(r.getAs[Double]("chars_per_piece") === 2.6)
    val clean = Seq(("xx", "alpha beta"), ("xx", "gamma"))
      .toDF("lang", "text")
    val c = TextStats.fertility(clean).collect().head
    assert(c.getAs[Double]("fertility") === 1.0)
  }

  test("krippendorffAlphaInterval: brute pairwise agreement, perfect " +
    "panel scores 1, zero-variance pool yields NULL, singles drop") {
    def brute(rows: Seq[(Long, Long)]): (Double, Double, Double) = {
      val units = rows.groupBy(_._1).filter(_._2.size >= 2)
      val n = units.values.map(_.size).sum
      val doSum = units.values.map { u =>
        val xs = u.map(_._2)
        val t = (for (a <- xs; b <- xs) yield (a - b) * (a - b)).sum
        BigDecimal(1e6 * t.toDouble / (xs.size - 1))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      val pool = units.values.flatten.map(_._2).toSeq
      val deSum = (for (a <- pool; b <- pool) yield (a - b) * (a - b)).sum
      val dOr = doSum.toDouble / 1e6 / n
      val dEr = deSum.toDouble / (n.toDouble * (n - 1))
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6(dOr), r6(dEr), r6(1.0 - dOr / dEr))
    }
    val rows = Seq((0L, 10L), (0L, 12L), (0L, 11L),
      (1L, 40L), (1L, 38L), (2L, 25L), (2L, 25L), (2L, 31L),
      (9L, 99L)) // single rating: dropped
    val out = TextStats.krippendorffAlphaInterval(
        rows.toDF("u", "x"), "u", "x", "t").collect().head
    graft.engine.TrackedCache.release()
    val (dOr, dEr, aR) = brute(rows)
    assert(out.getAs[Long]("n") === 8L) // unit 9 dropped
    assert(out.getAs[Double]("d_o") === dOr)
    assert(out.getAs[Double]("d_e") === dEr)
    assert(math.abs(out.getAs[Double]("alpha") - aR) < 2e-6)

    val perfect = Seq((0L, 5L), (0L, 5L), (1L, 9L), (1L, 9L))
    val p = TextStats.krippendorffAlphaInterval(
      perfect.toDF("u", "x"), "u", "x", "t").collect().head
    graft.engine.TrackedCache.release()
    assert(p.getAs[Double]("alpha") === 1.0 &&
      p.getAs[Double]("d_o") === 0.0)

    val flat = Seq((0L, 7L), (0L, 7L), (1L, 7L), (1L, 7L))
    val f = TextStats.krippendorffAlphaInterval(
      flat.toDF("u", "x"), "u", "x", "t").collect().head
    graft.engine.TrackedCache.release()
    assert(f.isNullAt(f.fieldIndex("alpha"))) // D_e = 0: undefined
  }

  test("krippendorffAlphaOrdinal: brute-pairwise reference; binary " +
    "categories reduce to nominal alpha; one-category panel NULL") {
    // brute: φ_c = cumulative pairable marginal − n_c/2; α from raw
    // ordered-pair sums (no moment identity, no quantization)
    def brute(rows: Seq[(Long, Long)]): Double = {
      val byU = rows.groupBy(_._1).filter(_._2.size >= 2)
      val pairable = byU.values.flatten.map(_._2).toSeq
      val n = pairable.size
      val marg = pairable.groupBy(identity)
        .map { case (c, v) => c -> v.size.toLong }
      val cats = marg.keys.toSeq.sorted
      val cum = cats.scanLeft(0L)((a, c) => a + marg(c)).tail
      val phi = cats.zip(cum)
        .map { case (c, nc) => c -> (nc - marg(c) / 2.0) }.toMap
      val dO = byU.values.map { rs =>
        val xs = rs.map(r => phi(r._2)).toSeq
        val s = (for (i <- xs.indices; j <- xs.indices if i != j)
          yield { val d = xs(i) - xs(j); d * d }).sum
        s / (xs.size - 1).toDouble
      }.sum / n
      val all = pairable.map(phi)
      val dE = (for (i <- all.indices; j <- all.indices if i != j)
        yield { val d = all(i) - all(j); d * d }).sum /
        (n.toDouble * (n - 1))
      1.0 - dO / dE
    }
    def run(rows: Seq[(Long, Long)]) = {
      val r = TextStats.krippendorffAlphaOrdinal(
        rows.toDF("u", "c"), "u", "c", "t").collect().head
      graft.engine.TrackedCache.release()
      r
    }
    // 5-category mixed panel, incl. a unit-9 singleton (dropped)
    val rows = Seq((0L, 1L), (0L, 2L), (0L, 1L), (1L, 4L), (1L, 4L),
      (2L, 0L), (2L, 1L), (3L, 3L), (3L, 4L), (3L, 2L), (4L, 0L),
      (4L, 0L), (9L, 3L))
    val out = run(rows)
    assert(out.getAs[Long]("n") === 12L &&
      out.getAs[Long]("n_cats") === 5L)
    assert(math.abs(out.getAs[Double]("alpha") - brute(rows)) < 2e-6)

    // binary categories ⇒ every between-category distance is one
    // constant ⇒ ordinal α = nominal α
    val bin = Seq((0L, 0L), (0L, 0L), (1L, 1L), (1L, 0L), (2L, 1L),
      (2L, 1L), (3L, 0L), (3L, 1L), (3L, 1L))
    val ord = run(bin).getAs[Double]("alpha")
    val nom = TextStats.krippendorffAlpha(bin.toDF("u", "c"),
      "u", "c", "t").collect().head.getAs[Double]("alpha")
    graft.engine.TrackedCache.release()
    assert(math.abs(ord - nom) < 5e-6)

    // every pairable rating in one category ⇒ D_e = 0 ⇒ NULL
    val flat = Seq((0L, 2L), (0L, 2L), (1L, 2L), (1L, 2L))
    val f = run(flat)
    assert(f.isNullAt(f.fieldIndex("alpha")))
  }

  test("kendallW: perfect concordance 1, k=2 reversal 0 (mean " +
    "Spearman −1), all-ties NULL, tie-corrected brute reference") {
    def df(rows: Seq[(Long, Long, Long)]) = rows.toDF("u", "j", "x")
    def run(rows: Seq[(Long, Long, Long)]) = {
      val r = TextStats.kendallW(df(rows), "u", "j", "x").collect().head
      graft.engine.TrackedCache.release()
      r
    }
    // 3 judges, identical scores per item ⇒ W = 1
    val perfect = for (u <- 0L to 3L; j <- 0L to 2L) yield (u, j, u * 10)
    val p = run(perfect.toSeq)
    assert(p.getAs[Double]("w") === 1.0 &&
      p.getAs[Double]("mean_spearman") === 1.0)
    // 2 judges, exactly reversed ⇒ W = 0, ρ̄ = −1
    val rev = Seq((0L, 0L, 1L), (1L, 0L, 2L), (2L, 0L, 3L),
      (0L, 1L, 3L), (1L, 1L, 2L), (2L, 1L, 1L))
    val v = run(rev)
    assert(v.getAs[Double]("w") === 0.0 &&
      v.getAs[Double]("mean_spearman") === -1.0)
    // every judge all-ties ⇒ denominator 0 ⇒ NULL
    val flat = for (u <- 0L to 2L; j <- 0L to 1L) yield (u, j, 7L)
    val f = run(flat.toSeq)
    assert(f.isNullAt(f.fieldIndex("w")))

    // tie-corrected brute reference on a mixed panel
    val rows = Seq((0L, 0L, 5L), (1L, 0L, 5L), (2L, 0L, 9L), (3L, 0L, 1L),
      (0L, 1L, 2L), (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L),
      (0L, 2L, 8L), (1L, 2L, 3L), (2L, 2L, 8L), (3L, 2L, 0L))
    def brute(rs: Seq[(Long, Long, Long)]): Double = {
      val byJ = rs.groupBy(_._2)
      val k = byJ.size; val n = rs.map(_._1).distinct.size
      val ranks = byJ.values.flatMap { js =>
        val sorted = js.sortBy(_._3)
        // average rank per tie group
        val byScore = sorted.groupBy(_._3)
        sorted.zipWithIndex.map { case (r, _) =>
          val grp = byScore(r._3)
          val first = sorted.indexWhere(_._3 == r._3) + 1
          (r._1, first + (grp.size - 1) / 2.0)
        }
      }
      val rSum = ranks.groupBy(_._1).map { case (_, v) => v.map(_._2).sum }
      val mean = k * (n + 1) / 2.0
      val s = rSum.map(r => (r - mean) * (r - mean)).sum
      val t = byJ.values.map(_.groupBy(_._3).values
        .map(g => math.pow(g.size, 3) - g.size).sum).sum
      12.0 * s / (k.toDouble * k * (math.pow(n, 3) - n) - k * t)
    }
    val out = run(rows)
    // operator rounds to 6 decimals; brute is unrounded float math
    assert(math.abs(out.getAs[Double]("w") - brute(rows)) < 1.1e-6)
  }

  test("cronbachAlpha: parallel items score exactly 1, brute " +
    "reference, offsets are ignored, degenerate/incomplete NULL") {
    def run(rows: Seq[(Long, Long, Long)]) = {
      val r = TextStats.cronbachAlpha(rows.toDF("u", "j", "x"),
        "u", "j", "x").collect().head
      graft.engine.TrackedCache.release()
      r
    }
    // perfectly parallel items x_ij = v_i + b_j ⇒ α = 1 exactly
    // (per-item offsets shift means only — α is offset-blind)
    val v = Seq(3L, 9L, 1L, 7L, 5L)
    val parallel = for (i <- v.indices; j <- 0 to 3)
      yield (i.toLong, j.toLong, v(i) + 10L * j)
    val p = run(parallel.toSeq)
    assert(p.getAs[Long]("n_units") === 5L &&
      p.getAs[Long]("n_items") === 4L)
    assert(p.getAs[Double]("alpha") === 1.0)

    // brute double-math reference on a mixed panel
    val rows = Seq((0L, 0L, 5L), (0L, 1L, 6L), (0L, 2L, 4L),
      (1L, 0L, 9L), (1L, 1L, 8L), (1L, 2L, 9L),
      (2L, 0L, 1L), (2L, 1L, 3L), (2L, 2L, 2L),
      (3L, 0L, 7L), (3L, 1L, 5L), (3L, 2L, 8L))
    def brute(rs: Seq[(Long, Long, Long)]): Double = {
      val n = rs.map(_._1).distinct.size.toDouble
      val k = rs.map(_._2).distinct.size.toDouble
      def popVar(xs: Seq[Double]) = {
        val m = xs.sum / xs.size
        xs.map(x => (x - m) * (x - m)).sum / xs.size
      }
      val itemVars = rs.groupBy(_._2).values
        .map(g => popVar(g.map(_._3.toDouble).toSeq)).sum
      val totVar = popVar(rs.groupBy(_._1).values
        .map(_.map(_._3).sum.toDouble).toSeq)
      k / (k - 1) * (1.0 - itemVars / totVar)
    }
    val m = run(rows)
    assert(math.abs(m.getAs[Double]("alpha") - brute(rows)) < 1e-6)

    // one item ⇒ k−1 = 0 ⇒ NULL; missing one rating ⇒ NULL
    val one = run(rows.filter(_._2 == 0L))
    assert(one.isNullAt(one.fieldIndex("alpha")))
    val inc = run(rows.filterNot(r => r._1 == 3L && r._2 == 2L))
    assert(inc.isNullAt(inc.fieldIndex("alpha")))
    // constant totals ⇒ zero total variance ⇒ NULL
    val flat = run(for (i <- 0L to 3L; j <- 0L to 1L)
      yield (i, j, if (j == 0L) i else 10L - i))
    assert(flat.isNullAt(flat.fieldIndex("alpha")))
  }

  test("icc21: perfect agreement 1, systematic rater offsets are " +
    "penalized, brute ANOVA reference, incomplete panel NULL") {
    def run(rows: Seq[(Long, Long, Long)]) = {
      val r = TextStats.icc21(rows.toDF("u", "j", "x"),
        "u", "j", "x").collect().head
      graft.engine.TrackedCache.release()
      r
    }
    val v = Seq(3L, 9L, 1L, 7L, 5L)
    // identical raters ⇒ ICC = 1, MSC = MSE = 0
    val perfect = for (i <- v.indices; j <- 0 to 2)
      yield (i.toLong, j.toLong, v(i))
    val p = run(perfect.toSeq)
    assert(p.getAs[Double]("icc") === 1.0 &&
      p.getAs[Double]("msc") === 0.0 && p.getAs[Double]("mse") === 0.0)

    // same scores + systematic offsets: absolute-agreement ICC drops
    // below 1 (Cronbach's α on the same panel stays exactly 1)
    val offset = for (i <- v.indices; j <- 0 to 2)
      yield (i.toLong, j.toLong, v(i) + 4L * j)
    val o = run(offset.toSeq)
    assert(o.getAs[Double]("icc") < 1.0 && o.getAs[Double]("icc") > 0.0)
    val alphaSame = TextStats.cronbachAlpha(
      offset.toSeq.toDF("u", "j", "x"), "u", "j", "x")
      .collect().head.getAs[Double]("alpha")
    graft.engine.TrackedCache.release()
    assert(alphaSame === 1.0)

    // brute two-way-ANOVA double-math reference on a noisy panel
    val rows = Seq((0L, 0L, 5L), (0L, 1L, 7L), (0L, 2L, 4L),
      (1L, 0L, 9L), (1L, 1L, 9L), (1L, 2L, 8L),
      (2L, 0L, 1L), (2L, 1L, 4L), (2L, 2L, 2L),
      (3L, 0L, 7L), (3L, 1L, 6L), (3L, 2L, 8L))
    def brute(rs: Seq[(Long, Long, Long)]): Double = {
      val n = rs.map(_._1).distinct.size
      val k = rs.map(_._2).distinct.size
      val grand = rs.map(_._3).sum.toDouble / (n * k)
      val rowM = rs.groupBy(_._1).view
        .mapValues(g => g.map(_._3).sum.toDouble / k).toMap
      val colM = rs.groupBy(_._2).view
        .mapValues(g => g.map(_._3).sum.toDouble / n).toMap
      val ssr = k * rowM.values.map(m => (m - grand) * (m - grand)).sum
      val ssc = n * colM.values.map(m => (m - grand) * (m - grand)).sum
      val sst = rs.map(r =>
        (r._3 - grand) * (r._3 - grand)).sum
      val sse = sst - ssr - ssc
      val msr = ssr / (n - 1); val msc = ssc / (k - 1)
      val mse = sse / ((n - 1) * (k - 1))
      (msr - mse) /
        (msr + (k - 1) * mse + k.toDouble / n * (msc - mse))
    }
    val b = run(rows)
    assert(math.abs(b.getAs[Double]("icc") - brute(rows)) < 1e-6)

    // a missing rating breaks the crossing ⇒ NULL
    val inc = run(rows.filterNot(r => r._1 == 3L && r._2 == 2L))
    assert(inc.isNullAt(inc.fieldIndex("icc")))
  }

  test("kendallW: incomplete panel ⇒ NULL w and mean_spearman " +
    "(complete-panel contract enforced in-operator)") {
    // judge 2 skips item 3: counts still report, the statistic refuses
    val rows = (for (u <- 0L to 3L; j <- 0L to 2L
      if !(u == 3L && j == 2L)) yield (u, j, u + j)).toSeq
    val r = TextStats.kendallW(rows.toDF("u", "j", "x"), "u", "j", "x")
      .collect().head
    graft.engine.TrackedCache.release()
    assert(r.getAs[Long]("n_items") === 4L &&
      r.getAs[Long]("n_judges") === 3L &&
      r.getAs[Long]("n_ratings") === 11L)
    assert(r.isNullAt(r.fieldIndex("w")) &&
      r.isNullAt(r.fieldIndex("mean_spearman")))
  }

  test("kendallW/cronbachAlpha/icc21: a duplicate rating compensating " +
    "an omission keeps the raw count but must still gate to NULL " +
    "(exactly-once distinct-key gate, not a count check)") {
    // judge 2 skips item 3 but rates item 0 twice: 12 ratings, every
    // judge's raw count = 4 = n_items — a count-based gate would
    // pass, the rank-sum/ANOVA identities do not hold
    val rows = ((for (u <- 0L to 3L; j <- 0L to 2L
      if !(u == 3L && j == 2L)) yield (u, j, u + j)) :+ (0L, 2L, 9L))
      .toSeq
    val w = TextStats.kendallW(rows.toDF("u", "j", "x"), "u", "j", "x")
      .collect().head
    graft.engine.TrackedCache.release()
    assert(w.getAs[Long]("n_ratings") === 12L &&
      w.isNullAt(w.fieldIndex("w")), s"duped panel must refuse: $w")
    val a = TextStats.cronbachAlpha(rows.toDF("u", "j", "x"),
      "u", "j", "x").collect().head
    graft.engine.TrackedCache.release()
    assert(a.isNullAt(a.fieldIndex("alpha")),
      s"duped panel must refuse: $a")
    val i = TextStats.icc21(rows.toDF("u", "j", "x"), "u", "j", "x")
      .collect().head
    graft.engine.TrackedCache.release()
    assert(i.isNullAt(i.fieldIndex("icc")),
      s"duped panel must refuse: $i")
  }

  test("gwetAC1: perfect agreement 1, the kappa paradox resolved " +
    "(extreme prevalence: kappa negative, AC1 near 1), uneven panels " +
    "tolerated, brute reference on random panels") {
    def run(rows: Seq[(Long, Long)]) = {
      val r = TextStats.gwetAC1(rows.toDF("u", "cat"), "u", "cat", "t")
        .collect().head
      graft.engine.TrackedCache.release()
      r
    }
    // perfect agreement across 2 categories
    val perfect = (0L to 9L).flatMap(u =>
      Seq.fill(3)((u, u % 2)))
    val p = run(perfect)
    assert(p.getAs[Double]("p_observed") === 1.0 &&
      p.getAs[Double]("ac1") === 1.0)

    // THE PARADOX PANEL: 2 raters, 49 units agree on A, 1 unit
    // splits A/B. Fleiss kappa goes NEGATIVE (chance term ~ observed
    // agreement under extreme prevalence); AC1 reads the ~0.98
    // agreement that is actually there.
    val skew = (0L to 48L).flatMap(u => Seq((u, 0L), (u, 0L))) ++
      Seq((49L, 0L), (49L, 1L))
    val a = run(skew)
    val k = TextStats.fleissKappa(skew.toDF("u", "cat"), "u", "cat",
      "t").collect().head
    graft.engine.TrackedCache.release()
    assert(a.getAs[Double]("ac1") > 0.9,
      s"AC1 must survive prevalence skew: $a")
    assert(k.getAs[Double]("kappa") < 0.0,
      s"fixture must exhibit the paradox: $k")

    // uneven panel: 3 raters on some units, 2 on others — AC1 is
    // defined (no completeness gate); a 1-rating unit drops
    val uneven = Seq((0L, 0L), (0L, 0L), (0L, 0L), (1L, 0L), (1L, 1L),
      (2L, 1L))
    val un = run(uneven)
    assert(un.getAs[Long]("n_units") === 2L &&
      !un.isNullAt(un.fieldIndex("ac1")))

    // brute reference: random 3-category panels, m in {2, 3, 4}
    val rnd = new scala.util.Random(391L)
    for (trial <- 0 until 6) {
      val panel = (0L until (8 + rnd.nextInt(10)).toLong).flatMap { u =>
        (0 until 2 + rnd.nextInt(3)).map(_ =>
          (u, rnd.nextInt(3).toLong))
      }
      val got = run(panel)
      // brute: exact formulas in plain Scala
      val byU = panel.groupBy(_._1).filter(_._2.size >= 2)
      val n = byU.size.toDouble
      val pa = byU.values.map { rs =>
        val m = rs.size.toDouble
        val cnts = rs.groupBy(_._2).values.map(_.size.toDouble)
        cnts.map(c => c * (c - 1)).sum / (m * (m - 1))
      }.sum / n
      val cats = byU.values.flatten.map(_._2).toSet
      val pis = cats.toSeq.map { c =>
        byU.values.map { rs =>
          rs.count(_._2 == c).toDouble / rs.size }.sum / n
      }
      val pe = pis.map(x => x * (1 - x)).sum / (cats.size - 1)
      val ref = (pa - pe) / (1 - pe)
      assert(math.abs(got.getAs[Double]("ac1") - ref) < 1e-5,
        s"trial $trial: ${got.getAs[Double]("ac1")} vs brute $ref")
    }
  }

  test("gwetAC2: binary-scale linear weights reduce EXACTLY to AC1, " +
    "perfect agreement 1, near-misses score between nominal and " +
    "perfect, degenerate one-category scale NULL, brute reference") {
    def run(rows: Seq[(Long, Long)], power: Int = 2) = {
      val r = TextStats.gwetAC2(rows.toDF("u", "cat"), "u", "cat",
        "t", power = power).collect().head
      graft.engine.TrackedCache.release()
      r
    }
    // binary scale: linear weights ARE identity ⇒ AC2 == AC1 exactly
    val rnd0 = new scala.util.Random(392L)
    val bin = (0L until 20L).flatMap(u =>
      (0 until 2 + rnd0.nextInt(2)).map(_ => (u, rnd0.nextInt(2).toLong)))
    val a2 = run(bin, power = 1)
    val a1 = TextStats.gwetAC1(bin.toDF("u", "cat"), "u", "cat", "t")
      .collect().head
    graft.engine.TrackedCache.release()
    assert(a2.getAs[Double]("ac2") === a1.getAs[Double]("ac1") &&
      a2.getAs[Double]("p_observed") === a1.getAs[Double]("p_observed") &&
      a2.getAs[Double]("p_expected") === a1.getAs[Double]("p_expected"),
      s"binary reduction must be exact: $a2 vs $a1")

    // perfect agreement on a 3-point scale
    val perfect = (0L to 9L).flatMap(u => Seq.fill(3)((u, u % 3)))
    assert(run(perfect).getAs[Double]("ac2") === 1.0)

    // near-miss panel (every unit split between adjacent levels of a
    // 5-point scale): quadratic AC2 must beat nominal AC1 — partial
    // credit is the operator's whole point
    val near = (0L to 19L).flatMap(u =>
      Seq((u, u % 4), (u, u % 4 + 1)))
    val nA2 = run(near).getAs[Double]("ac2")
    val nA1 = TextStats.gwetAC1(near.toDF("u", "cat"), "u", "cat", "t")
      .collect().head.getAs[Double]("ac1")
    graft.engine.TrackedCache.release()
    assert(nA2 > nA1,
      s"adjacent splits must earn partial credit: ac2=$nA2 ac1=$nA1")

    // one-category panel: span 0, no scale to weight ⇒ NULL
    val flat = (0L to 5L).flatMap(u => Seq((u, 2L), (u, 2L)))
    val f = run(flat)
    assert(f.isNullAt(f.fieldIndex("ac2")))

    // brute reference on random 5-point panels (quadratic)
    val rnd = new scala.util.Random(4392L)
    for (trial <- 0 until 5) {
      val panel = (0L until (8 + rnd.nextInt(8)).toLong).flatMap { u =>
        (0 until 2 + rnd.nextInt(3)).map(_ =>
          (u, rnd.nextInt(5).toLong))
      }
      val got = run(panel).getAs[Double]("ac2")
      val byU = panel.groupBy(_._1).filter(_._2.size >= 2)
      val n = byU.size.toDouble
      val cats = panel.map(_._2).distinct.sorted
      val span = (cats.max - cats.min).toDouble
      def w(k: Long, l: Long) =
        1.0 - math.pow(math.abs(k - l) / span, 2)
      val pa = byU.values.map { rs =>
        val m = rs.size.toDouble
        val cnt = rs.groupBy(_._2).map { case (c, xs) =>
          c -> xs.size.toDouble }
        // .toSeq: a for over Map#keys yields a SET and would
        // deduplicate equal weighted terms before the sum
        val cross = (for (k <- cnt.keys.toSeq; l <- cnt.keys.toSeq)
          yield w(k, l) * cnt(k) * cnt(l)).sum
        (cross - m) / (m * (m - 1))
      }.sum / n
      val c = cats.size.toDouble
      val tw = (for (k <- cats; l <- cats) yield w(k, l)).sum
      val pis = cats.map { cc =>
        byU.values.map(rs =>
          rs.count(_._2 == cc).toDouble / rs.size).sum / n }
      val pe = (tw / (c * (c - 1))) * pis.map(x => x * (1 - x)).sum
      val ref = (pa - pe) / (1 - pe)
      val gotRow = run(panel)
      assert(math.abs(gotRow.getAs[Double]("p_observed") - pa) < 1e-5,
        s"trial $trial pa: ${gotRow.getAs[Double]("p_observed")} vs $pa")
      assert(math.abs(gotRow.getAs[Double]("p_expected") - pe) < 1e-5,
        s"trial $trial pe: ${gotRow.getAs[Double]("p_expected")} vs $pe")
      assert(math.abs(got - ref) < 1e-5,
        s"trial $trial: $got vs brute $ref")
    }
  }

  test("selfBleu/wer/fertility: NULL rows are dropped, not scored " +
    "as phantom groups (size(NULL) = −1 would corrupt totals)") {
    val sb = TextStats.selfBleu(Seq((Some(0L), Some(1L), Some("a b")),
        (Some(0L), Some(2L), None), (None, Some(3L), Some("a")))
      .toDF("prompt_id", "resp_id", "text")).collect()
    assert(sb.length === 1 && sb.head.getAs[Long]("n_resp") === 1L)
    graft.engine.TrackedCache.release()
    val w = TextStats.wer(Seq((Some(0L), Some("a"), Some("a")),
        (Some(1L), None, Some("a")))
      .toDF("pair_id", "cand_text", "ref_text")).collect()
    assert(w.length === 1 && w.head.getAs[Long]("edits") === 0L)
    val f = TextStats.fertility(Seq((Some("en"), Some("one two")),
        (Some("en"), None)).toDF("lang", "text")).collect()
    assert(f.head.getAs[Long]("n_docs") === 1L)
  }

  test("wer: the maxTokens cap truncates both sides before the DP") {
    // 26-token texts that differ only beyond position 24 ⇒ 0 edits
    val base = (1 to 26).map(i => s"t$i")
    val cand = base.mkString(" ")
    val ref = (base.take(24) ++ Seq("XX", "YY")).mkString(" ")
    val out = TextStats.wer(Seq((0L, cand, ref))
      .toDF("pair_id", "cand_text", "ref_text")).collect().head
    assert(out.getAs[Long]("cand_len") === 24L)
    assert(out.getAs[Long]("ref_len") === 24L)
    assert(out.getAs[Long]("edits") === 0L)
  }

  test("gwetAC2 scale derives from surviving units: the identity-" +
    "weight => AC1 reduction holds when a dropped sub-2-rating unit " +
    "carries an extra category") {
    // unit C's single rating (category 5) drops on the m>=2 rule;
    // the surviving scale is BINARY {0, 1}, where linear weights ARE
    // identity — so AC2 must equal AC1 exactly. Counting C's stray
    // category into span/n_cats/T_w (the pre-fix behavior) breaks it.
    val panel = Seq(("A", 0L), ("A", 0L), ("A", 1L),
      ("B", 1L), ("B", 1L), ("C", 5L)).toDF("u", "cat")
    val ac1 = TextStats.gwetAC1(panel, "u", "cat", "p").collect().head
    val ac2 = TextStats.gwetAC2(panel, "u", "cat", "p", power = 1)
      .collect().head
    graft.engine.TrackedCache.release()
    assert(ac2.getAs[Long]("n_cats") === 2L)
    assert(ac2.getAs[Double]("p_observed") ===
      ac1.getAs[Double]("p_observed"))
    assert(ac2.getAs[Double]("p_expected") ===
      ac1.getAs[Double]("p_expected"))
    assert(ac2.getAs[Double]("ac2") === ac1.getAs[Double]("ac1"))
  }

  test("agreementBootstrapCI: a degenerate all-agree panel collapses " +
    "to estimate 1, se 0, CI [1, 1]") {
    val panel = (0 until 30).flatMap { u =>
      val cat = (u % 3).toLong
      Seq((s"u$u", cat), (s"u$u", cat), (s"u$u", cat))
    }.toDF("u", "cat")
    val out = TextStats.agreementBootstrapCI(panel, "u", "cat", "p",
      measure = "ac1", b = 50, seed = "dg").collect().head
    graft.engine.TrackedCache.release()
    assert(out.getAs[Double]("estimate") === 1.0)
    assert(out.getAs[Double]("se") === 0.0)
    assert(out.getAs[Double]("ci_lo") === 1.0)
    assert(out.getAs[Double]("ci_hi") === 1.0)
  }

  test("agreementBootstrapCI: the CI brackets the point estimate, " +
    "the point estimate IS the point operator's, n_eff <= b") {
    val panel = (0 until 60).flatMap { u =>
      (0 until 3).map { j =>
        val coin = math.abs((u * 2654435761L + j * 40503L).toInt % 10)
        (s"u$u", if (coin < 7) (u % 2).toLong else ((u + j) % 3).toLong)
      }
    }.toDF("u", "cat")
    val boot = TextStats.agreementBootstrapCI(panel, "u", "cat", "p",
      measure = "ac1", b = 80, seed = "br").collect().head
    val point = TextStats.gwetAC1(panel, "u", "cat", "p")
      .collect().head
    graft.engine.TrackedCache.release()
    assert(boot.getAs[Double]("estimate") ===
      point.getAs[Double]("ac1"))
    assert(boot.getAs[Long]("n_eff") <= 80L &&
      boot.getAs[Long]("n_eff") > 0L)
    assert(boot.getAs[Double]("ci_lo") <=
      boot.getAs[Double]("estimate"))
    assert(boot.getAs[Double]("ci_hi") >=
      boot.getAs[Double]("estimate"))
    assert(boot.getAs[Double]("se") > 0.0)
  }

  test("agreementBootstrapCI: on a binary scale the AC2 bootstrap " +
    "(linear weights) equals the AC1 bootstrap row-for-row") {
    val panel = (0 until 40).flatMap { u =>
      (0 until 3).map { j =>
        val coin = math.abs((u * 1103515245L + j * 12345L).toInt % 10)
        (u.toLong, if (coin < 6) (u % 2).toLong else ((u + j) % 2).toLong)
      }
    }.toDF("u", "cat")
    def cols(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_units"), r.getAs[Long]("n_cats"),
        r.getAs[Long]("n_eff"), r.getAs[Double]("estimate"),
        r.getAs[Double]("se"), r.getAs[Double]("ci_lo"),
        r.getAs[Double]("ci_hi"))
    val a1 = TextStats.agreementBootstrapCI(panel, "u", "cat", "p",
      measure = "ac1", b = 60, seed = "bb").collect().head
    val a2 = TextStats.agreementBootstrapCI(panel, "u", "cat", "p",
      measure = "ac2", b = 60, power = 1, seed = "bb").collect().head
    graft.engine.TrackedCache.release()
    assert(cols(a1) === cols(a2))
  }

  test("agreement family NULL-rating rule: fleissKappa and " +
    "krippendorffAlpha drop NULL unit/category rows (like gwetAC1/" +
    "AC2), so the bootstrap estimate-equality law holds on " +
    "NULL-bearing panels") {
    val clean = (0 until 20).flatMap { u =>
      (0 until 3).map(j => (s"u$u", ((u + j) % 3).toString))
    }.toDF("u", "cat")
    val dirty = clean.unionByName(Seq(
      (null.asInstanceOf[String], "0"), ("u0", null.asInstanceOf[String]),
      (null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("u", "cat"))
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect().toSeq
      graft.engine.TrackedCache.release(); out
    }
    assert(rows(TextStats.krippendorffAlpha(dirty, "u", "cat", "p")) ===
      rows(TextStats.krippendorffAlpha(clean, "u", "cat", "p")))
    assert(rows(TextStats.fleissKappa(dirty, "u", "cat", "p")) ===
      rows(TextStats.fleissKappa(clean, "u", "cat", "p")))
    val boot = rows(TextStats.agreementBootstrapCI(dirty, "u", "cat",
      "p", measure = "alpha", b = 20, seed = "nn")).head
    val point = rows(TextStats.krippendorffAlpha(dirty, "u", "cat",
      "p")).head
    assert(boot.getAs[Double]("estimate") ===
      point.getAs[Double]("alpha"))
  }

  test("agreementBootstrapCI(alpha): estimate equals " +
    "krippendorffAlpha, missing-data units drop, CI brackets") {
    val panel = (0 until 50).flatMap { u =>
      val m = 1 + (u % 3) // m = 1 units are unpairable and drop
      (0 until m).map { j =>
        val coin = math.abs((u * 69069L + j * 991L).toInt % 10)
        (u.toLong, if (coin < 7) (u % 3).toLong else ((u + j + 1) % 3).toLong)
      }
    }.toDF("u", "cat")
    val boot = TextStats.agreementBootstrapCI(panel, "u", "cat", "p",
      measure = "alpha", b = 80, seed = "ka").collect().head
    val point = TextStats.krippendorffAlpha(panel, "u", "cat", "p")
      .collect().head
    graft.engine.TrackedCache.release()
    assert(boot.getAs[Double]("estimate") ===
      point.getAs[Double]("alpha"))
    assert(boot.getAs[Long]("n_units") ===
      point.getAs[Long]("n_units"))
    assert(boot.getAs[Double]("ci_lo") <=
      boot.getAs[Double]("estimate"))
    assert(boot.getAs[Double]("ci_hi") >=
      boot.getAs[Double]("estimate"))
  }
}
