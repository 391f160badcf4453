package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Dedup operators at 100× the test corpus: 50k synthetic documents
  * (distributed generation), 5% planted near-duplicates. Reports
  * wall-clock and recall of the planted pairs.
  *
  * Usage: runMain graft.tools.DedupScale [nDocs]
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(50000)
    val spark = graft.Session.build()

    val vocab = array((0 until 200).map(i => lit(s"w$i")): _*)
    // every 20th doc is a near-dup of its predecessor (same seed, one
    // appended token)
    val docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("seed", when(pmod(col("doc_id"), lit(20)) === 1,
        col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("text", concat(
        array_join(transform(sequence(lit(0), lit(59)), i =>
          element_at(vocab, (pmod(xxhash64(col("seed"), i), lit(200)) + 1).cast("int"))), " "),
        when(pmod(col("doc_id"), lit(20)) === 1, lit(" extra token")).otherwise(lit(""))))
      .drop("seed")
      .cache()
    docs.count()

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"DEDUP-SCALE $tag: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    val nExact = time("exactGroups")(Dedup.exactGroups(docs).count())
    val cands = Dedup.minhashCandidates(docs, n = 3, k = 32, bands = 8).cache()
    val nCands = time("minhashCandidates")(cands.count())
    val planted = nDocs / 20
    val captured = cands.filter(col("id_b") === col("id_a") + 1 &&
      pmod(col("id_b"), lit(20)) === 1).count()
    val nSim = time("simhashGroups")(Dedup.simhashGroups(docs).count())
    // the composed corpus-scale default: LSH candidates → exact verify
    val verified = Dedup.minhashVerifiedPairs(docs, n = 3, k = 32, bands = 8,
      minJaccard = 0.5).cache()
    val nVerified = time("minhashVerifiedPairs")(verified.count())
    val verifiedPlanted = verified.filter(col("id_b") === col("id_a") + 1 &&
      pmod(col("id_b"), lit(20)) === 1).count()
    // and the guarded exact path: doc-frequency cap kills hot shingles
    val nCapped = time("jaccardCapped")(
      Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.5,
        maxDf = Some(100L)).count())
    // incremental topology: every planted near-dup (doc_id % 20 == 1)
    // arrives as the NEW shard; the index is built once from the rest
    // and PERSISTED — the shard dedups against the parquet index
    // without touching corpus text again
    val shard = docs.filter(pmod(col("doc_id"), lit(20)) === 1)
    val corpus = docs.filter(pmod(col("doc_id"), lit(20)) =!= 1)
    val idxDir = java.nio.file.Files.createTempDirectory("lsh_index").toString
    time("buildLshIndex+persist") {
      Dedup.writeLshIndex(Dedup.buildLshIndex(corpus, n = 3, k = 32, bands = 8), idxDir)
    }
    val persisted = Dedup.readLshIndex(spark, idxDir)
    val incPairs = Dedup.dedupAgainstIndex(shard, persisted, n = 3, k = 32,
      bands = 8, minJaccard = 0.5).cache()
    val nInc = time("dedupAgainstIndex")(incPairs.count())
    val incPlanted = incPairs.filter(col("id_new") === col("id_idx") + 1).count()
    // bucketed persistence: the index side reads its bucket layout
    // with no exchange (ScaleSpec pins the plan; this measures it)
    spark.sql("DROP TABLE IF EXISTS dedupscale_idx_buckets")
    spark.sql("DROP TABLE IF EXISTS dedupscale_idx_shingles")
    time("writeLshIndexBucketed") {
      Dedup.writeLshIndexBucketed(
        Dedup.buildLshIndex(corpus, n = 3, k = 32, bands = 8),
        "dedupscale_idx", buckets = 32)
    }
    val bucketed = Dedup.readLshIndexBucketed(spark, "dedupscale_idx")
    val nIncB = time("dedupAgainstIndex(bucketed)")(
      Dedup.dedupAgainstIndex(shard, bucketed, n = 3, k = 32,
        bands = 8, minJaccard = 0.5).count())
    require(nIncB == nInc, s"bucketed index changed results: $nIncB != $nInc")
    println(f"DEDUP-SCALE docs=$nDocs exactGroups=$nExact " +
      f"candidates=$nCands plantedRecall=$captured/$planted simhashGroups=$nSim " +
      f"verifiedPairs=$nVerified verifiedPlantedRecall=$verifiedPlanted/$planted " +
      f"cappedPairs=$nCapped incrementalPairs=$nInc incrementalPlantedRecall=$incPlanted/$planted")
    spark.stop()
  }
}
