package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** ANN operators at 200× the test corpus: 100k synthetic 64-dim
  * vectors (distributed generation, hash-derived — no RNG state),
  * 5% planted near-duplicates. Reports wall-clock and planted-pair
  * recall of the multi-band candidate path, plus k-means IVF
  * training + probe timing. The embedding counterpart of DedupScale.
  *
  * Usage: runMain graft.tools.AnnScale [nVecs]
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.Session.build()

    // base vector components: splitmix-ish hash of (seed, j) → [-1, 1);
    // every 20th vector copies its predecessor with a tiny deterministic
    // perturbation (cosine ≈ 0.999 — the near-dup regime LSH targets)
    val base = spark.range(nVecs).toDF("vec_id")
      .withColumn("seed", when(pmod(col("vec_id"), lit(20)) === 1,
        col("vec_id") - 1).otherwise(col("vec_id")))
      .withColumn("delta", when(pmod(col("vec_id"), lit(20)) === 1, lit(0.01f))
        .otherwise(lit(0.0f)))
    val vecs = base.select(col("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(col("seed"), j), lit(200000)).cast("double") / 100000.0
          - 1.0 + col("delta")).cast("float"))
        .as("embedding"))
      .cache()
    vecs.count()

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"ANN-SCALE $tag: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    val planted = nVecs / 20
    val cand = Similarity.annCandidatePairs(vecs, threshold = 0.99,
      bands = 4, r = 16).cache()
    val nCand = time("annCandidatePairs(4x16)")(cand.count())
    val captured = cand.filter(col("id_b") === col("id_a") + 1 &&
      pmod(col("id_b"), lit(20)) === 1).count()

    val cents = time("kmeansCentroids(k=32,iters=3)")(
      Similarity.kmeansCentroids(vecs, kCells = 32, iters = 3))
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val ivf = time("ivfTopK(probe=4)")(
      Similarity.ivfTopK(vecs, q, k = 10, cents, nProbes = 4).collect())

    // large-k assignment: the literal-argmin tree stops being viable
    // here (plan/codegen grow with k·dim literals) — the broadcast-
    // join form is the k=4096 path. Centroids are hash-derived (no
    // training needed to measure ASSIGNMENT cost).
    val bigK = 4096
    val bigCents = (0 until bigK).map { cid =>
      cid -> Seq.tabulate(64) { j =>
        val h = ((cid.toLong * 131071L + j) * 0x9e3779b97f4a7c15L)
        ((java.lang.Math.floorMod(h, 200000L).toDouble / 100000.0) - 1.0).toFloat
      }
    }
    // sum(cell) as the action: count() would let Catalyst prune the
    // argmin aggregate entirely and time only the distinct-id scan
    val assigned = Similarity.ivfAssignJoin(vecs, bigCents).cache()
    val cellSum = time(s"ivfAssignJoin(k=$bigK)")(
      assigned.agg(sum("cell"), count(lit(1))).head())
    val nAssigned = cellSum.getLong(1)

    println(f"ANN-SCALE vecs=$nVecs pairs=$nCand " +
      f"plantedRecall=$captured/$planted ivfTop=${ivf.head.getLong(0)} " +
      f"bigKAssigned=$nAssigned")
    spark.stop()
  }
}
