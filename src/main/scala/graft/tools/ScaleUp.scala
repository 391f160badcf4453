package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage a deterministic `factor`× enlargement of a testdata dir —
  * the measured-scale harness the sf0.01→sf0.1 probes can't provide
  * (they stop at the driver's largest generated SF). Replication is
  * seeded arithmetic only (no RNG state): replica k of a row keeps
  * the source row's shape but re-keys its GROWING dimension.
  *
  *  - lineitem/orders: new order keys (`key*factor + k`) — the
  *    "more transactions, same catalog" growth, so co-purchase
  *    graphs DENSIFY (the hard case for the graph family) and the
  *    part/supplier dictionaries keep their true size.
  *  - events: new users (`user + k*U`) with event ids re-keyed — the
  *    DAU-growth shape; timestamps untouched so every window/
  *    watermark density rises 10×.
  *  - documents: new doc ids, replica-tagged first token (`vK `) —
  *    replicas become near-duplicates of each other (jaccard ≈ 1),
  *    the adversarial LSH regime (every doc gains factor−1 planted
  *    near-dups).
  *  - embeddings: new vec ids, one dimension nudged per replica
  *    (+k/1000) — dense near-dup neighborhoods for the ANN family.
  *  - region/nation/customer/supplier/part: copied as-is
  *    (dimension tables don't grow with fact volume).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Session.build()
    new java.io.File(dst).mkdirs()

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(
        spark.range(factor.toLong).toDF("_k").hint("broadcast"))

    def write(name: String)(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write("lineitem")(reps(li)
      .withColumn("l_orderkey", col("l_orderkey") * factor + col("_k"))
      .drop("_k"))

    val orders = spark.read.parquet(s"$src/orders.parquet")
    write("orders")(reps(orders)
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("_k"))
      .drop("_k"))

    val ev = spark.read.parquet(s"$src/events.parquet")
    val uMax = ev.agg(max("user_id")).head.getLong(0) + 1L
    write("events")(reps(ev)
      .withColumn("user_id", col("user_id") + col("_k") * uMax)
      .withColumn("event_id", col("event_id") * factor + col("_k"))
      .drop("_k"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write("documents")(reps(docs)
      .withColumn("doc_id", col("doc_id") * factor + col("_k"))
      .withColumn("text", concat(lit("v"), col("_k").cast("string"),
        lit(" "), col("text")))
      .withColumn("n_chars", length(col("text")))
      .drop("_k"))

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    write("embeddings")(reps(emb)
      .withColumn("vec_id", col("vec_id") * factor + col("_k"))
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(i === pmod(col("_k"), lit(dim)),
            x + (col("_k").cast("double") / 1000.0).cast("float"))
          .otherwise(x)))
      .drop("_k"))

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(t)(spark.read.parquet(s"$src/$t.parquet"))

    spark.stop()
  }
}
