package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // correctness gate only: query fns materialize the tiny shared
    // oracle artifacts (hyperplanes/centroids/scalar-reference
    // fixtures) — bench runs leave this off so timings stay pure
    System.setProperty("graft.verify.artifacts", "true")
    // optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // free operator-internal caches between queries (a long dump
        // otherwise accumulates every query's intermediates in the
        // shared CacheManager — the eviction-pressure leak class)
        graft.engine.TrackedCache.release()
      } catch { case e: Throwable =>
        graft.engine.TrackedCache.release()
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale dump from a previous run — a leftover
        // result would mask this failure in the compare step
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
