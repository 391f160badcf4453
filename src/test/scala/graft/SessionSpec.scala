package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Pins the settings every session shares (they all come from
  * `graft.Session.build`) and keeps that factory the only builder.
  */
class SessionSpec extends SparkSpec {

  test("the shared session carries the factory's settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.maxPlanStringLength") === "1000000")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // left at Spark's default on purpose (see graft.Session)
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "false")
  }

  private def filesUnder(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  test("graft/Session.scala is the only SparkSession builder in src/main") {
    val main = Paths.get("src/main/scala")
    val builders = filesUnder(main.toString)
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(main.relativize)
    assert(builders === Seq(Paths.get("graft/Session.scala")))
  }

  test("retired env knobs are gone from src/") {
    // spelled in pieces so this file does not name them itself
    val retired =
      Seq("AQE", "CACHE_AQE", "COMPACT_TARGET", "FILE_IMPL", "CC_DEBUG",
        "STACK_SAMPLER", "PROBE_STAGES").map("GRAFT_" + _) ++
        Seq("SWEEP", "CLEARCACHE").map("SPARK_GRAFT_" + _)
    val hits = for {
      p <- filesUnder("src")
      // Latin-1 decodes any bytes; the names are ASCII
      text = new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1)
      k <- retired if text.contains(k)
    } yield s"$p: $k"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
