package graft.sinks

import graft.SparkSpec
import java.nio.file.Files
import java.util.zip.ZipFile
import org.apache.spark.sql.functions._

/** The CSV → zip sink writes only the zip: its CSV temp dir and the
  * zip's temp file are gone on success and on failure alike.
  */
class ArchiveSpec extends SparkSpec {
  import spark.implicits._

  test("the zip holds the csv, and nothing else is left next to it") {
    val d = Files.createTempDirectory("zip")
    val f = d.resolve("long.zip").toFile
    Archive.writeCsvZip(Seq(("a", 1), ("b", 2)).toDF("k", "v"), f, "long.csv")
    assert(d.toFile.list().toSeq === Seq("long.zip"))
    val z = new ZipFile(f)
    try {
      val e = z.getEntry("long.csv")
      val text = new String(z.getInputStream(e).readAllBytes(), "UTF-8")
      assert(text.linesIterator.toSeq === Seq("k,v", "a,1", "b,2"))
    } finally z.close()
  }

  test("a failed archive leaves no zip and no temp csv dir") {
    val d = Files.createTempDirectory("zipfail")
    val f = d.resolve("long.zip").toFile
    val failing = spark.range(0, 5, 1, 1)
      .select(when(col("id") === 2, raise_error(lit("injected archive failure")))
        .otherwise(col("id")).as("id"))
    // nor anywhere under the JVM's temp dir, where a csv dir could also go
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def tmpEntries = tmpRoot.list().toSet
    val before = tmpEntries
    intercept[Exception](Archive.writeCsvZip(failing, f, "long.csv"))
    assert(d.toFile.list().isEmpty)
    assert((tmpEntries -- before).filter(_.contains("csvzip")).isEmpty)
  }
}
