package graft.engine

import graft.SparkSpec
import java.nio.file.Files

/** Pins SURVEY.md §2.1: preamble skip (S1/S3), NA token, and
  * remove_empty (S4) semantics.
  */
class IngestSpec extends SparkSpec {

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("ingest").toFile
    val f = new java.io.File(dir, "employment.csv")
    val w = new java.io.PrintWriter(f)
    w.println("Export from 4castviewer")
    w.println("generated 2024-01-01")
    w.println("")
    w.println("NOC,Description,Income,Empty")
    w.println("#T,All occupations,100.5,")
    w.println("#10011,Senior managers,x,")
    w.println(",,,")
    w.close()
    f.getAbsolutePath
  }

  test("readCsv skips the 3-line preamble and honors the NA token") {
    val df = Ingest.readCsv(spark, writeFixture(), skip = 3, nullValue = "x")
    assert(df.columns.toSeq === Seq("NOC", "Description", "Income", "Empty"))
    assert(df.count() === 3)
    val rows = df.collect()
    val mgr = rows.find(r => r.getAs[String]("NOC") == "#10011").get
    assert(mgr.isNullAt(mgr.fieldIndex("Income"))) // "x" → null
  }

  test("removeEmpty drops all-null rows AND all-null columns") {
    val df = Ingest.readCsv(spark, writeFixture(), skip = 3, nullValue = "x")
    val cleaned = Ingest.removeEmpty(df)
    assert(cleaned.count() === 2)                 // ,,,  row dropped
    assert(cleaned.columns.toSeq === Seq("NOC", "Description", "Income"))
  }

  test("removeEmpty keeps a column null in every row of one file but not of another, in one job") {
    val dir = Files.createTempDirectory("sparse").toFile
    def write(name: String, rows: String*): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      w.println("preamble 1"); w.println("preamble 2"); w.println("")
      w.println("NOC,Income,Empty")
      rows.foreach(w.println)
      w.close()
    }
    write("a.csv", "#1,,", "#2,,")
    write("b.csv", "#3,7.5,")
    val df = Ingest.removeEmptyRows(Ingest.readCsv(spark, s"$dir/*.csv", skip = 3))
    lazy val cleaned = Ingest.removeEmptyCols(df)
    assert(jobsDuring(cleaned) === 1)
    assert(cleaned.columns.toSeq === Seq("NOC", "Income"))
    assert(cleaned.collect().map(r => r.getString(0) -> Option(r.get(1))).sortBy(_._1).toSeq ===
      Seq("#1" -> None, "#2" -> None, "#3" -> Some(7.5)))
  }

  test("multi-file glob: the preamble is skipped in EVERY file") {
    val dir = Files.createTempDirectory("multi").toFile
    for (i <- 1 to 3) {
      val w = new java.io.PrintWriter(new java.io.File(dir, s"part$i.csv"))
      w.println("preamble 1"); w.println("preamble 2"); w.println("")
      w.println("NOC,Value")
      w.println(s"#$i,${i * 10}")
      w.close()
    }
    val df = Ingest.readCsv(spark, s"$dir/part*.csv", skip = 3)
    assert(df.count() === 3) // one data row per file, zero preamble leakage
    assert(df.columns.toSeq === Seq("NOC", "Value"))
  }

  test("resolveFiles glob discovery (reference :93-95)") {
    val dir = Files.createTempDirectory("glob").toFile
    new java.io.PrintWriter(new java.io.File(dir, "Occupational Characteristics 2024.csv")) {
      println("NOC"); close()
    }
    new java.io.PrintWriter(new java.io.File(dir, "other.csv")) { println("x"); close() }
    val found = Ingest.resolveFiles(spark, s"$dir/*Occupational Characteristics*")
    assert(found.size === 1 && found.head.contains("Occupational Characteristics"))
  }

  test("files split into several partitions lose exactly their preamble and header") {
    val dir = Files.createTempDirectory("split").toFile
    def write(name: String, preamble: Seq[String], rows: Range): String = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f)
      preamble.foreach(w.println)
      w.println("NOC,Value")
      rows.foreach(i => w.println(s"#$i,$i"))
      w.close()
      f.getAbsolutePath
    }
    // many data rows after a short preamble, and a preamble longer than
    // half the file, so the header lands in the second split
    val long = write("a_rows.csv", Seq("preamble 1", "preamble 2", ""), 0 until 400)
    val deep = write("b_preamble.csv", Seq.fill(3)("p" * 2000), 400 until 403)
    Seq(long, deep).foreach(f => assert(spark.sparkContext.textFile(f).getNumPartitions > 1))
    val one = Ingest.readCsv(spark, long, skip = 3)
    assert(one.columns.toSeq === Seq("NOC", "Value"))
    assert(one.schema("Value").dataType === org.apache.spark.sql.types.IntegerType)
    assert(one.count() === 400)
    val both = Ingest.readCsv(spark, s"$dir/*.csv", skip = 3)
    assert(both.collect().map(_.getAs[Int]("Value")).sorted.toSeq === (0 until 403))
  }
}
