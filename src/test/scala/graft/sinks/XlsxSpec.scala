package graft.sinks

import graft.SparkSpec
import java.nio.file.Files
import java.util.zip.ZipFile
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.xml.XML

class XlsxSpec extends SparkSpec {
  import spark.implicits._

  private def readPart(f: java.io.File, part: String): String = {
    val z = new ZipFile(f)
    try {
      val in = z.getInputStream(z.getEntry(part))
      new String(in.readAllBytes(), "UTF-8")
    } finally z.close()
  }

  test("workbook round-trips sheets, values, and escaping") {
    val df = Seq(("a & <b>", 1.5, 0.123456), ("plain", -2.0, 0.5))
      .toDF("name", "num", "1st 5-year CAGR")
    val f = Files.createTempDirectory("xlsx").resolve("t.xlsx").toFile
    Xlsx.write(Seq(Xlsx.Sheet("data", df, pctLast3 = true),
      Xlsx.Sheet("other", df.limit(1))), f)

    val wb = XML.loadString(readPart(f, "xl/workbook.xml"))
    assert((wb \\ "sheet").map(_ \@ "name") === Seq("data", "other"))

    val s1 = XML.loadString(readPart(f, "xl/worksheets/sheet1.xml"))
    val rows = (s1 \\ "row")
    assert(rows.size === 3) // header + 2
    val headerCells = (rows.head \\ "c").map(c => (c \\ "t").text)
    assert(headerCells === Seq("name", "num", "1st 5-year CAGR"))
    // escaping survived: raw XML contains &amp;, parsed value restores it
    assert(readPart(f, "xl/worksheets/sheet1.xml").contains("a &amp; &lt;b&gt;"))
    // numbers are native cells
    val r1 = (rows(1) \\ "c")
    assert((r1(1) \ "v").text === "1.5")
    // pct style on the last 3 columns (all three here, header included,
    // mirroring the reference's rows+1 gridExpand)
    assert(rows.forall(r => (r \\ "c").forall(c => (c \@ "s") == "1")))
    // styles carry the 0.0% format
    assert(readPart(f, "xl/styles.xml").contains("0.0%"))
  }

  test("pctLast3=false emits no styled cells") {
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    val f = Files.createTempDirectory("xlsx").resolve("p.xlsx").toFile
    Xlsx.write(Seq(Xlsx.Sheet("s", df)), f)
    assert(!readPart(f, "xl/worksheets/sheet1.xml").contains("s=\"1\""))
  }

  test("workbook bytes are reproducible (fixed zip timestamps)") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").orderBy("k")
    val d = Files.createTempDirectory("golden")
    val f1 = d.resolve("a.xlsx").toFile
    val f2 = d.resolve("b.xlsx").toFile
    Xlsx.write(Seq(Xlsx.Sheet("s", df)), f1)
    Thread.sleep(1100) // cross a zip-timestamp granularity boundary
    Xlsx.write(Seq(Xlsx.Sheet("s", df)), f2)
    val h1 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f1.toPath)).toSeq
    val h2 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f2.toPath)).toSeq
    assert(h1 === h2)
  }

  test("asTable sheets carry a table part with the right range") {
    val df = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v")
    val f = Files.createTempDirectory("tbl").resolve("t.xlsx").toFile
    Xlsx.write(Seq(Xlsx.Sheet("s", df, asTable = true)), f)
    val tbl = XML.loadString(readPart(f, "xl/tables/table1.xml"))
    assert(tbl \@ "ref" === "A1:B4") // header + 3 rows, 2 cols
    assert((tbl \\ "tableColumn").map(_ \@ "name") === Seq("k", "v"))
    assert(readPart(f, "xl/worksheets/sheet1.xml").contains("<tablePart"))
    assert(readPart(f, "xl/worksheets/_rels/sheet1.xml.rels")
      .contains("../tables/table1.xml"))
    assert(readPart(f, "[Content_Types].xml").contains("/xl/tables/table1.xml"))
  }

  test("asTable worksheet XML is namespace-valid (r:id prefix bound)") {
    // a strict namespace-aware parser rejects an unbound r: prefix —
    // exactly what Excel/openpyxl do; string-matching '<tablePart'
    // alone would miss a missing xmlns:r declaration
    val df = Seq(("a", 1.0)).toDF("k", "v")
    val f = Files.createTempDirectory("ns").resolve("ns.xlsx").toFile
    Xlsx.write(Seq(Xlsx.Sheet("s", df, asTable = true)), f)
    val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    factory.setNamespaceAware(true)
    val doc = factory.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(
        readPart(f, "xl/worksheets/sheet1.xml").getBytes("UTF-8")))
    val parts = doc.getElementsByTagNameNS(
      "http://schemas.openxmlformats.org/spreadsheetml/2006/main", "tablePart")
    assert(parts.getLength === 1)
    val rid = parts.item(0).getAttributes.getNamedItemNS(
      "http://schemas.openxmlformats.org/officeDocument/2006/relationships", "id")
    assert(rid != null && rid.getNodeValue === "rId1")
  }

  test("sheet names are sanitized to Excel rules") {
    assert(Xlsx.sanitizeName("a[b]c:d*e?f/g\\h") === "a b c d e f g h")
    assert(Xlsx.sanitizeName("x" * 40).length === 31)
  }

  test("duplicate sheet names (post-sanitization) are rejected") {
    val df = Seq((1, 2)).toDF("a", "b")
    val f = Files.createTempDirectory("dup").resolve("d.xlsx").toFile
    intercept[IllegalArgumentException] {
      Xlsx.write(Seq(Xlsx.Sheet("very long sheet name that gets truncated to 31!", df),
        Xlsx.Sheet("very long sheet name that gets truncated differently", df)), f)
    }
  }

  test("column letters beyond Z") {
    assert(Xlsx.colLetter(0) === "A")
    assert(Xlsx.colLetter(25) === "Z")
    assert(Xlsx.colLetter(26) === "AA")
    assert(Xlsx.colLetter(27 + 26) === "BB")
  }

  /** A frame that fails at run time, when its third row is computed. */
  private def failing = spark.range(0, 5, 1, 1)
    .select(when(col("id") === 2, raise_error(lit("injected sheet failure")))
      .otherwise(col("id")).as("id"))

  test("sheets backed by local relations are written without a Spark job") {
    val a = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    val b = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("c", 3.0)).asJava, a.schema)
    val f = Files.createTempDirectory("local").resolve("l.xlsx").toFile
    val jobs = jobsDuring(Xlsx.write(Seq(Xlsx.Sheet("a", a, pctLast3 = true),
      Xlsx.Sheet("b", b.drop("v"), asTable = true)), f))
    assert(jobs === 0)
    val rows = XML.loadString(readPart(f, "xl/worksheets/sheet1.xml")) \\ "row"
    assert(rows.size === 3)
  }

  test("a sheet that fails mid-write leaves no file and no temp file, and keeps the old one") {
    val d = Files.createTempDirectory("fail")
    val f = d.resolve("f.xlsx").toFile
    val ok = Seq(("a", 1.0)).toDF("k", "v")
    intercept[Exception] {
      Xlsx.write(Seq(Xlsx.Sheet("ok", ok), Xlsx.Sheet("broken", failing)), f)
    }
    assert(d.toFile.list().isEmpty)
    // a workbook already at the path survives a failed rewrite unchanged
    Xlsx.write(Seq(Xlsx.Sheet("ok", ok)), f)
    val before = Files.readAllBytes(f.toPath).toSeq
    intercept[Exception] {
      Xlsx.write(Seq(Xlsx.Sheet("ok", ok), Xlsx.Sheet("broken", failing)), f)
    }
    assert(d.toFile.list().toSeq === Seq("f.xlsx"))
    assert(Files.readAllBytes(f.toPath).toSeq === before)
  }

  test("a sheet over Excel's row limit is rejected by name before any of it is written") {
    val d = Files.createTempDirectory("limit")
    val f = d.resolve("big.xlsx").toFile
    // 1,048,576 data rows + the header = one row over the limit
    val big = spark.range(0, Xlsx.MaxRows, 1, 1).toDF("i")
    val e = intercept[IllegalArgumentException] {
      Xlsx.write(Seq(Xlsx.Sheet("small", Seq(1).toDF("i")), Xlsx.Sheet("too long", big)), f)
    }
    assert(e.getMessage.contains("'too long'") && e.getMessage.contains("1048577"))
    assert(d.toFile.list().isEmpty)
  }
}
