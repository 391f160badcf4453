package graft.engine

import graft.SparkSpec
import graft.fixtures.LmoFixtures
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Golden end-to-end checks of the ten artifact pipelines
  * (SURVEY.md §2.11) over the LMO-shaped fixtures, ingested through
  * the full raw-CSV path (preamble skip, NA token, remove_empty,
  * filename glob).
  */
class PipelinesSpec extends SparkSpec {

  private val fyod = LmoFixtures.fyod
  private lazy val raw = {
    val dir = java.nio.file.Files.createTempDirectory("lmo_raw").toFile
    LmoFixtures.writeRawCsvs(spark, dir)
    dir
  }
  private lazy val in = LmoFixtures.ingest(spark, raw)

  test("ingest reproduces the in-memory fixtures exactly (S1-S4 round trip)") {
    val mem = LmoFixtures.inputs(spark)
    assert(in.employment.columns.toSeq === mem.employment.columns.toSeq)
    assert(in.employment.count() === mem.employment.count())
    assert(in.jobOpenings.count() === mem.jobOpenings.count())
    // "x" NA token → null income for the one planted row
    val nullIncome = in.occChar.filter(col(LmoFixtures.incomeCol).isNull)
      .select("NOC").collect().map(_.getString(0)).toSeq
    assert(nullIncome === Seq("#31301"))
  }

  test("artifact 1: BC-only CAGR table with publication names") {
    val a = Pipelines.employmentByIndustryOccupationBC(in, fyod)
    val df = a.sheets.head.df
    assert(a.sheets.map(_.name) === Seq("data"))
    assert(df.columns.take(5).toSeq ===
      Seq("NOC", "Description", "Industry", "Variable", "Geographic Area"))
    assert(df.columns.takeRight(3).toSeq ===
      Seq("1st 5-year CAGR", "2nd 5-year CAGR", "10-year CAGR"))
    assert(df.select("Geographic Area").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("British Columbia"))
    // CAGR spot check against first principles
    val r = df.filter(col("NOC") === "#T" && col("Industry") === "All industries").head()
    val v0 = r.getAs[Double](fyod.toString)
    val v5 = r.getAs[Double]((fyod + 5).toString)
    val got = r.getAs[Double]("1st 5-year CAGR")
    assert(math.abs(got - (math.pow(v5 / v0, 0.2) - 1)) < 1e-12)
  }

  test("strictParity mode reproduces the reference's exact mangled headers") {
    // the reference's blanket str_to_title (01_source_me.R:112)
    // ICU-mangles the stat headers; strictParity reproduces them
    // byte-for-byte so published catalog files can be byte-compared
    val strict = Pipelines.horizonTable(in.employment, fyod, useCagrs = true,
      strictParity = true)(
      _.filter(col("geographic_area") === "British Columbia"))
    assert(strict.columns.take(5).toSeq ===
      Seq("NOC", "Description", "Industry", "Variable", "Geographic Area"))
    assert(strict.columns.takeRight(3).toSeq ===
      Seq("1St 5-Year Cagr", "2Nd 5-Year Cagr", "10-Year Cagr"))
    val strictSums = Pipelines.horizonTable(in.jobOpenings, fyod, useCagrs = false,
      strictParity = true)(
      _.filter(col("geographic_area") === "British Columbia" &&
        col("variable") === "Job Openings"))
    assert(strictSums.columns.takeRight(3).toSeq ===
      Seq("1St 5-Year Sum", "2Nd 5-Year Sum", "10-Year Sum"))
    // same rows either way — only the header contract differs
    val canonical = Pipelines.horizonTable(in.employment, fyod, useCagrs = true)(
      _.filter(col("geographic_area") === "British Columbia"))
    assert(strict.count() === canonical.count())
    // golden-pin the strict-mode workbook bytes too (the canonical
    // mode is pinned by GoldenSpec): both header contracts are stable
    val out = java.nio.file.Files.createTempDirectory("strict_golden")
      .resolve("strict.xlsx").toFile
    graft.sinks.Xlsx.write(
      Seq(graft.sinks.Xlsx.Sheet("data", strict, pctLast3 = true)), out)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(out.toPath))
      .map("%02x".format(_)).mkString
    assert(sha === "a996316ba0dc23a17ba1d4b14aeef0cf3aeed6d396a91c48014c9eb0bd5af1cb",
      s"strict-parity artifact bytes changed: $sha")
  }

  test("artifact 2: #T only, North/South East dropped, region sheets drop noc/desc/var") {
    val a = Pipelines.employmentByIndustryRegions(in, fyod)
    assert(a.sheets.map(_.name) ===
      Seq("data", "British Columbia", "Cariboo", "Kootenay"))
    assert(a.sheets.forall(_.pctLast3))
    val regionSheet = a.sheets(1).df
    assert(!regionSheet.columns.contains("NOC"))
    assert(!regionSheet.columns.contains("Description"))
    assert(!regionSheet.columns.contains("Variable"))
    assert(regionSheet.columns.contains("Industry"))
  }

  test("artifact 3: horizon sums exclude the base year") {
    val a = Pipelines.joByIndustryOccupationBC(in, fyod)
    val df = a.sheets.head.df
    val r = df.filter(col("NOC") === "#T" && col("Industry") === "All industries").head()
    val years = (fyod + 1 to fyod + 5).map(y => r.getAs[Double](y.toString))
    assert(math.abs(r.getAs[Double]("1st 5-year Sum") - years.sum) < 1e-9)
    val all10 = (fyod + 1 to fyod + 10).map(y => r.getAs[Double](y.toString))
    assert(math.abs(r.getAs[Double]("10-year Sum") - all10.sum) < 1e-9)
  }

  test("artifact 4: HOO workbook — dictionary + per-region sheets, JO joined by name") {
    val a = Pipelines.highOpportunityOccupations(in, fyod)
    assert(a.sheets.map(_.name) === Seq("Data Dictionary",
      "HOO British Columbia", "HOO Cariboo", "HOO Kootenay", "HOO North", "HOO South East"))
    val dict = a.sheets.head.df
    assert(dict.columns.toSeq === Seq(" ") && dict.count() === 8)
    val bc = a.sheets(1).df
    assert(bc.columns.toSeq === Seq("NOC", "Description",
      s"LMO Job Openings $fyod-${fyod + 10}", "TEER", LmoFixtures.incomeCol))
    // TEER is char 3 of the #-prefixed NOC = the occupation's 2nd digit
    bc.collect().foreach(r =>
      assert(r.getAs[String]("TEER") === r.getAs[String]("NOC").substring(2, 3)))
    // JO value = 10-year sum (anchor year INCLUDED here: plain sum of
    // all year columns) of All-industries Job Openings for BC
    val joCol = s"LMO Job Openings $fyod-${fyod + 10}"
    val expect = Reshape.unpivotByPrefix(
      in.jobOpenings.filter(col("Industry") === "All industries" &&
        col("Variable") === "Job Openings" &&
        col("Geographic Area") === "British Columbia"), "2")
      .groupBy("NOC").agg(sum("value").as("jo"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    bc.collect().foreach { r =>
      val noc = r.getAs[String]("NOC")
      assert(math.abs(r.getAs[Double](joCol) - expect(noc)) < 1e-9, s"JO mismatch for $noc")
    }
  }

  test("artifact 5: all three variable types, NO region filter (commented out in ref)") {
    val df = Pipelines.joByTypeIndustryOccupation(in, fyod).sheets.head.df
    assert(df.select("Variable").distinct().count() === 3)
    assert(df.select("Geographic Area").distinct().count() === 5) // North/SE kept
  }

  test("artifact 5 data invariant: Job Openings = Expansion + Replacement") {
    val df = Pipelines.joByTypeIndustryOccupation(in, fyod).sheets.head.df
      .filter(col("NOC") === "#T" && col("Industry") === "All industries" &&
        col("Geographic Area") === "British Columbia")
    val byVar = df.collect().map(r => r.getAs[String]("Variable") -> r).toMap
    val s = (v: String) => byVar(v).getAs[Double]("10-year Sum")
    assert(math.abs(s("Job Openings") - (s("Expansion Demand") + s("Replacement Demand"))) < 0.1)
  }

  test("artifact 6: long format with ORIGINAL column names and Date/Value") {
    val df = Pipelines.employmentLongBCRegions(in).sheets.head.df
    assert(df.columns.toSeq === Seq("NOC", "Description", "Industry", "Variable",
      "Geographic Area", "Date", "Value"))
    assert(df.filter(col("Geographic Area").isin("North", "South East")).count() === 0)
    // 6 nocs × 3 industries × 3 areas × 11 years
    assert(df.count() === 6L * 3 * 3 * 11)
  }

  test("artifacts 7/8: region sheets drop the right columns") {
    val a7 = Pipelines.employmentByOccupationRegions(in, fyod)
    assert(a7.sheets.map(_.name).head === "data")
    assert(!a7.sheets(1).df.columns.contains("Industry"))
    assert(!a7.sheets(1).df.columns.contains("Variable"))
    val a8 = Pipelines.joByTypeOccupationRegions(in, fyod)
    assert(!a8.sheets(1).df.columns.contains("Industry"))
    assert(a8.sheets(1).df.columns.contains("Variable")) // only Industry dropped
    assert(a8.sheets.forall(!_.pctLast3)) // sums, not percents
  }

  test("artifact 10: inner join drops NOCs missing from clusters; split-once desc") {
    val df = Pipelines.joBySkillCluster(in, fyod).sheets.head.df
    val nocs = df.select("NOC").collect().map(_.getString(0)).toSet
    assert(nocs === Set("#00011", "#10011", "#21234", "#31301")) // no #T, no #41200
    val desc = df.filter(col("NOC") === "#10011").select("Description").head().getString(0)
    assert(desc === "Admin managers: finance") // ": " inside survived
    assert(df.columns.toSeq === Seq("NOC", "Description", "Occ Group: Skills Cluster",
      s"LMO Job Openings $fyod-${fyod + 10}"))
  }

  test("data-plane parquet mirrors: one table per artifact, region-partitioned") {
    val out = java.nio.file.Files.createTempDirectory("lmo_dp").toFile
    val written = Pipelines.writeDataPlane(in, fyod, out)
    assert(written === catalogNames.init.map(_.stripSuffix(".xlsx")))
    val hoo = new java.io.File(out, "High Opportunity Occupations BC and Regions")
    assert(hoo.exists)
    // region-keyed tables are partitioned by Geographic Area
    val emp = new java.io.File(out, "Employment by Industry and Occupation for BC")
    assert(emp.listFiles().exists(_.getName.startsWith("Geographic Area=")))
    // and they read back with rows
    val back = spark.read.parquet(emp.getAbsolutePath)
    assert(back.count() > 0)
  }

  /** `buildAll`'s file names, in the order it returns them. */
  private val catalogNames = Seq(
    "Employment by Industry and Occupation for BC.xlsx",
    "Employment by Industry for BC and Regions.xlsx",
    "Job Openings by Industry and Occupation for BC.xlsx",
    "High Opportunity Occupations BC and Regions.xlsx",
    "JO by Type, Ind and Occ for BC and Regions.xlsx",
    "Employment by Ind and Occ for BC and Regions.xlsx",
    "Employment by Occupation for BC and Regions.xlsx",
    "Job Openings by Type and Occ for BC and Regions.xlsx",
    "Job Openings by NOC and Skill Cluster.xlsx",
    "JO by Type, Ind and Occ for BC and Regions (long).zip")

  private def bytes(dir: java.io.File, name: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(new java.io.File(dir, name).toPath).toSeq

  test("artifact 9 + buildAll: ten artifacts on disk, zip contains the csv") {
    val out = java.nio.file.Files.createTempDirectory("lmo_out").toFile
    val written = Pipelines.buildAll(in, fyod, out)
    assert(written === catalogNames)
    // the chains run concurrently, yet a second build writes the same bytes
    val again = java.nio.file.Files.createTempDirectory("lmo_out_again").toFile
    assert(Pipelines.buildAll(in, fyod, again) === catalogNames)
    catalogNames.foreach(f => assert(bytes(again, f) === bytes(out, f), s"$f differs"))
    written.foreach(f => assert(new java.io.File(out, f).length() > 0, s"$f empty"))
    val zf = new java.util.zip.ZipFile(new java.io.File(out,
      "JO by Type, Ind and Occ for BC and Regions (long).zip"))
    val entry = zf.entries().nextElement()
    assert(entry.getName.endsWith(".csv"))
    val lines = scala.io.Source.fromInputStream(zf.getInputStream(entry)).getLines().toSeq
    zf.close()
    // header + 6 nocs × 3 ind × 3 vars × 3 areas × 11 years
    assert(lines.size === 1 + 6 * 3 * 3 * 3 * 11)
    assert(lines.head.split(",").takeRight(2).toSeq === Seq("year", "value"))
  }

  /** The six horizon artifacts as the reference states them: workbook,
    * CAGRs (employment) or sums (job openings), and the filter on the
    * long form's group keys.
    */
  private val horizonFilters: Seq[(String, Boolean, Column)] = {
    val notNorthSouthEast = !col("geographic_area").isin("North", "South East")
    val joTypes = col("variable").isin("Job Openings", "Expansion Demand", "Replacement Demand")
    Seq(
      ("Employment by Industry and Occupation for BC.xlsx", true,
        col("geographic_area") === "British Columbia"),
      ("Employment by Industry for BC and Regions.xlsx", true,
        col("noc") === "#T" && notNorthSouthEast),
      ("Job Openings by Industry and Occupation for BC.xlsx", false,
        col("geographic_area") === "British Columbia" && col("variable") === "Job Openings"),
      ("JO by Type, Ind and Occ for BC and Regions.xlsx", false, joTypes),
      ("Employment by Occupation for BC and Regions.xlsx", true,
        col("industry") === "All industries" && notNorthSouthEast),
      ("Job Openings by Type and Occ for BC and Regions.xlsx", false,
        col("industry") === "All industries" && joTypes && notNorthSouthEast))
  }

  /** Each horizon artifact of `allWorkbooks` (all drawn from one plan
    * per fact input) equals its own `horizonTable`: same columns, types
    * and rows in the same order; its sheets collect without a Spark job.
    */
  private def checkSharedHorizons(in: Pipelines.LmoInputs): Unit = {
    val built = Pipelines.allWorkbooks(in, fyod).map(a => a.fileName -> a).toMap
    horizonFilters.foreach { case (file, useCagrs, keys) =>
      val src = if (useCagrs) in.employment else in.jobOpenings
      val expected = Pipelines.horizonTable(src, fyod, useCagrs)(_.filter(keys))
      val got = built(file).sheets.head.df
      assert(got.schema.map(f => f.name -> f.dataType) ===
        expected.schema.map(f => f.name -> f.dataType), file)
      assert(got.collect().toSeq === expected.collect().toSeq, file)
    }
    val sheets = horizonFilters.flatMap { case (file, _, _) => built(file).sheets }
    assert(sheets.size > horizonFilters.size) // region sheets included
    assert(jobsDuring(sheets.foreach(_.df.collect())) === 0)
  }

  test("horizon artifacts from one plan per fact input equal their own horizonTable") {
    checkSharedHorizons(in)
  }

  test("shared horizons with a null key, North/South East rows and a group missing a year") {
    val mem = LmoFixtures.inputs(spark)
    def extra(src: org.apache.spark.sql.DataFrame, variable: String) = {
      val series = LmoFixtures.years.map(y => 100.0 + y - fyod)
      val gap = series.updated(5, null) // no value at fyod + 5
      val rows = Seq(
        Seq("#T", "All occupations", "All industries", variable, null) ++ series,
        Seq(null, "No code", "All industries", variable, "British Columbia") ++ series,
        Seq("#T", "All occupations", null, variable, "British Columbia") ++ series,
        Seq("#55555", "Gap year", "All industries", variable, "British Columbia") ++ gap,
        Seq("#55555", "Gap year", "All industries", variable, "North") ++ gap)
      src.union(spark.createDataFrame(rows.map(Row.fromSeq).asJava, src.schema))
    }
    val in2 = mem.copy(employment = extra(mem.employment, "Employment"),
      jobOpenings = extra(mem.jobOpenings, "Job Openings"))
    checkSharedHorizons(in2)
    // the planted gap reaches the tables: a null CAGR where fyod + 5 is missing
    val a1 = Pipelines.employmentByIndustryOccupationBC(in2, fyod).sheets.head.df
    val gapRow = a1.filter(col("NOC") === "#55555").collect()
    assert(gapRow.length === 1 && gapRow.head.isNullAt(gapRow.head.fieldIndex("1st 5-year CAGR")))
  }

  test("buildAll leaves nothing persisted and only the ten artifacts in its directory") {
    val out = java.nio.file.Files.createTempDirectory("lmo_clean").toFile
    val sc = spark.sparkContext
    // a plan cached by an earlier build would be reused, not cached anew
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val written = Pipelines.buildAll(in, fyod, out)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"left persisted: ${(sc.getPersistentRDDs.keySet -- before).map(sc.getPersistentRDDs)}")
    assert(out.list().toSeq.sorted === written.sorted)
  }

  /** `buildAll` of `in2` into a fresh directory, which must throw; the
    * exception and the directory afterwards.
    */
  private def failedBuild(in2: Pipelines.LmoInputs): (Throwable, java.io.File) = {
    val out = java.nio.file.Files.createTempDirectory("lmo_failed").toFile
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[Throwable](Pipelines.buildAll(in2, fyod, out))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "left persisted")
    val buildThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("catalog-build-"))
    assert(buildThreads.isEmpty, s"still alive: ${buildThreads.map(_.getName)}")
    (e, out)
  }

  /** An extra HOO column for a region the job openings do not have:
    * HOO's roster check fails after its regional openings are pulled.
    */
  private lazy val hooMismatch =
    in.copy(occChar = in.occChar.withColumn("Occ Group: HOO Atlantis 2024E", lit("HOO")))
  private val hooFile = "High Opportunity Occupations BC and Regions.xlsx"

  test("buildAll: a failed chain rethrows its own exception after every other artifact is written") {
    val (e, out) = failedBuild(hooMismatch)
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage.startsWith("requirement failed: HOO columns ↔ region roster mismatch"))
    // every other chain ran to the end: its artifacts are whole, and no
    // temp file, CSV dir or partial workbook is left
    assert(out.list().toSeq.sorted === catalogNames.filterNot(_ == hooFile).sorted)
    val good = java.nio.file.Files.createTempDirectory("lmo_good").toFile
    Pipelines.buildAll(in, fyod, good)
    catalogNames.filterNot(_ == hooFile).foreach(f =>
      assert(bytes(out, f) === bytes(good, f), s"$f differs"))
  }

  test("buildAll: of several failed chains, the earliest artifact's failure is rethrown") {
    // artifact 10 fails at analysis, long before HOO's roster check;
    // HOO comes first in the fixed order
    val (e, out) = failedBuild(hooMismatch.copy(clusters = in.clusters.drop("new_cluster")))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(out.list().toSeq.sorted ===
      catalogNames.filterNot(Set(hooFile, "Job Openings by NOC and Skill Cluster.xlsx")).sorted)
  }
}
