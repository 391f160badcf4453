package graft.engine

import java.io.File
import java.util.concurrent.{ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{Archive, Xlsx}

/** The reference's ten catalog artifacts (SURVEY.md §2.11), rebuilt as
  * lazy Spark plans, parameterized by `fyod`
  * (/root/reference/01_source_me.R:1).
  *
  * Execution shape: the six horizon artifacts (1, 2, 7 over
  * employment; 3, 5, 8 over job openings) differ only in a filter on
  * the group keys, which is constant within a group and so commutes
  * with the group-by. Each fact input therefore runs ONE horizon plan:
  * scan → unpivot (narrow Expand) → the OR of its artifacts' key
  * predicates (pushed to the scan by Catalyst) → ONE conditional-agg
  * shuffle for the horizon stats + ONE pivot shuffle for the wide
  * years, joined on the group keys (equal partitioning, exchange
  * reused) → ordered on the keys → collected once into a local
  * relation. Each artifact is its own key predicate plus the
  * publication rename over those rows; Catalyst folds both into the
  * local relation (`ConvertToLocalRelation`), so deriving, splitting
  * and writing these sheets runs no Spark job, and a filtered
  * subsequence of the key-ordered table is still key-ordered. The
  * reference's nest→map→unnest round trips (01_source_me.R:104-110
  * etc.) do not exist here — see Horizon.
  *
  * Each table is computed once, pulled once and released; nothing is
  * left cached. A table with region sheets (artifacts 2, 7, 8) is
  * split by region on the driver into local relations, which the sink
  * then collects without a Spark job. HOO (artifact 4) pulls its
  * regional job openings once and builds every region's list from ONE
  * plan (the HOO columns stacked into (NOC, area) pairs, left-joined
  * to the openings), split the same way.
  *
  * `buildAll` runs six chains that share only the inputs, each on its
  * own driver thread: each horizon plan with its three workbooks, HOO,
  * the long employment sheet, the skill-cluster sheet and the long
  * job-openings zip. One chain's planning, result pull and encoding
  * overlap another's tasks. The job openings, which feed four chains,
  * are the one cached input: persisted before the chains start and
  * released after all have settled. A failure stops only its own
  * chain's artifacts (see `buildAll`).
  *
  * Deliberate divergences from the reference, per SURVEY.md §7.4:
  *  - HOO sheets are joined to regions BY NORMALIZED NAME with an
  *    asserted bijection, not by positional alignment of two
  *    independently sorted lists (01_source_me.R:189,196-197 — fragile).
  *  - The "2024E" suffix stripped from HOO column names
  *    (01_source_me.R:172-173 hard-codes the year) is generalized to
  *    any " <yyyy>E" suffix.
  *  - Horizon stat columns keep their canonical names ("1st 5-year
  *    CAGR", …) instead of passing through the reference's blanket
  *    str_to_title (which ICU-mangles them to "1St 5-Year Cagr").
  */
object Pipelines {

  /** Inputs as named DataFrames (post-ingest; see Ingest for the
    * skip-preamble / NA-token / remove_empty read path).
    */
  final case class LmoInputs(employment: DataFrame, jobOpenings: DataFrame,
                             occChar: DataFrame, clusters: DataFrame)

  final case class Artifact(fileName: String, sheets: Seq[Xlsx.Sheet])

  private val groupKeys = Seq("noc", "description", "industry", "variable", "geographic_area")
  private val northSouthEast = Seq("North", "South East")

  def joColName(fyod: Int): String = s"LMO Job Openings $fyod-${fyod + 10}"

  /** unpivot years → clean_names (the shared head of tbbl1/2/3/5/7/8,
    * 01_source_me.R:101-102 etc.).
    */
  def longForm(src: DataFrame): DataFrame =
    Naming.cleanNames(Reshape.unpivotByPrefix(src, "2"))

  private def yearCols(src: DataFrame): Seq[String] =
    src.columns.filter(_.startsWith("2")).toSeq

  /** The shared horizon-report shape: filter the long form, compute
    * CAGRs or horizon sums per group, pivot years wide (first-seen =
    * chronological order), attach stats, publication-rename.
    *
    * `strictParity = true` reproduces the reference's published
    * headers byte-for-byte, INCLUDING the `str_to_title` mangle of
    * the stat columns ("1st 5-year CAGR" → "1St 5-Year Cagr",
    * 01_source_me.R:112); the default keeps canonical stat names
    * (divergence #3 above) — both contracts are golden-pinned.
    *
    * Output carries a deterministic total order on the group keys so
    * downstream sinks (and their golden hashes) never depend on
    * incidental shuffle order.
    */
  def horizonTable(src: DataFrame, fyod: Int, useCagrs: Boolean,
                   strictParity: Boolean = false)
                  (filter: DataFrame => DataFrame): DataFrame =
    published(keyedHorizon(src, fyod, useCagrs)(filter), yearCols(src), strictParity)

  /** `horizonTable` before the publication rename: the long-form group
    * keys, the wide years and the stats, ordered on the keys.
    */
  private def keyedHorizon(src: DataFrame, fyod: Int, useCagrs: Boolean)
                          (filter: DataFrame => DataFrame): DataFrame = {
    val filtered = filter(longForm(src))
    val stats =
      if (useCagrs) Horizon.cagrs(filtered, groupKeys, fyod)
      else Horizon.horizonSums(filtered, groupKeys, fyod)
    val wide = Reshape.pivotExplicit(filtered, groupKeys, "year", yearCols(src))
    wide.join(stats, groupKeys).orderBy(groupKeys.map(col): _*)
  }

  /** Publication names on the keys, the years as they are, the stats
    * canonical or (`strictParity`) through `str_to_title`.
    */
  private def published(keyed: DataFrame, years: Seq[String],
                        strictParity: Boolean): DataFrame = {
    val statNames = keyed.columns.toSeq.diff(groupKeys ++ years)
    val renamed =
      if (strictParity)
        // reference contract: EVERY column through str_to_title
        groupKeys.map(k => col(k).as(Naming.strictPublicationName(k))) ++
          years.map(y => col(y)) ++
          statNames.map(s => col(s).as(Naming.strictPublicationName(s)))
      else
        // publication names on keys+years only; stat columns keep
        // their canonical display names (divergence #3 above)
        groupKeys.map(k => col(k).as(Naming.publicationName(k))) ++
          years.map(y => col(y)) ++ statNames.map(s => col(s))
    keyed.select(renamed: _*).withColumnRenamed("Noc", "NOC")
  }

  /** One of the six horizon artifacts: the rows of its fact input's
    * horizon table whose group keys satisfy `keys` (long-form names),
    * published, made into the workbook's `sheets`.
    */
  private final case class HorizonArtifact(fileName: String, keys: Column,
                                           sheets: DataFrame => Seq[Xlsx.Sheet])

  /** `artifacts` over one fact input from ONE horizon plan, filtered to
    * the rows some artifact publishes and pulled to the driver once.
    * Each artifact's table is its key predicate plus the publication
    * rename over that local relation: no Spark job.
    */
  private def horizonArtifacts(src: DataFrame, fyod: Int, useCagrs: Boolean)
                              (artifacts: HorizonArtifact*): Seq[Artifact] = {
    val keyed = keyedHorizon(src, fyod, useCagrs)(_.filter(artifacts.map(_.keys).reduce(_ || _)))
    val rows = keyed.sparkSession.createDataFrame(keyed.collect().toSeq.asJava, keyed.schema)
    artifacts.map(a => Artifact(a.fileName,
      a.sheets(published(rows.filter(a.keys), yearCols(src), strictParity = false))))
  }

  private def employmentArtifacts(in: LmoInputs, fyod: Int)(as: HorizonArtifact*) =
    horizonArtifacts(in.employment, fyod, useCagrs = true)(as: _*)

  private def jobOpeningsArtifacts(in: LmoInputs, fyod: Int)(as: HorizonArtifact*) =
    horizonArtifacts(in.jobOpenings, fyod, useCagrs = false)(as: _*)

  /** `table` computed and pulled to the driver once. Its local frames
    * (all rows, or one region's rows, each in table order) are local
    * relations: plans over them, and the sink's collect, run no Spark
    * job, and nothing stays cached.
    */
  private final class Pulled(table: DataFrame) {
    private val rows = table.collect()
    private val key = table.schema.fieldIndex("Geographic Area")
    private def regionOf(r: Row): Option[String] =
      if (r.isNullAt(key)) None else Some(r.get(key).toString)
    private def local(rs: Array[Row]): DataFrame =
      table.sparkSession.createDataFrame(rs.toSeq.asJava, table.schema)

    /** Non-null regions, sorted as `Reshape.splitByKey` sorts its keys. */
    val regions: Seq[String] = rows.flatMap(regionOf).distinct.sorted.toSeq
    def all: DataFrame = local(rows)
    def region(name: String): DataFrame = local(rows.filter(regionOf(_).contains(name)))
  }

  /** "data" sheet + one sheet per region (split(), 01_source_me.R:140-145),
    * each region sheet dropping `dropCols`. The region sheets are split
    * from the one pulled table on the driver (`Reshape.splitByKey`'s
    * keys and order, without a filter plan per region).
    */
  private def withRegionSheets(table: DataFrame, dropCols: Seq[String],
                               pct: Boolean): Seq[Xlsx.Sheet] = {
    val t = new Pulled(table)
    Xlsx.Sheet("data", t.all, pct) +:
      t.regions.map(region => Xlsx.Sheet(region, t.region(region).drop(dropCols: _*), pct))
  }

  private val britishColumbia = col("geographic_area") === "British Columbia"
  private val notNorthSouthEast = !col("geographic_area").isin(northSouthEast: _*)
  private val allIndustries = col("industry") === "All industries"
  private val joTypes = col("variable").isin("Job Openings", "Expansion Demand",
    "Replacement Demand")

  // ——— artifact 1: Employment by Industry and Occupation for BC (:100-118) ———
  private val employmentBC = HorizonArtifact(
    "Employment by Industry and Occupation for BC.xlsx", britishColumbia,
    t => Seq(Xlsx.Sheet("data", t, pctLast3 = true)))

  def employmentByIndustryOccupationBC(in: LmoInputs, fyod: Int): Artifact =
    employmentArtifacts(in, fyod)(employmentBC).head

  // ——— artifact 2: Employment by Industry for BC and Regions (:121-147) ———
  private val employmentIndustryRegions = HorizonArtifact(
    "Employment by Industry for BC and Regions.xlsx",
    col("noc") === "#T" && notNorthSouthEast,
    withRegionSheets(_, Seq("NOC", "Description", "Variable"), pct = true))

  def employmentByIndustryRegions(in: LmoInputs, fyod: Int): Artifact =
    employmentArtifacts(in, fyod)(employmentIndustryRegions).head

  // ——— artifact 3: Job Openings by Industry and Occupation for BC (:150-167) ———
  private val joBC = HorizonArtifact(
    "Job Openings by Industry and Occupation for BC.xlsx",
    britishColumbia && col("variable") === "Job Openings",
    t => Seq(Xlsx.Sheet("Sheet 1", t)))

  def joByIndustryOccupationBC(in: LmoInputs, fyod: Int): Artifact =
    jobOpeningsArtifacts(in, fyod)(joBC).head

  // ——— artifact 4: High Opportunity Occupations BC and Regions (:170-203) ———
  def highOpportunityOccupations(in: LmoInputs, fyod: Int): Artifact = {
    val occChar = in.occChar
    val hooCols = occChar.columns.filter(_.matches(".*Group: HOO.*")).toSeq // F6, :170
    val sheetNames = hooCols.map(c =>
      c.replaceAll("Occ Group: ", "").replaceAll(" \\d{4}E$", ""))          // :172-173
    val joCol = joColName(fyod)
    val area = "Geographic Area"
    val regionalJo = new Pulled(longForm(in.jobOpenings)                    // :182-187
      .filter(col("industry") === "All industries" && col("variable") === "Job Openings")
      .groupBy(col("noc").as("NOC"), col("geographic_area").as(area))
      .agg(sum(col("value")).as(joCol)))
    val regions = regionalJo.regions
    // Sheet names keep the "HOO " prefix ("HOO British Columbia",
    // :172-173); the join region is the name minus that prefix.
    // Divergence #1: assert the name bijection instead of trusting
    // positional co-sorting of two independently derived lists.
    require(sheetNames.map(_.stripPrefix("HOO ")).sorted == regions,
      s"HOO columns ↔ region roster mismatch: ${sheetNames.sorted} vs $regions")
    val income = "2021 Census Median Employment Income (Employed)"
    // every region's HOO list in one plan: each HOO column becomes an
    // (area, flag) pair per occupation, non-HOO pairs drop out
    // (keep_only_hoo, :73-77), and the job openings join on (NOC, area)
    // (add_jo, :78-84)
    val flags = hooCols.zip(sheetNames).map { case (c, s) =>
      struct(lit(s.stripPrefix("HOO ")).as(area), col(c).cast("string").as("flag"))
    }
    val hoo = new Pulled(occChar
      .select(col("NOC"), col("Description"), col(income), explode(array(flags: _*)).as("hoo"))
      .filter(!col("hoo.flag").rlike("Non"))
      .select(col("NOC"), col("Description"), col(income), col("hoo").getField(area).as(area))
      .join(regionalJo.all, Seq("NOC", area), "left")
      .select(col(area), col("NOC"), col("Description"), col(joCol),
        substring(col("NOC"), 3, 1).as("TEER"), col(income))                // :76
      .orderBy("NOC"))
    val regionSheets = sheetNames.sorted.map(sheetName =>
      Xlsx.Sheet(sheetName, hoo.region(sheetName.stripPrefix("HOO ")).drop(area)))
    Artifact("High Opportunity Occupations BC and Regions.xlsx",
      Xlsx.Sheet("Data Dictionary", dataDictionary(occChar.sparkSession, fyod)) +: regionSheets)
  }

  /** The HOO data dictionary sheet (/root/reference/hoo_text.R): a
    * 1-column (" ") tibble of 8 documentation strings, two of them
    * parameterized by the horizon years.
    */
  def dataDictionary(spark: SparkSession, fyod: Int): DataFrame = {
    val tyfn = fyod + 10
    import spark.implicits._
    Seq(
      "Data Dictionary",
      s"These data sets contain lists of occupations that are deemed to be high opportunity occupations (HOO) over the 10 year forecast period ($fyod-$tyfn)",
      "Lists are provided for the 7 economic regions. Additionally, the lists provide estimates for Job Openings (for the 10 year forecast period), as well as the most recent Income data provided by Census 2021.",
      "NOC: Denotes a 5-digit code according to the National Occupation Classification 2021 system from Statistics Canada.",
      "Description: Denotes the occupation title according to the National Occupation Classification 2021 system from Statisitics Canada.",
      s"LMO Job Openings $fyod-$tyfn: The sum of expansion and replacement job openings. A job opening is the addition of a new job position through economic growth or a position that needs to be filled due  to someone exiting the labour force permanently.",
      "TEER:  the type and/or amount of training, education, experience and responsibility typically required to work in an occupation. The NOC consists of six TEER categories, identified 0 through 5, which represent the second digit of the NOC code.",
      "2021 Census Median Employment Income (Employed)"
    ).toDF(" ")
  }

  // ——— artifact 5: JO by Type, Ind and Occ for BC and Regions (:207-229) ———
  // (the region filter is commented out in the reference — all areas kept)
  private val joByType = HorizonArtifact(
    "JO by Type, Ind and Occ for BC and Regions.xlsx", joTypes,
    t => Seq(Xlsx.Sheet("Sheet 1", t)))

  def joByTypeIndustryOccupation(in: LmoInputs, fyod: Int): Artifact =
    jobOpeningsArtifacts(in, fyod)(joByType).head

  // ——— artifact 6: Employment by Ind and Occ for BC and Regions (:232-240) ———
  // long format, ORIGINAL column names (no clean_names), Date/Value
  def employmentLongBCRegions(in: LmoInputs): Artifact = {
    val long = Reshape.unpivotByPrefix(
      in.employment.filter(!col("Geographic Area").isin(northSouthEast: _*)),
      "2", nameCol = "Date", valueCol = "Value")
    // deterministic total order on the identifying columns so sink
    // bytes (and golden hashes) never pin incidental shuffle order
    val keys = long.columns.filterNot(_ == "Value").toSeq
    Artifact("Employment by Ind and Occ for BC and Regions.xlsx", Seq(
      Xlsx.Sheet("Sheet 1", long.orderBy(keys.map(col): _*))))
  }

  // ——— artifact 7: Employment by Occupation for BC and Regions (:243-270) ———
  private val employmentOccupationRegions = HorizonArtifact(
    "Employment by Occupation for BC and Regions.xlsx",
    allIndustries && notNorthSouthEast,
    withRegionSheets(_, Seq("Industry", "Variable"), pct = true))

  def employmentByOccupationRegions(in: LmoInputs, fyod: Int): Artifact =
    employmentArtifacts(in, fyod)(employmentOccupationRegions).head

  // ——— artifact 8: Job Openings by Type and Occ for BC and Regions (:273-302) ———
  // asTable = TRUE in the reference (:300-302): each sheet carries an
  // Excel table part over its data range
  private val joTypeOccupationRegions = HorizonArtifact(
    "Job Openings by Type and Occ for BC and Regions.xlsx",
    allIndustries && joTypes && notNorthSouthEast,
    withRegionSheets(_, Seq("Industry"), pct = false).map(_.copy(asTable = true)))

  def joByTypeOccupationRegions(in: LmoInputs, fyod: Int): Artifact =
    jobOpeningsArtifacts(in, fyod)(joTypeOccupationRegions).head

  // ——— artifact 9: the long CSV → zip (:305-317) ———
  // Its keys are unique per row, so sorting inside one partition gives
  // the global order without the range-partition sampling job of a
  // global sort; the archive then writes that one partition.
  def joLongDump(in: LmoInputs): DataFrame = {
    val long = Reshape.unpivotByPrefix(in.jobOpenings, "2")
      .filter(!col("Geographic Area").isin(northSouthEast: _*))
    val keys = long.columns.filterNot(_ == "value").toSeq
    long.repartition(1).sortWithinPartitions(keys.map(col): _*)
  }

  // ——— artifact 10: Job Openings by NOC and Skill Cluster (:325-346) ———
  def joBySkillCluster(in: LmoInputs, fyod: Int): Artifact = {
    val jo10 = Reshape.unpivotByPrefix(
      in.jobOpenings
        .filter(col("Industry") === "All industries" &&
          col("Geographic Area") === "British Columbia" &&
          col("Variable") === "Job Openings")
        .drop("Industry", "Geographic Area", "Variable"),
      "2", valueCol = "jo")
      .groupBy("NOC", "Description").agg(sum(col("jo")).as("jo"))
    val clusters = Reshape.separate(                                        // :334-337
      in.clusters.select(col("NOC"), col("new_cluster")),
      "NOC", ("NOC", "Description"), ": ")
      .withColumn("NOC", concat(lit("#"), col("NOC")))
    val joined = Joins.naturalInner(jo10, broadcast(clusters))              // :339
    Artifact("Job Openings by NOC and Skill Cluster.xlsx", Seq(
      Xlsx.Sheet("Sheet 1", joined.select(
        col("NOC"), col("Description"),
        col("new_cluster").as("Occ Group: Skills Cluster"),
        col("jo").as(joColName(fyod)))
        .orderBy("NOC"))))
  }

  /** One artifact ready to write: a workbook, or the long job-openings
    * zip (artifact 9).
    */
  private sealed abstract class Output(val fileName: String) { def writeInto(dir: File): Unit }
  private final case class Workbook(a: Artifact) extends Output(a.fileName) {
    def writeInto(dir: File): Unit = Xlsx.write(a.sheets, new File(dir, fileName))
  }
  private final case class LongZip(in: LmoInputs)
      extends Output("JO by Type, Ind and Occ for BC and Regions (long).zip") {
    def writeInto(dir: File): Unit = Archive.writeCsvZip(joLongDump(in), new File(dir, fileName),
      "JO by Type, Ind and Occ for BC and Regions (long).csv")
  }

  /** A part of the catalog that shares only the inputs with the others:
    * its thread's name, its artifacts' places in the fixed order
    * (artifacts 1-8, 10, then the zip) and the artifacts, built together.
    */
  private final case class Chain(name: String, places: Seq[Int],
                                 build: (LmoInputs, Int) => Seq[Output])

  private val chains = Seq(
    Chain("employment-horizon", Seq(1, 2, 7), (in, fyod) => employmentArtifacts(in, fyod)(
      employmentBC, employmentIndustryRegions, employmentOccupationRegions).map(Workbook)),
    Chain("job-openings-horizon", Seq(3, 5, 8), (in, fyod) => jobOpeningsArtifacts(in, fyod)(
      joBC, joByType, joTypeOccupationRegions).map(Workbook)),
    Chain("hoo", Seq(4), (in, fyod) => Seq(Workbook(highOpportunityOccupations(in, fyod)))),
    Chain("employment-long", Seq(6), (in, _) => Seq(Workbook(employmentLongBCRegions(in)))),
    Chain("skill-clusters", Seq(9), (in, fyod) => Seq(Workbook(joBySkillCluster(in, fyod)))),
    Chain("job-openings-long", Seq(10), (in, _) => Seq(LongZip(in))))

  /** Build every workbook artifact (1-8, 10), in that order: one horizon
    * plan per fact input for artifacts 1, 2, 7 and 3, 5, 8.
    */
  def allWorkbooks(in: LmoInputs, fyod: Int): Seq[Artifact] =
    chains.flatMap(c => c.places.zip(c.build(in, fyod))).sortBy(_._1)
      .collect { case (_, Workbook(a)) => a }

  /** Data-plane output: every artifact's primary table lands as
    * Parquet (SCALE.md — the workbook is the human artifact; machine
    * consumers read columnar). Region-keyed tables are partitioned by
    * Geographic Area for downstream partition pruning.
    */
  def writeDataPlane(in: LmoInputs, fyod: Int, dir: File): Seq[String] = {
    dir.mkdirs()
    allWorkbooks(in, fyod).map { a =>
      val name = a.fileName.stripSuffix(".xlsx")
      val table = a.sheets.find(_.name == "data").getOrElse(a.sheets.last).df
      val writer = table.write.mode("overwrite")
      if (table.columns.contains("Geographic Area"))
        writer.partitionBy("Geographic Area").parquet(s"$dir/$name")
      else writer.parquet(s"$dir/$name")
      name
    }
  }

  /** Run the whole catalog to an output directory — the reference's
    * `source("01_source_me.R")` equivalent. Returns the file names in
    * the fixed order: artifacts 1-8, 10, then the zip.
    *
    * Each chain runs on a daemon thread `catalog-build-<chain>`, joined
    * before this returns or throws. A failed artifact (all three of a
    * failed horizon plan) leaves no file, and the others are still
    * written. Once every chain has settled, the failure of the earliest
    * failed artifact in the fixed order is rethrown as it was thrown.
    */
  def buildAll(in: LmoInputs, fyod: Int, outDir: File): Seq[String] = {
    outDir.mkdirs()
    // job openings feed four chains: cached before they start, released
    // after all have settled. Chains that reach the cache before it is
    // filled each plan a cache stage, but each partition is computed
    // once (block lock). Employment's two chains measured no gain.
    val cached = in.copy(jobOpenings = in.jobOpenings.cache())
    try {
      val runs = chains.map { c =>
        val run = new FutureTask[Seq[(Int, Try[String])]](() => Try(c.build(cached, fyod)).fold(
          e => Seq(c.places.head -> Failure(e)),
          outputs => c.places.zip(outputs.map(o => Try { o.writeInto(outDir); o.fileName }))))
        val thread = new Thread(run, s"catalog-build-${c.name}")
        thread.setDaemon(true)
        thread.start()
        thread -> run
      }
      runs.foreach(_._1.join())
      // a fatal error escapes Try and is rethrown unwrapped; otherwise, in
      // the fixed order, the earliest failed artifact's `get` throws
      runs.flatMap { case (_, run) =>
        try run.get() catch { case e: ExecutionException => throw e.getCause }
      }.sortBy(_._1).map(_._2.get)
    } finally cached.jobOpenings.unpersist()
  }
}
