package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, JobConf, Reporter, TextInputFormat}
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan-side operators (SURVEY.md §2.1).
  *
  * S1/S3: CSV with a metadata preamble to skip and a custom NA token
  * (`vroom(..., skip=3)` `01_source_me.R:87,90`; `read_excel(...,
  * skip=3, na="x")` `:93-97` — the Excel input is ingested from its
  * CSV/Parquet equivalent since no Excel reader exists on the
  * classpath).
  *
  * S4: `janitor::remove_empty()` (`:88`, `:91`) — drop rows and
  * columns that are entirely null.
  */
object Ingest {

  /** CSV read with `skip` physical lines dropped before the header.
    *
    * Spark CSV has no skip-N-lines option, so the preamble is dropped
    * on the text layer, per file (multi-file globs skip the preamble
    * AND the header in EVERY file): the driver reads each file's first
    * lines with the same line reader `hadoopFile` uses, and the read
    * keeps the lines whose byte offset lies past that file's header.
    * This runs no Spark job and holds for any split of the file. The
    * remaining lines are parsed by the regular CSV reader — schema
    * inference, quoting, nullValue all intact. Reads stay distributed;
    * only file listing and the preambles touch the driver.
    */
  def readCsv(spark: SparkSession, path: String, skip: Int = 0,
              nullValue: String = "", header: Boolean = true): DataFrame = {
    import spark.implicits._
    val reader = spark.read
      .option("header", header)
      .option("inferSchema", true)
      .option("nullValue", nullValue)
      .option("emptyValue", "")
    if (skip == 0) reader.csv(path)
    else {
      val files = resolveFiles(spark, path)
      require(files.nonEmpty, s"readCsv: no files match $path")
      val heads = files.map(preamble(spark, _, skip, header))
      val lines = files.zip(heads).map { case (f, (last, _)) =>
        spark.sparkContext
          .hadoopFile(f, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
          .filter(_._1.get > last)
          .map(_._2.toString)
          .toDS()
      }.reduce(_ union _)
      // infer the schema ONCE over all files' data lines, under the
      // first file's header — per-file inference would let files whose
      // columns infer differently (all-null → string, int vs double)
      // silently widen or fail at a union, diverging from a
      // single-read parse
      val schema = reader.csv(heads.head._2.toSeq.toDS().union(lines)).schema
      spark.read
        .option("header", false)
        .option("nullValue", nullValue)
        .option("emptyValue", "")
        .schema(schema)
        .csv(lines)
    }
  }

  /** The byte offset of the last line that `path` spends on its
    * preamble (`skip` lines) and, when `header`, its header (the first
    * non-blank line after them), with that header line; -1 when no line
    * is dropped. Read on the driver with the reader `hadoopFile` uses,
    * so the offset compares with its keys.
    */
  private def preamble(spark: SparkSession, path: String, skip: Int,
                       header: Boolean): (Long, Option[String]) = {
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val split = new FileSplit(p, 0, p.getFileSystem(conf).getFileStatus(p).getLen,
      Array.empty[String])
    val lines = ReflectionUtils.newInstance(classOf[TextInputFormat], conf)
      .getRecordReader(split, conf, Reporter.NULL)
    val (key, line) = (lines.createKey(), lines.createValue())
    try {
      var last = -1L
      var n = 0
      while (n < skip && lines.next(key, line)) { last = key.get; n += 1 }
      var head: Option[String] = None
      // blank as the CSV reader sees it: nothing but spaces
      while (header && n == skip && head.isEmpty && lines.next(key, line)) {
        last = key.get
        if (line.toString.exists(_ != ' ')) head = Some(line.toString)
      }
      (last, head)
    } finally lines.close()
  }

  /** Glob discovery on the driver (the reference discovers its Excel
    * input by filename pattern, `:93-95`).
    */
  def resolveFiles(spark: SparkSession, pathOrGlob: String): Seq[String] = {
    val hadoopPath = new Path(pathOrGlob)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(hadoopPath)).map(_.toSeq).getOrElse(Nil)
    val expanded = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
    }
    expanded.map(_.getPath.toString).sorted
  }

  /** Drop rows where every column is null (`remove_empty("rows")`). */
  def removeEmptyRows(df: DataFrame): DataFrame = df.na.drop("all")

  /** Drop columns where every row is null (`remove_empty("cols")`).
    * One pass over the rows marks each column that holds a non-null:
    * a single job (a global aggregate would be a shuffle stage plus a
    * result stage under AQE).
    */
  def removeEmptyCols(df: DataFrame): DataFrame = {
    val n = df.columns.length
    val seen = df.queryExecution.toRdd.aggregate(new Array[Boolean](n))(
      (acc, row) => {
        var i = 0
        while (i < n) { if (!acc(i) && !row.isNullAt(i)) acc(i) = true; i += 1 }
        acc
      },
      (a, b) => a.zip(b).map { case (x, y) => x || y })
    val keep = df.columns.zip(seen).collect { case (c, true) => c }
    df.select(keep.toIndexedSeq.map(col): _*)
  }

  def removeEmpty(df: DataFrame): DataFrame =
    removeEmptyCols(removeEmptyRows(df))
}
