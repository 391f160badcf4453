package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.TrackedCache.Trackable

/** Data-profiling and data-quality operators — the "catalog metadata
  * generation" side of the reference (its data-dictionary sheet,
  * 01_source_me.R:170-203, is a hand-maintained static table; here the
  * profile is COMPUTED from the data, which is what a catalog prep
  * pipeline needs at scale).
  *
  * Scale design: `profileTable` is ONE aggregation pass over the
  * table — every per-column statistic is a partial-aggregable
  * expression, so the map side combines locally and the single
  * reduce sees one row per partition. Exact NDV (the oracle path)
  * adds Spark's Expand-based multi-count-distinct (still one
  * shuffle); the default scale path uses HLL approx_count_distinct
  * which stays fully combinable. `checkExpectations` folds all
  * row-level rules into the same one-pass shape; only referential
  * rules add (broadcast-able) anti-join jobs.
  */
object Profile {

  /** Render a column's min/max as an engine-portable string:
    * integers plain, doubles as micro-units (x·1e6 rounded to long —
    * sidesteps float-to-string formatting differences), timestamps
    * as 'yyyy-MM-dd HH:mm:ss', strings as-is.
    */
  private def portable(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      round(c.cast("double") * 1000000).cast("long").cast("string")
    case TimestampType | TimestampNTZType =>
      date_format(c, "yyyy-MM-dd HH:mm:ss")
    case _ => c.cast("string")
  }

  /** Table profile: per column
    * (column_name, data_type, n_rows, n_nulls, n_distinct, min_value,
    * max_value, avg_len). `avg_len` is the mean string length for
    * string columns (round 6), null otherwise.
    *
    * `exactNdv = false` (the 100 TB default) keeps EVERYTHING in one
    * aggregation pass — HLL sketches are just more agg buffers.
    * `exactNdv = true` (the oracle path) must NOT use Spark's
    * multi-count-distinct rewrite: n distinct aggregates in one agg
    * plan via Expand (row count × (n+1), all agg buffers live across
    * the expansion) measured 108 s on an 11-column 600k-row table.
    * Instead each TYPE FAMILY of columns melts to (column, value)
    * rows — a generator over only that family's columns, so the
    * parquet scans read disjoint column subsets (≈ one full-table
    * read in total) — and a single-distinct-column group count needs
    * no Expand at all. Same table, same stats: 108 s → ~2 s.
    */
  def profileTable(df: DataFrame, exactNdv: Boolean = false): DataFrame = {
    val fields = df.schema.fields.toSeq
    val aggs: Seq[Column] = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        count(lit(1)).as(s"${f.name}!n"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}!nulls"),
        (if (exactNdv) lit(null).cast("long")
         else approx_count_distinct(c)).as(s"${f.name}!ndv"),
        portable(min(c), f.dataType).as(s"${f.name}!min"),
        portable(max(c), f.dataType).as(s"${f.name}!max"),
        (f.dataType match {
          case StringType => round(avg(length(c)), 6)
          case _          => lit(null).cast("double")
        }).as(s"${f.name}!len"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(fields.map { f =>
      struct(
        lit(f.name).as("column_name"),
        lit(f.dataType.simpleString).as("data_type"),
        col(s"`${f.name}!n`").as("n_rows"),
        col(s"`${f.name}!nulls`").as("n_nulls"),
        col(s"`${f.name}!ndv`").cast("long").as("n_distinct"),
        col(s"`${f.name}!min`").as("min_value"),
        col(s"`${f.name}!max`").as("max_value"),
        col(s"`${f.name}!len`").as("avg_len"))
    }: _*)
    val base = wide.select(inline(rows))
    if (!exactNdv) base.orderBy("column_name")
    else {
      val ndv = exactNdvByColumn(df)
      base.drop("n_distinct")
        .join(broadcast(ndv), Seq("column_name"), "left")
        // an all-null column yields no melt row: COUNT(DISTINCT) = 0
        .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
        .select("column_name", "data_type", "n_rows", "n_nulls",
          "n_distinct", "min_value", "max_value", "avg_len")
        .orderBy("column_name")
    }
  }

  /** Exact per-column NDV: melt each type family's columns to
    * (column_name, value) with a generator, count distinct values per
    * column. One job per family; each scan is pruned to that family's
    * columns. Nulls excluded (COUNT(DISTINCT) semantics).
    */
  private def exactNdvByColumn(df: DataFrame): DataFrame = {
    val families: Map[DataType, Seq[StructField]] =
      df.schema.fields.toSeq.groupBy { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => LongType
          case FloatType | DoubleType                        => DoubleType
          case dt                                            => dt
        }
      }
    val parts = families.toSeq.map { case (family, cols) =>
      val melted = df.select(inline(array(cols.map(f =>
        struct(lit(f.name).as("column_name"),
          col(f.name).cast(family).as("v"))): _*)))
      melted.filter(col("v").isNotNull)
        .groupBy("column_name")
        .agg(count_distinct(col("v")).cast("long").as("n_distinct"))
    }
    parts.reduce(_ unionAll _)
  }

  /** A declarative data-quality expectation. Row-level kinds
    * (NotNull/Range/Regex/InSet) evaluate in one shared aggregation
    * pass; Unique evaluates in the same pass (n − ndv); ForeignKey
    * adds one anti-join job per rule (its dimension side is the
    * broadcast-able one in a healthy star schema).
    */
  sealed trait Expectation { def id: String; def column: String; def kind: String }
  final case class NotNull(id: String, column: String) extends Expectation {
    val kind = "not_null"
  }
  final case class Range(id: String, column: String, lo: Double, hi: Double)
      extends Expectation { val kind = "range" }
  final case class Regex(id: String, column: String, pattern: String)
      extends Expectation { val kind = "regex" }
  final case class InSet(id: String, column: String, values: Seq[String])
      extends Expectation { val kind = "in_set" }
  final case class Unique(id: String, column: String) extends Expectation {
    val kind = "unique"
  }
  final case class ForeignKey(id: String, column: String, dim: DataFrame,
                              dimColumn: String) extends Expectation {
    val kind = "foreign_key"
  }

  /** Violation count expression for a row-level rule (null never
    * violates Range/Regex/InSet — nullability is NotNull's job, the
    * usual expectation-library contract).
    */
  private def violations(e: Expectation): Column = e match {
    case NotNull(_, c)      => sum(when(col(c).isNull, 1L).otherwise(0L))
    case Range(_, c, lo, hi) =>
      sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L).otherwise(0L))
    case Regex(_, c, p) =>
      sum(when(col(c).isNotNull && !col(c).rlike(p), 1L).otherwise(0L))
    case InSet(_, c, vs) =>
      sum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L).otherwise(0L))
    case Unique(_, c) => count(col(c)) - count_distinct(col(c))
    case _: ForeignKey =>
      throw new IllegalArgumentException("foreign_key is not row-level")
  }

  /** Evaluate expectations against `df`:
    * (rule_id, kind, column, n_violations, pass), ordered by rule_id.
    * All non-FK rules share ONE aggregation pass; each FK rule is one
    * left-anti count against its dimension.
    */
  def checkExpectations(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "checkExpectations: no rules given")
    require(rules.map(_.id).distinct.size == rules.size,
      "checkExpectations: duplicate rule ids")
    val (fkRules, rowRules) = rules.partition(_.isInstanceOf[ForeignKey])
    val spark = df.sparkSession
    import spark.implicits._

    val rowPart: Option[DataFrame] = if (rowRules.isEmpty) None else {
      val aggs = rowRules.map(e => violations(e).as(e.id))
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val rows = array(rowRules.map { e =>
        struct(lit(e.id).as("rule_id"), lit(e.kind).as("kind"),
          lit(e.column).as("column_name"),
          col(s"`${e.id}`").cast("long").as("n_violations"))
      }: _*)
      Some(wide.select(inline(rows)))
    }
    val fkParts: Seq[DataFrame] = fkRules.map { case fk: ForeignKey =>
      val orphans = df.select(col(fk.column)).filter(col(fk.column).isNotNull)
        .join(broadcast(fk.dim.select(col(fk.dimColumn).as(fk.column)).distinct()),
          Seq(fk.column), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      orphans.select(lit(fk.id).as("rule_id"), lit(fk.kind).as("kind"),
        lit(fk.column).as("column_name"),
        col("n_violations").cast("long").as("n_violations"))
    }
    val all = (rowPart.toSeq ++ fkParts).reduce(_ unionAll _)
    all.withColumn("pass", col("n_violations") === 0L).orderBy("rule_id")
  }

  /** Robust per-group anomaly detection: flag rows whose value
    * deviates from the group median by more than `threshold` robust
    * z-units (MAD scaled by 1.4826 ≈ consistency with σ under
    * normality). Medians/MADs resist the very outliers being hunted —
    * the reason this beats mean/stddev z-scores for data-quality
    * triage.
    *
    * Two percentile aggregations (group-keyed shuffles) + broadcast
    * joins of the group-count-sized stats. Exact interpolated
    * percentiles here (the oracle path); at 100 TB swap in
    * `approx_percentile`, which is one pass and mergeable — the same
    * exact-vs-sketch trade as `profileTable`'s NDV.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  threshold: Double = 3.0,
                  scale: Double = 1.4826): DataFrame = {
    val med = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(0.5)).as("_med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("_ad", abs(col(valueCol) - col("_med")))
    val mad = dev.groupBy(groupCol)
      .agg(percentile(col("_ad"), lit(0.5)).as("_mad"))
    // MAD = 0 (majority-constant group): the quotient is null under
    // non-ANSI division, which would silently UNFLAG the most extreme
    // rows. Degenerate-scale rule: any deviation from the median is
    // anomalous, reported with rz = null (no finite robust z exists).
    dev.join(broadcast(mad), groupCol)
      .withColumn("rz",
        when(col("_mad") > 0,
          (col(valueCol) - col("_med")) / (lit(scale) * col("_mad"))))
      .filter((col("_mad") > 0 && abs(col("rz")) > threshold) ||
        (col("_mad") === 0 && col(valueCol) =!= col("_med")))
      .drop("_med", "_ad", "_mad")
  }

  /** Population Stability Index of `valueCol`'s distribution per group
    * vs the `baseline` group — the standard drift score for corpus
    * snapshots / new-source intake (PSI < 0.1 stable, > 0.25 shifted).
    *
    * Values are binned at fixed `binWidth` capped to `nBins` (the last
    * bin absorbs the tail), proportions are Laplace-smoothed with 0.5
    * per bin so empty bins contribute finite terms, and
    * PSI = Σ_bins (p−q)·ln(p/q).
    *
    * Scale: ONE shuffle (the (group, bin) count); everything after
    * operates on the group×bin grid (≤ groups·nBins rows), joined
    * broadcast. Per-bin terms are quantized to 1e-6 units (BIGINT)
    * before the final sum, so the result is independent of
    * aggregation order — exactly replayable by the oracle.
    */
  def psiDrift(df: DataFrame, valueCol: String, groupCol: String,
               baseline: String, binWidth: Double,
               nBins: Int = 10): DataFrame = {
    require(binWidth > 0, "psiDrift: binWidth must be > 0")
    require(nBins >= 2, "psiDrift: need at least 2 bins")
    val spark = df.sparkSession
    val binned = df.select(col(groupCol).cast("string").as("grp"),
      least(floor(col(valueCol).cast("double") / binWidth),
        lit(nBins - 1L)).cast("int").as("bin"))
    val counts = binned.groupBy("grp", "bin").agg(count(lit(1)).as("c"))
    // an absent baseline would otherwise drain the final join and
    // return an EMPTY frame — indistinguishable from "no drift"
    require(!counts.filter(col("grp") === baseline).isEmpty,
      s"psiDrift: baseline group '$baseline' has no rows in $groupCol")
    // full group×bin spine: empty bins must still carry smoothed mass
    val spine = counts.select("grp").distinct()
      .crossJoin(spark.range(nBins).select(col("id").cast("int").as("bin")))
    val full = spine.join(counts, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val totals = full.groupBy("grp").agg(sum("c").as("n"))
    val smoothed = full.join(broadcast(totals), "grp")
      .withColumn("p", (col("c") + lit(0.5)) / (col("n") + lit(0.5 * nBins)))
    val base = smoothed.filter(col("grp") === baseline)
      .select(col("bin"), col("p").as("q"))
    smoothed.join(broadcast(base), "bin")
      .withColumn("term_u",
        round((col("p") - col("q")) * log(col("p") / col("q")) * 1e6)
          .cast("long"))
      .groupBy("grp").agg(sum("term_u").as("su"))
      .select(col("grp"), (col("su").cast("double") / 1e6).as("psi"))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between `groupA`'s
    * and `groupB`'s `valueCol` distributions, in pure INTEGER
    * arithmetic: D = max_v |cA(v)·nB − cB(v)·nA| / (nA·nB), where
    * cX(v) is the cumulative count ≤ v. Integer cross-multiplication
    * sidesteps float ECDF subtraction entirely — the max and its
    * arg-value are bit-exact in any engine.
    *
    * Returns one row: (n_a, n_b, ks_stat, at_value) with `at_value`
    * the smallest value attaining the max (deterministic tie-break).
    *
    * Scale: the cumulative window runs over the DISTINCT-value spine,
    * not the data — bounded by value cardinality (fine for discrete /
    * binned features; pre-bin continuous ones). Requires
    * nA·nB < 2^63 (≈ 3e9 rows per side); beyond that, bin first.
    */
  def ksDrift(df: DataFrame, valueCol: String, groupCol: String,
              groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).cast("long").as("v"),
        col(groupCol).cast("string").as("grp"))
    val perValue = v.groupBy("v").agg(
      sum(when(col("grp") === groupA, 1L).otherwise(0L)).as("da"),
      sum(when(col("grp") === groupB, 1L).otherwise(0L)).as("db"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cum = perValue
      .withColumn("ca", sum("da").over(w))
      .withColumn("cb", sum("db").over(w))
    val tot = cum.agg(max("ca").as("n_a"), max("cb").as("n_b"))
    cum.crossJoin(broadcast(tot))
      .withColumn("du", abs(col("ca") * col("n_b") - col("cb") * col("n_a")))
      .orderBy(col("du").desc, col("v").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"),
        // an empty side means "no distribution to compare" — answer
        // null explicitly rather than a 0/0 that reads as a statistic
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("du").cast("double") / (col("n_a") * col("n_b")), 6))
          .as("ks_stat"),
        col("v").as("at_value"))
  }

  /** Equi-depth histogram: `nBins` bins holding (near-)equal row
    * counts, cut by ntile over the (value, tiebreak) total order —
    * the binning PSI/feature-monitoring should use when the value
    * distribution is skewed (fixed-width bins collapse into one hot
    * bin). Returns per-bin (bin, n, lo, hi, mean) with the mean over
    * integer micro-units (order-free).
    *
    * Scale: the bin assignment routes through Ranks.ntileExact —
    * the only ordered window runs over the VALUE dictionary
    * (distinct values, not rows), bit-identical to `ntile(n) OVER
    * (ORDER BY v, tiebreak)` at the per-bin aggregate level: rows
    * tied on (v, tiebreak) are interchangeable within their value,
    * so every per-bin (n, lo, hi, mean) is engine-exact.
    */
  def equidepthBins(df: DataFrame, valueCol: String, tiebreakCol: String,
                    nBins: Int = 10): DataFrame = {
    graft.engine.Ranks
      .ntileExact(df.select(col(valueCol).cast("long").as("v"),
          col(tiebreakCol).as("_tb")),
        nBins, "v", "_tb", out = "bin")
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        min("v").as("lo"), max("v").as("hi"),
        round(sum("v").cast("double") / count(lit(1)), 6).as("mean"))
      .orderBy("bin")
  }

  /** Pearson chi-square test of independence between two categorical
    * columns (source × lang: "is language mix independent of source?"
    * — the intake-monitoring companion of psiDrift). One row:
    * (n, dof, chi2). Expected counts e = row·col/n are exact doubles
    * from integer marginals; per-cell terms are 1e-6-quantized before
    * the sum, so the statistic is aggregation-order-free.
    *
    * Scale: one (a, b) count shuffle; marginals and the term sum run
    * over the CELL table (|A|·|B| rows), broadcast-joined.
    */
  def chiSquareIndependence(df: DataFrame, colA: String,
                            colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("a").agg(sum("o").as("ra"))
    val colTot = cells.groupBy("b").agg(sum("o").as("cb"))
    val n = cells.agg(sum("o").as("n"),
      countDistinct("a").as("ka"), countDistinct("b").as("kb"))
    // full marginal grid: an EMPTY observed cell still contributes
    // (0−e)²/e = e to the statistic — skipping absent cells would
    // understate dependence exactly where it is strongest
    val grid = rowTot.crossJoin(colTot)
    grid.join(cells, Seq("a", "b"), "left").na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
      .withColumn("e",
        col("ra").cast("double") * col("cb") / col("n"))
      .withColumn("t_u", round(
        (col("o") - col("e")) * (col("o") - col("e")) / col("e") * 1e6)
        .cast("long"))
      .groupBy().agg(
        max("n").as("n"),
        ((max("ka") - 1) * (max("kb") - 1)).as("dof"),
        round(sum("t_u").cast("double") / 1e6, 6).as("chi2"))
  }

  /** Deterministic Poisson-bootstrap confidence interval for the
    * per-group mean of `valueCol` — error bars for every corpus
    * report metric (a mean without a CI invites over-reading source
    * differences). Each of `b` replicates draws a Poisson(1) weight
    * per row from the row's md5 coin (the distributed bootstrap
    * approximation — no global multinomial needed), the replicate
    * mean is a ratio of exact INTEGER sums, and the CI bounds are
    * NEAREST-RANK quantiles of the `b` means (no interpolation — the
    * q150 lesson).
    *
    * Scale: the replicate explode is b× the row count but 3 columns
    * wide; sums are map-side-combined per (group, replicate). `b`
    * bounds everything — 100 replicates is the textbook default.
    */
  def bootstrapMeanCi(df: DataFrame, valueCol: String, groupCol: String,
                      idCol: String, b: Int = 100, lo: Double = 0.025,
                      hi: Double = 0.975): DataFrame = {
    require(b >= 10, "bootstrapMeanCi: need at least 10 replicates")
    import org.apache.spark.sql.expressions.Window
    // inverse-CDF thresholds for Poisson(1), capped at 6 (P ≈ 1e-4
    // beyond); the SAME literal constants appear in the oracle SQL.
    // The coin is keyed by (row id, replicate) — rows sharing a value
    // must still draw INDEPENDENT weights
    val u = conv(substring(md5(concat(col("_id").cast("string"), lit(":"),
        col("_r").cast("string"))), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val weight =
      when(u < 0.3678794412, 0L).when(u < 0.7357588823, 1L)
        .when(u < 0.9196986029, 2L).when(u < 0.9810118431, 3L)
        .when(u < 0.9963401532, 4L).when(u < 0.9994058152, 5L)
        .otherwise(6L)
    val spark = df.sparkSession
    val reps = df.select(col(groupCol).as("grp"), col(idCol).as("_id"),
        col(valueCol).cast("long").as("v"))
      .crossJoin(spark.range(b).select(col("id").cast("int").as("_r")))
      .withColumn("_w", weight)
    val means = reps.groupBy("grp", "_r").agg(
        sum(col("_w") * col("v")).as("swv"), sum("_w").as("sw"))
      .filter(col("sw") > 0)
      .select(col("grp"), col("_r"),
        (col("swv").cast("double") / col("sw")).as("m"))
    val ranked = means
      .withColumn("_rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("m"), col("_r"))).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("grp")))
    val base = df.groupBy(col(groupCol).as("grp")).agg(
      count(lit(1)).as("n_rows"),
      (sum(col(valueCol).cast("long")).cast("double") / count(lit(1)))
        .as("mean"))
    ranked.groupBy("grp").agg(
        max(when(col("_rn") === greatest(ceil(lit(lo) * col("_n")), lit(1L)),
          col("m"))).as("_lo"),
        max(when(col("_rn") === ceil(lit(hi) * col("_n")), col("m")))
          .as("_hi"))
      .join(base, "grp")
      .select(col("grp"), col("n_rows"), round(col("mean"), 6).as("mean"),
        round(col("_lo"), 6).as("ci_lo"), round(col("_hi"), 6).as("ci_hi"))
  }

  /** Per-group Pearson correlation between two columns from exact
    * INTEGER sufficient statistics: y is quantized to 1e-6 units
    * (exact when y is already a round-6 value, e.g. the quality
    * score), so Σx, Σy, Σxy, Σx², Σy² are all exact BIGINT sums and
    * the correlation is one deterministic double expression — the
    * "is length confounding quality?" check every per-source report
    * needs. Zero-variance sides answer null. One grouped pass.
    */
  def pearsonCorr(df: DataFrame, xCol: String, yCol: String,
                  groupCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val yu = round(col(yCol).cast("double") * 1e6).cast("long")
    val s = df.groupBy(col(groupCol).as("grp")).agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(yu).as("sy"),
      sum(x * yu).as("sxy"), sum(x * x).as("sxx"), sum(yu * yu).as("syy"))
    val nD = col("n").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    s.select(col("grp"), col("n"),
      when(vx > 0 && vy > 0,
        round((nD * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double"))
          / sqrt(vx * vy), 6)).as("r"))
  }

  /** Volume-spike detection on a time series of event counts: hourly
    * counts per group vs their centered moving average (±`halfWindow`
    * rows); hours whose count exceeds `factor`× the local average are
    * flagged. The detrend is a windowed AVG of INTEGER counts (sum
    * and count both exact in every engine), so the flag set is
    * deterministic — the monitoring alarm for ingestion pipelines.
    *
    * The window is ROWS-based over the hours PRESENT in the series:
    * an hour with zero events is absent, so across outage gaps the
    * average spans the surrounding present hours (spike detection is
    * against typical load, which is what an alarm wants; use a
    * generated hour spine if zero-fill semantics are needed).
    *
    * Two shuffles: the (group, hour) count and the per-group ordered
    * window (partition-parallel across groups).
    */
  def volumeSpikes(events: DataFrame, groupCol: String, tsCol: String,
                   halfWindow: Int = 6, factor: Double = 2.0,
                   minCount: Long = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .groupBy(col(groupCol).as("grp"),
        date_trunc("hour", col(tsCol)).as("_h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("grp").orderBy("_h")
      .rowsBetween(-halfWindow, halfWindow)
    hourly.withColumn("ma", avg("n").over(w))
      .filter(col("n") >= minCount &&
        col("n").cast("double") > lit(factor) * col("ma"))
      .select(col("grp"), date_format(col("_h"), "yyyy-MM-dd HH:00:00")
          .as("hour"),
        col("n"), round(col("ma"), 6).as("ma"))
  }

  /** Winsorize `valueCol` within each group: clip to the group's
    * [lo, hi] exact interpolated percentiles (bounds rounded to 4 dp
    * so both engines clip against the identical constant). Returns
    * the input rows plus (w_lo, w_hi, winsorized) — the standard
    * heavy-tail guard before computing per-source corpus statistics.
    *
    * Same two-phase shape as `madOutliers`: one percentile shuffle,
    * then a broadcast join of group-count-sized bounds; at 100 TB
    * swap `percentile` for `approx_percentile` (one mergeable pass).
    */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
                lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val bounds = df.groupBy(groupCol).agg(
      round(percentile(col(valueCol), lit(lo)), 4).as("w_lo"),
      round(percentile(col(valueCol), lit(hi)), 4).as("w_hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn("winsorized",
        least(greatest(col(valueCol).cast("double"), col("w_lo")), col("w_hi")))
  }

  /** Kaplan–Meier risk table over per-entity durations — the
    * survival view of user/source retention ("how long do
    * contributors keep producing data?"). Entities whose duration is
    * still accruing at observation end are right-censored, not
    * events.
    *
    * Emits the estimator's SUFFICIENT STATISTICS per distinct event
    * duration: n_risk (entities with duration ≥ d), n_events,
    * n_censored at d, and the per-step survival factor
    * `round(1 − d_i/n_i, 6)`. Deliberately NOT the cumulative
    * product: the running Π is order-sequential floating arithmetic
    * whose cross-engine parity is not guaranteed, while this table is
    * all-integer (+ one rounded ratio per row) and contains the same
    * information.
    *
    * Shape: one per-entity aggregation (corpus-sized shuffle), one
    * per-duration count, then a prefix-sum window over DISTINCT
    * DURATIONS (days — bounded cardinality at any corpus size).
    */
  def kaplanMeier(events: DataFrame, entityCol: String, tsCol: String,
                  censorDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizon = events.agg(max(unix_micros(col(tsCol))).as("obs_end"))
    val perEntity = events
      .groupBy(col(entityCol).as("ent"))
      .agg(min(unix_micros(col(tsCol))).as("first_us"),
        max(unix_micros(col(tsCol))).as("last_us"))
      .crossJoin(broadcast(horizon))
      .select(
        // explicit floor: Spark's double→long cast truncates while
        // DuckDB's rounds — floor() makes both engines agree
        floor((col("last_us") - col("first_us")).cast("double") / 86400000000.0)
          .cast("long").as("d"),
        // still active within censorDays of observation end → censored
        when(col("last_us") >= col("obs_end") - lit(censorDays) * lit(86400000000L),
          0L).otherwise(1L).as("ev"))
    val byD = perEntity.groupBy("d")
      .agg(count(lit(1)).as("t"), sum("ev").as("n_events"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    byD
      .withColumn("_before", coalesce(sum("t").over(w), lit(0L)))
      .withColumn("_total", sum("t").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("d").as("duration_days"),
        (col("_total") - col("_before")).as("n_risk"),
        col("n_events"),
        (col("t") - col("n_events")).as("n_censored"),
        round(lit(1.0) - col("n_events").cast("double")
          / (col("_total") - col("_before")), 6).as("factor"))
      .filter(col("n_events") > 0)
      .orderBy("duration_days")
  }

  /** EWMA (α = 1/2) of daily event counts per group — the smoothed
    * trend line under [[volumeSpikes]]' alarm. The dyadic α makes the
    * whole recursion EXACT in binary floating point: the classical
    * s_t = α·x_t + (1−α)·s_{t−1} unrolls to
    * s_t = (2·x_0 + Σ_{j≥1} x_j·2^j) / 2^{t+1}, so the engine
    * computes an INTEGER prefix sum of weighted counts (associative —
    * partitioning-proof) and one division by a power of two (exact
    * scaling, bit-identical in any engine). No transcendentals, no
    * float accumulation order anywhere.
    *
    * t indexes the group's PRESENT days in order (gaps smooth across,
    * which is what a trend line over sparse series wants). The 2^t
    * weights bound the series at 62 present rows per group — beyond
    * that the weights exceed BIGINT (and the discarded terms are
    * below double resolution anyway); the guard fails loudly so the
    * caller chunks by epoch instead of silently overflowing.
    *
    * Two shuffles: the (group, day) count and the per-group ordered
    * prefix window.
    */
  def ewmaDaily(events: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(groupCol).as("grp"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val ord = Window.partitionBy("grp").orderBy("day")
    daily
      .withColumn("_t", (row_number().over(ord) - 1).cast("long"))
      // the overflow guard lives INSIDE the weight expression so
      // column pruning can never drop it
      .withColumn("_w",
        when(col("_t") > 61, raise_error(concat(lit(
          "ewmaDaily: series exceeds 62 present days for group "),
          col("grp").cast("string"), lit("; chunk by epoch"))).cast("long"))
          .when(col("_t") === 0, lit(2L))
          .otherwise(expr("shiftleft(cast(1 as bigint), cast(_t as int))")))
      .withColumn("_s", sum(col("_w") * col("n")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("grp"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"),
        round(col("_s").cast("double")
          / expr("cast(shiftleft(cast(1 as bigint), cast(_t + 1 as int)) as double)"),
          6).as("ewma"))
      .orderBy("grp", "day")
  }

  /** Weighted median (and weighted quartiles) per group by
    * NEAREST-RANK on cumulative integer weights — "the doc length at
    * which half the TOKENS sit below" is a different (and for
    * training-data budgeting, the right) question than the row
    * median. Values and weights are exact integers; the pick is the
    * first value whose running weight reaches ⌈q·W⌉ — pure integer
    * comparisons, no interpolation anywhere.
    *
    * One (group, value) aggregation collapses ties before the
    * per-group ordered prefix window (distinct values per group, not
    * rows).
    */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
                        groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
    val ord = Window.partitionBy("grp").orderBy("v")
    val all = Window.partitionBy("grp")
    val c = g
      .withColumn("cw", sum("w").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum("w").over(all))
    def pick(q: Double, name: String) =
      max(when(col("cw") - col("w") < ceil(lit(q) * col("tw")) &&
        ceil(lit(q) * col("tw")) <= col("cw"), col("v"))).as(name)
    c.groupBy("grp")
      .agg(max("tw").as("total_weight"),
        pick(0.25, "w_q1"), pick(0.5, "w_median"), pick(0.75, "w_q3"))
      .orderBy("grp")
  }

  /** Deterministic mode per group: the most frequent value with
    * smallest-value tie-break, plus its share — what Spark's own
    * `mode()` aggregate refuses to promise (its tie-break is
    * undefined). Two integer aggregations + a per-group rank window
    * over DISTINCT values.
    */
  def modeShare(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(groupCol).as("grp"),
        col(valueCol).as("v"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("n").desc, col("v"))))
      .withColumn("tot", sum("n").over(Window.partitionBy("grp")))
      .filter(col("rn") === 1)
      .select(col("grp"), col("v").as("mode"), col("n").as("mode_n"),
        col("tot").as("total_n"),
        round(col("n").cast("double") / col("tot"), 6).as("share"))
      .orderBy("grp")
  }

  /** ABC / Pareto contribution analysis: entities ranked by an exact
    * integer measure (cents), classified A/B/C at cumulative-share
    * boundaries checked as INTEGER cross-multiplications
    * (`cum·100 ≤ 80·total`) — no float share ever enters a
    * comparison. The "which 20% of parts carry 80% of revenue"
    * operator behind every mixture/budget decision.
    *
    * The cumulative sum routes through Ranks.rowNumberWithRunningSum:
    * the only ordered window runs over the cent-VALUE dictionary,
    * never the per-entity frame (entities grow with the catalog).
    */
  def abcAnalysis(df: DataFrame, entityCol: String, measureCents: Column,
                  aPct: Int = 80, bPct: Int = 95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 < aPct && aPct < bPct && bPct <= 100,
      s"need 0 < aPct < bPct <= 100, got $aPct/$bPct")
    val per = df.groupBy(col(entityCol).as("entity"))
      .agg(sum(measureCents).as("cents"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    graft.engine.Ranks
      .rowNumberWithRunningSum(per, "cents", "entity", valueDesc = true,
        outRank = "_rk", outCum = "cum", withTotal = false)
      .drop("_rk")
      .withColumn("total", sum("cents").over(all))
      // classify by the PREVIOUS cumulative share (cum − cents): the
      // entity that crosses a boundary belongs to the class it
      // completes — a 90%-share top entity is A, not C
      .withColumn("abc_class",
        when((col("cum") - col("cents")) * 100 < col("total") * aPct, "A")
          .when((col("cum") - col("cents")) * 100 < col("total") * bPct, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_entities"),
        round(sum("cents").cast("double") / 100, 2).as("class_value"),
        round(sum("cents").cast("double") / max("total"), 6).as("value_share"))
      .orderBy("abc_class")
  }

  /** Day-of-week seasonality profile per group — the weekly rhythm
    * baseline that separates "Mondays are always 2×" from a real
    * volume anomaly (pairs with [[volumeSpikes]]' hourly alarm and
    * [[ewmaDaily]]'s trend). Integer day counts aggregated per
    * (group, dow); the average is one exact division; peak_rank
    * orders a group's weekdays by total (tie → smaller dow).
    * dow is 0 = Sunday (both engines' conventions aligned
    * explicitly — Spark's dayofweek is 1-based, the oracle's 0-based).
    * Two tiny aggregations + a 7-row-per-group window.
    */
  def dowSeasonality(events: DataFrame, groupCol: String,
                     tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(groupCol).as("grp"), to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("dow", (dayofweek(col("_day")) - 1).cast("long"))
    daily.groupBy("grp", "dow")
      .agg(count(lit(1)).as("n_days"), sum("_n").as("total_events"))
      .withColumn("avg_per_day",
        round(col("total_events").cast("double") / col("n_days"), 6))
      .withColumn("peak_rank", row_number().over(
        Window.partitionBy("grp")
          .orderBy(col("total_events").desc, col("dow"))).cast("long"))
      .orderBy("grp", "dow")
  }

  /** Conversion latency: per entity, the delay from its FIRST
    * `fromType` event to its first `toType` event at-or-after it,
    * summarized as nearest-rank p50/p90 over exact epoch-micro
    * delays. Selection runs over the DELAY-VALUE DICTIONARY
    * (`Ranks.nearestRank`: the element at rank k is the smallest
    * delay whose cumulative count reaches k) — identical to
    * `row_number() OVER (ORDER BY delay)` nearest-rank picking, with
    * no row-scale global window. Entities that never convert simply
    * drop out — they belong to the funnel count (q115), not the
    * latency distribution.
    */
  def conversionLatency(events: DataFrame, entityCol: String, tsCol: String,
                        typeCol: String, fromType: String,
                        toType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val su = events.filter(col(typeCol) === fromType)
      .groupBy(col(entityCol).as("ent")).agg(min(col(tsCol)).as("s_ts"))
    val pu = events.filter(col(typeCol) === toType)
      .select(col(entityCol).as("ent"), col(tsCol).as("p_ts"))
      .join(su, Seq("ent"))
      .where(col("p_ts") >= col("s_ts"))
      .groupBy("ent").agg(min("p_ts").as("p_ts"), min("s_ts").as("s_ts"))
    val d = pu.select(
      (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("delay"))
    import graft.engine.Ranks
    Ranks.nearestRank(d, "delay", Seq(
        "_p50" -> ((n: Column) => Ranks.idiv(n + lit(1L), lit(2L))),
        "_p90" -> ((n: Column) => Ranks.idiv(lit(9L) * n + lit(9L), lit(10L)))))
      .select(col("n_total").cast("long").as("n_entities"),
        round(col("_p50").cast("double") / 1e6, 6).as("p50_seconds"),
        round(col("_p90").cast("double") / 1e6, 6).as("p90_seconds"))
  }

  /** Herfindahl–Hirschman concentration per group: HHI = Σ share²
    * of member weights, computed as one exact-integer ratio
    * Σw² / (Σw)² — supply-chain (or source-mix) fragility in one
    * number per part. Only groups with ≥ 2 members are reported
    * (singletons are 1.0 by definition). Two aggregations, both
    * keyed; no window.
    */
  def concentrationHHI(df: DataFrame, groupCol: String, memberCol: String,
                       weight: Column): DataFrame = {
    val q = df.groupBy(col(groupCol).as("grp"), col(memberCol).as("member"))
      .agg(sum(weight).as("w"))
    q.groupBy("grp")
      .agg(count(lit(1)).as("n_members"),
        sum(col("w") * col("w")).as("sq"), sum("w").as("tot"))
      .where(col("n_members") >= 2)
      .select(col("grp"), col("n_members").cast("long").as("n_members"),
        round(col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 6)
          .as("hhi"))
  }

  /** Time-weighted average (TWAP) per key: each observation holds
    * until the next one, so its weight is the inter-event duration —
    * the metering/pricing average that ignores sampling cadence
    * (a value observed for 10 h counts 600× one observed for 1 min).
    * Exact arithmetic: durations in epoch micros and values in cents
    * are BIGINTs; Σ(cents·dur) and Σdur are order-free integer sums
    * and the average is ONE rounded division. Keys with a single
    * observation carry no duration and drop out (same in any
    * engine). One window + one aggregation, both keyed.
    */
  def twap(df: DataFrame, keyCol: String, tsCol: String,
           valueCents: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("t"),
        valueCents.as("cents"))
      .withColumn("dur", lead("t", 1).over(
        Window.partitionBy("key").orderBy("t")) - col("t"))
      .where(col("dur").isNotNull)
      .groupBy("key")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("cents") * col("dur")).as("swc"),
        sum("dur").as("sw"))
      .select(col("key"), col("n_intervals").cast("long").as("n_intervals"),
        round(col("swc").cast("double") / col("sw"), 6).as("twap_cents"))
      .orderBy("key")
  }

  /** Per-group ordinary least squares y ~ x from exact integer sums
    * (n, Σx, Σy, Σxy, Σx², Σy² — one aggregation pass): slope,
    * intercept and R² are a fixed IEEE expression over them, the
    * q207 discipline. Inputs must be integral (cast/round upstream);
    * Σx² headroom bounds x ≲ 10⁵ at 10⁷ rows per group.
    *
    * Outputs are micro-quantized BIGINTs (`floor(x·10⁶ + 0.5)`),
    * not `round(double, 6)`: the latter is decimal-string HALF_UP in
    * Spark but binary-value rounding in DuckDB, so a …5e-7 boundary
    * flips the 6th decimal between engines. floor over the same IEEE
    * double is bit-identical everywhere (the q126 integer-unit
    * discipline).
    */
  def olsByGroup(df: DataFrame, groupCol: String, xCol: Column,
                 yCol: Column): DataFrame = {
    val agg = df
      .select(col(groupCol).as("grp"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val denX = nD * col("sxx") -
      col("sx").cast("double") * col("sx").cast("double")
    val denY = nD * col("syy") -
      col("sy").cast("double") * col("sy").cast("double")
    val slope = num / denX
    def micro(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")
    agg.select(col("grp"), col("n").cast("long").as("n"),
        micro(slope).as("slope_micro"),
        micro((col("sy").cast("double") - slope * col("sx")) / col("n"))
          .as("intercept_micro"),
        micro(num * num / (denX * denY)).as("r2_micro"))
      .orderBy("grp")
  }

  /** Simpson's-paradox check: the pooled OLS slope of y on x versus
    * each stratum's own slope — a stratum whose sign OPPOSES the
    * pooled sign is the aggregation-reversal warning every
    * "correlation by segment" dashboard needs stapled to it. Slopes
    * reuse [[olsByGroup]]'s exact-integer sufficient statistics
    * (micro-quantized), the pooled row rides the same output as
    * stratum `__pooled__`, and `opposes_pooled` compares quantized
    * signs so the flag cannot flip across engines. Zero-variance
    * strata report NULL slope and no flag.
    *
    * Scale: one group rollup + one global rollup — both
    * map-combinable single-pass aggregations.
    */
  def simpsonCheck(df: DataFrame, groupCol: String, xCol: Column,
                   yCol: Column): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("grp"),
      xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .trackedPersist()
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx").cast("double") * col("sy")
    val denX = nD * col("sxx") -
      col("sx").cast("double") * col("sx").cast("double")
    val slopeMicro = when(col("n") * col("sxx") =!= col("sx") * col("sx"),
      floor(num / denX * lit(1e6) + lit(0.5)).cast("long"))
    val strata = base.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("grp").as("stratum"), col("n"),
        slopeMicro.as("slope_micro"))
    val pooled = base
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(lit("__pooled__").as("stratum"), col("n"),
        slopeMicro.as("slope_micro"))
    val pm = pooled.select(col("slope_micro").as("pooled_micro"))
    strata.unionByName(pooled)
      .crossJoin(broadcast(pm))
      .select(col("stratum"), col("n"),
        (col("slope_micro").cast("double") / 1e6).as("slope"),
        when(col("slope_micro").isNotNull && col("pooled_micro").isNotNull &&
            col("stratum") =!= "__pooled__",
          signum(col("slope_micro")) * signum(col("pooled_micro")) < 0.0)
          .as("opposes_pooled"))
      .orderBy("stratum")
  }

  /** Calendar gap filling with forward fill: a complete day spine
    * (global [min, max] of the data) per group, observed daily
    * totals joined on, and gaps carrying the LAST observed value
    * forward — the standard densify-before-modeling step
    * (window functions and diffs silently skip missing days
    * otherwise). Days before a group's first observation stay null.
    * Spine size = groups × days (dictionary-scale); one window.
    */
  def forwardFillDaily(events: DataFrame, groupCol: String, tsCol: String,
                       valueCents: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .agg(sum(valueCents).as("cents"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = daily.select("grp").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("grp"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(daily, Seq("grp", "day"), "left")
      .withColumn("filled",
        when(col("cents").isNull, 1L).otherwise(0L))
      .withColumn("cents", last("cents", ignoreNulls = true).over(
        Window.partitionBy("grp").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("grp"), col("day").cast("long").as("day"), col("cents"),
        col("filled"))
      .orderBy("grp", "day")
  }

  /** Distribution-shape battery per group from raw INTEGER power
    * sums: skewness m3/m2^1.5 and excess kurtosis m4/m2²−3 computed
    * from Σx, Σx², Σx³, Σx⁴ — one aggregation pass, each sum an
    * exact order-free BIGINT, the central-moment algebra a fixed
    * double expression over them (identical IEEE op sequence in any
    * engine). Input must already be integral (counts, lengths);
    * Σx⁴ headroom bounds x ≲ 10³ at 10⁷ rows/group — pre-scale
    * larger domains.
    */
  def shapeMoments(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val agg = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"),
        sum(x * x).as("s2"), sum(x * x * x).as("s3"),
        sum(x * x * x * x).as("s4"))
    val n = col("n")
    val mean = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - mean * mean
    val m3 = col("s3").cast("double") / n -
      lit(3) * mean * (col("s2").cast("double") / n) +
      lit(2) * mean * mean * mean
    val m4 = col("s4").cast("double") / n -
      lit(4) * mean * (col("s3").cast("double") / n) +
      lit(6) * mean * mean * (col("s2").cast("double") / n) -
      lit(3) * mean * mean * mean * mean
    agg.select(col("grp"), col("n").cast("long").as("n"),
        round(mean, 6).as("mean"),
        round(m2, 6).as("m2"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3), 6).as("kurtosis_excess"))
      .orderBy("grp")
  }

  /** Lorenz-curve decile table over entity contributions: entities
    * ntile(10)-bucketed ascending by their exact cent totals, each
    * decile reporting its value and the CUMULATIVE share — the
    * inequality readout behind the q162 Gini number ("the bottom
    * half of parts carries 8% of revenue"). The decile assignment
    * routes through [[graft.engine.Ranks.ntileExact]] — the only
    * ordered window runs over the cent-VALUE dictionary, never the
    * per-entity frame (entities grow with the catalog); shares are
    * single rounded divisions of exact BIGINTs.
    */
  def lorenzDeciles(df: DataFrame, entityCol: String,
                    measureCents: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per0 = df.groupBy(col(entityCol).as("entity"))
      .agg(sum(measureCents).as("cents"))
    val per = graft.engine.Ranks
      .ntileExact(per0, 10, "cents", "entity", out = "dec")
    val byDec = per.groupBy("dec")
      .agg(count(lit(1)).as("n_entities"), sum("cents").as("dcents"))
    val wCum = Window.orderBy("dec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byDec
      .withColumn("cum", sum("dcents").over(wCum))
      .withColumn("tot", sum("dcents").over(wAll))
      .select(col("dec").cast("long").as("decile"),
        col("n_entities").cast("long").as("n_entities"),
        round(col("dcents").cast("double") / 100, 2).as("decile_value"),
        round(col("cum").cast("double") / col("tot"), 6).as("cum_share"))
      .orderBy("decile")
  }

  /** Exact Kendall τ-b rank correlation between two event types'
    * daily volumes ("do view-heavy days convert?"): every day pair
    * is classified concordant / discordant / x-tied / y-tied by pure
    * integer sign tests, and τ-b = (C−D)/√((n0−tx)(n0−ty)) is one
    * final expression over those exact counts (√ of integers is
    * IEEE-identical in any engine; the result is rounded).
    * τ-b's tie correction — not plain τ — because 0-fill days tie
    * constantly on sparse series.
    *
    * Scale: pairs are quadratic in DAYS (bounded window, the
    * Theil–Sen discipline), after a row-scale daily aggregation.
    */
  def kendallTauDaily(events: DataFrame, tsCol: String, typeCol: String,
                      typeX: String, typeY: String): DataFrame = {
    val daily = events
      .filter(col(typeCol).isin(typeX, typeY))
      .groupBy(datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .agg(sum(when(col(typeCol) === typeX, 1L).otherwise(0L)).as("x"),
        sum(when(col(typeCol) === typeY, 1L).otherwise(0L)).as("y"))
    val a = daily.select(col("day").as("da"), col("x").as("xa"),
      col("y").as("ya"))
    val b = daily.select(col("day").as("db"), col("x").as("xb"),
      col("y").as("yb"))
    // τ-b bookkeeping: C/D only over pairs untied on BOTH axes;
    // tie_x / tie_y count ALL pairs tied on that axis (a pair tied
    // on both contributes to both terms — the standard n1/n2)
    val untied = col("xa") =!= col("xb") && col("ya") =!= col("yb")
    val cls = a.join(b, col("da") < col("db")).agg(
      sum(when(untied &&
        (col("xa") < col("xb")) === (col("ya") < col("yb")), 1L)
        .otherwise(0L)).as("c"),
      sum(when(untied &&
        (col("xa") < col("xb")) =!= (col("ya") < col("yb")), 1L)
        .otherwise(0L)).as("d"),
      sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
      sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    nd.crossJoin(cls)
      .select(col("n_days"),
        expr("n_days * (n_days - 1) div 2").as("n_pairs"),
        col("c").as("concordant"), col("d").as("discordant"),
        col("tx").as("ties_x"), col("ty").as("ties_y"),
        round((col("c") - col("d")).cast("double") /
          sqrt(((expr("n_days * (n_days - 1) div 2") - col("tx")) *
            (expr("n_days * (n_days - 1) div 2") - col("ty")))
            .cast("double")), 6).as("tau_b"))
  }

  /** Market-basket association rules over (basket, item) pairs:
    * directional rules a→b with support ≥ `minPairSupport`,
    * confidence = supp(ab)/supp(a) and lift =
    * N·supp(ab)/(supp(a)·supp(b)) — the co-occurrence signal behind
    * "customers who bought X" and, in corpus work, tag/entity
    * affinity. All supports are exact integer basket counts; the
    * two ratios are single rounded double divisions over them.
    *
    * Scale: the pair fan-out is per-basket quadratic (bounded by
    * basket size, the q194 discipline); item supports are a
    * dictionary-sized broadcast; nothing row-scale shuffles twice.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minPairSupport: Long = 2L): DataFrame = {
    require(minPairSupport >= 1, s"minPairSupport >= 1, got $minPairSupport")
    val baskets = df.select(col(basketCol).as("g"),
      col(itemCol).cast("string").as("item")).distinct()
    val nB = baskets.agg(countDistinct("g").as("n_baskets"))
    val itemSupp = baskets.groupBy("item").agg(count(lit(1)).as("supp"))
    val a = baskets.select(col("g"), col("item").as("ante"))
    val b = baskets.select(col("g"), col("item").as("cons"))
    val pairSupp = a.join(b, Seq("g")).where(col("ante") =!= col("cons"))
      .groupBy("ante", "cons").agg(count(lit(1)).as("supp_pair"))
      .where(col("supp_pair") >= minPairSupport)
    pairSupp
      .join(broadcast(itemSupp.select(col("item").as("ante"),
        col("supp").as("supp_a"))), Seq("ante"))
      .join(broadcast(itemSupp.select(col("item").as("cons"),
        col("supp").as("supp_b"))), Seq("cons"))
      .crossJoin(broadcast(nB))
      .select(col("ante"), col("cons"), col("supp_pair"), col("supp_a"),
        col("supp_b"),
        round(col("supp_pair").cast("double") / col("supp_a"), 6)
          .as("confidence"),
        round(col("n_baskets").cast("double") * col("supp_pair") /
          (col("supp_a") * col("supp_b")), 6).as("lift"))
  }

  /** Theil–Sen robust daily-trend estimator per group: the median of
    * all pairwise slopes (c_j − c_i)/(day_j − day_i) over the daily
    * count series — the breakdown-point-0.29 answer to "is this
    * source growing?" that one outlier day cannot move (unlike OLS).
    *
    * Slopes are micro-quantized (round(1e6·Δc/Δd) as BIGINT), and
    * the median is the nearest-rank ⌈n/2⌉-th smallest — a selection
    * over integers, bit-stable in any engine and under any tie
    * order (equal values make the tied rows interchangeable).
    *
    * Scale: the pair join is quadratic in DAYS PER GROUP (a
    * dictionary-sized series — 90 days → ~4k pairs), never rows;
    * the base table is reduced by the daily aggregation first.
    */
  def theilSenDaily(events: DataFrame, groupCol: String,
                    tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select(col("grp"), col("day").as("da"), col("n").as("ca"))
    val b = daily.select(col("grp"), col("day").as("db"), col("n").as("cb"))
    val pairs = a.join(b, Seq("grp")).where(col("da") < col("db"))
      .select(col("grp"),
        round(lit(1e6) * (col("cb") - col("ca")) / (col("db") - col("da")))
          .cast("long").as("slope_u"))
    val w = Window.partitionBy("grp").orderBy("slope_u")
    val wAll = Window.partitionBy("grp")
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(
        wAll.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(col("rn") === expr("(np + 1) div 2"))
      .join(daily.groupBy("grp").agg(count(lit(1)).as("n_days")), Seq("grp"))
      .select(col("grp"), col("n_days"), col("np").as("n_pairs"),
        round(col("slope_u").cast("double") / 1e6, 6).as("slope_per_day"))
      .orderBy("grp")
  }

  /** CUSUM changepoint / drift detector per group over the daily
    * count series, in closed window form: with y_t = x_t·1e6 −
    * mean_u (integer micro-units against the group mean), the
    * classical recursion S_t = max(0, S_{t−1} + y_t) equals
    * P_t − min(0, min_{j≤t} P_j) for the prefix sums P — so the
    * whole detector is ONE ordered window (prefix sum + running
    * min), no recursion, no UDF, exact integers end to end.
    * Emits the peak excursion, its day (earliest on ties), and how
    * many days exceeded `hMeans` daily means of cumulative excess.
    */
  def cusumDaily(events: DataFrame, groupCol: String, tsCol: String,
                 hMeans: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(hMeans >= 1, s"cusumDaily: hMeans must be >= 1, got $hMeans")
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("mean_u", round(lit(1e6) * sum("n").over(wAll) /
        count(lit(1)).over(wAll)).cast("long"))
      .withColumn("p", sum(col("n") * 1000000L - col("mean_u")).over(wRun))
      .withColumn("s", col("p") - least(lit(0L), min("p").over(wRun)))
      .withColumn("smax", max("s").over(wAll))
    scored.groupBy("grp")
      .agg(count(lit(1)).as("n_days"),
        round(max("s").cast("double") / 1e6, 6).as("max_cusum"),
        min(when(col("s") === col("smax"), col("day"))).cast("long")
          .as("peak_day"),
        sum(when(col("s") > col("mean_u") * hMeans, 1L).otherwise(0L))
          .cast("long").as("n_alarms"))
      .orderBy("grp")
  }

  /** Interval-union coverage per key — merge overlapping-or-touching
    * [start, end] integer intervals (both bounds inclusive) and
    * report, per key: how many raw intervals, how many merged islands
    * they collapse to, and the total covered units. The classic
    * "actual busy time" / SLA-coverage operator: raw interval counts
    * double-count overlap; the union doesn't.
    *
    * Gaps-and-islands with a RUNNING MAX (not lag): a new island
    * starts when this interval's start exceeds the max end seen so
    * far — lag(end) alone is wrong when an earlier interval swallows
    * a later one. All integer; one key-partitioned sort window + one
    * aggregation, so it shuffles once on the key.
    */
  def intervalCoverage(df: DataFrame, keyCol: String, startCol: Column,
                       endCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = df.select(col(keyCol).as("key"),
      startCol.cast("long").as("s"), endCol.cast("long").as("e"))
      .where(col("s") <= col("e"))
    val w = Window.partitionBy("key").orderBy(col("s"), col("e"))
    val prevMax = max("e").over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = iv
      .withColumn("_new",
        when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("_isl", sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy("key", "_isl")
      .agg(count(lit(1)).as("n_iv"), min("s").as("is"), max("e").as("ie"))
      .groupBy("key")
      .agg(sum("n_iv").cast("long").as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("ie") - col("is") + 1).cast("long").as("covered"))
  }

  /** Day-over-day trending ranks — "what moved up the leaderboard?".
    * Per day, items are ranked by count (ties to the smaller item —
    * fully deterministic); each item's rank is compared to its rank
    * on the PREVIOUS OBSERVED day (`lag` over the item's own day
    * sequence — a day with no sales compares to the last day that had
    * any). Positive delta = rising. Only the per-day top `k` rows are
    * emitted, but ranks/lags are computed over the FULL table first —
    * an item entering the top-k shows where it came from.
    *
    * Two window passes over the (day, item) aggregate — which is
    * dictionary-sized (days × items), never row-sized — so the heavy
    * input collapses in one exact integer count first.
    */
  def trendingRanks(df: DataFrame, dayCol: Column, itemCol: String,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "trendingRanks: k must be >= 1")
    val daily = df.select(dayCol.cast("long").as("day"), col(itemCol)
        .as("item"))
      .groupBy("day", "item").agg(count(lit(1)).as("n"))
    val ranked = daily.withColumn("rnk", row_number().over(
      Window.partitionBy("day").orderBy(col("n").desc, col("item")))
      .cast("long"))
    ranked
      .withColumn("prev_rnk",
        lag("rnk", 1).over(Window.partitionBy("item").orderBy("day"))
          .cast("long"))
      .withColumn("rank_delta", (col("prev_rnk") - col("rnk")).cast("long"))
      .where(col("rnk") <= k)
      .select(col("day"), col("item"), col("n").cast("long").as("n"),
        col("rnk"), col("prev_rnk"), col("rank_delta"))
      .orderBy("day", "rnk")
  }

  /** Benford first-digit audit over a positive numeric column — the
    * classic fabricated-/synthetic-data smell test for ingested
    * numeric feeds. Observed first-digit counts (extracted from the
    * INTEGER part as a string — no log10 on the data path, so no
    * transcendental parity risk) against the Benford expectation
    * `log10(1+1/d)`, whose nine constants are driver-computed and
    * injected as literals into BOTH plans. The χ² statistic
    * accumulates per-digit terms quantized to 1e-6 BIGINT units —
    * aggregation-order-free. One map pass + one 9-group aggregation.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val digitExpr = substring(
      floor(col(valueCol).cast("double")).cast("long").cast("string"), 1, 1)
      .cast("int")
    val byDigit = df.filter(col(valueCol).cast("double") >= 1.0)
      .select(digitExpr.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val expected = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
    val expectedCol = expected.tail.foldLeft(
      when(col("digit") === 1, lit(expected.head._2))) {
      case (acc, (d, e)) => acc.when(col("digit") === d, lit(e))
    }
    val n = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDigit
      .withColumn("_n", sum("n_obs").over(n))
      .withColumn("exp_n", expectedCol * col("_n").cast("double"))
      .withColumn("_term", round(
        (col("n_obs").cast("double") - col("exp_n")) *
          (col("n_obs").cast("double") - col("exp_n")) / col("exp_n") * 1e6)
        .cast("long"))
      .withColumn("chi2", round(sum("_term").over(n).cast("double") / 1e6, 6))
      .select(col("digit"), col("n_obs"),
        round(col("exp_n"), 6).as("exp_n"), col("chi2"))
      .orderBy("digit")
  }

  /** Single-changepoint detection per group over the daily count
    * series — "where did this metric's regime shift?" for pipeline
    * monitoring. Binary-segmentation step 1 (public CUSUM/binseg
    * literature): the best split t minimizes the two-segment SSE,
    * equivalently maximizes the between-segment sum of squares
    *
    *   SS_b(t) = S_L²/t + S_R²/(D−t) − S²/D
    *
    * which needs only PREFIX SUMS of the ordered daily counts — one
    * window sweep per group, no quadratic segment scan. The argmax
    * key is the micro-quantized gain `round(1e3·(S_L²/t + S_R²/(D−t)))`
    * (fixed IEEE expression over exact BIGINTs — cross-engine-stable),
    * ties to the earliest split day. `strength` = SS_b/SS_tot ∈ [0,1]
    * (the R² of the one-split step model; NULL for a constant series).
    *
    * Scale: the raw scan collapses to (group × day) rows in one
    * aggregation; everything after runs on that dictionary-sized
    * frame (windows partitioned per group — parallel across groups,
    * series length is bounded by the calendar, not the data).
    */
  def changepointDaily(events: DataFrame, groupCol: String,
                       tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long").as("day"))
      .agg(count(lit(1)).as("y"))
    val ord = Window.partitionBy("grp").orderBy("day")
    val full = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val d = col("nd") - col("t")
    val cand = daily
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("s_l", sum("y").over(ord).cast("long"))
      .withColumn("nd", count(lit(1)).over(full).cast("long"))
      .withColumn("s", sum("y").over(full).cast("long"))
      .withColumn("ss", sum(col("y") * col("y")).over(full).cast("long"))
      .where(col("t") < col("nd"))
      .withColumn("s_r", col("s") - col("s_l"))
      .withColumn("gain_u", round(
        (col("s_l").cast("double") * col("s_l") / col("t") +
          col("s_r").cast("double") * col("s_r") / d) * 1e3).cast("long"))
    val best = Window.partitionBy("grp")
      .orderBy(col("gain_u").desc, col("t"))
    cand.withColumn("_rk", row_number().over(best)).where(col("_rk") === 1)
      .select(col("grp"), col("nd").as("n_days"), col("day").as("split_day"),
        round(col("s_l").cast("double") / col("t"), 6).as("mean_left"),
        round(col("s_r").cast("double") / d, 6).as("mean_right"),
        when(col("ss").cast("double") -
            col("s").cast("double") * col("s") / col("nd") === 0.0,
            lit(null).cast("double"))
          .otherwise(round(
            (col("gain_u").cast("double") / 1e3 -
              col("s").cast("double") * col("s") / col("nd")) /
            (col("ss").cast("double") -
              col("s").cast("double") * col("s") / col("nd")), 6))
          .as("strength"))
      .orderBy("grp")
  }

  /** Shuffle-skew audit for a candidate partitioning key — "will
    * this key melt a reducer at 1000 executors?" answered from the
    * data, before the expensive job runs. Rows are bucketed by an
    * ENGINE-PORTABLE hash (md5-hex7 mod nBuckets — Spark's
    * murmur-based HashPartitioner isn't replayable elsewhere, and
    * the audit only needs *a* uniform hash, not Spark's), then:
    *
    *   - `skew_x` = max-bucket rows / mean-bucket rows — the
    *     straggler factor a shuffle on this key would see
    *   - `top_key_rows` / `top_key_share` — the single hottest key;
    *     a high share means salting/AQE-skew-join territory, because
    *     no bucket count fixes one irreducible hot key
    *   - `n_keys`, `buckets_used` — cardinality context
    *
    * Scale: one key-grouped count (the only data-sized shuffle,
    * map-side combinable), then a bucket rollup of the KEY
    * dictionary and two single-row aggregates. Ratios are
    * micro-quantized BIGINTs divided by 1e6 (no decimal rounding
    * boundary — the q218 rule).
    */
  def shuffleSkewAudit(df: DataFrame, keyCol: String, label: String,
                       nBuckets: Int = 32): DataFrame = {
    require(nBuckets >= 1, s"shuffleSkewAudit: nBuckets >= 1, got $nBuckets")
    val kc = df.select(col(keyCol).cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    // the bucket rollup carries the per-bucket key count and max key
    // so the top-key stats fold through the SAME chain — one branch,
    // two exchanges, the key-count shuffle never re-runs
    val bk = kc.withColumn("bucket",
        conv(substring(md5(col("k")), 1, 7), 16, 10).cast("long") % nBuckets)
      .groupBy("bucket").agg(sum("n").as("bn"), max("n").as("mk"),
        count(lit(1)).as("nk"))
    val t = bk.agg(sum("bn").cast("long").as("n_rows"),
      count(lit(1)).as("buckets_used"), max("bn").cast("long").as("mx"),
      max("mk").cast("long").as("top_key_rows"),
      sum("nk").cast("long").as("n_keys"))
    t.select(
      lit(label).as("key_label"), col("n_rows"), col("n_keys"),
      col("buckets_used"), col("mx").as("max_bucket_rows"),
      (round(col("mx") * nBuckets * lit(1e6) / col("n_rows")).cast("long")
        .cast("double") / 1e6).as("skew_x"),
      col("top_key_rows"),
      (round(col("top_key_rows") * lit(1e6) / col("n_rows")).cast("long")
        .cast("double") / 1e6).as("top_key_share"))
  }

  /** Additive seasonal decomposition of the per-group daily count
    * series — y = trend + seasonal + residual, the STL-shaped
    * monitoring readout that separates "weekends are slow" from
    * "something broke on the 14th" (public classical-decomposition
    * literature; one pass, no iteration):
    *
    *   - trend: centered 7-OBSERVED-DAY moving average in micro
    *     units (edge days without a full window drop — they have no
    *     defined trend)
    *   - seasonal: day-of-week mean of the detrended series, with
    *     dow computed as the pure-integer `(epoch_day + 4) % 7`
    *     (0 = Sunday; no engine date-function quirks in the plan)
    *   - residual: the exact BIGINT leftover — the anomaly signal
    *
    * All components are micro-quantized BIGINTs divided by 1e6 on
    * output (no decimal rounding boundary). Scale: the raw scan
    * collapses to (group, day) in one aggregation; windows partition
    * per group over calendar-bounded series, and the seasonal join
    * is a ≤7-rows-per-group broadcast.
    */
  def seasonalDecompose(events: DataFrame, groupCol: String,
                        tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    val w7 = Window.partitionBy("grp").orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("wn", count(lit(1)).over(w7))
      .withColumn("t_u", round(sum("y").over(w7).cast("double") * lit(1e6) /
        lit(7)).cast("long"))
      .where(col("wn") === 7)
      .withColumn("d_u", col("y") * lit(1000000L) - col("t_u"))
      .withColumn("dow", ((col("day") + 4) % 7).cast("long"))
    val seasonal = trended.groupBy("grp", "dow")
      .agg(round(sum("d_u").cast("double") / count(lit(1))).cast("long")
        .as("s_u"))
    trended.join(broadcast(seasonal), Seq("grp", "dow"))
      .select(col("grp"), col("day"), col("dow"), col("y"),
        (col("t_u").cast("double") / 1e6).as("trend"),
        (col("s_u").cast("double") / 1e6).as("seasonal"),
        ((col("d_u") - col("s_u")).cast("double") / 1e6).as("residual"))
      .orderBy("grp", "day")
  }

  /** Outlier-detector ensemble over an integer-cents measure: the
    * three standard univariate detectors voting — z-score
    * (|v−mean| > 3σ, moments exact with HUGEINT/DECIMAL squared
    * sums), MAD (|v−median| > 3·1.4826·MAD, nearest-rank on the
    * value dictionary) and Tukey IQR fences (1.5·IQR beyond
    * Q1/Q3) — reporting the top-`topK` rows by consensus. A point
    * all three flag is an outlier under ANY of the usual
    * assumptions; a z-only flag just means a heavy tail. Every
    * cutoff compares exact integers against a double computed from
    * exact integers — engine-reproducible.
    *
    * Scale: one moments pass + one ranked pass over the value
    * DICTIONARY (the quantile window is dictionary-sized by
    * design), cutoffs ride a 1-row broadcast back onto rows, then
    * a TakeOrdered.
    */
  def outlierVotes(df: DataFrame, keyCol: Column, valueCents: Column,
                   topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"outlierVotes: topK must be >= 1, got $topK")
    val base = df.select(keyCol.cast("long").as("k"),
        valueCents.cast("long").as("v"))
      .trackedPersist()
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val mom = base.agg(count(lit(1)).as("n"), sum("v").as("s"),
      sum(dec(col("v") * col("v"))).as("q"))
    val dict = base.groupBy("v").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val ranked = dict.withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(mom.select(col("n"))))
      .trackedPersist()
    // nearest-rank order statistic: smallest v with cum >= ceil(p·n)
    def orderStat(p: Double, name: String) = ranked
      .where(col("cum") >= ceil(lit(p) * col("n")).cast("long"))
      .agg(min("v").as(name))
    val med = orderStat(0.5, "median")
    val q1 = orderStat(0.25, "q1")
    val q3 = orderStat(0.75, "q3")
    // MAD: median of |v − median| re-ranked on the deviation dictionary
    val dev = dict.crossJoin(broadcast(med))
      .select(abs(col("v") - col("median")).as("d"), col("c"))
      .groupBy("d").agg(sum("c").as("c"))
    val wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val mad = dev.withColumn("cum", sum("c").over(wd))
      .crossJoin(broadcast(mom.select(col("n"))))
      .where(col("cum") >= ceil(lit(0.5) * col("n")).cast("long"))
      .agg(min("d").as("mad"))
    val cuts = mom.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .crossJoin(broadcast(q1)).crossJoin(broadcast(q3))
      .select(
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt((dec(col("n")) * col("q") - dec(col("s")) * col("s"))
          .cast("double") / (dec(col("n")) * col("n")).cast("double"))
          .as("std"),
        col("median"), col("mad"), col("q1"), col("q3"))
    base.crossJoin(broadcast(cuts))
      .select(col("k"), col("v"),
        (col("std") > 0.0 &&
          abs(col("v").cast("double") - col("mean")) >
            lit(3.0) * col("std")).as("flag_z"),
        (col("mad") > 0L &&
          abs(col("v") - col("median")).cast("double") >
            lit(3.0) * lit(1.4826) * col("mad").cast("double"))
          .as("flag_mad"),
        (col("v").cast("double") <
            col("q1").cast("double") - lit(1.5) *
              (col("q3") - col("q1")).cast("double") ||
          col("v").cast("double") >
            col("q3").cast("double") + lit(1.5) *
              (col("q3") - col("q1")).cast("double")).as("flag_iqr"))
      .withColumn("votes",
        col("flag_z").cast("long") + col("flag_mad").cast("long") +
          col("flag_iqr").cast("long"))
      .orderBy(col("votes").desc, col("v").desc, col("k"))
      .limit(topK)
  }

  /** Weekly Gini coefficient of per-entity activity — inequality
    * DRIFT over time ("is engagement concentrating into whales"),
    * where q162's single Gini gives one corpus-wide number. Per
    * epoch week: entities ranked by exact count (ties broken by id
    * for a total order), G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n as one
    * rounded expression over exact BIGINT sums.
    *
    * Scale: one (week, entity) rollup, then a week-partitioned rank
    * window over the week×entity dictionary.
    */
  def weeklyGini(events: DataFrame, entityCol: String,
                 tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val we = events.select(col(entityCol).cast("string").as("u"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .select(col("u"), expr("day div 7L").as("week"))
      .groupBy("week", "u").agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("week").orderBy(col("x"), col("u"))
    we.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_users"), sum("x").as("total_events"),
        sum(col("i") * col("x")).as("ix"))
      .select(col("week"), col("n_users"), col("total_events"),
        when(col("n_users") > 0L && col("total_events") > 0L,
          round(lit(2.0) * col("ix").cast("double") /
            (col("n_users").cast("double") *
              col("total_events").cast("double")) -
            (col("n_users") + 1L).cast("double") /
              col("n_users").cast("double"), 6)).as("gini"))
      .orderBy("week")
  }

  /** Heavy-hitter drift: the exact top-`topK` entities of each half
    * of the observed day span (the [[rateShift]] midpoint split)
    * joined BY RANK — who left the leaderboard, who entered, whether
    * the #1 changed. Ranks are total-ordered (count desc, entity),
    * so the comparison is engine-exact; a rank with no counterpart
    * (a half with fewer active entities) reports NULLs on that side.
    *
    * Scale: two half-keyed rollups, two exact top-k selections via
    * `Ranks.topK` (TakeOrderedAndProject — per-partition top-k then a
    * k-row merge, never a global sort), then a rank window over the
    * already-k-row frames and a topK-row join.
    */
  def topHitterDrift(events: DataFrame, entityCol: String,
                     tsCol: String, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topHitterDrift: topK must be >= 1, got $topK")
    val days = events.select(col(entityCol).cast("string").as("u"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .trackedPersist()
    val span = days.agg(min("day").as("mind"), max("day").as("maxd"))
      .select(expr("(mind + maxd) div 2L").as("mid"))
    val halves = days.crossJoin(broadcast(span))
    def top(pre: Boolean) = {
      val side = if (pre) halves.where(col("day") <= col("mid"))
        else halves.where(col("day") > col("mid"))
      val sfx = if (pre) "pre" else "post"
      val tk = graft.engine.Ranks.topK(
        side.groupBy("u").agg(count(lit(1)).as("n")),
        topK, col("n").desc, col("u"))
      // rank within the ≤ topK-row frame — bounded by the literal
      // limit beneath it, not by the entity dictionary
      tk.withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("u"))).cast("long"))
        .select(col("rank"), col("u").as(s"user_$sfx"),
          col("n").as(s"n_$sfx"))
    }
    top(pre = true).join(top(pre = false), Seq("rank"), "full_outer")
      .select(col("rank"), col("user_pre"), col("n_pre"),
        col("user_post"), col("n_post"),
        (!(col("user_pre") <=> col("user_post"))).as("user_changed"))
      .orderBy("rank")
  }

  /** Day-of-week × hour activity heatmap with per-dow shares — the
    * operational load view ("when do users actually show up") every
    * capacity plan starts from. Counts exact; the share is the one
    * rounded ratio per cell. Dow 0 = Sunday-aligned via the
    * battery's (epoch_day + 4) % 7 convention.
    */
  def dowHourHeatmap(events: DataFrame, tsCol: String): DataFrame = {
    val cells = events.select(
        ((datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          + 4L) % 7L).as("dow"),
        hour(col(tsCol)).cast("long").as("hour"))
      .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
    val dowTot = cells.groupBy("dow").agg(sum("n").as("dow_n"))
    cells.join(broadcast(dowTot), "dow")
      .select(col("dow"), col("hour"), col("n"),
        round(col("n").cast("double") / col("dow_n"), 6)
          .as("share_of_dow"))
      .orderBy("dow", "hour")
  }

  /** Whale-concentration curve: the exact share of all events
    * produced by the top 1% / 10% / 50% most active entities —
    * ranked on the entity dictionary (count desc, id), thresholds
    * by nearest-rank ceil, shares as single rounded ratios over
    * exact sums. The one-line answer to "how head-heavy is this
    * corpus" that q208's full Lorenz deciles expand on.
    */
  def whaleShares(events: DataFrame, entityCol: String,
                  percents: Seq[Int] = Seq(1, 10, 50)): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "whaleShares: percents must be in 1..100")
    val counts = events.select(col(entityCol).cast("string").as("u"))
      .groupBy("u").agg(count(lit(1)).as("n"))
      .trackedPersist()
    // rank + running event sum via the count-VALUE dictionary — the
    // only ordered window runs over distinct activity counts, never
    // the entity frame (Ranks.rowNumberWithRunningSum is
    // bit-identical to the naive global window)
    val ranked = graft.engine.Ranks
      .rowNumberWithRunningSum(counts, "n", "u", valueDesc = true,
        outRank = "rk", outCum = "cum", withTotal = false)
      .trackedPersist()
    val tot = counts.agg(count(lit(1)).as("n_entities"),
      sum("n").as("n_events"))
    percents.map { p =>
      ranked.crossJoin(broadcast(tot))
        .where(col("rk") === ceil(lit(p / 100.0) * col("n_entities"))
          .cast("long"))
        .select(lit(p.toLong).as("top_percent"),
          col("rk").as("n_top_entities"), col("n_entities"),
          col("cum").as("events_by_top"), col("n_events"),
          round(col("cum").cast("double") / col("n_events"), 6)
            .as("share"))
    }.reduce(_ unionByName _).orderBy("top_percent")
  }

  /** Operational freshness/completeness audit per group: the last
    * seen day, staleness versus the corpus's global max day, and
    * the day-coverage of the trailing 7-day window — with an
    * integer-threshold verdict (stale ≥ 2 days behind; gappy ≥ 2
    * of the last 7 days missing). The "is this feed alive" check
    * every ingest dashboard opens with; pure integer arithmetic
    * end to end.
    *
    * Scale: one distinct (group, day) projection, a 1-row global
    * max broadcast, one group rollup.
    */
  def freshnessAudit(events: DataFrame, groupCol: String,
                     tsCol: String): DataFrame = {
    val gd = events.select(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .distinct()
      .trackedPersist()
    val glob = gd.agg(max("day").as("maxd"))
    gd.crossJoin(broadcast(glob))
      .groupBy("grp")
      .agg(max(col("maxd")).as("maxd"), max("day").as("last_day"),
        sum(when(col("day") > col("maxd") - 7L, 1L).otherwise(0L))
          .as("days_present_7d"))
      .select(col("grp"), col("last_day"),
        (col("maxd") - col("last_day")).as("staleness_days"),
        col("days_present_7d"),
        (lit(7L) - col("days_present_7d")).as("days_missing_7d"),
        when(col("maxd") - col("last_day") >= 2L, lit("stale"))
          .when(lit(7L) - col("days_present_7d") >= 2L, lit("gappy"))
          .when(col("maxd") === col("last_day") &&
            col("days_present_7d") === 7L, lit("fresh"))
          .otherwise(lit("ok")).as("verdict"))
      .orderBy("grp")
  }

  /** Seasonality-aware anomaly detection: [[seasonalDecompose]]'s
    * exact-integer residuals scored against each group's own robust
    * scale (nearest-rank median of |residual| × 1.4826, the MAD
    * consistency constant) — "something broke on the 14th" AFTER
    * "weekends are slow" has been subtracted, which is the alert
    * q117's raw-series MAD cannot give on seasonal data. All
    * comparisons are integer (residuals and the scaled MAD live in
    * 1e6 units); the score is the one rounded ratio.
    *
    * Scale: the decomposition's dictionary frames plus one
    * group-partitioned rank window over days×groups.
    */
  def seasonalAnomalies(events: DataFrame, groupCol: String,
                        tsCol: String, k: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0.0, s"seasonalAnomalies: k must be > 0, got $k")
    val sd = seasonalDecompose(events, groupCol, tsCol)
      .withColumn("res_u", round(col("residual") * lit(1e6)).cast("long"))
      .trackedPersist()
    val wRank = Window.partitionBy("grp")
      .orderBy(abs(col("res_u")), col("day"))
    val wN = Window.partitionBy("grp")
    val mad = sd
      .withColumn("_rn", row_number().over(wRank).cast("long"))
      .withColumn("_n", count(lit(1)).over(wN))
      .where(col("_rn") === expr("(_n + 1) div 2"))
      .select(col("grp"),
        round(abs(col("res_u")).cast("double") * lit(1.4826)).cast("long")
          .as("sigma_u"))
    sd.join(broadcast(mad), "grp")
      .select(col("grp"), col("day"), col("y"), col("residual"),
        when(col("sigma_u") > 0L,
          round(col("res_u").cast("double") / col("sigma_u"), 6))
          .as("score"),
        (col("sigma_u") > 0L &&
          abs(col("res_u")).cast("double") >
            lit(k) * col("sigma_u").cast("double")).as("is_anomaly"))
      .orderBy("grp", "day")
  }

  /** Join-size pre-flight: the EXACT output cardinality of an
    * equi-join computed from the two key dictionaries — Σ_k n_a(k)·
    * n_b(k) — without running the join. The companion to
    * [[shuffleSkewAudit]]: skew tells you a key will straggle,
    * this tells you a join will EXPLODE (amplification ≫ 1 means
    * the "join then filter" plan someone wrote multiplies rows
    * before it reduces them). Also surfaces the single hottest key
    * pair (ties to the larger key string — `max(struct)` order,
    * replayed as ORDER BY p DESC, k DESC).
    *
    * Scale: one key-grouped count per side (map-combinable), a
    * dictionary⋈dictionary join on the key, one single-row rollup —
    * the estimator's cost is the dictionaries', never the join's
    * (that asymmetry is the point: you buy the answer for the price
    * of two GROUP BYs). Amplification is a micro-quantized BIGINT
    * over greatest(|A|, |B|).
    */
  def joinSizeAudit(left: DataFrame, leftKey: String,
                    right: DataFrame, rightKey: String,
                    label: String): DataFrame = {
    val la = left.select(col(leftKey).cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("na"))
    val ra = right.select(col(rightKey).cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("nb"))
    val m = la.join(ra, "k")
      .select(col("k"), (col("na") * col("nb")).as("p"))
    val tot = m.agg(count(lit(1)).as("n_keys_matched"),
      coalesce(sum("p"), lit(0L)).cast("long").as("out_rows"),
      max(struct(col("p"), col("k"))).as("top"))
    val sizes = left.agg(count(lit(1)).as("n_left"))
      .crossJoin(right.agg(count(lit(1)).as("n_right")))
    tot.crossJoin(sizes).select(
      lit(label).as("join_label"), col("n_left"), col("n_right"),
      col("n_keys_matched"), col("out_rows"),
      (round(col("out_rows") * lit(1e6) /
        greatest(col("n_left"), col("n_right"))).cast("long")
        .cast("double") / 1e6).as("amplification"),
      col("top.k").as("top_key"), col("top.p").as("top_key_rows"))
  }

  /** Functional-dependency audit — the "which columns determine
    * which" half of catalog profiling that `profileTable`'s
    * per-column stats can't see. For each candidate FD `lhs → rhs`,
    * reports how close the table is to satisfying it:
    *
    *   - `n_groups`: distinct LHS value combinations
    *   - `n_violating`: LHS groups mapping to >1 distinct RHS value
    *   - `g3_rows`: the standard g3 error — the MINIMUM number of
    *     rows to delete so the FD holds exactly (per violating
    *     group: group size minus its most frequent RHS value's
    *     count; Kivinen & Mannila 1995, public literature)
    *   - `holds`: zero violating groups
    *   - `confidence`: 1 − g3/n_rows (NULL on an empty table)
    *
    * Scale: per FD, two hash aggregations — (lhs, rhs) counts, then
    * an lhs-grouped rollup of (Σn, max n, count) — followed by a
    * single-row global agg. Both shuffles key on the FD's own
    * columns, partial aggregation applies map-side, and nothing is
    * ever collected; K candidate FDs are K independent small jobs
    * unioned, so a 100 TB audit parallelizes per-FD and per-group.
    * NULL handling: NULL is one RHS value (NULL ≠ NULL violations
    * are not counted — same convention as GROUP BY) and NULL LHS
    * values form their own group.
    */
  def fdAudit(df: DataFrame, fds: Seq[(String, Seq[String], String)]): DataFrame = {
    require(fds.nonEmpty, "fdAudit needs at least one candidate FD")
    fds.map { case (name, lhs, rhs) =>
      require(lhs.nonEmpty, s"FD '$name' needs a non-empty LHS")
      val vc = df.groupBy((lhs :+ rhs).map(col): _*)
        .agg(count(lit(1)).as("_n"))
      val g = vc.groupBy(lhs.map(col): _*)
        .agg(count(lit(1)).as("_n_rhs"), sum("_n").as("_rows"),
          max("_n").as("_max"))
      g.agg(
          count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("_n_rhs") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_violating"),
          coalesce(sum(col("_rows") - col("_max")), lit(0L)).as("g3_rows"),
          coalesce(sum("_rows"), lit(0L)).as("_n_rows"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
          col("g3_rows"),
          (col("n_violating") === 0L).as("holds"),
          when(col("_n_rows") === 0L, lit(null).cast("double"))
            .otherwise(round(lit(1.0) -
              col("g3_rows").cast("double") / col("_n_rows").cast("double"),
              6)).as("confidence"))
    }.reduce(_ unionByName _).orderBy("fd")
  }

  /** Autocorrelation function of the daily count series, per group,
    * at lags 1..`maxLag`: Pearson r between (y_t, y_{t−lag}) pairs
    * aligned on the ACTUAL day numbers (a missing day yields no
    * pair — no silent gap-filling). All six sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs, so the final
    * one-expression r is engine-reproducible; groups/lags whose
    * variance is zero report NULL rather than a 0/0.
    *
    * Scale: one map-combinable daily rollup, then ONE equi-join of
    * the day dictionary against itself fanned by a `maxLag`-row
    * broadcast literal (day = day − lag is an equi-key on the join),
    * then a (group, lag)-keyed aggregation. Everything after the
    * first rollup is dictionary-sized — days × groups, never rows.
    */
  def acfDaily(events: DataFrame, groupCol: String, tsCol: String,
               maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"acfDaily: maxLag 1..60, got $maxLag")
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
      .trackedPersist()
    val lags = daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    val cur = daily.crossJoin(broadcast(lags))
      .select(col("grp"), col("lag"), col("day"), col("y").as("x"),
        (col("day") - col("lag")).as("prev_day"))
    val prev = daily.select(col("grp"), col("day").as("prev_day"),
      col("y").as("yl"))
    val pairs = cur.join(prev, Seq("grp", "prev_day"))
    pairs.groupBy("grp", "lag").agg(
        count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("yl").as("sy"),
        sum(col("x") * col("yl")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yl") * col("yl")).as("syy"))
      .select(col("grp"), col("lag"), col("n_pairs"),
        when(col("n_pairs") * col("sxx") === col("sx") * col("sx"), // zero var
            lit(null).cast("double"))
          .when(col("n_pairs") * col("syy") === col("sy") * col("sy"),
            lit(null).cast("double"))
          .otherwise(round(
            (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 6)).as("acf"))
      .orderBy("grp", "lag")
  }

  /** Cross-correlation between every ordered pair of groups' daily
    * count series at lags 0..`maxLag`: r(a,b,ℓ) correlates a's day-t
    * count with b's day-(t−ℓ) count — the lead/lag discovery step
    * ("do clicks predict purchases three days out") that [[acfDaily]]
    * answers only within one series. Identical determinism contract:
    * pairs align on actual day numbers, the six sufficient
    * statistics are exact BIGINTs, zero variance → NULL. Self-pairs
    * are excluded (that's acf's job); lag 0 keeps the contemporaneous
    * correlation.
    *
    * Scale: one daily rollup, then a (group×group×lag) join of the
    * day dictionary against itself — |groups|²·(maxLag+1) × days
    * rows, never event rows. A wide group dictionary wants a
    * pre-filter to the pairs worth testing; the operator takes the
    * frame it is given.
    */
  def crossCorrelation(events: DataFrame, groupCol: String, tsCol: String,
                       maxLag: Int = 3): DataFrame = {
    require(maxLag >= 0 && maxLag <= 60,
      s"crossCorrelation: maxLag 0..60, got $maxLag")
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
      .trackedPersist()
    val lags = daily.sparkSession.range(0, maxLag + 1)
      .select(col("id").as("lag"))
    val a = daily.select(col("grp").as("ga"), col("day"), col("y").as("x"))
      .crossJoin(broadcast(lags))
      .withColumn("prev_day", col("day") - col("lag"))
    val b = daily.select(col("grp").as("gb"), col("day").as("prev_day"),
      col("y").as("yl"))
    a.join(b, Seq("prev_day"))
      .where(col("ga") =!= col("gb"))
      .groupBy("ga", "gb", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("yl").as("sy"),
        sum(col("x") * col("yl")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yl") * col("yl")).as("syy"))
      .select(col("ga"), col("gb"), col("lag"), col("n_pairs"),
        when(col("n_pairs") * col("sxx") === col("sx") * col("sx"),
            lit(null).cast("double"))
          .when(col("n_pairs") * col("syy") === col("sy") * col("sy"),
            lit(null).cast("double"))
          .otherwise(round(
            (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
            sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 6)).as("xcorr"))
      .orderBy("ga", "gb", "lag")
  }

  /** Poisson overdispersion audit of the daily count series per
    * group: sample mean and variance from exact BIGINT sums, the
    * variance/mean dispersion ratio (≈1 under Poisson), and the
    * chi-square dispersion index (n−1)·s²/x̄ — "is this stream's
    * burstiness just Poisson noise or real clumping", the modeling
    * gate before anyone fits a rate. Verdict thresholds compare the
    * 1e6-quantized ratio against fixed integer bounds, so the label
    * can't flip across engines.
    *
    * Scale: one daily rollup + one group rollup. Nothing else.
    */
  def overdispersion(events: DataFrame, groupCol: String,
                     tsCol: String): DataFrame = {
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    val agg = daily.groupBy("grp").agg(
      count(lit(1)).as("nd"), sum("y").as("sx"),
      sum(col("y") * col("y")).as("sxx"))
    // dispersion_u = 1e6-quantized (s² / mean) with
    // s² = (n·Σy² − (Σy)²)/(n·(n−1)), mean = Σy/n  ⇒
    // ratio = (n·Σy² − (Σy)²) / ((n−1)·Σy)
    val disp = when(col("nd") > 1L && col("sx") > 0L,
      round((col("nd") * col("sxx") - col("sx") * col("sx")).cast("double") /
        ((col("nd") - 1L) * col("sx")).cast("double") * lit(1e6))
        .cast("long"))
    agg.withColumn("disp_u", disp)
      .select(col("grp"), col("nd").as("n_days"),
        round(col("sx").cast("double") / col("nd"), 6).as("mean_per_day"),
        when(col("nd") > 1L, round(
          (col("nd") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("nd") * (col("nd") - 1L)).cast("double"), 6)).as("variance"),
        (col("disp_u").cast("double") / 1e6).as("dispersion"),
        when(col("nd") > 1L, round(
          (col("nd") * col("sxx") - col("sx") * col("sx")).cast("double") /
            col("sx"), 6)).as("chi2_index"),
        when(col("disp_u").isNull, lit(null).cast("string"))
          .when(col("disp_u") > 1200000L, lit("overdispersed"))
          .when(col("disp_u") < 800000L, lit("underdispersed"))
          .otherwise(lit("poisson-like")).as("verdict"))
      .orderBy("grp")
  }

  /** Mutual information between two categorical columns, with the
    * marginal entropies and the sqrt-normalized NMI — the
    * "which dimension actually explains which" audit that q136's
    * chi² test ranks but doesn't quantify in bits-like units.
    * NULL category values count as a regular category (same
    * convention as GROUP BY).
    *
    * Determinism: every ln term is computed from exact BIGINT
    * counts, quantized to 1e9 units per (x,y) cell and summed as
    * BIGINTs (the q134 pattern), so cross-engine float drift cannot
    * accumulate; MI/H/NMI are fixed final expressions over those
    * sums. Scale: one (x,y) cell rollup (map-combinable) plus two
    * broadcast-sized marginals joined back onto the cells — the
    * whole audit moves dictionaries, not rows.
    */
  def mutualInformation(df: DataFrame, xCol: Column, yCol: Column,
                        label: String): DataFrame = {
    val cells = df.select(xCol.cast("string").as("x"),
        yCol.cast("string").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      .trackedPersist()
    val mx = cells.groupBy("x").agg(sum("c").as("cx"))
    val my = cells.groupBy("y").agg(sum("c").as("cy"))
    val n = cells.agg(sum("c").as("n"))
    val terms = cells.join(broadcast(mx), Seq("x"))
      .join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(n))
    val quant = (c: Column) => round(c * lit(1e9)).cast("long")
    val joint = terms.agg(
      max(col("n")).as("n"),
      sum(quant(col("c").cast("double") / col("n") *
        log(col("c").cast("double") * col("n") /
          (col("cx").cast("double") * col("cy"))))).as("mi_u"))
    val hx = mx.crossJoin(broadcast(n)).agg(
      count(lit(1)).as("n_x"),
      sum(quant(col("cx").cast("double") / col("n") * lit(-1.0) *
        log(col("cx").cast("double") / col("n")))).as("hx_u"))
    val hy = my.crossJoin(broadcast(n)).agg(
      count(lit(1)).as("n_y"),
      sum(quant(col("cy").cast("double") / col("n") * lit(-1.0) *
        log(col("cy").cast("double") / col("n")))).as("hy_u"))
    joint.crossJoin(hx).crossJoin(hy).select(
      lit(label).as("pair"), col("n"), col("n_x"), col("n_y"),
      (col("mi_u").cast("double") / 1e9).as("mi"),
      (col("hx_u").cast("double") / 1e9).as("h_x"),
      (col("hy_u").cast("double") / 1e9).as("h_y"),
      when(col("hx_u") <= 0L || col("hy_u") <= 0L,
          lit(null).cast("double"))
        .otherwise(round(col("mi_u").cast("double") /
          sqrt(col("hx_u").cast("double") * col("hy_u").cast("double")),
          6)).as("nmi"))
  }

  /** Storage-encoding advisor: for each candidate column, the
    * statistics a lakehouse writer needs to pick a parquet encoding —
    * exact NDV, null fraction, byte totals of the string rendering,
    * a dictionary-size estimate (distinct bytes + 4-byte codes), and
    * the value-run structure under the table's natural key order.
    * Recommendation: RLE when the mean run length reaches 2 (pure
    * integer comparison n_rows ≥ 2·n_runs), else DICTIONARY when
    * NDV ≤ n_rows/10, else PLAIN — the standard heuristics, made
    * inspectable.
    *
    * Runs are counted within KEY-RANGE BUCKETS (`bucket = key div
    * bucketWidth`): each bucket's rows sort locally in a window
    * PARTITIONED by bucket, so no global single-reducer sort ever
    * happens and the count parallelizes across buckets; a bucket
    * boundary starts a new run by definition (stated convention —
    * the undercount vs a global scan is ≤ #buckets). That is the
    * same trick a writer uses at 100 TB: row groups are the
    * buckets.
    */
  def encodingAudit(df: DataFrame, keyCol: String, cols: Seq[String],
                    bucketWidth: Long = 1024L): DataFrame = {
    require(cols.nonEmpty, "encodingAudit needs at least one column")
    import org.apache.spark.sql.expressions.Window
    val base = df.select((col(keyCol).cast("long").as("_k")) +:
        cols.map(c => col(c).cast("string").as(c)): _*)
      .withColumn("_b", expr(s"_k div ${bucketWidth}L"))
      .trackedPersist()
    val w = Window.partitionBy("_b").orderBy("_k")
    cols.map { c =>
      val runs = base
        .withColumn("_chg",
          when(row_number().over(w) =!= 1 &&
               (col(c) <=> lag(col(c), 1).over(w)), lit(0L))
            .otherwise(lit(1L)))
      val per = runs.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        count_distinct(col(c)).as("ndv"),
        coalesce(sum(octet_length(col(c))), lit(0L)).as("raw_bytes"),
        sum(col("_chg")).as("n_runs"))
      val dictBytes = base.where(col(c).isNotNull)
        .select(col(c)).distinct()
        .agg(coalesce(sum(octet_length(col(c))), lit(0L)).as("distinct_bytes"))
      per.crossJoin(broadcast(dictBytes)).select(
        lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
        col("ndv"), col("raw_bytes"),
        (col("distinct_bytes") + lit(4L) * col("n_rows")).as("dict_bytes"),
        col("n_runs"),
        round(col("n_rows").cast("double") / col("n_runs"), 6)
          .as("avg_run_len"),
        when(col("n_rows") >= lit(2L) * col("n_runs"), lit("rle"))
          .when(col("ndv") * lit(10L) <= col("n_rows"), lit("dictionary"))
          .otherwise(lit("plain")).as("recommended"))
    }.reduce(_ unionByName _).orderBy("column_name")
  }

  /** Per-entity exponential time-decay activity score with a
    * half-life measured in WHOLE WEEKS — the recency-weighted
    * engagement feature of every ranking/training pipeline, kept
    * exactly integer: an event `w` whole weeks before the corpus
    * reference day (its max event date) weighs 2^−w, so each
    * contribution is `cents << (wCap − min(w, wCap))` — a BIGINT
    * shift, summed exactly, descaled by 2^wCap only in the final
    * projection. No pow(), no float accumulation, no cross-engine
    * ulp risk (the reason for week buckets rather than a smooth
    * per-day exponent — a 1-ulp pow() difference times 60k rows
    * WILL flip a rounding boundary somewhere).
    *
    * Scale: one global max-day agg (broadcast as a 1-row frame),
    * one entity-keyed sum (map-combinable), and a TakeOrdered
    * top-k cut — nothing holds more than the entity dictionary.
    * Overflow bound: Σ cents · 2^wCap must stay under 2^63 —
    * with wCap=20 that allows ~8.8e12 cents of half-life-adjusted
    * spend per entity.
    */
  def decayScores(events: DataFrame, entityCol: String, tsCol: String,
                  valueCents: Column, topK: Int = 100,
                  wCap: Int = 20): DataFrame = {
    require(topK >= 1, s"decayScores: topK must be >= 1, got $topK")
    require(wCap >= 1 && wCap <= 40, s"decayScores: wCap 1..40, got $wCap")
    val withDay = events.select(col(entityCol).cast("string").as("entity"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long").as("day"),
      valueCents.cast("long").as("cents"))
    val ref = withDay.agg(max("day").as("ref_day"))
    withDay.crossJoin(broadcast(ref))
      .withColumn("w", least(expr("(ref_day - day) div 7L"),
        lit(wCap.toLong)))
      .withColumn("contrib",
        col("cents") * expr(s"shiftleft(1L, cast(${wCap}L - w as int))"))
      .groupBy("entity")
      .agg(count(lit(1)).as("n_events"), max("day").as("last_day"),
        sum("contrib").as("score_u"))
      .select(col("entity"), col("n_events"), col("last_day"),
        round(col("score_u").cast("double") /
          lit(math.pow(2.0, wCap) * 100.0), 6).as("score"))
      .orderBy(col("score").desc, col("entity"))
      .limit(topK)
  }

  /** Information gain of each candidate feature for predicting a
    * categorical label — the decision-stump / feature-selection
    * scoring step of a training pipeline: gain(F) = H(label) −
    * Σ_v p(v)·H(label|v), with Quinlan's gain ratio (gain divided by
    * the feature's own entropy) to de-bias high-cardinality
    * features. Every entropy term is quantized to 1e9 units from
    * exact BIGINT counts and summed exactly; a zero-entropy feature
    * reports NULL ratio.
    *
    * Scale: per feature, one (feature, label) cell rollup — all
    * map-combinable — plus dictionary-sized marginals; K features
    * are K independent small jobs unioned. Rows with NULL feature or
    * label count as regular categories (GROUP BY convention).
    */
  def infoGain(df: DataFrame, labelCol: Column,
               features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "infoGain needs at least one feature")
    val quant = (c: Column) => round(c * lit(1e9)).cast("long")
    val lab = df.select(labelCol.cast("string").as("l"))
      .groupBy("l").agg(count(lit(1)).as("cl"))
    val n = lab.agg(sum("cl").as("n"))
    val hLab = lab.crossJoin(broadcast(n)).agg(
      max(col("n")).as("n"),
      sum(quant(col("cl").cast("double") / col("n") * lit(-1.0) *
        log(col("cl").cast("double") / col("n")))).as("hl_u"))
    features.map { case (name, feat) =>
      val cells = df.select(feat.cast("string").as("v"),
          labelCol.cast("string").as("l"))
        .groupBy("v", "l").agg(count(lit(1)).as("c"))
      val mv = cells.groupBy("v").agg(sum("c").as("cv"))
      val cond = cells.join(broadcast(mv), Seq("v"))
        .crossJoin(broadcast(n))
        .agg(sum(quant(col("c").cast("double") / col("n") * lit(-1.0) *
          log(col("c").cast("double") / col("cv")))).as("hc_u"))
      val hFeat = mv.crossJoin(broadcast(n)).agg(
        count(lit(1)).as("n_values"),
        sum(quant(col("cv").cast("double") / col("n") * lit(-1.0) *
          log(col("cv").cast("double") / col("n")))).as("hf_u"))
      cond.crossJoin(hFeat).crossJoin(hLab).select(
        lit(name).as("feature"), col("n"), col("n_values"),
        (col("hl_u").cast("double") / 1e9).as("h_label"),
        (col("hc_u").cast("double") / 1e9).as("h_cond"),
        ((col("hl_u") - col("hc_u")).cast("double") / 1e9).as("info_gain"),
        when(col("hf_u") <= 0L, lit(null).cast("double"))
          .otherwise(round((col("hl_u") - col("hc_u")).cast("double") /
            col("hf_u").cast("double"), 6)).as("gain_ratio"))
    }.reduce(_ unionByName _).orderBy("feature")
  }

  /** SAX symbolization of the daily count series per group (public
    * literature: Lin, Keogh et al. 2003) with motif mining: each
    * day's count is z-normalized against the group's own
    * mean/std (z rounded to 6 decimals BEFORE the breakpoint
    * compare, so a cross-engine ulp can't flip a symbol), mapped to
    * one of four symbols at the normal quartile breakpoints
    * (±0.6745, 0), and the top `topK` 3-symbol motifs over the
    * day-ordered sequence are reported per group — "what shape does
    * a typical week have". A zero-variance series symbolizes as all
    * 'c' (z ≡ 0, stated convention); motifs span OBSERVED days in
    * order (a calendar gap does not break the sequence — the
    * series of observations, not the calendar, is symbolized).
    *
    * Scale: one daily rollup, one group-dictionary stats agg
    * broadcast back, one day-ordered window per group for the
    * 3-grams, one motif count + rank. Nothing exceeds days×groups.
    */
  def saxMotifs(events: DataFrame, groupCol: String, tsCol: String,
                topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"saxMotifs: topK must be >= 1, got $topK")
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    val stats = daily.groupBy("grp").agg(
      count(lit(1)).as("nd"), sum("y").as("sx"),
      sum(col("y") * col("y")).as("sxx"))
    val z = daily.join(broadcast(stats), "grp")
      .withColumn("_z",
        when(col("nd") * col("sxx") === col("sx") * col("sx"), lit(0.0))
          .otherwise(round(
            (col("y").cast("double") - col("sx").cast("double") / col("nd")) /
            (sqrt((col("nd") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) / col("nd").cast("double")), 6)))
      .withColumn("sym",
        when(col("_z") < -0.6745, lit("a"))
          .when(col("_z") < 0.0, lit("b"))
          .when(col("_z") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    val w = Window.partitionBy("grp").orderBy("day")
    val grams = z
      .withColumn("s2", lead(col("sym"), 1).over(w))
      .withColumn("s3", lead(col("sym"), 2).over(w))
      .where(col("s3").isNotNull)
      .select(col("grp"), concat(col("sym"), col("s2"), col("s3"))
        .as("motif"))
    val counts = grams.groupBy("grp", "motif")
      .agg(count(lit(1)).as("n_occurrences"))
    val rk = Window.partitionBy("grp")
      .orderBy(col("n_occurrences").desc, col("motif"))
    counts.withColumn("rk", row_number().over(rk))
      .where(col("rk") <= topK)
      .select(col("grp"), col("rk").cast("long").as("rk"), col("motif"),
        col("n_occurrences"))
      .orderBy("grp", "rk")
  }

  /** Seasonal-naive forecast backtest: hold out the last `horizon`
    * observed days per group, forecast each held-out day as the mean
    * of the TRAINING days sharing its day-of-week, and report the
    * per-day absolute error — the "would the dumbest seasonal model
    * have seen this coming" baseline every anomaly alert should be
    * compared against. Forecast and error are micro-quantized
    * BIGINTs (exact mean of integer counts); a held-out day whose
    * dow never occurs in training reports NULL forecast/error.
    *
    * Scale: one daily rollup; per-group max-day and the per-(group,
    * dow) training means are dictionary-sized broadcasts back onto
    * the held-out rows. No windows, no iteration.
    */
  def seasonalNaiveBacktest(events: DataFrame, groupCol: String,
                            tsCol: String, horizon: Int = 7): DataFrame = {
    require(horizon >= 1, s"seasonalNaiveBacktest: horizon >= 1, got $horizon")
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow", ((col("day") + 4) % 7).cast("long"))
      .trackedPersist()
    val cut = daily.groupBy("grp")
      .agg((max("day") - lit(horizon.toLong)).as("cut"))
    val split = daily.join(broadcast(cut), "grp")
    val train = split.where(col("day") <= col("cut"))
      .groupBy("grp", "dow")
      .agg(round(sum("y").cast("double") * lit(1e6) / count(lit(1)))
        .cast("long").as("f_u"))
    split.where(col("day") > col("cut"))
      .join(broadcast(train), Seq("grp", "dow"), "left")
      .select(col("grp"), col("day"), col("dow"), col("y"),
        (col("f_u").cast("double") / 1e6).as("forecast"),
        (abs(col("y") * lit(1000000L) - col("f_u")).cast("double") / 1e6)
          .as("abs_err"))
      .orderBy("grp", "day")
  }

  /** One-way ANOVA (fixed-effects): does the grouping explain the
    * variance of an integer-cents measure? Reports η² (the
    * between-group variance fraction) and the F statistic. Built for
    * engine determinism: group sums and counts are exact BIGINTs,
    * squared sums go through DECIMAL(38,0) (Σ cents² overflows
    * BIGINT past ~10⁸ rows of money-sized values), each group's
    * relative between-variance contribution dev²/(n_g·n·SST_raw) is
    * ≤ 1 and quantized to 1e12 units before the cross-group sum, so
    * float addition order can never change the answer. NULL η²/F on
    * zero total variance; NULL F with fewer than two groups or a
    * saturated η².
    *
    * Scale: one map-combinable group rollup + one single-row global
    * agg; the η² reduction runs on the group dictionary.
    * Overflow bound (documented, asserted nowhere hot): |s_g·n| must
    * stay inside DECIMAL(38,0) — ~10²⁰ rows of 10⁹-cent values.
    */
  def anovaOneWay(df: DataFrame, groupCol: Column, valueCents: Column,
                  label: String): DataFrame = {
    val base = df.select(groupCol.cast("string").as("g"),
      valueCents.cast("long").as("v"))
    val grp = base.groupBy("g").agg(count(lit(1)).as("ng"),
      sum("v").as("sg"))
    val glob = base.agg(count(lit(1)).as("n"), sum("v").as("s"),
      sum((col("v") * col("v")).cast(DecimalType(38, 0))).as("q"))
    val sstRaw = (col("n").cast(DecimalType(38, 0)) * col("q") -
      (col("s").cast(DecimalType(38, 0)) * col("s"))).cast("double")
    val dev = (col("sg").cast(DecimalType(38, 0)) * col("n") -
      col("s").cast(DecimalType(38, 0)) * col("ng")).cast("double")
    val agg = grp.crossJoin(broadcast(glob))
      .select(col("ng"), col("n"),
        sstRaw.as("sst_raw"),
        when(sstRaw > 0.0, round(dev * dev /
            (col("ng").cast("double") * col("n").cast("double") *
              sstRaw) * lit(1e12)).cast("long"))
          .otherwise(lit(null).cast("long")).as("r_u"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("k"),
        max(col("sst_raw")).as("sst_raw"), sum(col("r_u")).as("eta_u"))
    agg.select(lit(label).as("analysis"), col("n"), col("k"),
      when(col("sst_raw") > 0.0,
        round(col("eta_u").cast("double") / lit(1e12), 6)).as("eta2"),
      when(col("sst_raw") > 0.0 && col("k") > 1L &&
           col("eta_u") < lit(1000000000000L) && col("n") > col("k"),
        round((col("eta_u").cast("double") / lit(1e12) /
            (col("k") - lit(1L)).cast("double")) /
          ((lit(1.0) - col("eta_u").cast("double") / lit(1e12)) /
            (col("n") - col("k")).cast("double")), 6)).as("f_stat"))
  }

  /** Before/after rate-shift test per group: split the observed day
    * span at its midpoint (pure integer arithmetic, one global
    * min/max), compare each group's daily event rate across the two
    * windows, and report the rate ratio and the two-sample Poisson
    * z statistic (Wald form z = (r₂−r₁)/√(n₁/t₁² + n₂/t₂²), public
    * standard). Counts and day spans are exact integers; the ratio
    * and z are single rounded expressions — "did this event type
    * speed up or die after mid-corpus".
    *
    * Scale: one global 1-row min/max agg broadcast onto a
    * map-combinable (group, half) rollup. Nothing exceeds the group
    * dictionary.
    */
  def rateShift(events: DataFrame, groupCol: String,
                tsCol: String): DataFrame = {
    val days = events.select(col(groupCol).as("grp"),
      datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
        .as("day"))
    val span = days.agg(min("day").as("mind"), max("day").as("maxd"))
      .select(col("mind"), col("maxd"),
        expr("(mind + maxd) div 2L").as("mid"))
    val halves = days.crossJoin(broadcast(span))
      .groupBy("grp")
      .agg(max(col("mid") - col("mind") + 1L).as("t1"),
        max(col("maxd") - col("mid")).as("t2"),
        sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("day") > col("mid"), 1L).otherwise(0L)).as("n2"))
    halves.select(col("grp"), col("t1").as("days_pre"),
        col("t2").as("days_post"), col("n1").as("n_pre"),
        col("n2").as("n_post"),
        round(col("n1").cast("double") / col("t1"), 6).as("rate_pre"),
        round(col("n2").cast("double") / col("t2"), 6).as("rate_post"),
        when(col("n1") > 0L, round((col("n2").cast("double") / col("t2")) /
          (col("n1").cast("double") / col("t1")), 6)).as("rate_ratio"),
        when(col("n1") + col("n2") > 0L, round(
          (col("n2").cast("double") / col("t2") -
            col("n1").cast("double") / col("t1")) /
          sqrt(col("n1").cast("double") / col("t1") / col("t1") +
            col("n2").cast("double") / col("t2") / col("t2")), 6)).as("z"))
      .orderBy("grp")
  }

  /** Hill estimator of the Pareto tail index over the top-k order
    * statistics of a positive integer-cents measure (Hill 1975,
    * public literature): α̂ = k / Σᵢ ln(xᵢ/x₍k₊₁₎). The top-(k+1) cut
    * is a TakeOrdered (total order by value desc then key — ties
    * deterministic), each log term is 1e9-quantized and summed
    * exactly, and the (k+1)-th row's own term is ln(1) = 0, so
    * aggregating the whole cut IS the k-term sum. α̂ ≈ 1 ⇒ extreme
    * heavy tail (80/20-like); larger α̂ ⇒ thinner tail — pairs with
    * q146 Zipf / q167 Benford / q208 Lorenz as the tail-risk view.
    *
    * Scale: TakeOrderedAndProject (no global sort materialized),
    * then a (k+1)-row aggregate. NULL alpha when the top values are
    * all equal (Σ = 0). The emitted `k` is the EFFECTIVE order count
    * n_top − 1 (= the requested k on any input with > k rows), so on
    * short inputs the reported k always matches the estimator's
    * actual numerator.
    */
  def hillTail(df: DataFrame, valueCents: Column, keyCol: Column,
               k: Int, label: String): DataFrame = {
    require(k >= 10, s"hillTail: k must be >= 10, got $k")
    val top = df.select(valueCents.cast("long").as("c"),
        keyCol.cast("long").as("kk"))
      .orderBy(col("c").desc, col("kk"))
      .limit(k + 1)
    val xk1 = top.agg(min("c").as("x_tail"),
      count(lit(1)).as("n_top"))
    top.crossJoin(broadcast(xk1))
      .agg(max(col("x_tail")).as("x_tail"), max(col("n_top")).as("n_top"),
        sum(round(log(col("c").cast("double") / col("x_tail")) * lit(1e9))
          .cast("long")).as("sum_u"))
      .select(lit(label).as("measure"),
        (col("n_top") - lit(1L)).as("k"),
        col("n_top"), col("x_tail"),
        when(col("sum_u") > 0L,
          round((col("n_top") - lit(1L)).cast("double") /
            (col("sum_u").cast("double") / lit(1e9)), 6)).as("alpha"))
  }

  /** Readability scoring per source: Flesch Reading Ease and
    * Flesch–Kincaid grade (public formulas) with a vowel-group
    * syllable proxy — words = `\S+` runs, sentences = `[.!?]+` runs
    * (floored at 1), syllables = `[aeiouy]+` runs of the lowercased
    * text. Both engines count with their regex engine on identical
    * patterns (character classes only — no engine-divergent syntax);
    * each document's score is 1e6-quantized before the per-source
    * integer mean, the battery's standard float pattern.
    *
    * Scale: map-only per-document counting (three regex scans per
    * doc), one source-keyed rollup. No token explode — counts, not
    * token rows, leave the document.
    */
  def readability(docs: DataFrame): DataFrame = {
    val counted = docs.select(col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"),
          lit(1L)).as("sent"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("syl"))
      .withColumn("w0", greatest(col("w"), lit(1L)))
      .withColumn("wps", col("w").cast("double") / col("sent"))
      .withColumn("spw", col("syl").cast("double") / col("w0"))
      .select(col("source"), col("w"), col("syl"),
        round((lit(206.835) - lit(1.015) * col("wps") -
          lit(84.6) * col("spw")) * lit(1e6)).cast("long").as("fre_u"),
        round((lit(0.39) * col("wps") + lit(11.8) * col("spw") -
          lit(15.59)) * lit(1e6)).cast("long").as("fk_u"))
    counted.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("syl").as("n_syllables"),
        (round(sum("fre_u").cast("double") / count(lit(1))).cast("long")
          .cast("double") / 1e6).as("avg_fre"),
        (round(sum("fk_u").cast("double") / count(lit(1))).cast("long")
          .cast("double") / 1e6).as("avg_fk_grade"))
      .orderBy("source")
  }

  /** Zone-map skip audit: bucket the table by `key div bucketWidth`
    * (the row-group simulation q247 uses), collect each bucket's
    * [min,max] zone per predicate column, and report how many
    * buckets a min/max zone map would SKIP for each range predicate
    * — plus the counterfactual "rows scanned if the table were
    * sorted on that column" (matching rows rounded up to whole
    * buckets). The quantified sell for q85's Z-order layout: skip
    * fraction now vs after re-clustering.
    *
    * Scale: per predicate one bucket-keyed min/max/count rollup
    * (map-combinable, bucket dictionary sized) and a single-row
    * reduction. Predicates are closed ranges [lo, hi] on a LONG
    * rendering of the column — unbounded sides pass Long.Min/Max.
    */
  def zonemapSkipAudit(df: DataFrame, keyCol: String,
                       preds: Seq[(String, Column, Long, Long)],
                       bucketWidth: Long = 1024L): DataFrame = {
    require(preds.nonEmpty, "zonemapSkipAudit needs at least one predicate")
    val keyed = df.withColumn("_b",
        expr(s"${keyCol} div ${bucketWidth}L"))
      .trackedPersist()
    preds.map { case (name, valueCol, lo, hi) =>
      val v = valueCol.cast("long")
      val zones = keyed.select(col("_b"), v.as("_v"))
        .groupBy("_b")
        .agg(min("_v").as("zmin"), max("_v").as("zmax"),
          count(lit(1)).as("rows"),
          sum(when(col("_v") >= lo && col("_v") <= hi, 1L).otherwise(0L))
            .as("m"))
      zones.agg(count(lit(1)).as("n_buckets"),
          sum(when(col("zmax") < lo || col("zmin") > hi, 1L).otherwise(0L))
            .as("n_skippable"),
          sum(when(col("zmax") < lo || col("zmin") > hi, 0L)
            .otherwise(col("rows"))).as("rows_scanned"),
          sum("m").as("rows_matching"))
        .select(lit(name).as("predicate"), col("n_buckets"),
          col("n_skippable"),
          round(col("n_skippable").cast("double") / col("n_buckets"), 6)
            .as("skip_frac"),
          col("rows_scanned"), col("rows_matching"),
          (expr(s"(rows_matching + ${bucketWidth - 1}L) div " +
            s"${bucketWidth}L") * lit(bucketWidth))
            .as("est_sorted_scan_rows"))
    }.reduce(_ unionByName _).orderBy("predicate")
  }

  /** Optimizer-statistics quality audit: for each predicate, the
    * cardinality a stats-based estimator would predict (equality →
    * n/NDV under uniformity; closed range → n·overlap/(max−min+1)
    * under uniform spread) against the TRUE count, and the q-error
    * max(est/act, act/est) — the standard metric for "how wrong
    * would the optimizer be on this data". High q-error columns are
    * where a real engine needs histograms instead of NDV.
    *
    * Scale: one aggregation pass per predicate (n, NDV, min/max and
    * the conditional count all ride the same map-combinable agg) —
    * the audit costs one scan per predicate, never a join.
    */
  def cardinalityAudit(df: DataFrame,
                       preds: Seq[(String, Column, Either[String, (Long, Long)])])
      : DataFrame = {
    require(preds.nonEmpty, "cardinalityAudit needs at least one predicate")
    preds.map {
      case (name, valueCol, Left(eq)) =>
        val v = valueCol.cast("string")
        df.agg(count(lit(1)).as("n"), count_distinct(v).as("ndv"),
            sum(when(v === eq, 1L).otherwise(0L)).as("actual_rows"))
          .select(lit(name).as("predicate"), col("n").as("n_rows"),
            round(col("n").cast("double") / col("ndv")).cast("long")
              .as("est_rows"),
            col("actual_rows"),
            when(col("actual_rows") > 0L,
              round(greatest(
                round(col("n").cast("double") / col("ndv")).cast("long")
                  .cast("double") / col("actual_rows"),
                col("actual_rows").cast("double") /
                  round(col("n").cast("double") / col("ndv")).cast("long")),
                6)).as("q_error"))
      case (name, valueCol, Right((lo, hi))) =>
        val v = valueCol.cast("long")
        df.agg(count(lit(1)).as("n"), min(v).as("mn"), max(v).as("mx"),
            sum(when(v >= lo && v <= hi, 1L).otherwise(0L))
              .as("actual_rows"))
          .select(lit(name).as("predicate"), col("n").as("n_rows"),
            round(col("n").cast("double") *
              (greatest(least(col("mx"), lit(hi)) -
                greatest(col("mn"), lit(lo)) + 1L, lit(0L)))
                .cast("double") /
              (col("mx") - col("mn") + 1L).cast("double")).cast("long")
              .as("est_rows"),
            col("actual_rows"),
            when(col("actual_rows") > 0L,
              round(greatest(
                round(col("n").cast("double") *
                  (greatest(least(col("mx"), lit(hi)) -
                    greatest(col("mn"), lit(lo)) + 1L, lit(0L)))
                    .cast("double") /
                  (col("mx") - col("mn") + 1L).cast("double")).cast("long")
                  .cast("double") / col("actual_rows"),
                col("actual_rows").cast("double") /
                  round(col("n").cast("double") *
                    (greatest(least(col("mx"), lit(hi)) -
                      greatest(col("mn"), lit(lo)) + 1L, lit(0L)))
                      .cast("double") /
                    (col("mx") - col("mn") + 1L).cast("double"))
                    .cast("long")), 6)).as("q_error"))
    }.reduce(_ unionByName _).orderBy("predicate")
  }

  /** Join-order advisor for a star query: the EXACT intermediate
    * cardinality of starting the fact join with each dimension
    * (computed purely from key dictionaries, q242's trick applied to
    * plan choice), the shared exact final size Σ n_f(k₁,k₂)·n_a(k₁)·
    * n_b(k₂), and the recommendation — start with whichever dim
    * yields the smaller intermediate. This is the greedy cost model
    * every optimizer runs, made inspectable against truth.
    *
    * Scale: three grouped counts (fact by each key and by the key
    * pair) plus dictionary⋈dictionary joins — the advisor costs
    * GROUP BYs, the mistaken join order costs the cluster.
    */
  def joinOrderAudit(fact: DataFrame, aKey: String, dimA: DataFrame,
                     dimAKey: String, aName: String,
                     bKey: String, dimB: DataFrame, dimBKey: String,
                     bName: String): DataFrame = {
    val fa = fact.select(col(aKey).cast("string").as("ka"))
      .groupBy("ka").agg(count(lit(1)).as("nf"))
    val fb = fact.select(col(bKey).cast("string").as("kb"))
      .groupBy("kb").agg(count(lit(1)).as("nf"))
    val da = dimA.select(col(dimAKey).cast("string").as("ka"))
      .groupBy("ka").agg(count(lit(1)).as("na"))
      .trackedPersist()
    val db = dimB.select(col(dimBKey).cast("string").as("kb"))
      .groupBy("kb").agg(count(lit(1)).as("nb"))
      .trackedPersist()
    val interA = fa.join(da, "ka")
      .agg(coalesce(sum(col("nf") * col("na")), lit(0L)).as("intermediate"))
    val interB = fb.join(db, "kb")
      .agg(coalesce(sum(col("nf") * col("nb")), lit(0L)).as("intermediate"))
    val fin = fact.select(col(aKey).cast("string").as("ka"),
        col(bKey).cast("string").as("kb"))
      .groupBy("ka", "kb").agg(count(lit(1)).as("nf"))
      .join(da, "ka").join(db, "kb")
      .agg(coalesce(sum(col("nf") * col("na") * col("nb")), lit(0L))
        .as("final_rows"))
    val rows = interA.select(lit(s"$aName*fact first").as("plan"),
        col("intermediate"))
      .unionByName(interB.select(lit(s"$bName*fact first").as("plan"),
        col("intermediate")))
    val best = rows.agg(min(struct(col("intermediate"), col("plan")))
      .as("b")).select(col("b.plan").as("best_plan"))
    rows.crossJoin(broadcast(fin)).crossJoin(broadcast(best))
      .select(col("plan"), col("intermediate"), col("final_rows"),
        (col("plan") === col("best_plan")).as("recommended"))
      .orderBy("plan")
  }

  /** Mann–Whitney U rank-sum test between two groups of an
    * integer-cents measure — the nonparametric "are these two
    * distributions shifted" workhorse (q132's KS statistic without
    * the max-gap sensitivity). Ranks are computed on the VALUE
    * DICTIONARY (distinct values + per-group counts, cumulative
    * window over the sorted dictionary — never a per-row global
    * sort): tied values share the average rank, carried exactly as
    * 2×rank integers; U and the tie-corrected z are single final
    * expressions over exact BIGINTs.
    *
    * Scale: one (value, group) rollup, one dictionary-ordered
    * window, one single-row reduction. The per-row work is the
    * first rollup only.
    */
  def mannWhitney(df: DataFrame, groupCol: Column, valueCents: Column,
                  groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCol.cast("string").as("g"),
        valueCents.cast("long").as("v"))
      .where(col("g") === groupA || col("g") === groupB)
    val dict = base.groupBy("v").agg(
      sum(when(col("g") === groupA, 1L).otherwise(0L)).as("ca"),
      sum(when(col("g") === groupB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val ranked = dict
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("cum", sum(col("ca") + col("cb")).over(w))
      .withColumn("avg2", lit(2L) * col("cum") - col("cnt") + 1L)
    val agg = ranked.agg(
      sum("ca").as("na"), sum("cb").as("nb"),
      sum(col("ca") * col("avg2")).as("r2a"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    val nD = (c: Column) => c.cast("double")
    val u = (col("r2a").cast("double") -
      nD(col("na")) * (col("na") + 1L)) / 2.0
    val n = col("na") + col("nb")
    val sigma = sqrt(nD(col("na")) * nD(col("nb")) / 12.0 *
      ((nD(n) + 1.0) - nD(col("ties")) / (nD(n) * (nD(n) - 1.0))))
    agg.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      u.as("u_stat"),
      when(col("na") > 0L && col("nb") > 0L && col("ties") <
          (n * n * n - n),
        round((u - nD(col("na")) * nD(col("nb")) / 2.0) / sigma, 6))
        .as("z"))
  }

  /** Kruskal–Wallis H test across ALL groups of an integer-cents
    * measure — the k-sample extension of [[mannWhitney]], same
    * machinery: average ranks as exact 2×rank BIGINTs over the value
    * dictionary, each group's 12·R²/(N(N+1)·n) term 1e6-quantized
    * before the cross-group sum, tie-corrected H as the final
    * expression. NULL when every value ties.
    *
    * Scale: one (value, group) rollup, one dictionary window, one
    * group-keyed reduction.
    */
  def kruskalWallis(df: DataFrame, groupCol: Column, valueCents: Column,
                    label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.select(groupCol.cast("string").as("g"),
        valueCents.cast("long").as("v"))
      .groupBy("v", "g").agg(count(lit(1)).as("c"))
      .trackedPersist()
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val dict = cells.groupBy("v").agg(sum("c").as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("avg2", lit(2L) * col("cum") - col("cnt") + 1L)
    val perG = cells.join(broadcast(dict.select("v", "avg2")), "v")
      .groupBy("g").agg(sum("c").as("ng"),
        sum(col("c") * col("avg2")).as("r2g"))
    val glob = dict.agg(sum("cnt").as("n"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    val terms = perG.crossJoin(broadcast(glob))
      .agg(max(col("n")).as("n"), count(lit(1)).as("k"),
        max(col("ties")).as("ties"),
        sum(round(lit(3.0) * col("r2g").cast("double") *
          col("r2g").cast("double") /
          (col("n").cast("double") * (col("n") + 1L).cast("double") *
            col("ng").cast("double")) * lit(1e6)).cast("long")).as("t_u"))
    val h = col("t_u").cast("double") / lit(1e6) -
      lit(3.0) * (col("n") + 1L).cast("double")
    terms.select(lit(label).as("measure"), col("n"), col("k").cast("long")
        .as("k"), col("ties"),
      when(col("n") > col("k"), round(h, 6)).as("h"),
      when(col("n") > col("k") &&
          col("ties") < col("n") * col("n") * col("n") - col("n"),
        round(h / (lit(1.0) - col("ties").cast("double") /
          (col("n") * col("n") * col("n") - col("n")).cast("double")), 6))
        .as("h_tie_corrected"))
  }

  /** Spearman rank correlation between two integer columns: each
    * side's average ranks come from its own value dictionary
    * (2×rank BIGINTs, dictionary-cumulative — never a per-row
    * global sort), broadcast back onto the rows, and ρ is Pearson
    * over the exact rank integers with the cross-products carried
    * in DECIMAL(38,0) (Σ rank² reaches n³ — BIGINT dies around 2M
    * rows; decimal buys every realistic scale). The monotone-
    * association companion to q206's Kendall τ at a fraction of
    * τ's pair cost. NULL on a constant side.
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
               label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .trackedPersist()
    def ranks(c: String) = {
      val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, 0)
      base.groupBy(c).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .select(col(c), (lit(2L) * col("cum") - col("cnt") + 1L)
          .as(s"a2$c"))
    }
    val ranked = base.join(broadcast(ranks("x")), "x")
      .join(broadcast(ranks("y")), "y")
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum("a2x").as("sx"), sum("a2y").as("sy"),
      sum(dec(col("a2x") * col("a2y"))).as("sxy"),
      sum(dec(col("a2x") * col("a2x"))).as("sxx"),
      sum(dec(col("a2y") * col("a2y"))).as("syy"))
    val num = (dec(col("n")) * col("sxy") -
      dec(col("sx")) * col("sy")).cast("double")
    val vx = (dec(col("n")) * col("sxx") -
      dec(col("sx")) * col("sx")).cast("double")
    val vy = (dec(col("n")) * col("syy") -
      dec(col("sy")) * col("sy")).cast("double")
    agg.select(lit(label).as("pair"), col("n"),
      when(vx > 0.0 && vy > 0.0, round(num / sqrt(vx * vy), 6))
        .as("rho"))
  }

  /** Effect sizes between two groups of an integer-cents measure:
    * Cohen's d (pooled-variance standardized mean difference, the
    * parametric magnitude q158's lift hides) and Cliff's delta
    * (P(a>b) − P(a<b), computed EXACTLY from the value dictionary's
    * cumulative counts — no pair enumeration). Squared sums ride
    * DECIMAL(38,0); d is NULL when the pooled variance is zero or a
    * group has fewer than two rows.
    */
  def effectSizes(df: DataFrame, groupCol: Column, valueCents: Column,
                  groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCol.cast("string").as("g"),
        valueCents.cast("long").as("v"))
      .where(col("g") === groupA || col("g") === groupB)
      .trackedPersist()
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val moments = base.groupBy("g").agg(count(lit(1)).as("n"),
      sum("v").as("s"), sum(dec(col("v") * col("v"))).as("q"))
    val wide = moments.where(col("g") === groupA)
      .select(col("n").as("na"), col("s").as("sa"), col("q").as("qa"))
      .crossJoin(broadcast(moments.where(col("g") === groupB)
        .select(col("n").as("nb"), col("s").as("sb"), col("q").as("qb"))))
    val ssA = (dec(col("na")) * col("qa") - dec(col("sa")) * col("sa"))
      .cast("double") / col("na").cast("double")
    val ssB = (dec(col("nb")) * col("qb") - dec(col("sb")) * col("sb"))
      .cast("double") / col("nb").cast("double")
    val pooled = sqrt((ssA + ssB) /
      (col("na") + col("nb") - 2L).cast("double"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val dict = base.groupBy("v").agg(
        sum(when(col("g") === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === groupB, 1L).otherwise(0L)).as("cb"))
      .withColumn("cumB", sum("cb").over(w))
    val cliff = dict.crossJoin(broadcast(wide.select(col("nb"))))
      .agg(coalesce(sum(col("ca") * ((col("cumB") - col("cb")) -
        (col("nb") - col("cumB")))), lit(0L)).as("cl"))
    wide.crossJoin(broadcast(cliff)).select(
      lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("na").as("n_a"), col("nb").as("n_b"),
      round(col("sa").cast("double") / col("na"), 6).as("mean_a"),
      round(col("sb").cast("double") / col("nb"), 6).as("mean_b"),
      when(col("na") > 1L && col("nb") > 1L && pooled > 0.0,
        round((col("sa").cast("double") / col("na") -
          col("sb").cast("double") / col("nb")) / pooled, 6))
        .as("cohens_d"),
      round(col("cl").cast("double") /
        (col("na").cast("double") * col("nb")), 6).as("cliffs_delta"))
  }

  /** Benjamini–Hochberg FDR adjustment over a frame of (key, z)
    * test statistics: two-sided p from the Abramowitz–Stegun
    * 7.1.26 normal-tail polynomial (public handbook constants; the
    * INPUT z is already rounded to 6 decimals by the upstream
    * operator, so both engines feed the polynomial identical
    * doubles), then the standard step-up adjustment
    * p̂ᵢ = min_{j≥i}(pⱼ·m/j) capped at 1 — which discoveries
    * survive when you ran m tests at once. Rows with NULL z are
    * dropped (document upstream).
    *
    * Scale shape: the rank routes through Ranks.rowNumberExact and
    * the step-up tail-min runs over the p-value DICTIONARY: within a
    * tie group p·m/j is minimized at the group's max rank, so
    * min_{j≥i} decomposes into a reverse running min of per-value
    * minima — bit-identical (IEEE division is monotone in the
    * divisor), with no ordered window over the hypothesis frame.
    */
  def bhAdjust(tests: DataFrame, keyCol: String, zCol: String,
               alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val az = abs(col(zCol))
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
      t * (lit(1.781477937) + t * (lit(-1.821255978) +
        t * lit(1.330274429)))))
    val pdf = exp(az * az * lit(-0.5)) * lit(0.3989422804014327)
    val pRaw = round(lit(2.0) * (pdf * poly), 9)
    val base = tests.select(col(keyCol).cast("string").as("key"),
        col(zCol).cast("double").as("z"))
      .where(col(zCol).isNotNull)
      .withColumn("p_raw", pRaw)
    val ranked = graft.engine.Ranks
      .rowNumberExact(base, "p_raw", "key", out = "rank")
      .withColumnRenamed("_n_total", "m")
    // per-value step-up minimum at the value's max rank, then a
    // reverse running min over the p dictionary (grouping-key order)
    val wTail = Window.orderBy(col("p_raw").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val adjDict = ranked.groupBy("p_raw")
      .agg(max("rank").as("_mr"), max("m").as("_m"))
      .withColumn("_p_adj", round(least(
        min(col("p_raw") * col("_m") / col("_mr")).over(wTail),
        lit(1.0)), 9))
      .select(col("p_raw").as("_pv"), col("_p_adj"))
    ranked
      .join(broadcast(adjDict), col("p_raw") <=> col("_pv"))
      .select(col("key"), col("z"), col("p_raw"), col("rank"),
        col("_p_adj").as("p_adj"),
        (col("_p_adj") <= alpha).as("significant"))
      .orderBy("rank")
  }

  /** Partitioner-choice audit: how evenly `nParts` output partitions
    * would fill under HASH partitioning (the battery's engine-
    * portable md5 bucket) versus RANGE partitioning (ntile over the
    * key order) — max/mean straggler factors per strategy, the
    * pre-write check behind "should this table be hash- or
    * range-distributed". Per-bucket counts are tie-order invariant
    * (ntile splits by position), so the audit is engine-exact.
    *
    * Scale: one key rollup per strategy; the range pass windows over
    * the key DICTIONARY with weights, not the rows.
    */
  def partitionerAudit(df: DataFrame, keyCol: String,
                       nParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nParts >= 2, s"partitionerAudit: nParts >= 2, got $nParts")
    val keys = df.select(col(keyCol).cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .trackedPersist()
    val hash = keys
      .withColumn("b", conv(substring(md5(col("k")), 1, 7), 16, 10)
        .cast("long") % lit(nParts.toLong))
      .groupBy("b").agg(sum("c").as("rows"))
    // range: cumulative row position over the sorted key dictionary,
    // bucket = position div ceil(n/nParts) — byte-identical to a
    // range partitioner's even row split
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val tot = keys.agg(sum("c").as("n"))
    val range = keys
      .withColumn("cumEnd", sum("c").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("width", expr("(n + " + (nParts - 1) + "L) div " +
        nParts + "L"))
      .withColumn("b", expr("(cumEnd - 1) div width"))
      .groupBy("b").agg(sum("c").as("rows"))
    def summarize(buckets: DataFrame, name: String): DataFrame =
      buckets.agg(count(lit(1)).as("n_buckets"), max("rows").as("max_rows"),
          sum("rows").as("total"))
        .select(lit(name).as("strategy"),
          col("n_buckets"), col("max_rows"),
          round(col("total").cast("double") / lit(nParts), 6)
            .as("mean_rows"),
          round(col("max_rows").cast("double") /
            (col("total").cast("double") / lit(nParts)), 6)
            .as("straggler_factor"))
    summarize(hash, "hash").unionByName(summarize(range, "range"))
      .orderBy("strategy")
  }

  /** Inclusion-dependency (foreign-key candidate) discovery — the
    * referential half of catalog profiling that [[fdAudit]]'s
    * intra-table FDs can't see. For each candidate `child ⊆ parent`
    * pair: the two distinct-value counts, how many child values the
    * parent contains, the containment fraction (1.0 = the FK holds),
    * and the parent coverage (how much of the parent the child
    * actually references — low coverage + full containment is the
    * classic dimension-table shape). NULL child values are ignored
    * (SQL FK semantics).
    *
    * Scale: per pair, two dictionary-sized distinct projections and
    * one semi-join between them — the audit never moves table rows,
    * only key dictionaries; K pairs are K independent unioned jobs.
    */
  def fkDiscovery(pairs: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(pairs.nonEmpty, "fkDiscovery needs at least one candidate pair")
    pairs.map { case (label, child, childCol, parent, parentCol) =>
      // r19 (guide §2.3 "narrower types"): the row-scale distinct runs
      // on the NATIVE key type; the string normalization (which keeps
      // cross-type candidate pairs comparable) is applied to the
      // ndv-sized dictionary after. cast-to-string preserves NULL and
      // is injective on integral and string keys (the battery's pairs
      // are all integral), so filter + distinct commute with it there —
      // result-identical, oracle-verified. It is NOT injective
      // on float/double: the native distinct folds 0.0 and -0.0 into
      // one key where the old cast-first form counted "0.0" and "-0.0"
      // as two, so ndv/containment can differ on such columns.
      val cd = child.select(col(childCol).as("_k0"))
        .where(col("_k0").isNotNull).distinct()
        .select(col("_k0").cast("string").as("k"))
        .trackedPersist()
      val pd = parent.select(col(parentCol).as("_k0"))
        .where(col("_k0").isNotNull).distinct()
        .select(col("_k0").cast("string").as("k"))
        .trackedPersist()
      val matched = cd.join(pd, Seq("k"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      cd.agg(count(lit(1)).as("ndv_child"))
        .crossJoin(pd.agg(count(lit(1)).as("ndv_parent")))
        .crossJoin(matched)
        .select(lit(label).as("candidate"), col("ndv_child"),
          col("ndv_parent"), col("n_matched"),
          when(col("ndv_child") > 0L,
            round(col("n_matched").cast("double") / col("ndv_child"), 6))
            .as("containment"),
          when(col("ndv_parent") > 0L,
            round(col("n_matched").cast("double") / col("ndv_parent"), 6))
            .as("coverage"),
          (col("ndv_child") > 0L && col("n_matched") === col("ndv_child"))
            .as("is_fk_candidate"))
    }.reduce(_ unionByName _).orderBy("candidate")
  }

  /** Linear interpolation of calendar gaps in the daily count series
    * per group: the full min..max calendar is generated per group,
    * observed days pass through, and each missing day is filled on
    * the line between its nearest observed neighbors — micro-exact
    * (the interpolated value is a 1e6-quantized BIGINT). Leading /
    * trailing edges (no neighbor on one side) stay NULL: this
    * operator interpolates interiors, it does not extrapolate —
    * q219's forward-fill is the carry-last alternative.
    *
    * Scale: the calendar explode is days×groups (dictionary-sized);
    * the neighbor search is two IGNORE NULLS window passes
    * partitioned by group — no self-join, no per-gap iteration.
    */
  def interpolateDaily(events: DataFrame, groupCol: String,
                       tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.groupBy(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).cast("long")
          .as("day"))
      .agg(count(lit(1)).as("y"))
    val cal = daily.groupBy("grp")
      .agg(min("day").as("mind"), max("day").as("maxd"))
      .select(col("grp"),
        explode(sequence(col("mind"), col("maxd"))).as("day"))
    val joined = cal.join(daily, Seq("grp", "day"), "left")
    val wPrev = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(0, Window.unboundedFollowing)
    joined
      .withColumn("yp", last(col("y"), ignoreNulls = true).over(wPrev))
      .withColumn("dp", last(when(col("y").isNotNull, col("day")),
        ignoreNulls = true).over(wPrev))
      .withColumn("yn", first(col("y"), ignoreNulls = true).over(wNext))
      .withColumn("dn", first(when(col("y").isNotNull, col("day")),
        ignoreNulls = true).over(wNext))
      .select(col("grp"), col("day"), col("y").isNotNull.as("observed"),
        (when(col("y").isNotNull, col("y") * lit(1000000L))
          .when(col("yp").isNotNull && col("yn").isNotNull,
            round((col("yp").cast("double") +
              (col("yn") - col("yp")).cast("double") *
              ((col("day") - col("dp")).cast("double") /
                (col("dn") - col("dp")))) * lit(1e6)).cast("long"))
          .cast("double") / 1e6).as("y_filled"))
      .orderBy("grp", "day")
  }

  /** Weekly churn / retention rates: per epoch-week, how many active
    * entities carried over from the previous week, how many lapsed —
    * the health metric of any engagement pipeline. Weeks are
    * `day div 7` (epoch-aligned, engine-portable); a week with no
    * active predecessor week reports NULL rates (nothing to churn
    * from). All counts are exact distinct BIGINTs; rates are single
    * rounded ratios.
    *
    * Scale: one distinct (entity, week) projection, then a
    * self-join shifted by one week on (entity, week) — both sides
    * keyed identically so the join co-partitions — and a week-keyed
    * rollup. Dictionary-sized everywhere past the first distinct.
    */
  def weeklyChurn(events: DataFrame, entityCol: String,
                  tsCol: String): DataFrame = {
    val base = events.select(col(entityCol).cast("string").as("u"),
        (datediff(to_date(col(tsCol)), lit("1970-01-01"))
          .cast("long")).as("day"))
      .select(col("u"), expr("day div 7L").as("week"))
      .distinct()
      .trackedPersist()
    val act = base.groupBy("week").agg(count(lit(1)).as("n_active"))
    val ret = base.select(col("u"), (col("week") + 1L).as("week"))
      .join(base, Seq("u", "week"))
      .groupBy("week").agg(count(lit(1)).as("n_retained"))
    val prev = act.select((col("week") + 1L).as("week"),
      col("n_active").as("n_prev"))
    act.join(prev, Seq("week"), "left")
      .join(ret, Seq("week"), "left")
      .select(col("week"), col("n_active"), col("n_prev"),
        coalesce(col("n_retained"),
          when(col("n_prev").isNotNull, lit(0L))).as("n_retained"),
        when(col("n_prev").isNotNull,
          col("n_prev") - coalesce(col("n_retained"), lit(0L)))
          .as("n_churned"),
        when(col("n_prev").isNotNull, round(
          (col("n_prev") - coalesce(col("n_retained"), lit(0L)))
            .cast("double") / col("n_prev"), 6)).as("churn_rate"),
        when(col("n_prev").isNotNull, round(
          coalesce(col("n_retained"), lit(0L)).cast("double") /
            col("n_prev"), 6)).as("retention_rate"))
      .orderBy("week")
  }
}
