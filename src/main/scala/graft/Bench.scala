package graft
import org.apache.spark.sql.DataFrame
object Bench {

  /** Run one query under the noop sink; wall seconds + the error when
    * it throws. Errors MUST surface: a swallowed exception reports a
    * near-zero time, so a broken query would *improve* the bench
    * (round-2 verdict, What's wrong #1).
    */
  def measure(fn: => DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { fn.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)}")
      }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The one-line bench JSON. `errors` is present (possibly empty) so
    * the driver can cross-check a suspiciously fast query against
    * CORRECTNESS rather than trusting the time.
    */
  def renderJson(results: Seq[(String, Double, Option[String])], sf: String,
                 subset: Option[String] = None): String = {
    val qs = results.map { case (k, v, _) => s"\"${jsonEscape(k)}\":$v" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      s"\"${jsonEscape(k)}\":\"${jsonEscape(e)}\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // a filtered run must be distinguishable from the full battery:
    // the subset field names what ran, so a partial total can't be
    // mistaken for (or passed off as) a full-battery result
    val subsetField = subset.fold("")(s => s""","subset":"${jsonEscape(s)}"""")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"${jsonEscape(sf)}"$subsetField}"""
  }

  /** SPARK_GRAFT_ONLY selector: comma-separated names, EXACT match;
    * a trailing `*` makes a term an explicit prefix wildcard (so
    * `q5` no longer silently also runs q50–q59 — that surprise cost a
    * dev-loop timing comparison in round 5).
    */
  def matchesOnly(terms: Seq[String], name: String): Boolean =
    terms.exists { t =>
      if (t.endsWith("*")) name.startsWith(t.dropRight(1)) else name == t
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    Session.warmup(spark)
    // dev-loop subset filter: SPARK_GRAFT_ONLY=q57_dedup_apply,q58*
    // runs just those (exact names; trailing * = prefix). Unset = the
    // full battery. A filtered run stamps "subset" into the JSON.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val selected = all.filter { case (name, _) =>
      only.forall(matchesOnly(_, name))
    }
    if (only.isDefined && selected.isEmpty) {
      // an empty selection would print total=0 and look like a flawless
      // instant run — fail loudly instead
      System.err.println(
        s"[bench] SPARK_GRAFT_ONLY=${only.get.mkString(",")} matched no queries.\n" +
          s"[bench] valid names: ${all.map(_._1).mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    only.foreach { terms =>
      System.err.println(s"[bench] SUBSET RUN (${selected.size}/${all.size} queries): " +
        selected.map(_._1).mkString(","))
    }
    // SPARK_GRAFT_REPS=N (default 1 — the driver's single-shot
    // contract): time each query N times with the full isolation
    // sweep between reps and report the MINIMUM. Single-shot slots on
    // a shared box carry 1.3-1.5× scheduler/GC noise (r10 measured a
    // transient burst inflating one contiguous stretch up to 10×);
    // min-of-N is the standard attribution-stable estimator — use
    // reps=2 when comparing operator timings round over round.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(1).max(1)
    val results = selected.map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        val m = measure(fn(spark, sfDir))
        Session.sweep(spark)
        m
      }
      val (secs, err) = runs.minBy { case (s, e) => (e.isDefined, s) }
      err.foreach(e => System.err.println(s"[bench] $name FAILED: $e"))
      (name, secs, err)
    }
    println(renderJson(results, sfDir,
      subset = only.map(_ => selected.map(_._1).mkString(","))))
    // compact summary LAST: driver artifacts keep only a tail window
    // of stdout, and the full per-query map above can exceed it (the
    // r7 artifact lost q100–q226's numbers that way). This line is
    // small enough to survive any tail and carries the headline.
    println(renderSummary(results, sfDir))
    spark.stop()
  }

  /** One short JSON line: total seconds, error count, and the 10
    * slowest queries — the numbers a truncated artifact must keep.
    */
  def renderSummary(results: Seq[(String, Double, Option[String])],
                    sf: String): String = {
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v, _) => s"\"${jsonEscape(k)}\":$v" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val nErr = results.count(_._3.isDefined)
    s"""{"metric":"summary","total_s":$total,"n_queries":${results.size},"n_errors":$nErr,"slowest":$slowest,"sf":"${jsonEscape(sf)}"}"""
  }
}
