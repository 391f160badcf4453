package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.scalacheck.Test.Parameters

import graft.SparkSpec

/** Laws for the native pair kernels: on random (candidate, reference)
  * pairs, `TextStats.chrF`, `rougeL` and `wer` return exactly the rows
  * of their former relational forms ([[TextStatsRelational]]) — same
  * column names and types in the same order, same values, same row
  * order. Each law runs twice: with whole-stage codegen and no
  * interpreted fallback (the kernels' generated code), and with
  * codegen off (their `eval`).
  *
  * Every batch carries fixed edge pairs besides the random ones:
  * NULL sides, empty and whitespace-only text, leading whitespace (an
  * empty first token), astral-plane code points and combining marks,
  * and texts longer than the token cap or shorter than the largest
  * n-gram order.
  */
object TextKernelProps extends Properties("text_kernels") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val edgePairs: Seq[(Option[String], Option[String])] = Seq(
    (None, Some("a b")), (Some("a b"), None), (None, None),
    (Some(""), Some("")), (Some(""), Some("a")),
    (Some(" \t "), Some("a")), (Some("  a b"), Some("a b")),
    (Some("\uD83D\uDE00e\u0301 x"), Some("\uD83D\uDE00e\u0301x \uD83D\uDE00")),
    (Some("\uD835\uDD38\uD835\uDD38 \u00E9"), Some("\uD835\uDD38 e\u0301")),
    (Some((1 to 9).mkString(" ")), Some((1 to 9).reverse.mkString(" "))))

  // few distinct words, so tokens and characters collide often:
  // precomposed é, e + combining acute, an emoji and a mathematical
  // capital (both outside the BMP, two UTF-16 units each)
  private val word: Gen[String] = Gen.oneOf("a", "b", "ab", "ba", "A",
    "\u00E9", "e\u0301", "\uD83D\uDE00", "\uD835\uDD38", "\u00DF")
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("", " ", "\t \n").map(Some(_)),
    8 -> (for {
      n <- Gen.choose(1, 12)
      words <- Gen.listOfN(n, word)
      sep <- Gen.oneOf(" ", "  ", "\t", " \n")
      lead <- Gen.oneOf("", "", " ", "\t ")
      trail <- Gen.oneOf("", "", " ")
    } yield Some(lead + words.mkString(sep) + trail)))

  private val pairs: Gen[DataFrame] =
    Gen.listOfN(16, Gen.zip(text, text)).map { random =>
      (edgePairs ++ random).zipWithIndex
        .map { case ((c, r), i) => (i.toLong, c, r) }
        .toDF("pair_id", "cand_text", "ref_text")
    }

  private val modes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "eval" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](settings: Map[String, String])(body: => T): T = {
    val saved = settings.keys.map(k => k -> spark.conf.getOption(k)).toMap
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameRows(native: DataFrame, relational: DataFrame): Prop = {
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val (n, r) = (native.collect().toSeq, relational.collect().toSeq)
    (shape(native) == shape(relational)) :|
      s"columns ${shape(native)} vs ${shape(relational)}" &&
      (n == r) :| s"rows differ:\n${n.zip(r).filter(p => p._1 != p._2)
        .take(5).mkString("\n")}\n(${n.size} vs ${r.size} rows)"
  }

  for ((mode, settings) <- modes) {
    property(s"chrF: native counts equal the relational form ($mode)") =
      forAll(pairs, Gen.choose(1, 8)) { (df, maxN) =>
        withConf(settings)(sameRows(TextStats.chrF(df, maxN),
          TextStatsRelational.chrF(df, maxN))) :| s"maxN = $maxN"
      }

    property(s"rougeL: native LCS equals the relational form ($mode)") =
      forAll(pairs, Gen.choose(1, 6)) { (df, maxTokens) =>
        withConf(settings)(sameRows(TextStats.rougeL(df, maxTokens),
          TextStatsRelational.rougeL(df, maxTokens))) :| s"maxTokens = $maxTokens"
      }

    property(s"wer: native edits equal the relational form ($mode)") =
      forAll(pairs, Gen.choose(1, 6)) { (df, maxTokens) =>
        withConf(settings)(sameRows(TextStats.wer(df, maxTokens),
          TextStatsRelational.wer(df, maxTokens))) :| s"maxTokens = $maxTokens"
      }
  }
}
