package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.text.{TextOps, TextScore}

/** Differential spec for the fused language-ID and quality kernels
  * (text.TextScore): fused == Column twin on the edges the twins define
  * — null / empty / whitespace-only text, every `\s` separator, markers
  * at the ends, overlapping and upper-case markers, zero and tied
  * scores, and Unicode whose lowercase changes length or shape.
  */
class TextScoreSpec extends SparkTestBase {
  import spark.implicits._

  private val texts: Seq[Option[String]] = Seq(
    None, Some(""), Some(" "), Some(" \t\n\u000b\f\r "),
    // each \s separator, leading and trailing spaces
    Some("the\tand\nof\u000bthe\fand\rof"), Some("  the cat and the dog  "),
    Some("\tthe and\t"), Some("a\u000bb a\fb a\rb"),
    // markers at the ends, overlapping, upper-case
    Some("the"), Some("the and"), Some("of the"), Some("the the the"),
    Some("THE AND OF Der Und"), Some("der die und der die und the"),
    Some("a a a in in a"), Some("the  the  the"),
    // all-zero scores and ties (first-listed language wins)
    Some("plain words only"), Some("el la the and"), Some("le et der und"),
    Some("zh shi de0 le"), Some("de la de el the"),
    // lowercase changes length or shape
    Some("İstanbul İ THE İ"), Some("ΣΑΣ the Σ and ΑΣ\tΣ"),
    Some("STRASSE straße ß the ẞ"), Some("中文 的 the 的 de0 中文"),
    Some("emoji 😀 the and 😀 of"),
    Some("İ"), Some("😀")) ++ markerSoup

  /** A seeded batch of 400 strings of markers, stopwords, case and
    * Unicode variants joined by random separators.
    */
  private def markerSoup: Seq[Option[String]] = {
    val words = (TextOps.langMarkers.flatMap(_._2) ++ TextOps.qualityStops)
      .map(_.trim).distinct ++ Seq("THE", "De", "x", "İ", "Σ", "ß", "的", "😀")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", "\u000b", "\f", "\r", "")
    val rnd = new scala.util.Random(7)
    (0 until 400).map { _ =>
      Some((0 until rnd.nextInt(12)).map(_ =>
        seps(rnd.nextInt(seps.length)) + words(rnd.nextInt(words.length)))
        .mkString + seps(rnd.nextInt(seps.length)))
    }
  }

  /** An RDD-backed frame: the optimizer would evaluate a projection over
    * a local Seq itself, interpreted, and no generated code would run.
    */
  private def frame(rows: Seq[(Long, Option[String])]) =
    spark.sparkContext.parallelize(rows, 2).toDF("id", "text")

  private def corpus = frame(texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) })

  /** The filter-lambda token count `tokenCount` used before array_remove. */
  private def tokenCountLambda(text: Column): Column =
    size(filter(split(lower(trim(text)), "\\s+"), t => t =!= ""))

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def scored = corpus.select(col("id"), col("text"),
    TextOps.langId(col("text")).as("lf"),
    TextOps.langIdCol(col("text")).as("lc"),
    TextOps.qualityScore(col("text")).as("qf"),
    TextOps.qualityScoreCol(col("text")).as("qc"),
    TextOps.tokenCount(col("text")).as("tf"),
    tokenCountLambda(col("text")).as("tc"))

  test("langId / qualityScore / tokenCount fused == Column twin") {
    for ((mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"), ("NO_CODEGEN", "false")))
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val bad = scored.filter(not(col("lf") <=> col("lc")) ||
            not(col("qf") <=> col("qc")) || not(col("tf") <=> col("tc")))
          .collect()
        assert(bad.isEmpty, s"$mode: ${bad.take(5).mkString("\n")}")
      }
  }

  test("null results and tie-breaks") {
    val got = scored.select(col("text"), col("lf"), col("qf"))
      .as[(Option[String], String, Long)].collect()
      .map { case (t, l, q) => t -> (l, q) }.toMap
    assert(got(None) == ("en", 0L))
    assert(got(Some("")) == ("en", 0L))
    assert(got(Some("plain words only"))._1 == "en") // all zero
    assert(got(Some("el la the and"))._1 == "en") // en 2 = es 2
    assert(got(Some("le et der und"))._1 == "de") // de 2 = fr 2
    assert(got(Some("zh shi de0 le"))._1 == "zh")
    assert(got(Some("the the the"))._1 == "en")
    assert(got(Some("THE AND OF Der Und"))._1 == "en") // en 3 > de 2
    assert(got(Some("der die und der die und the"))._1 == "de")
    // alpha 9 of 11 chars, " the " hits 2 of 3 tokens (no overlap),
    // 1 distinct of 3 tokens
    assert(got(Some("the the the"))._2 ==
      math.floor(9 * 1000.0 / 11).toLong + 666L + 333L)
  }

  test("langIdCol stays linear in the number of languages") {
    def nodes(c: Column): Int = {
      val plan = corpus.select(c).queryExecution.analyzed
      plan.expressions.map(_.collect { case e => e }.size).sum
    }
    val linear = nodes(TextOps.langIdCol(col("text")))
    // 358 today; the running-best fold it replaced built 2,701 here
    assert(linear < 500, s"langIdCol plan has $linear expression nodes")
  }

  test("SQL surface: lang_id / quality_score via GraftExtensions functions") {
    graft.canon.GraftExtensions.functions.foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }
    corpus.createOrReplaceTempView("tss_docs")
    val viaSql = spark.sql(
      "SELECT id, lang_id(text) AS l, quality_score(text) AS q FROM tss_docs")
    val viaApi = corpus.select(col("id"),
      TextOps.langId(col("text")).as("l"),
      TextOps.qualityScore(col("text")).as("q"))
    assert(viaSql.exceptAll(viaApi).count() == 0)
    assert(viaApi.exceptAll(viaSql).count() == 0)
    assert(spark.sql("SELECT lang_id(NULL), quality_score(NULL)")
      .head().toSeq == Seq("en", 0L))
  }

  test("fused langId / qualityScore stay codegen'd (no fallback)") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      // collect, not count: a count would prune the projection away
      val d = corpus.select(TextOps.langId(col("text")).as("l"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.tokenCount(col("text")).as("t"))
      assert(d.collect().length == texts.length)
      val plan = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      for (k <- Seq(classOf[TextScore.LangId], classOf[TextScore.QualityScore]))
        assert(plan.exists {
          case w: WholeStageCodegenExec =>
            w.child.exists(_.expressions.exists(_.exists(k.isInstance)))
          case _ => false
        }, s"${k.getSimpleName} not in a codegen stage:\n$plan")
    }
  }
}
