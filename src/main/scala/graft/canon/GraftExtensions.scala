package graft.canon

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook (the SURVEY §4 extension path, item (c)):
  * registers the fused canonicalization expressions as SQL-callable
  * functions, so pure-SQL users of the library get the same codegen'd
  * operators as the Scala API:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   ...
  * spark.sql("SELECT canonicalize_url(url), url_host(url) FROM frontier")
  * }}}
  *
  * Or via config (no code): spark.sql.extensions=graft.canon.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, arity: Int,
      mk: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[CanonicalizeUrl].getName, name),
    (args: Seq[Expression]) => {
      require(args.length == arity, s"$name takes exactly $arity argument(s)")
      mk(args)
    })

  private def unary(name: String, mk: Expression => Expression) =
    fn(name, 1, args => mk(args.head))

  /** Literal-int argument (the k / n / w knobs of the fused kernels). */
  private def litInt(name: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$name expects a literal integer, got $e")
  }

  /** The injected function set — the full fused-kernel surface, so
    * pure-SQL users compose the same codegen'd operators as the Scala
    * API (`SELECT minhash_text(body, 3, 16) FROM docs`, `dot_q(a, b)`,
    * ...). Also usable to register into a live session's
    * FunctionRegistry (tests do this; extensions only apply at session
    * construction).
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import graft.dedup.TextDedupExpr
    import graft.dedup.TextDedup.{aCoef, bCoef}
    import graft.sim.AnnExpr
    def coefs(k: Int) = ((0 until k).map(aCoef), (0 until k).map(bCoef))
    Seq(
      unary("canonicalize_url", CanonicalizeUrl.apply),
      unary("url_host", UrlHost.apply),
      // text-dedup kernels (array/string inputs compose with built-ins)
      fn("minhash_sig", 2, { args =>
        val (a, b) = coefs(litInt("minhash_sig(shingles, k)", args(1)))
        TextDedupExpr.MinHashSig(args.head, a, b)
      }),
      fn("minhash_tokens", 3, { args =>
        val n = litInt("minhash_tokens(tokens, n, k)", args(1))
        val (a, b) = coefs(litInt("minhash_tokens(tokens, n, k)", args(2)))
        TextDedupExpr.MinHashTokens(args.head, n, a, b)
      }),
      unary("simhash32", TextDedupExpr.SimHash32.apply),
      fn("winnow_set", 3, args =>
        TextDedupExpr.WinnowSet(args.head,
          litInt("winnow_set(norm, k, w)", args(1)),
          litInt("winnow_set(norm, k, w)", args(2)))),
      unary("html_to_text", graft.text.TextExtract.HtmlToText.apply),
      // text scoring kernels, the same calls as TextOps.langId/qualityScore
      unary("lang_id", graft.text.TextScore.langIdOf),
      unary("quality_score", graft.text.TextScore.qualityScoreOf),
      // ANN vector kernels
      unary("quantize_vec", AnnExpr.QuantizeVec.apply),
      fn("dot_q", 2, args => AnnExpr.DotQ(args(0), args(1))),
      fn("cosine_q", 2, args => AnnExpr.CosineQ(args(0), args(1))))
  }
}
