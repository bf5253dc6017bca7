package graft.text

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Coalesce, Expression, Literal, Lower, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused one-pass kernels for [[TextOps.langId]] and
  * [[TextOps.qualityScore]] (the TextExtract/TextHash pattern: generated
  * code makes ONE static call into a plain JVM method).
  *
  * Both read Spark's own `lower(text)` as UTF-8 bytes, walking
  * `" " + lowered + " "` once:
  *  - marker hits are counted per marker, left to right without overlap
  *    — what the Column twins' replace-and-measure count gives. Markers
  *    are ASCII and start with a space, so they are only probed at space
  *    bytes, and byte positions never split a multi-byte character;
  *  - tokens are runs between `[ \t\n\x0B\f\r]` bytes (what
  *    `split(.., "\\s+")` splits on), distinct tokens go into a hash set
  *    of zero-copy views;
  *  - alphabetic characters are the `a`-`z` bytes.
  * Lowercasing never moves whitespace, so tokens of `lower(text)` equal
  * those of the twins' `lower(trim(text))`. TextScoreSpec pins each
  * kernel to its Column twin.
  */
object TextScore {

  private def markerBytes(ms: Seq[String]): Array[Array[Byte]] = {
    require(ms.forall(m => m.length > 1 && m.head == ' ' &&
      m.forall(_ < 0x80)), s"markers must be ASCII and space-led: $ms")
    ms.map(_.getBytes(UTF_8)).toArray
  }

  private val langCodes: Array[UTF8String] =
    TextOps.langMarkers.map(l => UTF8String.fromString(l._1)).toArray
  private val langMarkers: Array[Array[Byte]] =
    markerBytes(TextOps.langMarkers.flatMap(_._2))
  private val langOfMarker: Array[Int] =
    TextOps.langMarkers.zipWithIndex.flatMap { case ((_, ms), l) =>
      ms.map(_ => l) }.toArray
  private val stopMarkers: Array[Array[Byte]] =
    markerBytes(TextOps.qualityStops)

  /** Byte `i` of the padded view: indices -1 and n are the pad spaces. */
  @inline private def byteAt(s: UTF8String, n: Int, i: Int): Byte =
    if (i < 0 || i >= n) ' ' else s.getByte(i)

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** Probes every marker at padded index `i` (a space). `next(k)` is the
    * first `i + 1` at which marker k may match again (no overlap).
    */
  private def probe(s: UTF8String, n: Int, i: Int,
      markers: Array[Array[Byte]], next: Array[Int], hits: Array[Int]): Unit = {
    var k = 0
    while (k < markers.length) {
      val m = markers(k)
      if (i + 1 >= next(k) && i + m.length <= n + 1) {
        var j = 1
        while (j < m.length && byteAt(s, n, i + j) == m(j)) j += 1
        if (j == m.length) {
          hits(k) += 1
          next(k) = i + 1 + m.length
        }
      }
      k += 1
    }
  }

  /** Language code of the highest marker score; the first-listed
    * language wins ties (so an all-zero score is the first language).
    */
  def langId(lowered: UTF8String): UTF8String = {
    val n = lowered.numBytes()
    val next = new Array[Int](langMarkers.length)
    val hits = new Array[Int](langMarkers.length)
    var i = -1
    while (i <= n) {
      if (byteAt(lowered, n, i) == ' ') probe(lowered, n, i, langMarkers, next, hits)
      i += 1
    }
    val score = new Array[Long](langCodes.length)
    var k = 0
    while (k < hits.length) { score(langOfMarker(k)) += hits(k); k += 1 }
    var best = 0
    var l = 1
    while (l < score.length) { if (score(l) > score(best)) best = l; l += 1 }
    langCodes(best)
  }

  /** floor(1000 * d / n) in doubles, 0 when n <= 0 (the twins' `safe`). */
  @inline private def per1000(d: Long, n: Long): Long =
    if (n > 0) Math.floor(d * 1000.0 / n).toLong else 0L

  /** 1000 * alpha_ratio + 1000 * stopword_ratio + 1000 * uniq_token_ratio,
    * each floored; `text` only supplies the character count.
    */
  def qualityScore(text: UTF8String, lowered: UTF8String): Long = {
    val n = lowered.numBytes()
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val next = new Array[Int](stopMarkers.length)
    val hits = new Array[Int](stopMarkers.length)
    val uniq = new java.util.HashSet[UTF8String]()
    var alpha = 0L
    var nTok = 0L
    var start = -1
    var i = -1
    while (i <= n) {
      val b = byteAt(lowered, n, i)
      if (isSpace(b)) {
        if (start >= 0) {
          nTok += 1
          uniq.add(UTF8String.fromAddress(base, off + start, i - start))
          start = -1
        }
        if (b == ' ') probe(lowered, n, i, stopMarkers, next, hits)
      } else {
        if (b >= 'a' && b <= 'z') alpha += 1
        if (start < 0) start = i
      }
      i += 1
    }
    var stops = 0L
    var k = 0
    while (k < hits.length) { stops += hits(k); k += 1 }
    per1000(alpha, text.numChars()) + per1000(stops, nTok) +
      per1000(uniq.size(), nTok)
  }

  /** `lang_id(text)`: [[LangId]] over `lower(text)`; null text -> the
    * first language, as in [[TextOps.langIdCol]].
    */
  def langIdOf(text: Expression): Expression =
    Coalesce(Seq(LangId(Lower(text)), Literal(TextOps.langMarkers.head._1)))

  /** `quality_score(text)`: [[QualityScore]] over `text` and
    * `lower(text)`; null text -> 0, as in [[TextOps.qualityScoreCol]].
    */
  def qualityScoreOf(text: Expression): Expression =
    Coalesce(Seq(QualityScore(text, Lower(text)), Literal(0L)))

  /** The language kernel over already-lowered text: null in, null out. */
  case class LangId(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "lang_id"

    override protected def nullSafeEval(input: Any): Any =
      langId(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.text.TextScore.langId($c)")

    override protected def withNewChildInternal(newChild: Expression): LangId =
      copy(child = newChild)
  }

  /** The quality kernel over `text` and its lowercase: null in, null out. */
  case class QualityScore(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "quality_score"

    override protected def nullSafeEval(text: Any, lowered: Any): Any =
      qualityScore(text.asInstanceOf[UTF8String], lowered.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, l) => s"graft.text.TextScore.qualityScore($t, $l)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): QualityScore =
      copy(left = newLeft, right = newRight)
  }
}
