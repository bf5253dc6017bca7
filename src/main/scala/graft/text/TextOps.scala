package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting, shingling.
  *
  * No UDFs; every operator has an exact DuckDB-SQL oracle. Three kinds:
  *  - fused kernels, one static call per row, each with a Column twin
  *    kept as its executable spec: [[langId]] / [[langIdCol]] and
  *    [[qualityScore]] / [[qualityScoreCol]] ([[TextScore]]),
  *    [[winnowSet]] / [[winnowSetCol]] (dedup.TextDedupExpr);
  *  - codegen'd Column expressions built from portable primitives:
  *    token counts via regexp split + empty-element removal, occurrence
  *    counts via length-difference (replace-based), hashes via md5 hex
  *    -> integer (conv), ratios via floor(1000 * a / b);
  *  - Column expressions over higher-order lambdas, which Spark runs
  *    interpreted: [[subwordCount]], [[shingles]], [[winnowHashes]] (and
  *    the staged twin chain around it).
  */
object TextOps {

  /** Mersenne prime 2^31-1; all modular hash arithmetic stays < 2^62. */
  val P: Long = 2147483647L

  /** Non-empty whitespace tokens of lowercased text. */
  def tokens(text: Column): Column =
    array_remove(split(lower(trim(text)), "\\s+"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Portable 60-bit string hash: first 15 hex chars of md5 as a long. */
  def strHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Count non-overlapping occurrences of `needle` (length-difference
    * trick — exact same semantics in any SQL engine).
    */
  def countOccurrences(text: Column, needle: String): Column =
    ((length(text) - length(replace(text, lit(needle), lit("")))) /
      needle.length).cast("long")

  /** Language ID over a fixed stopword table: score(lang) = number of
    * marker-word occurrences (space-padded to whole-word match); predicted
    * lang = argmax with ties broken by the fixed language order below.
    * An n-gram-free heuristic chosen for exact SQL portability.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " de "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "zh" -> Seq(" zh ", " de0 ", " shi ")
  )

  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    markers.map(m => countOccurrences(padded, m))
      .reduce(_ + _)
  }

  /** FUSED (TextScore.LangId over `lower(text)`); null text -> the first
    * language, as in [[langIdCol]].
    */
  def langId(text: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(TextScore.langIdOf(GraftExpr.expression(text)))
  }

  /** Declarative twin of [[langId]]: one `greatest` over
    * struct(score, rank, lang) per language, where a language listed
    * earlier has a higher rank and so wins ties. Linear in the number of
    * languages (a running-best fold would repeat the best score in both
    * branches of each `when`, doubling the tree per language).
    */
  def langIdCol(text: Column): Column = {
    val n = langMarkers.length
    greatest(langMarkers.zipWithIndex.map { case ((l, ms), i) =>
      struct(langScore(text, ms).as("score"), lit(n - i).as("rank"),
        lit(l).as("lang"))
    }: _*).getField("lang")
  }

  /** Stopwords of the quality score's stopword ratio. */
  val qualityStops: Seq[String] = Seq(" the ", " and ", " of ", " a ", " in ")

  /** Quality score in [0, ~3000]: 1000*alpha_ratio + 1000*stopword_ratio
    * + 1000*uniq_token_ratio, floored to an exact integer. Higher = more
    * natural-language-like. Every term is floor(1000*int/int) — bit-exact
    * in any engine. FUSED (TextScore.QualityScore over `text` and
    * `lower(text)`); null text -> 0, as in [[qualityScoreCol]].
    */
  def qualityScore(text: Column): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(TextScore.qualityScoreOf(GraftExpr.expression(text)))
  }

  /** Declarative twin of [[qualityScore]]. */
  def qualityScoreCol(text: Column): Column = {
    val t = tokens(text)
    val nTok = size(t).cast("long")
    val nUniq = size(array_distinct(t)).cast("long")
    val alpha = (length(regexp_replace(lower(text), "[^a-z]", "")).cast("long"))
    val nChars = length(text).cast("long")
    val stops = langScore(text, qualityStops)
    val safe = (d: Column, n: Column) =>
      when(n > 0, floor(d * 1000.0 / n).cast("long")).otherwise(lit(0L))
    safe(alpha, nChars) + safe(stops, nTok) + safe(nUniq, nTok)
  }

  /** BPE-ish subword segmentation: lowercase, split into character-class
    * runs (letters / digits / punct — the pre-tokenization regex every
    * BPE implementation applies), then charge ceil(len/maxPiece) units
    * per run — a fixed-size-merge approximation of learned merges that
    * needs no vocabulary, stays a pure codegen'd expression, and is
    * reproducible bit-for-bit in any SQL engine (token-budget estimation
    * at corpus scale does not need the real tokenizer, it needs a cheap
    * deterministic proxy).
    */
  def subwordPieces(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))

  def subwordCount(text: Column, maxPiece: Int = 4): Column =
    aggregate(subwordPieces(text), lit(0L),
      (acc, p) => acc + floor((length(p) + maxPiece - 1) / maxPiece).cast("long"))

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * normalize to an alphanumeric character stream, hash every k-gram,
    * slide a window of w consecutive hashes keeping each window's MIN —
    * the distinct selected hashes are the document's fingerprints. The
    * winnowing guarantee: any shared substring of length >= k+w-1
    * contributes at least one COMMON fingerprint to both documents, so
    * fingerprint overlap detects partial/local duplication that the
    * whole-document [[fingerprint]] hash cannot. Density ~ 2/(w+1).
    * Pure array expressions (no explode/shuffle per doc); md5-derived
    * hashes keep the DuckDB oracle bit-exact.
    *
    * STAGING CONTRACT: [[winnowHashes]] and [[winnowMins]] must be fed
    * MATERIALIZED columns (attributes from a prior projection), never
    * inline expression trees — an array expression referenced inside a
    * per-element lambda is re-evaluated per element (no CSE across
    * higher-order lambdas), turning the window pass into O(m^2) md5
    * calls per document (same inlining trap as the round-1 canon tree).
    */
  def winnowNorm(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9]", "")

  /** k-gram hash array of a materialized `norm` column. */
  def winnowHashes(norm: Column, k: Int = 5): Column = {
    val n = length(norm)
    val grams = when(n >= k,
      transform(sequence(lit(1), n - k + 1), i => norm.substr(i, lit(k))))
      .otherwise(array(norm))
    when(n === 0, typedlit(Seq.empty[Long]))
      .otherwise(transform(grams, g => strHash(g) % P))
  }

  /** Distinct sorted window-min selection over a materialized hash-array
    * column.
    */
  def winnowMins(hs: Column, w: Int = 4): Column = {
    val mins = when(size(hs) >= w,
      transform(sequence(lit(0), size(hs) - w),
        j => array_min(slice(hs, j + 1, lit(w)))))
      .otherwise(array(array_min(hs)))
    when(size(hs) === 0, typedlit(Seq.empty[Long]))
      .otherwise(sort_array(array_distinct(mins)))
  }

  /** One-shot form for tests/small inputs; production use is the staged
    * three-projection pipeline (see the staging contract above).
    */
  /** FUSED winnowing set (dedup.TextDedupExpr.WinnowSet -> one static
    * call: gram hashes + sliding minima + distinct/sort in one pass).
    * [[winnowSetCol]] is the staged Column twin kept as the executable
    * spec; the q_winnow gate runs the staged form so the projection-
    * staging contract stays exercised too.
    */
  def winnowSet(text: Column, k: Int = 5, w: Int = 4): Column = {
    import org.apache.spark.sql.GraftExpr
    GraftExpr.column(graft.dedup.TextDedupExpr.WinnowSet(
      GraftExpr.expression(winnowNorm(text)), k, w))
  }

  /** Declarative twin of [[winnowSet]]. Null text -> null set (explicit:
    * the raw staged chain accidentally yields [null] there — a null GRAM
    * hash surviving the min/distinct — which is not a winnowing value).
    */
  def winnowSetCol(text: Column, k: Int = 5, w: Int = 4): Column =
    when(text.isNull, lit(null).cast("array<bigint>"))
      .otherwise(winnowMins(winnowHashes(winnowNorm(text), k), w))

  /** Word n-gram shingles (distinct), the MinHash/Jaccard input unit. */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    array_distinct(
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", t))))
  }
}
