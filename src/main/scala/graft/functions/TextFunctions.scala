package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization + analysis scalar functions.
  *
  * C8/C9 re-express the reference's `utils/clean.go` as built-in `Column`
  * chains (codegen'd — no UDFs):
  *   - CleanText  (utils/clean.go:9-102): unicode→ASCII char map + length
  *     gate + truncate-with-ellipsis
  *   - CleanString (utils/clean.go:105-111): strip all non-alphanumerics
  *
  * The rest are the LLM-pipeline text-analysis ops (tokenize, quality
  * scoring, language-ID heuristic, fingerprinting) built on the same
  * primitives. All are deterministic per-row expressions: identical results
  * on any cluster size, trivially parallel, no shuffle.
  */
object TextFunctions {

  /** The reference's per-rune char map (utils/clean.go:26-81), faithful:
    * deletions (curly single quotes, straight apostrophe, pipe, TM, misc
    * symbols/emoji), 1:1 folds (dashes, double-quote family, nbsp,
    * u-umlaut...), and the 1:many folds & -> "and" (no spaces,
    * clean.go:30) and ellipsis -> "...".
    */
  def charMapFold(c: Column): Column = {
    import graft.expressions.CleanTextKernel
    // 1:1 folds via translate (codegen'd single pass); the map/delete
    // tables are the kernel's constants so the Column and single-pass
    // expression forms cannot drift
    val one2one = translate(c, CleanTextKernel.ONE2ONE_FROM, CleanTextKernel.ONE2ONE_TO)
    // deletions incl. astral emoji via one regex class
    val deleted = regexp_replace(one2one, "[" + CleanTextKernel.DELETE_CHARS + "]", "")
    val amp = regexp_replace(deleted, "&", "and")
    regexp_replace(amp, "\u2026", "...")
  }
  /** C8 `CleanText(text, maxLen)`, faithful to utils/clean.go:9-102:
    * min-length-5 gate (:10-12); newline sections joined with " " while the
    * accumulated length is still under maxLen — the reference checks BEFORE
    * appending, so the join can overshoot (:14-24); per-rune char map
    * (:26-95); truncate to maxLen-3 + "..." (:97-99). Lengths here are
    * characters (Go's len is bytes — identical on ASCII, divergence
    * documented for multibyte).
    */
  def cleanText(c: Column, maxLen: Int): Column = {
    import org.apache.spark.sql.graft.ColumnShim
    // single codegen'd pass (graft.expressions.CleanTextFold) — the
    // declarative chain below ([[cleanTextColumnForm]]) planned an
    // interpreted `aggregate` HOF plus four string passes per row;
    // value-identity between the two forms is property-pinned in
    // TextFunctionsSpec
    ColumnShim.column(graft.expressions.CleanTextFold(
      ColumnShim.expression(c), maxLen))
  }

  /** The declarative Column form of [[cleanText]] — kept as the
    * independent model the spec compares the codegen kernel against
    * (and the shape the scaladoc documents).
    */
  private[graft] def cleanTextColumnForm(c: Column, maxLen: Int): Column = {
    val sections = split(c, "\n", -1)
    val joined = when(size(sections) > 1,
      aggregate(
        slice(sections, lit(2), size(sections) - 1),
        element_at(sections, 1),
        (acc, s0) => when(length(acc) < maxLen, concat(acc, lit(" "), s0)).otherwise(acc)))
      .otherwise(c)
    val folded = charMapFold(joined)
    val gated = when(length(c) < 5, lit("")).otherwise(folded)
    when(length(gated) > maxLen,
      concat(substring(gated, 1, maxLen - 3), lit("...")))
      .otherwise(gated)
  }

  /** C9 `CleanString`: strip everything outside [a-zA-Z0-9] (clean.go:105-111). */
  def cleanString(c: Column): Column =
    regexp_replace(c, "[^a-zA-Z0-9]+", "")

  /** Whitespace tokenizer → array<string>. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Token count (whitespace tokenization). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(tokens(c)))

  /** BPE-ish sub-word token count: runs of letters, runs of digits, or a
    * single non-space symbol each count as one token — a deterministic
    * approximation of byte-pair tokenizers for budget estimation.
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation chars to total chars. Unrounded: single IEEE
    * division over integer counts, bit-identical across engines. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** Ratio of stopword tokens to all tokens. `stop` are lowercase. */
  def stopwordRatio(c: Column, stop: Seq[String]): Column = {
    val toks = tokens(lower(c))
    val stopArr = array(stop.map(lit): _*)
    size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, penalizes
    * punctuation soup and stopword floods. Deterministic per-row arithmetic.
    */
  def qualityScore(text: Column, stop: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punct = punctRatio(text)
    val stopR = stopwordRatio(text, stop)
    lenScore * (lit(1.0) - punct) * (lit(1.0) - lit(0.5) * stopR)
  }

  /** Language-ID heuristic: per-language marker-token hit counts over a
    * lowercase whitespace tokenization; highest count wins, ties broken by
    * the greatest language code (struct comparison is lexicographic on
    * (hits, lang)), 'und' when nothing hits. Deterministic.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "las", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = langMarkers.map { case (lang, markers) =>
      val markerArr = array(markers.map(lit): _*)
      struct(
        size(filter(toks, t => array_contains(markerArr, t))).as("hits"),
        lit(lang).as("lang"))
    }
    // array_max on struct(hits, lang): max hits, then max lang code — make
    // the tiebreak "first language in list order" by negating via sort.
    val best = array_max(array(scores: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 64-bit document fingerprint: xxhash64 of the cleaned, case-folded,
    * whitespace-collapsed text — an exact-dup key robust to formatting noise.
    */
  def fingerprint(c: Column): Column =
    xxhash64(lower(regexp_replace(trim(c), "\\s+", " ")))
}
