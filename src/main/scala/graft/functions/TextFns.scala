package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side text normalization used by [[NormalizeTextExpr]] and tests. */
object TextNorm {
  /** NFD-decompose, drop combining marks (category Mn), lowercase —
    * accent-insensitive comparison key (reference:
    * src/ETL_POIS/process_pois.py:159-165). */
  def normalize(s: String): String = {
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    sb.toString.toLowerCase(java.util.Locale.ROOT)
  }
}

/** Native Catalyst expression for diacritic-stripping lowercase
  * normalization. A real `Expression` with `doGenCode` (static call into
  * [[TextNorm]]) rather than a Scala UDF, so it stays inside
  * whole-stage codegen and costs one virtual call per row. */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(TextNorm.normalize(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextNorm.normalize($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

/** Text-analysis column combinators for the training-data pipeline
  * surface (tokenization, quality scoring, language ID, shingling).
  * Everything except NFD normalization is pure built-in expressions.
  */
object TextFns {

  def normalizeText(c: Column): Column =
    ColumnBridge.column(NormalizeTextExpr(ColumnBridge.expression(c)))

  /** Whitespace tokenization. Contract (engine-wide, kernels
    * included): NO empty tokens, ever. Spark's trim strips 0x20 only,
    * so text edged with \t or \n survives the trim and `split` on
    * whitespace would emit leading/trailing "" tokens; the filter
    * removes them, which also covers the empty/whitespace-only
    * document (→ zero tokens). DuckDB oracles mirror this with
    * `list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')`.
    *
    * Whitespace is the EXPLICIT class `[ \t\n\f\r]` — RE2's `\s`,
    * which the oracles' regexes mean — not Java's `\s`, which also
    * includes \x0B (vertical tab) and would diverge token counts on
    * VT-containing text (round-10 advisor finding; same Java-vs-RE2
    * class as the (?m) line-terminator fix). */
  val WsClass = "[ \\t\\n\\f\\r]"
  def tokens(text: Column): Column =
    filter(split(trim(text), WsClass + "+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles: contiguous n-token windows joined by a
    * single space. Fewer than n tokens → empty array. */
  def shingles(text: Column, n: Int): Column =
    // codegen kernel (ShingleStrings) — the composed
    // transform/array_join lambda form evaluates interpreted and was
    // the hot prologue of every shingle-pair query; the kernel shares
    // Md5Kernel.tokenize, so tokenization is bit-identical to tokens()
    ShingleStrings(text, n)

  /** Share of tokens that appear in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val hits = size(filter(toks, t => t.isin(stopwords: _*)))
    when(size(toks) === 0, lit(0d))
      .otherwise(hits.cast(DoubleType) / size(toks).cast(DoubleType))
  }

  /** Mean token length — a cheap fluency signal. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0d))
      .otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
          size(toks).cast(DoubleType))
  }

  /** BPE-ish subword pre-tokenization (GPT-2-style splitter shape):
    * letter runs, digit runs, punctuation runs — each optionally
    * preceded by a space. Character-class-only regex so any engine's
    * regex dialect agrees. Counts approximate LLM token budgeting. */
  val BpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and deterministic. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "dans"))

  /** Argmax-stopword-hits language ID; ties break by list order above,
    * zero hits ⇒ "und" (undetermined). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    def hits(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*)))
    val scored = langStopwords.map { case (lang, words) => (lang, hits(words)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.reverse.foldLeft(lit("und")) { case (acc, (lang, h)) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Composite document quality score in [0,1]: penalize too-short /
    * too-long docs, reward moderate stopword density and 3-8 char mean
    * token length. Weights are engine-defined (the reference has no
    * text-quality scoring; this is the north-star training-data op). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val nTok = tokenCount(text).cast(DoubleType)
    val lenScore =
      when(nTok < 5, nTok / 5d)
        .when(nTok > 500, lit(500d) / nTok)
        .otherwise(lit(1d))
    val swr = stopwordRatio(text, stopwords)
    val swScore = when(swr > 0.5, lit(1d) - swr).otherwise(swr * 2d)
    val mtl = meanTokenLen(text)
    val mtlScore = when(mtl >= 3 && mtl <= 8, lit(1d))
      .when(mtl < 3, mtl / 3d)
      .otherwise(lit(8d) / mtl)
    round(lenScore * 0.4 + least(swScore, lit(1d)) * 0.3 + mtlScore * 0.3, 6)
  }

  /** PII patterns (email / IPv4 / NANP-suffix phone), kept inside the
    * regex subset Java and RE2 execute identically (character classes,
    * bounded repetition, \b ASCII word boundaries — no lookaround, and
    * no (?m) line anchors: Java's MULTILINE recognizes \r/NEL/LS/PS as
    * line terminators where RE2 only sees \n, so line-anchored
    * patterns must run on \n-normalized text — see q192), so
    * a DuckDB oracle replays detection and redaction byte-for-byte.
    * This is the C4/Dolma-style scrub stage: counts for the audit
    * artifact, regexp_replace chain for the redacted corpus. Order
    * matters and is fixed: emails first (their local parts contain
    * digits that must never half-match the looser patterns), then
    * IPv4, then phone. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b555-\\d{4}\\b"

  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast(LongType)

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** HTML → visible text (the extraction step between a WARC response
    * payload and every documents-table operator — the jusText/
    * trafilatura position in a web-text pipeline, reduced to its
    * deterministic core): drop script/style subtrees, strip tags,
    * decode the five XML entities + nbsp, collapse whitespace. Pure
    * codegen `regexp_replace`/`replace` chain — no UDF, no parser
    * state; patterns stay inside the regex subset Java and RE2
    * execute identically ((?s) dotall, non-greedy, character
    * classes), so a DuckDB oracle replays the extraction with the
    * 'gs' flags and must agree byte-for-byte. Entity decode runs
    * AFTER tag stripping (an entity can't reopen a tag), with &amp;
    * last so double-encoded text decodes one level only. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(ent, WsClass + "+", " "))
  }
}
