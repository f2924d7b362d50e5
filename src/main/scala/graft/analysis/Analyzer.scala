package graft.analysis

import graft.model.TermOcc

/** Lucene-3.0-StandardAnalyzer-compatible tokenizer as a pure function,
  * used inside typed Dataset transforms (the "analyzer UDF" of the north
  * star) — semantics of the reference's analysis loop
  * (hbasene HBaseIndexWriter.java:105-150):
  *
  *   - lowercase
  *   - word-break on any non-alphanumeric character (runs of
  *     `[a-z0-9_]` form tokens; underscore kept for code identifiers)
  *   - English stop set (Lucene 3.0 ENGLISH_STOP_WORDS_SET, 33 words)
  *   - stop words removed WITH position-increment gaps: the emitted
  *     position is the 1-based ordinal of the token among ALL raw
  *     tokens, so "Messi plays for Barcelona" → messi@1, plays@2,
  *     barcelona@4 (reference arithmetic
  *     `position += incr − 1; add(++position)`,
  *     HBaseIndexWriter.java:124-139; FIXTURES.md F1).
  *
  * Deliberately regex-simple so the identical tokenization is
  * expressible in ANSI SQL for the DuckDB correctness oracle
  * (see SparkEntry.oracleSql — `regexp_split_to_table(lower(x),
  * '[^a-z0-9_]+')` + stop-set filter + ordinality).
  */
object Analyzer extends TextAnalyzer {

  /** ≙ the reference's default StandardAnalyzer config value. */
  def name: String = "standard"

  /** Lucene 3.0 StopAnalyzer.ENGLISH_STOP_WORDS_SET, verbatim. */
  val EnglishStopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by",
    "for", "if", "in", "into", "is", "it",
    "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these",
    "they", "this", "to", "was", "will", "with")

  /** SQL fragment of the stop set, for oracle queries. */
  val stopWordsSqlList: String =
    EnglishStopWords.toSeq.sorted.map(w => s"'$w'").mkString("(", ", ", ")")

  @inline private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  /** Longest stop word is 5 chars — cheap pre-filter in hot loops. */
  private val MaxStopLen = EnglishStopWords.map(_.length).max

  /** Stop words grouped by length for allocation-free charwise lookup
    * against the scan buffer (≤ 14 candidates per bucket). */
  private val stopByLen: Array[Array[String]] = {
    val a = Array.fill(MaxStopLen + 1)(Array.empty[String])
    EnglishStopWords.groupBy(_.length).foreach { case (l, ws) =>
      a(l) = ws.toArray.sorted
    }
    a
  }

  @inline private def isStopBuf(buf: Array[Char], len: Int): Boolean = {
    if (len > MaxStopLen) return false
    val cands = stopByLen(len)
    var i = 0
    while (i < cands.length) {
      val w = cands(i)
      var j = 0
      while (j < len && w.charAt(j) == buf(j)) j += 1
      if (j == len) return true
      i += 1
    }
    false
  }

  /** ASCII uppercase → lowercase; identical to Locale.ROOT lowercasing
    * for every char that can become part of a [a-z0-9_] token. */
  @inline private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Core scan — THE build hot path, zero per-token allocation: each
    * raw token is lowercased into a reused char buffer and handed to
    * `emit(buf, len, pos)` (pos 1-based, stop words included; callers
    * materialize a String only for tokens they keep). ASCII text is
    * lowercased inline per char (== Locale.ROOT for ASCII); any
    * non-ASCII char falls back to a full Locale.ROOT lowercase pass so
    * tokenization stays byte-identical to the previous whole-string
    * behavior (e.g. Kelvin sign 'K' → 'k' still joins a token). */
  @inline private def scanBuf(text: String)(emit: (Array[Char], Int, Int) => Unit): Unit =
    scanBufOffsets(text)((buf, len, pos, _, _) => emit(buf, len, pos))

  @inline private def scanBufOffsets(text: String)(
      emit: (Array[Char], Int, Int, Int, Int) => Unit): Unit = {
    if (text == null) return
    var ascii = true
    var k = 0
    val n0 = text.length
    while (ascii && k < n0) {
      if (text.charAt(k) >= 0x80) ascii = false
      k += 1
    }
    val s = if (ascii) text else text.toLowerCase(java.util.Locale.ROOT)
    val n = s.length
    var buf = new Array[Char](32)
    var i = 0
    var pos = 0
    while (i < n) {
      while (i < n && !isTokenChar(lower(s.charAt(i)))) i += 1
      if (i < n) {
        var len = 0
        var c = lower(s.charAt(i))
        while (isTokenChar(c)) {
          if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
          buf(len) = c
          len += 1
          i += 1
          c = if (i < n) lower(s.charAt(i)) else ' '
        }
        pos += 1
        emit(buf, len, pos, i - len, i)
      }
    }
  }

  /** Calls f(term, pos) for every RAW token, stop words included,
    * pos 1-based (one String allocation per raw token). */
  @inline def scanRaw(text: String)(f: (String, Int) => Unit): Unit =
    scanBuf(text)((buf, len, pos) => f(new String(buf, 0, len), pos))

  /** Calls f(term, pos) for every EMITTED (non-stopword) token —
    * stopwords are filtered against the scan buffer BEFORE the term
    * String is allocated. This is what the indexing path uses. */
  @inline override def foreachEmitted(text: String)(f: (String, Int) => Unit): Unit =
    scanBuf(text) { (buf, len, pos) =>
      if (!isStopBuf(buf, len)) f(new String(buf, 0, len), pos)
    }

  /** Emitted scan with [start, end) char offsets into `analyzedText`
    * (== the input for ASCII; the Locale.ROOT-lowercased string when a
    * non-ASCII char forced a whole-string normalization pass). */
  @inline override def foreachEmittedOffsets(text: String)(
      f: (String, Int, Int, Int) => Unit): Unit =
    scanBufOffsets(text) { (buf, len, pos, s, e) =>
      if (!isStopBuf(buf, len)) f(new String(buf, 0, len), pos, s, e)
    }

  override def analyzedText(text: String): String = {
    if (text == null) return null
    var k = 0
    while (k < text.length) {
      if (text.charAt(k) >= 0x80) return text.toLowerCase(java.util.Locale.ROOT)
      k += 1
    }
    text
  }

  /** Buffer-level emitted-token scan: hands the reused (buf, len, pos)
    * straight to the caller with NO String allocation at all — the
    * segment-partials path probes its doc-term scratch by char content
    * and materializes a String only on a term's FIRST occurrence in a
    * doc (token occurrences outnumber per-doc distinct terms ~2.5×,
    * and those Strings were the build's largest remaining allocation
    * source). The buffer is only valid during the callback. */
  @inline def foreachEmittedBuf(text: String)(
      f: (Array[Char], Int, Int) => Unit): Unit =
    scanBuf(text) { (buf, len, pos) =>
      if (!isStopBuf(buf, len)) f(buf, len, pos)
    }

  /** Native codegen'd docLen expression — stays in WholeStageCodegen
    * (overrides the trait's UDF default). */
  override def docLenCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.sql.GraftFunctions.docLenCol(c)

  /** Raw tokens (lowercased, split), stop words INCLUDED — position
    * source of truth. */
  def rawTokens(text: String): Iterator[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    scanRaw(text)((t, _) => out += t)
    out.iterator
  }

  /** Distinct token 3-gram shingles ("a b c") over `rawTokens`, in
    * first-occurrence order — the dedup pipelines' set unit, which the
    * DuckDB oracle mirrors. Texts under 3 raw tokens have none. */
  def shingles(text: String): Iterable[String] = {
    val toks = rawTokens(text).toArray
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + 2 < toks.length) {
      seen += s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}"
      i += 1
    }
    seen
  }

  /** Tokenize one field value → (term, position) pairs, stop words
    * removed, positions 1-based counting stopword gaps. */
  def tokenize(text: String): Seq[(String, Int)] = {
    val out = Seq.newBuilder[(String, Int)]
    foreachEmitted(text)((t, pos) => out += ((t, pos)))
    out.result()
  }

  /** Tokenize into TermOccs for a named field. */
  def tokenizeField(field: String, text: String): Seq[TermOcc] =
    tokenize(text).map { case (t, p) => TermOcc(field, t, p) }

  /** Emitted-token count (document length for BM25's dl): number of
    * non-stopword tokens. ZERO allocation — tokens are counted and
    * stop-checked in the scan buffer, never materialized. */
  override def docLen(text: String): Int = {
    var n = 0
    scanBuf(text)((buf, len, _) => if (!isStopBuf(buf, len)) n += 1)
    n
  }
}
