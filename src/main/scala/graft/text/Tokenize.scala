package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextHashFunctions

import graft.model.Tokenization

/**
 * Text tokenization modes, expressed as pure Catalyst column functions so they
 * stay inside whole-stage codegen (reference: entities/tokenizer/tokenizer.go:228-279
 * for mode dispatch; entities/models/property.go:160-186 for the mode set;
 * stopword presets adapters/repos/db/inverted/stopwords/).
 *
 * CJK modes (gse/kagome) need dictionary-backed segmenters that aren't
 * available in this environment. The reference gates them behind env flags
 * (tokenizer.go:42-46 `UseGse`/`UseGseCh`, enabled via ENABLE_TOKENIZER_GSE
 * etc.); mirroring that, `cjkBigramFallback` (default off, or the
 * GRAFT_ENABLE_CJK_BIGRAM env var) routes the four CJK modes to a
 * dictionary-free CJK bigram tokenizer — the public Lucene
 * CJKAnalyzer/CJKBigramFilter algorithm: runs of Han/Hiragana/Katakana/Hangul
 * become overlapping character bigrams (a length-1 run stays a unigram),
 * other letter/digit runs become lowercased word tokens. With the flag off
 * the dispatch fails LOUDLY (never silently degrades to another mode).
 */
object Tokenize {

  /** Mirror of the reference's package-level `UseGse`/`UseGseCh` env-gated
   * globals (tokenizer.go:42-46): when enabled, the four CJK modes tokenize
   * via `cjkBigram` instead of failing. Thread-scoped (plan construction —
   * the only reader — runs on the calling thread), so concurrent sessions
   * or test suites with different settings can't interfere; the env default
   * seeds every thread like the reference's process-level env gate. */
  private val cjkFallbackEnvDefault: Boolean =
    sys.env.get("GRAFT_ENABLE_CJK_BIGRAM").exists(v => v == "1" || v.equalsIgnoreCase("true"))
  private val cjkFallbackTL: InheritableThreadLocal[java.lang.Boolean] =
    new InheritableThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = cjkFallbackEnvDefault
    }
  def cjkBigramFallback: Boolean = cjkFallbackTL.get()
  def cjkBigramFallback_=(v: Boolean): Unit = cjkFallbackTL.set(v)

  /** Run `body` with the CJK bigram fallback enabled, restoring the previous
   * thread-local value afterwards — callers must not leak the gate onto
   * pooled threads (plan construction is the only reader, so scoping the
   * setter around query/bed construction is sufficient). */
  def withCjkFallback[T](body: => T): T = {
    val prev = cjkBigramFallback
    cjkBigramFallback = true
    try body finally cjkBigramFallback = prev
  }

  /** User dictionary for the CJK modes — the analogue of the reference's
   * `tokenizerUserDictPaths` gse/kagome dictionary loading
   * (tokenizer.go:122-173). When set, the four CJK modes segment by
   * longest-match over the dictionary ([[CjkDictSegmenter]]) instead of the
   * bigram fallback; thread-scoped like the bigram gate (plan construction
   * is the only reader). */
  private val cjkUserDictTL: InheritableThreadLocal[Option[CjkDictSegmenter]] =
    new InheritableThreadLocal[Option[CjkDictSegmenter]] {
      override def initialValue(): Option[CjkDictSegmenter] = None
    }
  def cjkUserDict: Option[CjkDictSegmenter] = cjkUserDictTL.get()

  /** Run `body` with a user dictionary active for the CJK modes, restoring
   * the previous value afterwards (same scoping contract as
   * [[withCjkFallback]]). The dictionary wins over the bigram fallback. */
  def withCjkUserDict[T](words: Seq[String])(body: => T): T = {
    val prev = cjkUserDictTL.get()
    cjkUserDictTL.set(Some(new CjkDictSegmenter(words)))
    try body finally cjkUserDictTL.set(prev)
  }

  /** `word`: runs of letters/digits, lowercased — the `WordTokens` byte
   * scan, equal to regexp_extract_all(lower(c), "[\\p{L}\\p{N}]+", 0). A
   * run is never empty, so unlike the split modes it needs no empty-token
   * filter. */
  def word(c: Column): Column = TextHashFunctions.wordTokens(c)

  /** `lowercase`: split on whitespace, lowercased. */
  def lowercase(c: Column): Column =
    dropEmpty(split(TextHashFunctions.lower(c), "\\s+"))

  /** `whitespace`: split on whitespace, case preserved. */
  def whitespace(c: Column): Column =
    dropEmpty(split(c, "\\s+"))

  /** Unicode-White_Space leading/trailing run — the reference field mode is
   * `strings.TrimFunc(in, unicode.IsSpace)` (tokenizer.go:331), i.e. the
   * Unicode White_Space property (incl. U+00A0/U+0085), which Java regex
   * spells `\p{IsWhite_Space}`. Spark's `trim()` strips only ' ' and
   * `String.trim` only chars <= U+0020, so neither matches the reference. */
  private val WsEdges = "^[\\p{IsWhite_Space}]+|[\\p{IsWhite_Space}]+$"

  /** `field`: the whole trimmed value as a single token. */
  def field(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(array(regexp_replace(c, WsEdges, "")))

  /**
   * `trigram`: the reference strips ALL non-alphanumerics (not just
   * whitespace), lowercases, then emits rune-level sliding 3-grams — and
   * emits NOTHING for input shorter than 3 characters
   * (tokenizer.go:395-411: FieldsFunc(isNotAlphanumeric) joined with "",
   * loop bound i+3 < len(offs)).
   */
  def trigram(c: Column): Column = {
    val s = array_join(word(c), "")
    when(c.isNull, lit(null).cast("array<string>"))
      .when(length(s) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s) - 2), i => s.substr(i, lit(3))))
  }

  /** Sliding character n-grams (whitespace stripped, lowercased) — the
   * dedup/shingling primitive (NOT the reference's trigram mode, which also
   * strips punctuation; see `trigram`). */
  def charNgrams(c: Column, n: Int): Column = {
    val s = regexp_replace(TextHashFunctions.lower(c), "\\s+", "")
    when(c.isNull, lit(null))
      .when(length(s) === 0, array().cast("array<string>"))
      .when(length(s) < n, array(s))
      .otherwise(transform(sequence(lit(1), length(s) - (n - 1)), i => s.substr(i, lit(n))))
  }

  /** Sliding token n-grams ("shingles") over a token array — feeds MinHash dedup. */
  def tokenNgrams(tokens: Column, n: Int): Column =
    when(tokens.isNull, lit(null))
      .when(size(tokens) < n, when(size(tokens) > 0, array(concat_ws(" ", tokens))).otherwise(array().cast("array<string>")))
      .otherwise(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))

  // --- CJK bigram fallback ---------------------------------------------------

  /** Unicode scripts the CJK bigram treats as ideographic/syllabic (the
   * Lucene CJKBigramFilter default HAN|HIRAGANA|KATAKANA|HANGUL set), plus
   * the two Script=Common marks that are part of Japanese words and would
   * otherwise split runs: U+30FC prolonged sound mark (データ) and U+3005
   * iteration mark (人々). */
  private val CjkClass = "\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}ー々"

  /** Ordered alternation: CJK runs first, then non-CJK letter/digit runs
   * (class intersection keeps a mixed-script string from collapsing into
   * one token — \\p{L} alone would swallow the CJK characters too). */
  private val CjkRunPattern = s"[$CjkClass]+|[[\\p{L}\\p{N}]&&[^$CjkClass]]+"

  /**
   * Dictionary-free CJK tokenization (public Lucene CJKAnalyzer semantics):
   * CJK script runs → overlapping character bigrams (length-1 run → unigram);
   * other alphanumeric runs → lowercased word tokens. Pure column expressions
   * (regexp run extraction + per-run transform), stays in codegen.
   */
  def cjkBigram(c: Column): Column = {
    val runs = regexp_extract_all(TextHashFunctions.lower(c), lit(CjkRunPattern), lit(0))
    val perRun = transform(runs, r =>
      when(r.rlike(s"^[$CjkClass]"),
        when(length(r) === 1, array(r))
          .otherwise(transform(sequence(lit(1), length(r) - 1), i => r.substr(i, lit(2)))))
        .otherwise(array(r)))
    when(c.isNull, lit(null).cast("array<string>")).otherwise(flatten(perRun))
  }

  /** Declared-but-unavailable CJK modes fail loudly (reference mode set:
   * tokenizer.go:228-279) unless the bigram fallback is enabled. */
  private def cjkUnavailable(mode: Tokenization): Nothing =
    throw new UnsupportedOperationException(
      s"tokenization '${mode.name}' requires a dictionary-backed CJK segmenter " +
      "(reference: entities/tokenizer/tokenizer.go:228-279 — gse/kagome) which is " +
      "not available in this environment; enable Tokenize.cjkBigramFallback " +
      "(or GRAFT_ENABLE_CJK_BIGRAM=1) for dictionary-free CJK bigram " +
      "tokenization, or use 'word'/'trigram'")

  /** Column tokenization with optional accent folding applied BEFORE the
   * tokenizer (reference: prepared.foldText then tokenize, analyze.go:223). */
  def withFold(mode: Tokenization, fold: Boolean)(c: Column): Column =
    apply(mode)(if (fold) org.apache.spark.sql.graft.TextFunctions.asciiFold(c) else c)

  /** Driver-side twin of `withFold` for query strings. */
  def queryTokens(mode: Tokenization, q: String, fold: Boolean): Seq[String] =
    queryTokens(mode, if (fold) org.apache.spark.sql.graft.AsciiFold.fold(q) else q)

  /** Tokenize a searchable property column that is either text (string) or
   * text[] (array<string>): arrays tokenize per element with null elements
   * skipped and the token streams concatenated, so downstream frequency /
   * distinct-length math sees the merged multiset — exactly the reference's
   * TextArray analysis (inverted/analyzer.go:174-195: per-element Analyze,
   * counts summed across elements). */
  def propTokens(mode: Tokenization, fold: Boolean, isArray: Boolean)(c: Column): Column =
    if (isArray)
      flatten(transform(filter(c, e => e.isNotNull), e => withFold(mode, fold)(e)))
    else withFold(mode, fold)(c)

  def apply(mode: Tokenization)(c: Column): Column = mode match {
    case Tokenization.Word       => word(c)
    case Tokenization.Lowercase  => lowercase(c)
    case Tokenization.Whitespace => whitespace(c)
    case Tokenization.Field      => field(c)
    case Tokenization.Trigram    => trigram(c)
    case m @ (Tokenization.Gse | Tokenization.GseCh |
              Tokenization.KagomeJa | Tokenization.KagomeKr) =>
      cjkUserDict match {
        case Some(seg) =>
          org.apache.spark.sql.graft.TextFunctions.cjkDictSegment(c, seg)
        case None =>
          if (cjkBigramFallback) cjkBigram(c) else cjkUnavailable(m)
      }
  }

  /** Codepoint array of a string (Spark's substr/length count codepoints —
   * Scala's String.sliding counts UTF-16 units, which would diverge on
   * supplementary-plane CJK). */
  private def codepoints(s: String): Array[Int] = {
    val it = s.codePoints().iterator()
    val b = Array.newBuilder[Int]
    while (it.hasNext) b += it.nextInt()
    b.result()
  }

  private def cpSlice(cps: Array[Int], from: Int, len: Int): String =
    new String(cps.slice(from, from + len).flatMap(Character.toChars))

  private val CjkCharRegex = java.util.regex.Pattern.compile(s"[$CjkClass]")
  private val CjkRunRegex = java.util.regex.Pattern.compile(CjkRunPattern)

  /** Driver-side CJK bigram with matching semantics. */
  def cjkBigramTokens(q: String): Seq[String] = {
    val m = CjkRunRegex.matcher(q.toLowerCase)
    val out = Seq.newBuilder[String]
    while (m.find()) {
      val run = m.group()
      if (CjkCharRegex.matcher(run.substring(0, Character.charCount(run.codePointAt(0)))).matches()) {
        val cps = codepoints(run)
        if (cps.length == 1) out += run
        else for (i <- 0 until cps.length - 1) out += cpSlice(cps, i, 2)
      } else out += run
    }
    out.result()
  }

  /** Tokenize a query string on the driver with matching semantics. */
  def queryTokens(mode: Tokenization, q: String): Seq[String] = mode match {
    case Tokenization.Word       => "[\\p{L}\\p{N}]+".r.findAllIn(q.toLowerCase).toSeq
    case Tokenization.Lowercase  => q.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    case Tokenization.Whitespace => q.split("\\s+").toSeq.filter(_.nonEmpty)
    case Tokenization.Field      => Seq(q.replaceAll(WsEdges, ""))
    case Tokenization.Trigram    =>
      val s = "[\\p{L}\\p{N}]+".r.findAllIn(q.toLowerCase).mkString
      val cps = codepoints(s)
      if (cps.length < 3) Nil
      else (0 until cps.length - 2).map(i => cpSlice(cps, i, 3))
    case m @ (Tokenization.Gse | Tokenization.GseCh |
              Tokenization.KagomeJa | Tokenization.KagomeKr) =>
      cjkUserDict match {
        case Some(seg) => seg.segment(q)
        case None =>
          if (cjkBigramFallback) cjkBigramTokens(q) else cjkUnavailable(m)
      }
  }

  /** English stopword preset (reference: inverted/stopwords/presets.go, `en`). */
  val StopwordsEn: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will", "with")

  /** Built-in presets (presets.go:19-27). */
  val StopwordPresets: Map[String, Set[String]] =
    Map("en" -> StopwordsEn, "none" -> Set.empty)

  /** Resolve a collection's effective stopword set: preset ± additions/
   * removals (reference: stopwords/provider.go NewDetectorFromConfig). */
  def stopwordsFor(cfg: graft.model.StopwordConfig): Set[String] = {
    val base = StopwordPresets.getOrElse(cfg.preset,
      throw new IllegalArgumentException(
        s"unknown stopword preset '${cfg.preset}' (expected 'en' or 'none')"))
    base ++ cfg.additions.map(_.toLowerCase) -- cfg.removals.map(_.toLowerCase)
  }

  /** The reference's ErrOnlyStopwords (inverted/searcher.go:127) — thrown
   * when stopword removal leaves a word-tokenized query/filter empty. */
  def onlyStopwordsError(): Nothing =
    throw new IllegalArgumentException(
      "invalid search term, only stopwords provided. " +
      "Stopwords can be configured in class.invertedIndexConfig.stopwords")

  def removeStopwords(tokens: Column, stop: Set[String] = StopwordsEn): Column = {
    val stopArr = array(stop.toSeq.sorted.map(lit): _*)
    filter(tokens, t => !array_contains(stopArr, t))
  }

  /** `arr` without its empty strings (a split at a leading separator
   * yields one), natively: `split` never yields a null element, so this
   * equals filter(arr, t => length(t) > 0) without the interpreted lambda. */
  private def dropEmpty(arr: Column): Column = array_remove(arr, "")
}
