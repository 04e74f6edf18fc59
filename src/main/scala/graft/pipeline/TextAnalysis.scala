package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{TextHashFunctions, TextKernels}

import graft.text.Tokenize

/**
 * Text-analysis operators for training-data pipelines (engine extensions
 * beyond the weaviate surface): language ID, quality scoring, token counting,
 * document fingerprinting. All pure column expressions — one scan, no UDFs —
 * so they compose with filters/dedup at any scale. The quality score and the
 * Gopher rules read their per-document counts from one native kernel each
 * ([[org.apache.spark.sql.graft.TextQualityCounts]],
 * [[org.apache.spark.sql.graft.GopherCounts]]: one codegen'd pass over the
 * document) and keep their ratio and threshold arithmetic as column math.
 * Operators built from higher-order functions (`aggregate`, `filter`,
 * `transform`) evaluate those lambdas interpreted, per element.
 */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWhitespace(text: Column): Column = size(Tokenize.whitespace(text))

  /** BPE-ish subword count: word tokens + digit runs + punctuation pieces,
   * long words counted as ceil(len/4) pieces (a cheap proxy for byte-pair
   * merges — deterministic and vocabulary-free). */
  def tokenCountBpeIsh(text: Column): Column = {
    val pieces = regexp_extract_all(lower(text), lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0))
    aggregate(pieces, lit(0L), (acc, p) => acc + ceil(length(p) / 4.0).cast("long"))
  }

  // The quality signals below are column arithmetic over one
  // TextQualityCounts struct: `tokens`/`stopword_tokens`/`token_chars` count
  // the Tokenize.word tokens, `non_space`/`punct` the text's code points
  // outside \s and outside [\p{L}\p{N}\s]. A null text has null counts.

  /** Ratio of punctuation characters to all non-space characters. */
  def punctRatio(text: Column): Column = punctRatioOf(TextHashFunctions.textQualityCounts(text))

  private def punctRatioOf(counts: Column): Column = {
    val nonSpace = counts.getField("non_space").cast("double")
    val punct = counts.getField("punct").cast("double")
    when(nonSpace === 0, 0.0).otherwise(punct / nonSpace)
  }

  /** Fraction of word-tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = stopwordRatioOf(TextHashFunctions.textQualityCounts(text))

  private def stopwordRatioOf(counts: Column): Column = {
    val nToks = counts.getField("tokens")
    when(nToks === 0, 0.0)
      .otherwise(counts.getField("stopword_tokens").cast("double") / nToks)
  }

  /** Mean word-token length. */
  def meanTokenLen(text: Column): Column = {
    val counts = TextHashFunctions.textQualityCounts(text)
    val nToks = counts.getField("tokens")
    when(nToks === 0, 0.0)
      .otherwise(counts.getField("token_chars").cast("double") / nToks)
  }

  /**
   * Composite quality score in [0,1] from length/punct/stopword signals
   * (the shape of Gopher/C4-style quality rules): docs that are too short,
   * all-punctuation, or stopword-free score low.
   */
  def qualityScore(text: Column): Column = {
    val counts = TextHashFunctions.textQualityCounts(text)
    val nToks = counts.getField("tokens").cast("double")
    val lengthOk = least(nToks / 50.0, lit(1.0))                  // ≥50 tokens → full credit
    val punctOk = greatest(lit(1.0) - punctRatioOf(counts) * 4.0, lit(0.0)) // >25% punct → 0
    val stopOk = least(stopwordRatioOf(counts) * 10.0, lit(1.0))  // ≥10% stopwords → full credit
    (lengthOk + punctOk + stopOk) / 3.0
  }

  /**
   * Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446,
   * Appendix A1.1 "Quality filtering" — the MassiveWeb rule set, also the
   * base of RedPajama/Dolma's "gopher_rules"). Per doc:
   *
   *   1. 50 ≤ word count ≤ 100,000
   *   2. 3 ≤ mean word length ≤ 10
   *   3. symbol-to-word ratio ≤ 0.1 (symbols: '#' and '…'/'...')
   *   4. < 90% of lines start with a bullet; < 30% end with an ellipsis
   *   5. ≥ 80% of words contain at least one alphabetic character
   *   6. at least 2 distinct words from the required-word list
   *      {the, be, to, of, and, that, have, with}
   *
   * The per-document counts come from one native kernel
   * ([[org.apache.spark.sql.graft.GopherCounts]]: one codegen'd pass, no
   * lambdas, no shuffle); the rules are column math over them. Returns the
   * input plus per-rule booleans and the conjunction `gopher_pass`; words =
   * whitespace tokens (the paper operates on whitespace words, not the
   * inverted-index tokenizer), lines = the text's '\n' pieces that are
   * non-blank after `trim`.
   */
  def gopherFilter(df: org.apache.spark.sql.DataFrame, textCol: Column): org.apache.spark.sql.DataFrame = {
    // The counts are the output of a one-element `inline` (a Generate), so
    // the kernel runs once per row: a filter on the rules stops above a
    // Generate, while it is pushed below any projection, where it would
    // evaluate the kernel once per count it reads (FilterExec has no
    // subexpression elimination).
    val countCols = TextKernels.GopherSchema.fieldNames.toSeq.map("__gopher_" + _)
    val counted = df.select(col("*"),
      inline(array(TextHashFunctions.gopherCounts(textCol))).as(countCols))
    def n(field: String): Column = col("__gopher_" + field).cast("double")
    val nWords = n("words")
    val meanLen = when(nWords > 0, n("word_chars") / nWords).otherwise(lit(0.0))
    val nSymbols = n("symbols")
    val nLines = n("lines")
    val bulletFrac = when(nLines > 0, n("bullet_lines") / nLines).otherwise(lit(0.0))
    val ellipsisFrac = when(nLines > 0, n("ellipsis_lines") / nLines).otherwise(lit(0.0))
    val alphaFrac = when(nWords > 0, n("alpha_words") / nWords).otherwise(lit(0.0))
    // a null text has no words, so no required-word hits
    val requiredHits = coalesce(col("__gopher_required_hits"), lit(0))
    val rules = Seq(
      "gopher_word_count"  -> (nWords >= 50 && nWords <= 100000),
      "gopher_mean_len"    -> (meanLen >= 3.0 && meanLen <= 10.0),
      "gopher_symbol"      -> (when(nWords > 0, nSymbols / nWords).otherwise(lit(0.0)) <= 0.1),
      "gopher_lines"       -> (bulletFrac < 0.9 && ellipsisFrac < 0.3),
      "gopher_alpha"       -> (alphaFrac >= 0.8),
      "gopher_required"    -> (requiredHits >= 2))
    val withRules = rules.foldLeft(counted) { case (d, (name, c)) => d.withColumn(name, c) }
    withRules.withColumn("gopher_pass", rules.map(r => col(r._1)).reduce(_ && _))
      .drop(countCols: _*)
  }

  /** Per-language stopword profiles for the n-gram-free language-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "los", "las", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "des", "que", "est", "une"))

  /** Predicted language = profile with the most distinct stopword hits;
   * ties break to the alphabetically-first language (deterministic). */
  def languageId(text: Column): Column = {
    val toks = Tokenize.word(text)
    val scored = LangProfiles.map { case (lang, words) =>
      val hits = words.map(w => array_contains(toks, w).cast("int")).reduce[Column](_ + _)
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    // left fold with STRICT > keeps the earlier profile on ties, and
    // LangProfiles is alphabetically sorted — so the rule is: highest hit
    // count, ties to the alphabetically-first language
    val best = scored.reduce[Column]((a, b) => when(b.getField("hits") > a.getField("hits"), b).otherwise(a))
    best.getField("lang")
  }

  /** Stable document fingerprint: md5 of the normalized (word-token) text. */
  def fingerprint(text: Column): Column = md5(concat_ws(" ", Tokenize.word(text)))

  /**
   * TF-IDF top terms per document — the classic keyword/feature extractor
   * (sklearn's smoothed variant: idf = ln((1 + N) / (1 + df)) + 1, weight =
   * tf · idf with raw term counts), returning the `topK` heaviest terms of
   * every document (weight desc, term asc ties).
   *
   * Scale shape: explode → ONE hash-agg for (doc, term) tf (map-side
   * combined on the natural key) → term-level df from the same frame →
   * broadcast single-row N via the scalar-subquery pattern → equi-join tf
   * with the term-level idf → a window PARTITIONED by doc for the top-k (rows
   * beyond rank k never leave their partition). No driver loop, no
   * cartesian; the term-idf frame is vocabulary-sized and shuffles on the
   * term key exactly once.
   *
   * Returns (id, term, tf, weight, term_rank).
   */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: Column,
                    textCol: Column, topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK > 0, "tfidfTopTerms: topK must be positive")
    val base = df.select(idCol.as("id"), Tokenize.word(textCol).as("__toks"))
      .filter(size(col("__toks")) > 0)
    val tf = base.select(col("id"), explode(col("__toks")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, term) pairs, so df is a count over them —
    // attached via a whole-partition window over term: ONE shuffle serves
    // both the df aggregate and its redistribution onto every pair, and the
    // plan shape is scale-invariant (the former dfreq-join formulation
    // broadcast-joined at bench vocab sizes but fell off the strategy cliff
    // to a sort-merge join once the vocabulary outgrew the broadcast
    // threshold — the measured 1.30 exponent in the 10×→100× decade; this
    // form re-measured 0.93)
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val n = base.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("weight").desc, col("term").asc)
    tf.withColumn("__df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("weight",
        col("tf") * (log((lit(1.0) + col("__n")) / (lit(1.0) + col("__df"))) + 1.0))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= topK)
      .select(col("id"), col("term"), col("tf"), col("weight"), col("term_rank"))
  }

  // --- PII redaction ---------------------------------------------------------

  /** Email/IPv4/phone patterns shared with redaction callers. Deliberately
   * RE2-compatible (no lookaround, no backreferences) so an external system
   * running RE2 — or a DuckDB oracle — applies the identical patterns. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhonePattern = "\\+?(\\d{1,3}[-. ])?\\(?\\d{2,4}\\)?[-. ]\\d{3,4}([-. ]\\d{2,4})?\\b"

  /**
   * PII scrubbing — the standard pre-training redaction pass (emails, IPv4
   * addresses, phone-shaped number groups → typed placeholder tokens). Order
   * matters: emails first (their dotted domains would otherwise feed the IP
   * pattern), IPs before phones (dotted quads look like phone groups). Pure
   * chained `regexp_replace` — one codegen'd projection, no UDF, linear scan
   * at any scale.
   */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "[EMAIL]")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "[IP]")
    regexp_replace(noIp, PhonePattern, "[PHONE]")
  }

  // --- C4 heuristic cleaning -------------------------------------------------

  /**
   * C4-style line/page cleaning (Raffel et al. 2020, "Exploring the Limits of
   * Transfer Learning with a Unified Text-to-Text Transformer", JMLR §2.2):
   *  - retain only lines ending in a terminal punctuation mark (. ! ? " ');
   *  - retain only lines with at least `minLineWords` (3) words;
   *  - drop lines containing the word "javascript" (any case);
   *  - drop pages containing "lorem ipsum" or "{" anywhere;
   *  - drop pages with fewer than `minSentences` (5) sentences — sentence
   *    count approximated as terminal-punctuation marks in the RETAINED text
   *    (the paper used a sentence tokenizer; the mark count is the standard
   *    deterministic stand-in and identical on cleaned line-per-sentence
   *    text);
   *  - drop pages containing any `blocklist` word (the paper's bad-words
   *    list; pluggable, default empty — no list ships with the engine).
   *
   * Returns only the retained pages: all input columns plus `c4_text` (kept
   * lines re-joined with newlines), `c4_lines_kept`, `c4_lines_total`. Pure
   * column expressions over one scan — array filter (its lambda evaluated
   * interpreted) + regex per row, no shuffle, no UDF — so it composes with
   * dedup/quality at 100 TB exactly like the other signals here.
   */
  def c4Clean(df: org.apache.spark.sql.DataFrame, textCol: Column,
              blocklist: Seq[String] = Nil, minSentences: Int = 5,
              minLineWords: Int = 3): org.apache.spark.sql.DataFrame = {
    val lines = split(textCol, "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"']$") &&
      size(split(trim(l), "\\s+")) >= minLineWords &&
      !lower(l).rlike("\\bjavascript\\b"))
    val cleanText = array_join(kept, "\n")
    val sentences = length(regexp_replace(cleanText, "[^.!?]", ""))
    val pageOk = {
      val base = !contains(lower(textCol), lit("lorem ipsum")) &&
        !contains(textCol, lit("{")) &&
        sentences >= minSentences
      if (blocklist.isEmpty) base
      else {
        val pat = "\\b(" + blocklist.map(java.util.regex.Pattern.quote)
          .mkString("|") + ")\\b"
        base && !lower(textCol).rlike(pat)
      }
    }
    df.withColumn("c4_text", cleanText)
      .withColumn("c4_lines_kept", size(kept))
      .withColumn("c4_lines_total", size(lines))
      .filter(pageOk)
  }

  // --- Repetition filters ----------------------------------------------------

  /**
   * Repetition signals from the Gopher/MassiveText quality rules (Rae et al.
   * 2021, "Scaling Language Models", table A1): documents dominated by
   * repeated lines or by one recurring n-gram are boilerplate/spam and get
   * filtered before training.
   *
   * Returns (id, n_lines, dup_line_frac, top_bigram_frac):
   *  - `dup_line_frac`  = 1 − distinct(non-empty lines)/lines — per-row
   *    array math, no shuffle;
   *  - `top_bigram_frac` = occurrences of the most frequent word bigram /
   *    total bigrams — explode + two partial-aggregated groupBys keyed on
   *    (id, bigram) then (id): the only shuffles, both map-side combinable,
   *    so the shape survives any corpus size.
   */
  /**
   * CCNet-style language-model quality scoring (Wenzek et al. 2020,
   * arXiv:1911.00359 §4.3 — documents ranked by the perplexity of an n-gram
   * LM; low perplexity = close to the reference corpus, the head/middle/tail
   * buckets fall out of this score). The KenLM of the paper becomes a word
   * BIGRAM model with add-α smoothing trained on `train` (CCNet trains on
   * Wikipedia; the default trains on the scored corpus itself, which ranks
   * outliers identically):
   *
   *   P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + α) / (c(w_{i-1}) + α·V)
   *
   * with V = distinct-unigram vocabulary size and c(·) = corpus occurrence
   * counts. Per-doc score = cross-entropy H = mean over interior bigram
   * positions of −log2 P (docs under 2 tokens have no positions and drop
   * out); perplexity = 2^H. Backoff/BOS/EOS of full KenLM are omitted —
   * smoothing alone keeps unseen bigrams finite, which is all the RANKING
   * needs.
   *
   * Spark shape: two partial-aggregated explode→groupBys build the count
   * tables (map-side combine); scoring joins each doc position to the
   * bigram and context counts by key (rows carry (id, bigram) only) and
   * reduces per doc — every shuffle is an equi-join/agg on a token key, the
   * same shape as the repetition signals above, so it survives any corpus
   * size. V is one distributed count (a scalar, not a collect).
   */
  def lmPerplexity(df: org.apache.spark.sql.DataFrame, idCol: Column, textCol: Column,
                   alpha: Double = 0.4,
                   train: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    def toks(frame: org.apache.spark.sql.DataFrame, id: Column, t: Column) =
      frame.select(id.as("id"), Tokenize.word(t).as("__toks"))
    val score = toks(df, idCol, textCol)
    val corpus = train.map(toks(_, idCol, textCol)).getOrElse(score)
    val uni = corpus.select(explode(col("__toks")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).cast("double").as("__cw"))
    val vocab = uni.count().toDouble
    val bg = corpus.filter(size(col("__toks")) >= 2)
      .select(explode(Tokenize.tokenNgrams(col("__toks"), 2)).as("__bg"))
      .groupBy(col("__bg")).agg(count(lit(1)).cast("double").as("__cbg"))
    val positions = score.filter(size(col("__toks")) >= 2)
      .select(col("id"), explode(Tokenize.tokenNgrams(col("__toks"), 2)).as("__bg"))
      .withColumn("__ctx", element_at(split(col("__bg"), " "), 1))
    positions
      .join(bg, Seq("__bg"), "left")
      .join(uni, positions("__ctx") === uni("__w"), "left")
      .withColumn("__nll", -log2(
        (coalesce(col("__cbg"), lit(0.0)) + alpha) /
          (coalesce(col("__cw"), lit(0.0)) + alpha * vocab)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(col("__nll")).as("cross_entropy"))
      .withColumn("perplexity", pow(lit(2.0), col("cross_entropy")))
  }

  /**
   * The COMPLETE Gopher/MassiveText repetition rule set (Rae et al. 2021,
   * arXiv:2112.11446, Table A1 — the 13 repetition filters; also shipped by
   * DataTrove's GopherRepetitionFilter and RedPajama-v2's signals):
   *
   *   - duplicate line / paragraph fraction          (> 0.30 / 0.30 filtered)
   *   - duplicate line / paragraph CHARACTER fraction (> 0.20 / 0.20)
   *   - top 2/3/4-gram character fraction            (> 0.20 / 0.18 / 0.16)
   *   - duplicate 5..10-gram character fraction      (> 0.15 … 0.10)
   *
   * Definitions (fixed here, replayed by the oracle):
   *   words = whitespace tokens; all char counts are WORD chars (no spaces);
   *   dup element frac      = (elements − distinct elements) / elements;
   *   dup element char frac = (Σ chars − Σ distinct-element chars) / Σ chars;
   *   top n-gram char frac  = (gram word-chars × occurrences) / total word
   *     chars, gram = most frequent (ties → lexicographically smallest);
   *   dup n-gram char frac  = chars of word positions covered by ANY n-gram
   *     occurring ≥ 2 times (all occurrences, positions unioned) / total
   *     word chars — the RedPajama position-marking formulation.
   *
   * Spark shape: line/paragraph metrics are per-row array math (zero
   * shuffle). n-gram metrics: posexplode → per-doc window (9 leads, one
   * shuffle keyed on id, partitions bounded by doc length) → one explode of
   * the 9 gram arities → partial-aggregated groupBy(id, n, gram). Covered
   * positions union via explode + distinct + equi-join back to word lengths.
   * Every shuffle is keyed on (id[, n, gram]) — no all-pairs, no global
   * window — so the shape survives any corpus size.
   */
  /**
   * CCNet head/middle/tail bucketing (Wenzek et al. 2020): split each
   * language's documents into perplexity terciles under the LM —
   * `head` = lowest perplexity (cleanest), `tail` = highest. The standard
   * corpus-quality partition CCNet ships; pipelines keep head+middle or
   * re-weight by bucket.
   *
   * Scale shape: [[lmPerplexity]]'s aggregates + ONE `ntile` window
   * PARTITIONED by language — each language ranks inside its own hash
   * partition, no global window. Ties order by (rounded perplexity, id) so
   * any engine reproduces the terciles exactly.
   *
   * Returns (id, lang, n_bigrams, perplexity, ppl_bucket).
   */
  def ccnetBuckets(df: org.apache.spark.sql.DataFrame, idCol: Column,
                   textCol: Column, langCol: Column,
                   alpha: Double = 0.4): org.apache.spark.sql.DataFrame = {
    val ppl = lmPerplexity(df, idCol, textCol, alpha)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(round(col("perplexity"), 4).asc, col("id").asc)
    ppl.join(df.select(idCol.as("id"), langCol.as("lang")), Seq("id"))
      .withColumn("__t", ntile(3).over(w))
      .withColumn("ppl_bucket", element_at(
        array(lit("head"), lit("middle"), lit("tail")), col("__t")))
      .drop("__t")
  }

  def gopherRepetition(df: org.apache.spark.sql.DataFrame,
                       idCol: Column, textCol: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(idCol.as("id"), textCol.as("__t"),
      Tokenize.whitespace(textCol).as("__toks"))

    // per-row duplicate-element math: frac + char frac for an element array
    def dupFracs(elems: Column): (Column, Column) = {
      val n = size(elems)
      val nd = size(array_distinct(elems))
      val tc = aggregate(elems, lit(0L), (a, e) => a + length(e))
      val dc = aggregate(array_distinct(elems), lit(0L), (a, e) => a + length(e))
      (when(n > 0, (n - nd).cast("double") / n).otherwise(lit(0.0)),
       when(tc > 0, (tc - dc).cast("double") / tc).otherwise(lit(0.0)))
    }
    val lines = filter(split(col("__t"), "\n"), l => length(trim(l)) > 0)
    val paras = filter(split(col("__t"), "\n\n"), p => length(trim(p)) > 0)
    val (dlf, dlcf) = dupFracs(lines)
    val (dpf, dpcf) = dupFracs(paras)
    val rowStats = base.select(col("id"),
      aggregate(col("__toks"), lit(0L), (a, w) => a + length(w)).as("__twc"),
      dlf.as("dup_line_frac"), dlcf.as("dup_line_char_frac"),
      dpf.as("dup_para_frac"), dpcf.as("dup_para_char_frac"))

    // n-gram bed: one posexplode, one per-doc window carrying 9 leads, one
    // explode over the 9 arities — every gram row is (id, pos, n, gram, gchars)
    val words = base.select(col("id"), posexplode(col("__toks")))
      .toDF("id", "__pos", "__w")
    val byDoc = Window.partitionBy(col("id")).orderBy(col("__pos"))
    val leadCols = (1 to 9).map(k => lead(col("__w"), k).over(byDoc).as(s"__w$k"))
    val withLeads = words.select(col("id") +: col("__pos") +: col("__w") +: leadCols: _*)
    val gramStructs = array((2 to 10).map { n =>
      val ws: Seq[Column] = col("__w") +: (1 until n).map(k => col(s"__w$k"))
      struct(lit(n).as("n"), concat_ws(" ", ws: _*).as("gram"),
        ws.map(length).reduce(_ + _).cast("long").as("gchars"))
    }: _*)
    val grams = withLeads
      .select(col("id"), col("__pos"), explode(gramStructs).as("g"))
      .filter(col("g.gchars").isNotNull) // any null lead → gram runs off the doc
      .select(col("id"), col("__pos"), col("g.n").as("n"),
        col("g.gram").as("gram"), col("g.gchars").as("gchars"))

    // top 2/3/4-gram: most frequent gram per (id, n), smallest gram on ties;
    // the rank window partitions on (id, n) — bounded by per-doc gram counts
    val counts = grams.filter(col("n") <= 4)
      .groupBy(col("id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("__cnt"), min(col("gchars")).as("__gchars"))
    val rank = Window.partitionBy(col("id"), col("n"))
      .orderBy(col("__cnt").desc, col("gram").asc)
    val topWide = counts.withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") === 1)
      .groupBy(col("id"))
      .agg(sum(when(col("n") === 2, col("__gchars") * col("__cnt"))).as("__top2"),
        sum(when(col("n") === 3, col("__gchars") * col("__cnt"))).as("__top3"),
        sum(when(col("n") === 4, col("__gchars") * col("__cnt"))).as("__top4"))

    // duplicate 5..10-grams: grams occurring ≥2× in a doc mark all their
    // word positions; union positions, then sum the marked words' lengths
    val dupOcc = grams.filter(col("n") >= 5)
      .groupBy(col("id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("__cnt"), collect_list(col("__pos")).as("__ps"))
      .filter(col("__cnt") > 1)
    val covered = dupOcc
      .select(col("id"), col("n"), explode(col("__ps")).as("__p"))
      .select(col("id"), col("n"),
        explode(sequence(col("__p"), col("__p") + col("n") - 1)).as("__cp"))
      .distinct()
    val dupWide = covered
      .join(words.select(col("id"), col("__pos").as("__cp"),
        length(col("__w")).cast("long").as("__wl")), Seq("id", "__cp"))
      .groupBy(col("id"), col("n")).agg(sum(col("__wl")).as("__dchars"))
      .groupBy(col("id"))
      .agg(sum(when(col("n") === 5, col("__dchars"))).as("__d5"),
        sum(when(col("n") === 6, col("__dchars"))).as("__d6"),
        sum(when(col("n") === 7, col("__dchars"))).as("__d7"),
        sum(when(col("n") === 8, col("__dchars"))).as("__d8"),
        sum(when(col("n") === 9, col("__dchars"))).as("__d9"),
        sum(when(col("n") === 10, col("__dchars"))).as("__d10"))

    def frac(c: String): Column =
      when(col("__twc") > 0, coalesce(col(c).cast("double"), lit(0.0)) / col("__twc"))
        .otherwise(lit(0.0))
    val joined = rowStats
      .join(topWide, Seq("id"), "left").join(dupWide, Seq("id"), "left")
      .select(col("id"),
        col("dup_line_frac"), col("dup_line_char_frac"),
        col("dup_para_frac"), col("dup_para_char_frac"),
        frac("__top2").as("top_2gram_char_frac"),
        frac("__top3").as("top_3gram_char_frac"),
        frac("__top4").as("top_4gram_char_frac"),
        frac("__d5").as("dup_5gram_char_frac"),
        frac("__d6").as("dup_6gram_char_frac"),
        frac("__d7").as("dup_7gram_char_frac"),
        frac("__d8").as("dup_8gram_char_frac"),
        frac("__d9").as("dup_9gram_char_frac"),
        frac("__d10").as("dup_10gram_char_frac"))
    // Table A1 thresholds: a doc is filtered when ANY fraction exceeds its cap
    joined.withColumn("gopher_rep_pass",
      col("dup_line_frac") <= 0.30 && col("dup_para_frac") <= 0.30 &&
      col("dup_line_char_frac") <= 0.20 && col("dup_para_char_frac") <= 0.20 &&
      col("top_2gram_char_frac") <= 0.20 && col("top_3gram_char_frac") <= 0.18 &&
      col("top_4gram_char_frac") <= 0.16 &&
      col("dup_5gram_char_frac") <= 0.15 && col("dup_6gram_char_frac") <= 0.14 &&
      col("dup_7gram_char_frac") <= 0.13 && col("dup_8gram_char_frac") <= 0.12 &&
      col("dup_9gram_char_frac") <= 0.11 && col("dup_10gram_char_frac") <= 0.10)
  }

  def repetitionStats(df: org.apache.spark.sql.DataFrame,
                      idCol: Column, textCol: Column): org.apache.spark.sql.DataFrame = {
    val base = df.select(idCol.as("id"), textCol.as("__t"))
      .withColumn("__lines",
        filter(split(col("__t"), "\n"), l => length(trim(l)) > 0))
      .withColumn("__toks", Tokenize.word(col("__t")))
    val lineStats = base.select(col("id"),
      size(col("__lines")).as("n_lines"),
      size(array_distinct(col("__lines"))).as("__n_distinct"))
    val bigrams = base
      .filter(size(col("__toks")) >= 2) // tokenNgrams' short-doc fallback is not a bigram
      .select(col("id"), explode(Tokenize.tokenNgrams(col("__toks"), 2)).as("__bg"))
    val bgStats = bigrams.groupBy(col("id"), col("__bg")).count()
      .groupBy(col("id"))
      .agg(max(col("count")).as("__top"), sum(col("count")).as("__total"))
    lineStats.join(bgStats, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        when(col("n_lines") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("__n_distinct").cast("double") / col("n_lines"))
          .as("dup_line_frac"),
        coalesce(col("__top").cast("double") / col("__total"), lit(0.0))
          .as("top_bigram_frac"))
  }
}
