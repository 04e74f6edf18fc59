package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{TermFreqs, TextHashFunctions}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.Collection
import graft.model.{CollectionSchema, PropType, Property, Tokenization}
import graft.operators.Postings
import graft.pipeline.{Dedup, TextAnalysis}
import graft.streaming.StreamDedup
import graft.text.Tokenize

/** The native text kernels (ShingleHashes, WordShingles, LshBandKeys,
 * GopherCounts, TextQualityCounts, AsciiFastLower, WordTokens, TermFreqs)
 * against the regex, lambda and aggregation column forms they replaced, kept
 * here as the reference; each kernel also
 * agrees between generated code and interpreted evaluation. The inputs are
 * UTF-8 bytes cast to string, hand-picked edge cases plus a seeded fuzz, so
 * malformed sequences reach the kernels as stored. */
class TextKernelsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The column forms the kernels replaced, as they were. */
  private object Ref {
    /** `Tokenize.word` before the WordTokens kernel. */
    def word(text: Column): Column = regexp_extract_all(lower(text), lit("[\\p{L}\\p{N}]+"), lit(0))

    /** `Tokenize.whitespace` before array_remove. */
    def whitespace(text: Column): Column = filter(split(text, "\\s+"), t => length(t) > 0)

    def shingleHashes(tokens: Column, n: Int): Column = {
      val h = transform(tokens, t => xxhash64(t))
      val len = size(h)
      val windows = (0 until n).map(o => slice(h, lit(o + 1), greatest(len - (n - 1), lit(0))))
      val combined = windows.reduce((a, b) => zip_with(a, b, (x, y) => xxhash64(x, y)))
      when(tokens.isNull, lit(null))
        .when(len === 0, array().cast("array<bigint>"))
        .when(len < n, array(aggregate(h, lit(42L), (acc, x) => xxhash64(acc, x))))
        .otherwise(combined)
    }

    def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
      array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          slice(signature, b * rowsPerBand + 1, rowsPerBand)), lit(b))
      }: _*)

    def punctRatio(text: Column): Column = {
      val nonSpace = length(regexp_replace(text, "\\s+", "")).cast("double")
      val punct = length(regexp_replace(text, "[\\p{L}\\p{N}\\s]+", "")).cast("double")
      when(nonSpace === 0, 0.0).otherwise(punct / nonSpace)
    }

    def stopwordRatio(text: Column): Column = {
      val toks = word(text)
      val stopArr = array(Tokenize.StopwordsEn.toSeq.sorted.map(lit): _*)
      when(size(toks) === 0, 0.0)
        .otherwise(size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks))
    }

    def meanTokenLen(text: Column): Column = {
      val toks = word(text)
      when(size(toks) === 0, 0.0)
        .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / size(toks))
    }

    /** TextQualityCounts' fields, in its field order. */
    def qualityCounts(text: Column): Seq[Column] = {
      val toks = word(text)
      val stopArr = array(Tokenize.StopwordsEn.toSeq.sorted.map(lit): _*)
      Seq(
        size(toks),
        size(filter(toks, t => array_contains(stopArr, t))),
        aggregate(toks, lit(0), (a, t) => a + length(t)),
        length(regexp_replace(text, "\\s+", "")),
        length(regexp_replace(text, "[\\p{L}\\p{N}\\s]+", "")))
    }

    def qualityScore(text: Column): Column = {
      val nToks = size(word(text)).cast("double")
      val lengthOk = least(nToks / 50.0, lit(1.0))
      val punctOk = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
      val stopOk = least(stopwordRatio(text) * 10.0, lit(1.0))
      (lengthOk + punctOk + stopOk) / 3.0
    }

    /** gopherFilter's per-document counts, in GopherCounts' field order. */
    def gopherCounts(textCol: Column): Seq[Column] = {
      val words = whitespace(textCol)
      val lines = filter(split(textCol, "\n"), l => length(trim(l)) > 0)
      val required = array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
      Seq(
        size(words),
        aggregate(words, lit(0), (acc, w) => acc + length(w)),
        (length(textCol) - length(regexp_replace(textCol, "#|…", ""))) +
          (size(split(textCol, "\\.\\.\\.", -1)) - 1),
        size(lines),
        size(filter(lines, l => trim(l).rlike("^([\\u2022\\u2023\\u25E6\\u2043\\u2219*-])"))),
        size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))),
        size(filter(words, w => w.rlike("[\\p{L}]"))),
        size(filter(required, r => array_contains(transform(words, w => lower(w)), r))))
    }

    def gopherFilter(df: DataFrame, textCol: Column): DataFrame = {
      val words = whitespace(textCol)
      val nWords = size(words).cast("double")
      val meanLen = when(nWords > 0,
        aggregate(words, lit(0.0), (acc, w) => acc + length(w)) / nWords).otherwise(lit(0.0))
      val nSymbols = (length(textCol) - length(regexp_replace(textCol, "#|…", ""))).cast("double") +
        (size(split(textCol, "\\.\\.\\.", -1)) - 1).cast("double")
      val lines = filter(split(textCol, "\n"), l => length(trim(l)) > 0)
      val nLines = size(lines).cast("double")
      val bulletFrac = when(nLines > 0,
        size(filter(lines, l => trim(l).rlike("^([\\u2022\\u2023\\u25E6\\u2043\\u2219*-])"))).cast("double") / nLines)
        .otherwise(lit(0.0))
      val ellipsisFrac = when(nLines > 0,
        size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nLines)
        .otherwise(lit(0.0))
      val alphaFrac = when(nWords > 0,
        size(filter(words, w => w.rlike("[\\p{L}]"))).cast("double") / nWords).otherwise(lit(0.0))
      val required = array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
      val requiredHits = size(filter(required,
        r => array_contains(transform(words, w => lower(w)), r)))
      val rules = Seq(
        "gopher_word_count"  -> (nWords >= 50 && nWords <= 100000),
        "gopher_mean_len"    -> (meanLen >= 3.0 && meanLen <= 10.0),
        "gopher_symbol"      -> (when(nWords > 0, nSymbols / nWords).otherwise(lit(0.0)) <= 0.1),
        "gopher_lines"       -> (bulletFrac < 0.9 && ellipsisFrac < 0.3),
        "gopher_alpha"       -> (alphaFrac >= 0.8),
        "gopher_required"    -> (requiredHits >= 2))
      val withRules = rules.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
      withRules.withColumn("gopher_pass", rules.map(r => col(r._1)).reduce(_ && _))
    }
  }

  private val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
  private val texts: Seq[String] = Seq(
    null, "", " ", "    ", "\t", "\t\t \n \n",
    "tabs\tbetween\twords and\u000Bvertical\ftab\rcr",
    "line one\r\nline two\r\n", "it ends...\r", "it ends...\r\nnext line", "ends ... \r",
    "nbsp\u00A0joined and\u2028line sep\u2029para", "\u00A0\u00A0", "dots...\u2028", "dots...\u0085",
    "bullet\u00A0• after nbsp\n\u00A0- dash after nbsp",
    "wait…", "....", "......", "# hash #tag ## …", "...", "…\n…\n…",
    "• bullet one\n- dash\n* star\n  - indented dash\n‣ tri\n◦ white\n⁃ hyph\n∙ op",
    "𝐀𝐁 math letters 𝟙𝟚 math digits",
    "٣٤٥ ١٢ arabic-indic digits, ½ vulgar half",
    "İstanbul İS İthe THE The", "\u212Aelvin \u212AELVIN",
    "ΟΔΟΣ ΣΟΦΟΣ. Σ ΑΣ ΣΑ Σ\u0301Σ",
    "one", "one two", "one two three", "one two three four",
    "The THE the be To of And that HAVE with wiTH",
    "   leading and trailing   ", "a\n\nb\n \n", "...\n...\n...\nok line",
    "Ünïcödé wörds, çà et là; ¿qué? ¡sí!", "数据 データ 한국어 mixed 123 4.5",
    "it's the end of the world, isn't it? they're there, and THEIR things...",
    s"$fifty the be to of and\n- b1\n- b2\n- b3",
    s"$fifty the be " + (1 to 12).map(_ => "#").mkString(" "),
    (1 to 60).map(_ => "a").mkString(" ") + " the be",
    // U+FFFD as text, and supplementary-plane letters and digits next to ASCII
    "\uFFFD", "a\uFFFDthe \uFFFD...", "a𝐀b 1𝟙2 𝐀the the𝟙 x𐐀y 𐐀𐐨 😀the😀 be😀",
    // a lone \r, and U+0085/U+2028/U+2029 after "..." and "…"
    "\r", "a\rb", " \r ", "x...\u0085", "x...\u2028", "x …\u2029", "...\u0085\n…\u2028 \n...\u2029\r",
    "x...\u0085\u0085", "x...\r\u0085", "\u0085...", "- ...\r",
    // stopwords at token edges
    "the,end (a) [it] it's and-the THE. xthe thex theirs their' a1 1a to_be of\u0301 the\u0000",
    "\u0000the the\u0000 \u0000 that\u00A0have with\u2028be")

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Malformed UTF-8 on which Spark's own `length` and Java's decode agree
   * (the gopher reference counts symbols through `length` of the raw bytes). */
  private val malformed: Seq[Array[Byte]] = Seq(
    bytes(0xFF), bytes(0x80), bytes(0xC0, 0x80), bytes(0xED, 0xA0, 0x80),
    utf8("end") ++ bytes(0xE2, 0x80),
    utf8("the ") ++ bytes(0xFF) ++ utf8(" be... ") ++ bytes(0xC0, 0x80) ++ utf8("\n- x ") ++
      bytes(0xBF) ++ utf8("...\r"),
    utf8("a") ++ bytes(0xF5) ++ utf8("b #") ++ bytes(0xED, 0xBF, 0xBF) ++ utf8("…the\n") ++ bytes(0xC1))

  /** A seeded fuzz of mixed-alphabet texts, a quarter of them with malformed
   * bytes spliced in. */
  private val fuzz: Seq[Array[Byte]] = {
    val pieces = IndexedSeq(
      "a", "Z", "q", "7", "0", " ", " ", "  ", "\t", "\n", "\n", "\r", "\r\n", "\u000B", "\f",
      ".", "..", "...", "#", "…", "-", "*", "•", "‣", "◦", "⁃", "∙", ",", "'", "!", "?", "\u0000",
      "é", "ß", "ª", "½", "\u00A0", "\u0085", "\u2028", "\u2029", "\uFFFD",
      "İ", "\u212A", "Σ", "ς", "Ж", "ж", "数", "デ", "한", "٣", "\u0301", "ǅ", "ʰ", "Ⅻ",
      "𝐀", "𝟙", "😀", "𐐀", "𐐨", "𝒳",
      "the", "The", "THE", "be", "to", "of", "and", "that", "have", "with", "their", "these",
      "an", "it", "word", "x")
    val bad = IndexedSeq(bytes(0xFF), bytes(0x80), bytes(0xBF), bytes(0xC0, 0x80), bytes(0xC1),
      bytes(0xF5), bytes(0xED, 0xA0, 0x80), bytes(0xED, 0xBF, 0xBF))
    val r = new scala.util.Random(1309)
    Seq.fill(2400) {
      val out = new java.io.ByteArrayOutputStream()
      val malformedText = r.nextInt(4) == 0
      for (_ <- 0 until (if (r.nextInt(10) == 0) r.nextInt(160) else r.nextInt(40)))
        out.write(if (malformedText && r.nextInt(8) == 0) bad(r.nextInt(bad.size))
          else utf8(pieces(r.nextInt(pieces.size))))
      out.toByteArray
    }
  }

  private val inputs: Seq[Array[Byte]] =
    texts.map(t => if (t == null) null else utf8(t)) ++ malformed ++ fuzz

  /** Input `id`, printable, for failure messages. */
  private def describe(id: Long): String = Option(inputs(id.toInt)).map(_.map { b =>
    if (b >= 0x20 && b < 0x7F) b.toChar.toString else f"\\x${b & 0xFF}%02X" }.mkString).toString

  /** The inputs as a frame of strings (the bytes cast, unvalidated) that is
   * not a local relation (which the optimizer would evaluate interpreted at
   * planning time), so projections over it run as generated code. */
  private def textFrame: DataFrame =
    inputs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bytes")
      .select($"id", $"bytes".cast("string").as("text")).repartition(2)

  private def rows(df: DataFrame): Map[Long, Row] =
    df.collect().map(r => r.getLong(0) -> r).toMap

  /** `build`'s rows with generated code and interpreted; asserts both agree
   * and that the generated run ran whole-stage code. */
  private def inBothModes(build: => DataFrame): Map[Long, Row] = {
    val df = build
    val generated = rows(df)
    val plan = df.queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined, plan.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted =
      try rows(build)
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    assert(generated == interpreted)
    generated
  }

  /** Column-wise equality of two row maps, with the failing id and column. */
  private def assertSameRows(got: Map[Long, Row], want: Map[Long, Row]): Unit = {
    assert(got.keySet == want.keySet)
    for ((id, w) <- want; i <- 1 until w.length)
      assert(got(id).get(i) == w.get(i), s"text ${describe(id)} column $i")
  }

  private def longs(r: Row, i: Int): Option[Seq[Long]] =
    Option(r.getSeq[Long](i)).map(_.toSeq)

  test("ShingleHashes matches the zip_with/aggregate form, n = 1..5, short and null token arrays") {
    val tokenArrays: Seq[Option[Seq[String]]] = Seq(None, Some(Nil), Some(Seq("")),
      Some(Seq("a")), Some(Seq("a", "b")), Some(Seq("a", "b", "c")), Some(Seq("a", "b", "c", "d")),
      Some(Seq("x", null, "y", "")), Some(Seq("İ", "𝐀", "…")))
    val arrays = tokenArrays.zipWithIndex.map { case (t, i) => (i.toLong + 1000, t) }.toDF("id", "toks")
    val fromTexts = textFrame.select($"id", Tokenize.word($"text").as("toks"))
    val bed = arrays.unionByName(fromTexts).repartition(2)
    for (n <- 1 to 5) {
      val got = inBothModes(bed.select($"id", Dedup.shingleHashes($"toks", n)))
      val want = rows(bed.select($"id", Ref.shingleHashes($"toks", n)))
      assert(got.keySet == want.keySet)
      for ((id, w) <- want) assert(longs(got(id), 1) == longs(w, 1), s"n=$n id=$id")
    }
  }

  test("wordShingles equals array_distinct(shingleHashes(Tokenize.word(text)))") {
    // the malformed bytes reach the kernels as stored, not replaced by the cast
    val stored = textFrame.select($"id", $"text".cast("binary")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1)).map(_.toSeq)).toMap
    assert(inputs.indices.forall(i => stored(i.toLong) == Option(inputs(i)).map(_.toSeq)))
    for (n <- 1 to 4) {
      val got = inBothModes(textFrame.select($"id", Dedup.wordShingles($"text", n)))
      val want = rows(textFrame.select($"id",
        array_distinct(Ref.shingleHashes(Ref.word($"text"), n))))
      for ((id, w) <- want) assert(longs(got(id), 1) == longs(w, 1), s"n=$n ${describe(id)}")
    }
  }

  test("LshBandKeys matches xxhash64(concat_ws(slice), b), incl. short and null-laned signatures") {
    val sigs = textFrame
      .select($"id", Dedup.minhashSignature(Dedup.wordShingles($"text", 3), 128).as("sig"))
      .filter($"sig".isNotNull)
    val odd = Seq[(Long, Seq[java.lang.Long])](
      (2000L, Nil), (2001L, Seq(1L, 2L, 3L)), (2002L, Seq(1L, null, 3L, null, 5L)),
      (2003L, (1L to 130L).map(java.lang.Long.valueOf)),
      (2004L, Seq(Long.MinValue, -1L, 0L, Long.MaxValue).map(java.lang.Long.valueOf)))
      .toDF("id", "sig")
    val bed = sigs.unionByName(odd).repartition(2)
    for ((bands, r) <- Seq((32, 4), (3, 2), (1, 5))) {
      val got = inBothModes(bed.select($"id", Dedup.bandKeys($"sig", bands, r)))
      val want = rows(bed.select($"id", Ref.bandKeys($"sig", bands, r)))
      for ((id, w) <- want) assert(longs(got(id), 1) == longs(w, 1), s"$bands x $r id=$id")
    }
    // a null signature has null keys (the concat_ws form hashed "" per band)
    val nullSig = Seq((1L, Option.empty[Seq[Long]])).toDF("id", "sig")
    assert(nullSig.select(Dedup.bandKeys($"sig", 4, 2)).head().isNullAt(0))
  }

  test("GopherCounts equals the array-form counts, field by field") {
    val fields = org.apache.spark.sql.graft.TextKernels.GopherSchema.fieldNames.toSeq
    val got = inBothModes(textFrame.select($"id" +:
      fields.map(f => org.apache.spark.sql.graft.TextHashFunctions.gopherCounts($"text").getField(f)): _*))
    val want = rows(textFrame.filter($"text".isNotNull).select($"id" +: Ref.gopherCounts($"text"): _*))
    for ((id, w) <- want; i <- 1 until w.length)
      assert(got(id).get(i) == w.get(i),
        s"${fields(i - 1)} of ${describe(id)}: got ${got(id).get(i)}, want ${w.get(i)}")
    val nullId = inputs.indexOf(null).toLong
    assert((1 to fields.size).forall(got(nullId).isNullAt))
  }

  test("TextQualityCounts equals the regex/array-form counts, field by field") {
    val fields = org.apache.spark.sql.graft.TextKernels.QualitySchema.fieldNames.toSeq
    val got = inBothModes(textFrame.select($"id" +: fields.map(f =>
      org.apache.spark.sql.graft.TextHashFunctions.textQualityCounts($"text").getField(f)): _*))
    val want = rows(textFrame.filter($"text".isNotNull).select($"id" +: Ref.qualityCounts($"text"): _*))
    for ((id, w) <- want; i <- 1 until w.length)
      assert(got(id).get(i) == w.get(i),
        s"${fields(i - 1)} of ${describe(id)}: got ${got(id).get(i)}, want ${w.get(i)}")
    val nullId = inputs.indexOf(null).toLong
    assert((1 to fields.size).forall(got(nullId).isNullAt))
  }

  test("gopherFilter's rule columns equal the lambda form's on every text, incl. null") {
    val ruleCols = Seq("gopher_word_count", "gopher_mean_len", "gopher_symbol",
      "gopher_lines", "gopher_alpha", "gopher_required", "gopher_pass").map(col)
    val got = inBothModes(TextAnalysis.gopherFilter(textFrame, $"text").select($"id" +: ruleCols: _*))
    val want = rows(Ref.gopherFilter(textFrame, $"text").select($"id" +: ruleCols: _*))
    assertSameRows(got, want)
  }

  test("quality signals equal the regex/lambda forms' doubles exactly, incl. null") {
    def signals(punct: Column => Column, stop: Column => Column, mean: Column => Column,
                quality: Column => Column): Seq[Column] = {
      val t = $"text"
      Seq(punct(t), stop(t), mean(t), quality(t))
    }
    val got = inBothModes(textFrame.select($"id" +: signals(TextAnalysis.punctRatio,
      TextAnalysis.stopwordRatio, TextAnalysis.meanTokenLen, TextAnalysis.qualityScore): _*))
    val want = rows(textFrame.select($"id" +: signals(Ref.punctRatio, Ref.stopwordRatio,
      Ref.meanTokenLen, Ref.qualityScore): _*))
    assertSameRows(got, want)
  }

  private def bin(r: Row): Option[Seq[Byte]] = Option(r.getAs[Array[Byte]](1)).map(_.toSeq)
  private def strs(r: Row): Option[Seq[String]] = Option(r.getSeq[String](1)).map(_.toSeq)

  test("AsciiFastLower equals lower(text) byte for byte, with ICU case mapping on and off") {
    val key = "spark.sql.icu.caseMappings.enabled"
    for (icu <- Seq("true", "false")) {
      spark.conf.set(key, icu)
      try {
        val got = inBothModes(textFrame.select($"id", TextHashFunctions.lower($"text").cast("binary")))
        val want = rows(textFrame.select($"id", lower($"text").cast("binary")))
        assert(got.keySet == want.keySet)
        for ((id, w) <- want) assert(bin(got(id)) == bin(w), s"icu=$icu ${describe(id)}")
      } finally spark.conf.unset(key)
    }
  }

  test("WordTokens equals regexp_extract_all(lower(text), [\\p{L}\\p{N}]+), incl. malformed and null") {
    val got = inBothModes(textFrame.select($"id", Tokenize.word($"text")))
    val want = rows(textFrame.select($"id", Ref.word($"text")))
    assert(got.keySet == want.keySet)
    for ((id, w) <- want) assert(strs(got(id)) == strs(w), describe(id))
    assert(got(inputs.indexOf(null).toLong).isNullAt(1))
  }

  test("TermFreqs equals the explode/groupBy counts and size(array_distinct), in first-occurrence order") {
    val tokenArrays: Seq[Option[Seq[String]]] = Seq(None, Some(Nil), Some(Seq("")),
      Some(Seq("a", "a", "b", "a")), Some(Seq("x", null, "y", null, "x", "")),
      Some(Seq("\u0130", "i\u0307", "k", "\u212A", "K", "k")))
    val bed = tokenArrays.zipWithIndex.map { case (t, i) => (i.toLong + 100000, t) }
      .toDF("id", "toks")
      .unionByName(textFrame.select($"id", Tokenize.word($"text").as("toks")))
      .unionByName(textFrame.select(($"id" + 10000).as("id"), Tokenize.lowercase($"text").as("toks")))
      .repartition(2)
    val got = inBothModes(bed.select($"id", TextHashFunctions.termFreqs($"toks")))
    // the per-(doc, term) aggregation Postings.build ran before the kernel
    val counted = bed.select($"id", explode($"toks").as("term"))
      .groupBy($"id", $"term").agg(count(lit(1)).as("tf")).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (Option(r.getString(1)), r.getLong(2).toInt)).toSet }
    val distinct = rows(bed.select($"id", size(array_distinct($"toks"))))
    for ((id, r) <- rows(bed)) {
      val pairs = Option(got(id).getSeq[Row](1)).map(_.map(p => (Option(p.getString(0)), p.getInt(1))))
      pairs match {
        case None => assert(r.isNullAt(1), s"id=$id")
        case Some(ps) =>
          assert(ps.toSet == counted.getOrElse(id, Set.empty), s"id=$id")
          assert(ps.size == distinct(id).getInt(1), s"id=$id")
          assert(ps.map(_._1) == r.getSeq[String](1).map(Option(_)).distinct, s"order, id=$id")
      }
    }
  }

  /** The optimized and executed plans of the queries `body` runs, once a
   * query named `last` has reported (listeners are called asynchronously). */
  private def plansOf(last: String)(body: => Unit): Seq[(String, String, SparkPlan)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.add((name, qe.optimizedPlan.toString, qe.executedPlan))
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30e9.toLong
      def done = seen.toArray.exists(_.asInstanceOf[(String, String, SparkPlan)]._1 == last)
      while (!done && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val plans = ArrayBuffer.empty[(String, String, SparkPlan)]
    seen.forEach(p => plans += p)
    assert(plans.exists(_._1 == last), plans.map(_._1))
    plans.toSeq
  }

  /** Shingle-kernel nodes of each plan tree `plan` holds: the plan itself
   * (across its adaptive stages), then every cached plan it scans. */
  private def shingleKernels(plan: SparkPlan): Seq[Int] = {
    val kernels = Set("shingle_hashes", "word_shingles")
    val own = collect(plan) { case p => p }
      .map(_.expressions.map(_.collect { case e if kernels(e.prettyName) => e }.size).sum).sum
    own +: collect(plan) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      .flatMap(shingleKernels)
  }

  test("plans: gopherFilter, qualityScore and minhashDuplicates evaluate no lambda") {
    def lambdaFree(df: DataFrame): Boolean =
      !df.queryExecution.optimizedPlan.toString.contains("lambdafunction")
    // the check can see a lambda: the replaced forms have them
    assert(!lambdaFree(Ref.gopherFilter(textFrame, $"text")))
    assert(lambdaFree(TextAnalysis.gopherFilter(textFrame, $"text")))
    assert(lambdaFree(textFrame.select(TextAnalysis.qualityScore($"text"))))

    // minhashDuplicates returns a checkpoint: inspect every query it runs.
    // The docs are read from parquet: over a local relation the optimizer
    // would push a filter into the relation and evaluate it while planning,
    // out of sight of the executed plans
    val dir = Gate.tempDir("kernel-plans")
    textFrame.filter($"text".isNotNull).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val minhash = plansOf("localCheckpoint") {
      Dedup.minhashDuplicates(docs, $"id", $"text", threshold = 0.5)
    }
    minhash.foreach { case (name, plan, _) =>
      assert(!plan.contains("lambdafunction"), s"$name: $plan") }

    // the shingle kernel runs once per document: each of the four shingle
    // builds' executed plans holds exactly one kernel node (an emptiness
    // filter pushed below the projection evaluates it a second time)
    val incremental = plansOf("localCheckpoint") {
      Dedup.minhashIncrementalDuplicates(docs, $"id", $"text", $"id" % 3 === 0,
        threshold = 0.5)
    }
    val jaccard = plansOf("collect") {
      Dedup.ngramJaccardDuplicates(docs, $"id", $"text", Seq($"id" % 2)).collect()
    }
    val banded = plansOf("collect") {
      StreamDedup.banded(docs.withColumn("ts", timestamp_seconds($"id")), "id", "ts", "text")
        .collect()
    }
    for ((op, plans) <- Seq("minhashDuplicates" -> minhash,
        "minhashIncrementalDuplicates" -> incremental, "ngramJaccardDuplicates" -> jaccard,
        "StreamDedup.banded" -> banded)) {
      val counts = plans.flatMap { case (_, _, p) => shingleKernels(p) }.filter(_ > 0)
      assert(counts.nonEmpty && counts.forall(_ == 1),
        s"$op: kernel nodes per plan $counts\n${plans.map(_._3).mkString("\n")}")
    }
  }

  test("plans: the persisted Postings.build write runs one TermFreqs per prop, no aggregate, no shuffle") {
    // one node per prop also means no inferred size(pairs) > 0 filter was
    // pushed below the projection that computes the pairs
    val schema = CollectionSchema("KernelPostings", "id", Seq(
      Property("title", PropType.Text, Tokenization.Word),
      Property("body", PropType.Text, Tokenization.Lowercase)))
    // read from parquet, so any exchange in the plan is the build's own
    val docsDir = Gate.tempDir("kernel-postings-docs")
    textFrame.select($"id", $"text".as("title"), $"text".as("body"))
      .write.mode("overwrite").parquet(docsDir)
    val c = Collection(schema, spark.read.parquet(docsDir))
    val dir = Gate.tempDir("kernel-postings")
    val plans = plansOf("collect") {
      Postings.build(c, Seq("title", "body"), 4, Some(dir))
      spark.range(1).collect()
    }
    val writes = plans.map(_._3).filter(p => collect(p) { case w: DataWritingCommandExec => w }
      .exists(_.cmd.toString.contains(s"$dir/postings")))
    assert(writes.size == 1, plans.map(_._1))
    val write = writes.head
    val termFreqs = collect(write) { case p => p }
      .map(_.expressions.map(_.collect { case e: TermFreqs => e }.size).sum).sum
    assert(termFreqs == 2, write)
    assert(collect(write) { case a: BaseAggregateExec => a }.isEmpty, write)
    assert(collect(write) { case x: ShuffleExchangeExec => x }.isEmpty, write)
  }
}
