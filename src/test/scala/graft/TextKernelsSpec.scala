package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{Dedup, TextAnalysis}
import graft.text.Tokenize

/** The curation chain's native text kernels (ShingleHashes, LshBandKeys,
 * GopherCounts, TextQualityCounts) against the lambda column forms they
 * replaced, kept here as the reference; each kernel also agrees between
 * generated code and interpreted evaluation. */
class TextKernelsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The column forms the kernels replaced, as they were. */
  private object Ref {
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
      val toks = Tokenize.word(text)
      val stopArr = array(Tokenize.StopwordsEn.toSeq.sorted.map(lit): _*)
      when(size(toks) === 0, 0.0)
        .otherwise(size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks))
    }

    def meanTokenLen(text: Column): Column = {
      val toks = Tokenize.word(text)
      when(size(toks) === 0, 0.0)
        .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / size(toks))
    }

    def qualityScore(text: Column): Column = {
      val nToks = size(Tokenize.word(text)).cast("double")
      val lengthOk = least(nToks / 50.0, lit(1.0))
      val punctOk = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
      val stopOk = least(stopwordRatio(text) * 10.0, lit(1.0))
      (lengthOk + punctOk + stopOk) / 3.0
    }

    /** gopherFilter's per-document counts, in GopherCounts' field order. */
    def gopherCounts(textCol: Column): Seq[Column] = {
      val words = Tokenize.whitespace(textCol)
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
      val words = Tokenize.whitespace(textCol)
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
    "İstanbul İS İthe THE The", "Kelvin KELVIN",
    "one", "one two", "one two three", "one two three four",
    "The THE the be To of And that HAVE with wiTH",
    "   leading and trailing   ", "a\n\nb\n \n", "...\n...\n...\nok line",
    "Ünïcödé wörds, çà et là; ¿qué? ¡sí!", "数据 データ 한국어 mixed 123 4.5",
    "it's the end of the world, isn't it? they're there, and THEIR things...",
    s"$fifty the be to of and\n- b1\n- b2\n- b3",
    s"$fifty the be " + (1 to 12).map(_ => "#").mkString(" "),
    (1 to 60).map(_ => "a").mkString(" ") + " the be")

  /** The texts as a frame that is not a local relation (which the optimizer
   * would evaluate interpreted at planning time), so projections over it
   * run as generated code. */
  private def textFrame: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text").repartition(2)

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
      assert(got(id).get(i) == w.get(i), s"text ${Option(texts(id.toInt)).map(_.toSeq)} column $i")
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
    val got = inBothModes(textFrame.select($"id", Dedup.wordShingles($"text", 3)))
    val want = rows(textFrame.select($"id",
      array_distinct(Ref.shingleHashes(Tokenize.word($"text"), 3))))
    for ((id, w) <- want) assert(longs(got(id), 1) == longs(w, 1), s"id=$id")
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
        s"${fields(i - 1)} of ${texts(id.toInt).toSeq}: got ${got(id).get(i)}, want ${w.get(i)}")
    val nullId = texts.indexOf(null).toLong
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

  test("plans: gopherFilter, qualityScore and minhashDuplicates evaluate no lambda") {
    def lambdaFree(df: DataFrame): Boolean =
      !df.queryExecution.optimizedPlan.toString.contains("lambdafunction")
    // the check can see a lambda: the replaced forms have them
    assert(!lambdaFree(Ref.gopherFilter(textFrame, $"text")))
    assert(lambdaFree(TextAnalysis.gopherFilter(textFrame, $"text")))
    assert(lambdaFree(textFrame.select(TextAnalysis.qualityScore($"text"))))

    // minhashDuplicates returns a checkpoint: inspect every query it runs
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(name -> qe.optimizedPlan.toString)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.minhashDuplicates(textFrame.filter($"text".isNotNull), $"id", $"text",
        threshold = 0.5)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.toArray.exists(_.asInstanceOf[(String, String)]._1 == "localCheckpoint") &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val plans = ArrayBuffer.empty[(String, String)]
    seen.forEach(p => plans += p)
    assert(plans.exists(_._1 == "localCheckpoint"), plans.map(_._1))
    plans.foreach { case (name, plan) => assert(!plan.contains("lambdafunction"), s"$name: $plan") }
  }
}
