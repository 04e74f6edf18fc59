package graft

import org.apache.spark.sql.functions._

import graft.model.Tokenization
import graft.text.Tokenize

class TokenizeSpec extends SparkSpecBase {
  import spark.implicits._

  private def toks(mode: Tokenization, s: String): Seq[String] =
    Seq(s).toDF("t").select(Tokenize(mode)($"t").as("x")).head().getSeq[String](0)

  test("word: alphanumeric runs, lowercased") {
    assert(toks(Tokenization.Word, "Hello, World-42 foo_bar") ==
      Seq("hello", "world", "42", "foo", "bar"))
  }

  test("word: no lambda in the plan, same tokens as the empty-filtered form") {
    val inputs = Seq("Hello, World-42 foo_bar", " Hello You*-beautiful_world?!",
      "Hello, World-42", "a  B c", " x ", "", "?! --", null)
    // an RDD-backed frame: a local one would fold the projection away
    val df = spark.sparkContext.parallelize(inputs, 2).toDF("t")
    val filtered = filter(regexp_extract_all(lower($"t"), lit("[\\p{L}\\p{N}]+"), lit(0)),
      t => length(t) > 0)
    def plan(c: org.apache.spark.sql.Column) =
      df.select(c.as("x")).queryExecution.optimizedPlan.toString
    // the check can see a lambda: the filtered form has one
    assert(plan(filtered).contains("lambdafunction"))
    assert(!plan(Tokenize.word($"t")).contains("lambdafunction"))
    val got = df.select($"t", Tokenize.word($"t").as("x")).collect()
    val want = df.select($"t", filtered.as("x")).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("lowercase: whitespace split, lowered") {
    assert(toks(Tokenization.Lowercase, "Hello  World-42") == Seq("hello", "world-42"))
  }

  test("lowercase and whitespace: array_remove equals the per-token empty filter, no lambda") {
    val inputs = Seq(" Lead", "trail ", "  both  ", "A\tb\nC", "", " ", "\t\n", "One  Two",
      "x\u00A0Y", "\u212Aelvin \u0130", null)
    val df = spark.sparkContext.parallelize(inputs, 2).toDF("t")
    def plan(c: org.apache.spark.sql.Column) =
      df.select(c.as("x")).queryExecution.optimizedPlan.toString
    for ((mode, base) <- Seq(Tokenization.Lowercase -> lower($"t"), Tokenization.Whitespace -> $"t")) {
      val filtered = filter(split(base, "\\s+"), t => length(t) > 0)
      // the check can see a lambda: the filtered form has one
      assert(plan(filtered).contains("lambdafunction"))
      assert(!plan(Tokenize(mode)($"t")).contains("lambdafunction"), mode)
      val got = df.select($"t", Tokenize(mode)($"t").as("x")).collect()
      val want = df.select($"t", filtered.as("x")).collect()
      assert(got.toSeq == want.toSeq, mode)
    }
  }

  test("whitespace: case preserved") {
    assert(toks(Tokenization.Whitespace, "Hello  World") == Seq("Hello", "World"))
  }

  test("field: single trimmed token") {
    assert(toks(Tokenization.Field, "  Hello World ") == Seq("Hello World"))
  }

  test("field: trims the Unicode White_Space property like the reference " +
      "(strings.TrimFunc(unicode.IsSpace), tokenizer.go:331) — not just ' '") {
    // NBSP and tab/newline edges; NBSP inside stays (only edges trim)
    val input = " \tHello World\n  "
    assert(toks(Tokenization.Field, input) == Seq("Hello World"))
    // driver twin agrees (String.trim would keep the NBSP edge)
    assert(Tokenize.queryTokens(Tokenization.Field, input) ==
      toks(Tokenization.Field, input))
  }

  test("the reference's canonical fixture across all four base modes " +
      "(tokenizer_test.go:153-185)") {
    val input = " Hello You*-beautiful_world?!"
    assert(toks(Tokenization.Field, input) == Seq("Hello You*-beautiful_world?!"))
    assert(toks(Tokenization.Whitespace, input) ==
      Seq("Hello", "You*-beautiful_world?!"))
    assert(toks(Tokenization.Lowercase, input) ==
      Seq("hello", "you*-beautiful_world?!"))
    assert(toks(Tokenization.Word, input) ==
      Seq("hello", "you", "beautiful", "world"))
  }

  test("trigram: reference semantics — strip non-alphanumerics, none under 3 chars") {
    assert(toks(Tokenization.Trigram, "ab cd") == Seq("abc", "bcd"))
    // tokenizer.go:397: FieldsFunc(isNotAlphanumeric) joined with "" — the
    // comma vanishes entirely, unlike a whitespace-only strip
    assert(toks(Tokenization.Trigram, "a,bC d") == Seq("abc", "bcd"))
    // loop bound i+3 < len(offs): sub-3-char input emits NOTHING
    assert(toks(Tokenization.Trigram, "ab") == Seq.empty)
    assert(toks(Tokenization.Trigram, "abc") == Seq("abc"))
  }

  test("queryTokens matches column tokenizer for every mode") {
    val samples = Seq("Hello, World-42", "a  B c", " x ")
    for (mode <- Seq(Tokenization.Word, Tokenization.Lowercase,
                     Tokenization.Whitespace, Tokenization.Trigram); s <- samples) {
      assert(Tokenize.queryTokens(mode, s) == toks(mode, s), s"mode=$mode s='$s'")
    }
  }

  test("CJK modes fail loudly (no silent fallback)") {
    assert(!Tokenize.cjkBigramFallback)
    for (mode <- Seq(Tokenization.Gse, Tokenization.GseCh,
                     Tokenization.KagomeJa, Tokenization.KagomeKr)) {
      val colErr = intercept[UnsupportedOperationException] {
        Tokenize(mode)(org.apache.spark.sql.functions.lit("中文テキスト"))
      }
      assert(colErr.getMessage.contains(mode.name) && colErr.getMessage.contains("segmenter"))
      val qErr = intercept[UnsupportedOperationException] {
        Tokenize.queryTokens(mode, "中文テキスト")
      }
      assert(qErr.getMessage.contains(mode.name))
    }
  }

  test("CJK bigram fallback: Lucene CJKAnalyzer semantics when enabled") {
    Tokenize.cjkBigramFallback = true
    try {
      // Han run → overlapping bigrams; Latin run → lowercased word token
      assert(toks(Tokenization.GseCh, "中文数据Spark引擎") ==
        Seq("中文", "文数", "数据", "spark", "引擎"))
      // length-1 CJK run stays a unigram; punctuation splits runs
      assert(toks(Tokenization.GseCh, "中, 文") == Seq("中", "文"))
      // Hiragana/Katakana/Hangul all count as CJK scripts
      assert(toks(Tokenization.KagomeJa, "データベース") ==
        Seq("デー", "ータ", "タベ", "ベー", "ース"))
      assert(toks(Tokenization.KagomeKr, "한국어 text") == Seq("한국", "국어", "text"))
      // driver query tokenization matches the column path
      for (s <- Seq("中文数据Spark引擎", "中, 文", "データベース", "한국어 text", "", "abc")) {
        assert(Tokenize.queryTokens(Tokenization.GseCh, s) == toks(Tokenization.GseCh, s),
          s"cjk parity s='$s'")
      }
    } finally Tokenize.cjkBigramFallback = false
  }

  test("CJK user dictionary: forward-maximum-match segmentation") {
    Tokenize.withCjkUserDict(Seq("中文", "数据库", "数据", "引擎")) {
      // longest match wins at each position: 数据库 beats its prefix 数据
      assert(toks(Tokenization.Gse, "中文数据库引擎") == Seq("中文", "数据库", "引擎"))
      // OOV characters fall back to single-char tokens; Latin runs stay words
      assert(toks(Tokenization.Gse, "中文の数据Spark") ==
        Seq("中文", "の", "数据", "spark"))
      // greedy left-to-right: a match consumes its span even if a longer
      // word would have started one position later (FMM, not optimal-path)
      assert(toks(Tokenization.GseCh, "好中文" ) == Seq("好", "中文"))
      // the dictionary wins over the bigram fallback when both are active
      Tokenize.withCjkFallback {
        assert(toks(Tokenization.Gse, "中文数据") == Seq("中文", "数据"))
      }
      // driver query tokenization matches the column path
      for (s <- Seq("中文数据库引擎", "中文の数据Spark", "", "abc 中")) {
        assert(Tokenize.queryTokens(Tokenization.Gse, s) == toks(Tokenization.Gse, s),
          s"dict parity s='$s'")
      }
    }
    // scope restores: outside the block the modes are gated again
    assert(Tokenize.cjkUserDict.isEmpty)
    intercept[UnsupportedOperationException] {
      Tokenize.queryTokens(Tokenization.Gse, "中文")
    }
    // blank dictionaries are rejected loudly
    intercept[IllegalArgumentException] {
      Tokenize.withCjkUserDict(Seq("  "))(())
    }
  }

  test("token n-grams (shingles)") {
    val sh = Seq(Seq("a", "b", "c", "d")).toDF("t")
      .select(Tokenize.tokenNgrams($"t", 3).as("x")).head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("stopword removal") {
    val out = Seq(Seq("the", "cat", "and", "dog")).toDF("t")
      .select(Tokenize.removeStopwords($"t").as("x")).head().getSeq[String](0)
    assert(out == Seq("cat", "dog"))
  }
}
