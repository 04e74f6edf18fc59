package org.apache.spark.sql.graft

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * MinHash signature as a native Catalyst expression — the hashing core of
 * every LSH dedup path (reference analogue: the MinHash stage of
 * near-duplicate detection; the engine-side counterpart of
 * `Dedup.minhashDuplicates`' signature build).
 *
 * Semantics (bit-compatible with the SQL form the batch aggregate used):
 * lane i of the signature is `min over elements h of xxhash64(h, i)` where
 * the multi-argument xxhash64 chain is `hashInt(i, hashLong(h, 42))` —
 * Spark's own XXH64 primitives, seed 42, left-fold.
 *
 * Why an expression and not `transform`/`aggregate` lambdas or an
 * explode → hash-aggregate: HOF lambdas evaluate INTERPRETED per element
 * (128 lanes × shingles × interpreter overhead measured 61 s for 1000
 * docs), and the explode/agg rewrite costs a full shuffle on the doc key
 * plus a 128-column aggregate. This is one tight primitive loop inside
 * WholeStageCodegen — no shuffle, no boxing, no encoder round-trip — and
 * being a plain projection it runs identically on batch frames and
 * streams (where an aggregation before a stateful operator is not even
 * allowed).
 */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0, "minhash_signature: numHashes must be positive")

  override def prettyName: String = "minhash_signature"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val base = new Array[Long](n)
    var j = 0
    while (j < n) { base(j) = XXH64.hashLong(arr.getLong(j), 42L); j += 1 }
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      var m = Long.MaxValue
      j = 0
      while (j < n) {
        val v = XXH64.hashInt(i, base(j))
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val xxh = classOf[XXH64].getName
      val n = ctx.freshName("n")
      val base = ctx.freshName("base")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      s"""
         |int $n = $in.numElements();
         |long[] $base = new long[$n];
         |for (int $j = 0; $j < $n; $j++) {
         |  $base[$j] = $xxh.hashLong($in.getLong($j), 42L);
         |}
         |long[] $sig = new long[$numHashes];
         |for (int $i = 0; $i < $numHashes; $i++) {
         |  long $m = Long.MAX_VALUE;
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $v = $xxh.hashInt($i, $base[$j]);
         |    if ($v < $m) $m = $v;
         |  }
         |  $sig[$i] = $m;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

// --- Per-document text kernels -----------------------------------------------
//
// The curation chain's per-document rules, each one native expression that
// makes one pass over a document. They replace chains of `transform`/
// `filter`/`aggregate`/`zip_with` lambdas: Spark evaluates those interpreted
// (`CodegenFallback`), and subexpression elimination looks neither inside
// them nor into `CASE` branches, so the lambda forms re-tokenized a document
// once per reference (`Dedup.shingleHashes` hashed every token once per use
// of its hash array; the Gopher required-word rule lowercased every word once
// per required word).
//
// Each kernel has one implementation: `nullSafeEval` and the generated code
// call the same static method of [[TextKernels]], so codegen and interpreted
// evaluation run the same code. The methods reuse Spark's primitives (`XXH64`
// over `UTF8String` bytes, `hashLong`/`hashInt`, `UTF8String.trim`) and the
// very `java.util.regex.Pattern`s the replaced column forms evaluated; case
// mapping is Spark's `lower`, passed in as an input. The count kernels return
// integer counts only: callers keep their column arithmetic over them, so
// every derived double comes from the same operations in the same order.

/** Hashed word-n-gram shingles of a token array (`Dedup.shingleHashes`):
 * token hash h = xxhash64(token); shingle i folds h(i..i+n-1) as
 * xxhash64(xxhash64(h(i), h(i+1)), ...); a doc of 1..n-1 tokens yields the
 * one hash fold(42, h) = xxhash64(acc, h) from acc = 42; no tokens → []. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "shingle_hashes: n must be positive")
  override def prettyName: String = "shingle_hashes"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(tokens: Any): Any =
    TextKernels.shingleHashes(tokens.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextKernels.Name}.shingleHashes($t, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** LSH band keys of a MinHash signature (`Dedup.bandKeys`): key b =
 * xxhash64(concat_ws(",", lanes b·r .. b·r+r-1), b), with the lanes' decimal
 * strings joined and null lanes skipped as `concat_ws` does. */
case class LshBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && rowsPerBand > 0, "lsh_band_keys: bands and rowsPerBand must be positive")
  override def prettyName: String = "lsh_band_keys"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(signature: Any): Any =
    TextKernels.bandKeys(signature.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${TextKernels.Name}.bandKeys($s, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): LshBandKeys = copy(child = c)
}

/** The counts behind the Gopher quality rules (`TextAnalysis.gopherFilter`)
 * of `text`, with `lowered` = lower(text). See [[TextKernels.gopherCounts]]. */
case class GopherCounts(lowered: Expression, text: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = lowered
  override def right: Expression = text
  override def prettyName: String = "gopher_counts"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = TextKernels.GopherSchema
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(l: Any, t: Any): Any =
    TextKernels.gopherCounts(l.asInstanceOf[UTF8String], t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, t) => s"${TextKernels.Name}.gopherCounts($l, $t)")
  override protected def withNewChildrenInternal(l: Expression, t: Expression): GopherCounts =
    copy(lowered = l, text = t)
}

/** The counts behind `TextAnalysis.qualityScore` and its three signals, of
 * `text` with `lowered` = lower(text). See [[TextKernels.qualityCounts]]. */
case class TextQualityCounts(lowered: Expression, text: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = lowered
  override def right: Expression = text
  override def prettyName: String = "text_quality_counts"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = TextKernels.QualitySchema
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(l: Any, t: Any): Any =
    TextKernels.qualityCounts(l.asInstanceOf[UTF8String], t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, t) => s"${TextKernels.Name}.qualityCounts($l, $t)")
  override protected def withNewChildrenInternal(l: Expression, t: Expression): TextQualityCounts =
    copy(lowered = l, text = t)
}

/** The kernels' one implementation, called from interpreted and generated
 * code alike (hence public and static-reachable). */
object TextKernels {
  /** The class generated code calls the static forwarders on. */
  private[graft] val Name: String = getClass.getName.stripSuffix("$")

  // the patterns of the column forms the kernels replace
  private val Space = Pattern.compile("\\s+")                       // split(_, "\\s+")
  private val Token = Pattern.compile("[\\p{L}\\p{N}]+")            // Tokenize.word
  private val TokenOrSpace = Pattern.compile("[\\p{L}\\p{N}\\s]+") // punctRatio's removal
  private val Letter = Pattern.compile("[\\p{L}]")
  private val HashOrEllipsisChar = Pattern.compile("#|…")
  private val ThreeDots = Pattern.compile("\\.\\.\\.")
  private val Bullet = Pattern.compile("^([\\u2022\\u2023\\u25E6\\u2043\\u2219*-])")
  private val EllipsisEnd = Pattern.compile("(\\.\\.\\.|…)$")

  /** Gopher's required words {the, be, to, of, and, that, have, with}. */
  private val RequiredWords: Array[String] = Array("the", "be", "to", "of", "and", "that", "have", "with")
  private val Stopwords: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    graft.text.Tokenize.StopwordsEn.foreach(s.add)
    s
  }
  private val MaxStopwordLen = graft.text.Tokenize.StopwordsEn.map(_.length).max

  val GopherSchema: StructType = StructType(Seq(
    "words", "word_chars", "symbols", "lines", "bullet_lines", "ellipsis_lines",
    "alpha_words", "required_hits").map(StructField(_, IntegerType, nullable = false)))
  val QualitySchema: StructType = StructType(Seq(
    "tokens", "stopword_tokens", "token_chars", "non_space", "punct")
    .map(StructField(_, IntegerType, nullable = false)))

  private def xxhash64(s: UTF8String): Long = XXH64.hashUTF8String(s, 42L)
  /** xxhash64(a, b) over two longs: Spark's left fold from seed 42. */
  private def xxhash64(a: Long, b: Long): Long = XXH64.hashLong(b, XXH64.hashLong(a, 42L))

  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val h = new Array[Long](len)
    var j = 0
    while (j < len) {
      // xxhash64 of a null value is its seed
      h(j) = if (tokens.isNullAt(j)) 42L else xxhash64(tokens.getUTF8String(j))
      j += 1
    }
    val out =
      if (len >= n) {
        val o = new Array[Long](len - n + 1)
        var i = 0
        while (i < o.length) {
          var acc = h(i)
          var k = 1
          while (k < n) { acc = xxhash64(acc, h(i + k)); k += 1 }
          o(i) = acc
          i += 1
        }
        o
      } else if (len == 0) Array.emptyLongArray
      else {
        var acc = 42L
        j = 0
        while (j < len) { acc = xxhash64(acc, h(j)); j += 1 }
        Array(acc)
      }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def bandKeys(signature: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = signature.numElements()
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder()
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, n)
      while (j < end) {
        if (!signature.isNullAt(j)) {
          if (sb.length > 0) sb.append(',')
          sb.append(signature.getLong(j))
        }
        j += 1
      }
      out(b) = XXH64.hashInt(b, xxhash64(UTF8String.fromString(sb.toString)))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def count(m: Matcher): Int = { var c = 0; while (m.find()) c += 1; c }

  /**
   * Gopher counts of `text` (`lowered` = lower(text)), all integers:
   *  - `words`: whitespace words, the non-empty pieces of split(text, "\s+");
   *    `word_chars`: their summed code-point length; `alpha_words`: those
   *    containing a `[\p{L}]`;
   *  - `symbols`: '#' and '…' code points plus non-overlapping "..." runs;
   *  - `lines`: pieces of split(text, "\n") that are non-blank after Spark's
   *    `trim` (which strips only U+0020); `bullet_lines`/`ellipsis_lines`: of
   *    those, trimmed lines matching `^([•‣◦⁃∙*-])` / `(\.\.\.|…)$` (Java's
   *    `$` also matches before a final line terminator such as `\r`);
   *  - `required_hits`: required words equal to some whitespace word of
   *    `lowered` (lower of a word is that word of lower(text)).
   */
  def gopherCounts(lowered: UTF8String, text: UTF8String): InternalRow = {
    val s = text.toString
    var words, wordChars, alpha = 0
    val letter = Letter.matcher(s)
    val sp = Space.matcher(s)
    var from = 0
    var more = true
    while (more) {
      more = sp.find()
      val to = if (more) sp.start() else s.length
      if (to > from) {
        words += 1
        wordChars += s.codePointCount(from, to)
        if (letter.region(from, to).find()) alpha += 1
      }
      if (more) from = sp.end()
    }
    val symbols = count(HashOrEllipsisChar.matcher(s)) + count(ThreeDots.matcher(s))

    // lines are byte ranges between '\n' bytes (never part of a multi-byte
    // UTF-8 sequence), trimmed as Spark's trim does
    var lines, bullets, ellipses = 0
    val bullet = Bullet.matcher("")
    val ellipsis = EllipsisEnd.matcher("")
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nb = text.numBytes
    from = 0
    while (from <= nb) {
      var to = from
      while (to < nb && Platform.getByte(base, off + to) != '\n') to += 1
      val line = UTF8String.fromAddress(base, off + from, to - from).trim()
      if (line.numBytes > 0) {
        lines += 1
        // a bullet match can only cover the first char (`^` and one BMP
        // bullet), an ellipsis match only the last five ("..." or "…", then
        // at most one line terminator before `$`): search only there
        val l = line.toString
        if (bullet.reset(l).region(0, math.min(1, l.length)).find()) bullets += 1
        if (ellipsis.reset(l).region(math.max(0, l.length - 5), l.length).find()) ellipses += 1
      }
      from = to + 1
    }

    val ls = lowered.toString
    var required = 0 // bit i: RequiredWords(i) seen
    val lsp = Space.matcher(ls)
    from = 0
    more = true
    while (more) {
      more = lsp.find()
      val to = if (more) lsp.start() else ls.length
      val len = to - from
      if (len >= 2 && len <= 4) {
        var i = 0
        while (i < RequiredWords.length) {
          val r = RequiredWords(i)
          if (r.length == len && ls.regionMatches(from, r, 0, len)) required |= 1 << i
          i += 1
        }
      }
      if (more) from = lsp.end()
    }
    new GenericInternalRow(Array[Any](words, wordChars, symbols, lines, bullets,
      ellipses, alpha, Integer.bitCount(required)))
  }

  /**
   * Quality counts of `text` (`lowered` = lower(text)), all integers:
   *  - `tokens`: `Tokenize.word` tokens, the `[\p{L}\p{N}]+` runs of
   *    `lowered`; `stopword_tokens`: those in `Tokenize.StopwordsEn`;
   *    `token_chars`: their summed code-point length;
   *  - `non_space`: code points of `text` outside `\s`; `punct`: code points
   *    outside `[\p{L}\p{N}\s]`.
   */
  def qualityCounts(lowered: UTF8String, text: UTF8String): InternalRow = {
    val ls = lowered.toString
    var tokens, stop, tokenChars = 0
    val tok = Token.matcher(ls)
    while (tok.find()) {
      val a = tok.start()
      val b = tok.end()
      tokens += 1
      tokenChars += ls.codePointCount(a, b)
      if (b - a <= MaxStopwordLen && Stopwords.contains(ls.substring(a, b))) stop += 1
    }
    val s = text.toString
    val total = s.codePointCount(0, s.length)
    var space, kept = 0
    val sp = Space.matcher(s)
    while (sp.find()) space += sp.end() - sp.start() // \s is single-char ASCII
    val ts = TokenOrSpace.matcher(s)
    while (ts.find()) kept += s.codePointCount(ts.start(), ts.end())
    new GenericInternalRow(Array[Any](tokens, stop, tokenChars, total - space, total - kept))
  }
}

object TextHashFunctions {
  private def x(c: Column): Expression = ExpressionUtils.expression(c)
  private def c(e: Expression): Column = ExpressionUtils.column(e)

  /** MinHash signature (length `numHashes`) of a 64-bit shingle-hash array. */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    c(MinHashSignature(x(shingleHashes), numHashes))

  /** Hashed word-n-gram shingles of a token array; see [[ShingleHashes]]. */
  def shingleHashes(tokens: Column, n: Int): Column = c(ShingleHashes(x(tokens), n))

  /** LSH band keys of a MinHash signature; see [[LshBandKeys]]. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    c(LshBandKeys(x(signature), bands, rowsPerBand))

  /** Gopher rule counts of `text`; see [[TextKernels.gopherCounts]]. */
  def gopherCounts(text: Column): Column =
    c(GopherCounts(x(org.apache.spark.sql.functions.lower(text)), x(text)))

  /** Quality-score counts of `text`; see [[TextKernels.qualityCounts]]. */
  def textQualityCounts(text: Column): Column =
    c(TextQualityCounts(x(org.apache.spark.sql.functions.lower(text)), x(text)))
}
