package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
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
// makes one forward scan over a document's UTF-8 bytes. They replace chains
// of `transform`/`filter`/`aggregate`/`zip_with` lambdas and regex passes:
// Spark evaluates lambdas interpreted (`CodegenFallback`), and subexpression
// elimination looks neither inside them nor into `CASE` branches, so the
// lambda forms re-tokenized a document once per reference.
//
// Each kernel has one implementation: `nullSafeEval` and the generated code
// call the same static method of [[TextKernels]], so codegen and interpreted
// evaluation run the same code. The scans use no `java.util.regex`: they
// classify code points themselves, as the regexes of the replaced column
// forms did (`\s` is Java's ASCII default [ \t\n\x0B\f\r]; `\p{L}`/`\p{N}`
// are the `Character.getType` letter and number categories), trim lines as
// Spark's `trim` does, and end lines by Java's `$` rules. Bytes that are not
// valid UTF-8 first take the Java decode the column forms ran (each malformed
// sequence becomes U+FFFD), so there is one scan path. Hashes are Spark's
// primitives (`XXH64` over the token's bytes, `hashLong`/`hashInt`); case
// mapping is passed in as an input, lower(text) from [[AsciiFastLower]], so
// ASCII text skips Spark's ICU case mapping. The count kernels return
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

/** The distinct shingles of a document (`Dedup.wordShingles`), from
 * `lowered` = lower(text): equal to
 * array_distinct(shingle_hashes(regexp_extract_all(lowered, "[\p{L}\p{N}]+"), n)),
 * with each token hashed over its bytes in place. See
 * [[TextKernels.wordShingles]]. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "word_shingles: n must be positive")
  override def prettyName: String = "word_shingles"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lowered: Any): Any =
    TextKernels.wordShingles(lowered.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"${TextKernels.Name}.wordShingles($l, $n)")
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** `lower(text)` with an ASCII fast path: an all-ASCII string is lower-cased
 * byte by byte (`UTF8String.toLowerCaseAscii`), any other takes Spark's own
 * `Lower` kernel (`CollationSupport.Lower.exec`) with `useICU` =
 * `spark.sql.icu.caseMappings.enabled` as read when the expression was
 * built. Results equal `lower(text)` byte for byte; ASCII text never loads
 * the ICU case-mapping tables, whose one-time initializer costs about a
 * second on a JVM's first `lower()`. */
case class AsciiFastLower(child: Expression, useICU: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "ascii_fast_lower"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  private def collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  override def nullSafeEval(text: Any): Any =
    TextKernels.lower(text.asInstanceOf[UTF8String], collationId, useICU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextKernels.Name}.lower($t, $collationId, $useICU)")
  override protected def withNewChildInternal(c: Expression): AsciiFastLower = copy(child = c)
}

/** The `Tokenize.word` tokens of a document, from `lowered` = lower(text):
 * equal to regexp_extract_all(lowered, "[\p{L}\p{N}]+", 0), by the byte
 * scan [[WordShingles]] makes. See [[TextKernels.wordTokens]]. */
case class WordTokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "word_tokens"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(lowered: Any): Any =
    TextKernels.wordTokens(lowered.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"${TextKernels.Name}.wordTokens($l)")
  override protected def withNewChildInternal(c: Expression): WordTokens = copy(child = c)
}

/** A token array's distinct terms with their counts, in first-occurrence
 * order (`Postings.build`'s per-document posting rows): element i is
 * (term, tf) for the i-th distinct token, a null token counting as one term,
 * so `size` of the result is size(array_distinct(tokens)). See
 * [[TextKernels.termFreqs]]. */
case class TermFreqs(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "term_freqs"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(TextKernels.TermFreqSchema, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(tokens: Any): Any =
    TextKernels.termFreqs(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${TextKernels.Name}.termFreqs($t)")
  override protected def withNewChildInternal(c: Expression): TermFreqs = copy(child = c)
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

  // code-point classes: `\s`, `\p{L}`, `\p{N}`
  private final val Space = 1
  private final val Letter = 2
  private final val Digit = 4
  private final val Word = Letter | Digit
  private val AsciiClass: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (" \t\n\u000B\f\r".indexOf(c) >= 0) Space.toByte
    else if (Character.isLetter(c)) Letter.toByte
    else if (Character.isDigit(c)) Digit.toByte
    else 0
  }
  private val LetterTypes: Int = Seq(Character.UPPERCASE_LETTER, Character.LOWERCASE_LETTER,
    Character.TITLECASE_LETTER, Character.MODIFIER_LETTER, Character.OTHER_LETTER)
    .map(1 << _).reduce(_ | _)
  private val DigitTypes: Int = Seq(Character.DECIMAL_DIGIT_NUMBER, Character.LETTER_NUMBER,
    Character.OTHER_NUMBER).map(1 << _).reduce(_ | _)

  private def classOf(cp: Int): Int =
    if (cp < 0x80) AsciiClass(cp)
    else {
      val t = 1 << Character.getType(cp)
      if ((LetterTypes & t) != 0) Letter else if ((DigitTypes & t) != 0) Digit else 0
    }

  private def byteAt(s: UTF8String, i: Int): Int =
    Platform.getByte(s.getBaseObject, s.getBaseOffset + i)

  /** Byte length of the UTF-8 sequence that lead byte `b` starts. */
  private def seqLen(b: Int): Int =
    if (b >= 0) 1 else if ((b & 0xE0) == 0xC0) 2 else if ((b & 0xF0) == 0xE0) 3 else 4

  /** The code point of the valid `len`-byte sequence at `i`. */
  private def codePoint(s: UTF8String, i: Int, len: Int): Int = {
    val b = byteAt(s, i)
    var cp = if (len == 1) b else if (len == 2) b & 0x1F else if (len == 3) b & 0x0F else b & 0x07
    var k = 1
    while (k < len) { cp = (cp << 6) | (byteAt(s, i + k) & 0x3F); k += 1 }
    cp
  }

  /** `s` if Java's UTF-8 decoder reads it without replacement (no overlong
   * form, surrogate, code point above U+10FFFF or cut sequence), otherwise
   * its decoded-and-re-encoded form, which is what the column forms saw. */
  private def valid(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b = byteAt(s, i) & 0xFF
      if (b < 0x80) i += 1
      else {
        var len = 0
        var lo = 0x80
        var hi = 0xBF
        if (b >= 0xC2 && b <= 0xDF) len = 2
        else if (b >= 0xE0 && b <= 0xEF) {
          len = 3
          if (b == 0xE0) lo = 0xA0 else if (b == 0xED) hi = 0x9F
        } else if (b >= 0xF0 && b <= 0xF4) {
          len = 4
          if (b == 0xF0) lo = 0x90 else if (b == 0xF4) hi = 0x8F
        } else return UTF8String.fromString(s.toString)
        if (i + len > n) return UTF8String.fromString(s.toString)
        var k = 1
        while (k < len) {
          val c = byteAt(s, i + k) & 0xFF
          if (c < (if (k == 1) lo else 0x80) || c > (if (k == 1) hi else 0xBF))
            return UTF8String.fromString(s.toString)
          k += 1
        }
        i += len
      }
    }
    s
  }

  /** Up to seven bytes of `s` from `from`, packed behind a 1 bit, so that
   * packs of different lengths differ. */
  private def pack(s: UTF8String, from: Int, len: Int): Long = {
    var acc = 1L
    var k = 0
    while (k < len) { acc = (acc << 8) | (byteAt(s, from + k) & 0xFF); k += 1 }
    acc
  }
  private def pack(word: String): Long = pack(UTF8String.fromString(word), 0, word.length)

  /** Gopher's required words {the, be, to, of, and, that, have, with}. */
  private val RequiredWords: Array[Long] =
    Array("the", "be", "to", "of", "and", "that", "have", "with").map(pack)
  /** `Tokenize.StopwordsEn` (ASCII, at most five letters), packed and sorted. */
  private val Stopwords: Array[Long] = graft.text.Tokenize.StopwordsEn.toArray.map(pack).sorted
  private val MaxStopwordLen = graft.text.Tokenize.StopwordsEn.map(_.length).max
  require(MaxStopwordLen < 8 && graft.text.Tokenize.StopwordsEn.forall(_.forall(_ < 0x80)))

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
    UnsafeArrayData.fromPrimitiveArray(shingles(h, len, n))
  }

  /** The n-gram folds of the first `len` token hashes `h`. */
  private def shingles(h: Array[Long], len: Int, n: Int): Array[Long] =
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
      var j = 0
      while (j < len) { acc = xxhash64(acc, h(j)); j += 1 }
      Array(acc)
    }

  /** `xs` without repeats, each kept at its first position (`array_distinct`). */
  private def distinct(xs: Array[Long]): Array[Long] = {
    val n = xs.length
    if (n < 2) return xs
    val mask = Integer.highestOneBit(n) * 4 - 1
    val slots = new Array[Int](mask + 1) // 1 + index into out; 0 is empty
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val x = xs(i)
      var j = (x ^ (x >>> 32)).toInt & mask
      while (slots(j) != 0 && out(slots(j) - 1) != x) j = (j + 1) & mask
      if (slots(j) == 0) { out(m) = x; m += 1; slots(j) = m }
      i += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }

  /** `lower(text)`: see [[AsciiFastLower]]. */
  def lower(text: UTF8String, collationId: Int, useICU: Boolean): UTF8String =
    if (collationId == CollationFactory.UTF8_BINARY_COLLATION_ID && text.isFullAscii)
      text.toLowerCaseAscii
    else CollationSupport.Lower.exec(text, collationId, useICU)

  /** The `[\p{L}\p{N}]+` runs of `s`, which must be valid UTF-8, as byte
   * offsets: run j spans bytes [b(2j), b(2j+1)) of `s`. */
  private def wordRuns(s: UTF8String): Array[Int] = {
    val nb = s.numBytes
    var bounds = new Array[Int](32)
    var m = 0
    var from = -1 // start of the current token, -1 between tokens
    var i = 0
    while (i <= nb) {
      var len = 1
      var word = false
      if (i < nb) {
        val b = byteAt(s, i)
        len = seqLen(b)
        word = (classOf(if (len == 1) b else codePoint(s, i, len)) & Word) != 0
      }
      if (word) { if (from < 0) from = i }
      else if (from >= 0) {
        if (2 * m + 1 >= bounds.length) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
        bounds(2 * m) = from
        bounds(2 * m + 1) = i
        m += 1
        from = -1
      }
      i += len
    }
    java.util.Arrays.copyOf(bounds, 2 * m)
  }

  /**
   * The distinct shingles of a document's `Tokenize.word` tokens, the
   * `[\p{L}\p{N}]+` runs of `lowered` = lower(text), in first-occurrence
   * order: each run's bytes are hashed in place (xxhash64, seed 42, which is
   * xxhash64 of the token string), then folded as [[shingleHashes]] folds.
   */
  def wordShingles(lowered: UTF8String, n: Int): ArrayData = {
    val s = valid(lowered)
    val b = wordRuns(s)
    val m = b.length / 2
    val h = new Array[Long](m)
    var j = 0
    while (j < m) {
      h(j) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + b(2 * j),
        b(2 * j + 1) - b(2 * j), 42L)
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(distinct(shingles(h, m, n)))
  }

  /** The `Tokenize.word` tokens of `lowered` = lower(text): its
   * `[\p{L}\p{N}]+` runs, each copied out of the scanned bytes. */
  def wordTokens(lowered: UTF8String): ArrayData = {
    val s = valid(lowered)
    val b = wordRuns(s)
    val m = b.length / 2
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val bytes = new Array[Byte](b(2 * j + 1) - b(2 * j))
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset + b(2 * j), bytes,
        Platform.BYTE_ARRAY_OFFSET, bytes.length)
      out(j) = UTF8String.fromBytes(bytes)
      j += 1
    }
    new GenericArrayData(out)
  }

  val TermFreqSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("tf", IntegerType, nullable = false)))

  /** (term, tf) for each distinct element of `tokens`, in first-occurrence
   * order; a null element is one term. See [[TermFreqs]]. */
  def termFreqs(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val terms = new Array[UTF8String](n)
    val tfs = new Array[Int](n)
    var m = 0
    var nullSlot = -1
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) {
        if (nullSlot < 0) { nullSlot = m; m += 1 }
        tfs(nullSlot) += 1
      } else {
        val t = tokens.getUTF8String(i)
        val at = slot.get(t)
        if (at == null) { slot.put(t, m); terms(m) = t; tfs(m) = 1; m += 1 }
        else tfs(at) += 1
      }
      i += 1
    }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) { out(j) = new GenericInternalRow(Array[Any](terms(j), tfs(j))); j += 1 }
    new GenericArrayData(out)
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

  private def isBullet(cp: Int): Boolean =
    cp == '*' || cp == '-' || cp == 0x2022 || cp == 0x2023 || cp == 0x25E6 ||
      cp == 0x2043 || cp == 0x2219

  /** Whether bytes [from, to) of `s` end with "..." or "…" (E2 80 A6). */
  private def endsWithEllipsis(s: UTF8String, from: Int, to: Int): Boolean =
    to - from >= 3 && {
      val a = byteAt(s, to - 3); val b = byteAt(s, to - 2); val c = byteAt(s, to - 1)
      (a == '.' && b == '.' && c == '.') ||
        ((a & 0xFF) == 0xE2 && (b & 0xFF) == 0x80 && (c & 0xFF) == 0xA6)
    }

  /** Byte length of the line terminator other than '\n' that ends bytes
   * [from, to) of `s` ('\r', U+0085, U+2028, U+2029), or 0. */
  private def terminatorLen(s: UTF8String, from: Int, to: Int): Int = {
    val last = if (to > from) byteAt(s, to - 1) & 0xFF else 0
    if (last == '\r') 1
    else if (last == 0x85 && to - from >= 2 && (byteAt(s, to - 2) & 0xFF) == 0xC2) 2
    else if ((last == 0xA8 || last == 0xA9) && to - from >= 3 &&
        (byteAt(s, to - 3) & 0xFF) == 0xE2 && (byteAt(s, to - 2) & 0xFF) == 0x80) 3
    else 0
  }

  /** Line bytes [from, to) of `s`, trimmed as Spark's `trim` does (U+0020
   * only): 0 if blank, else 1 | 2 if it starts with a bullet | 4 if it ends
   * with an ellipsis. A match of `(\.\.\.|…)$` ends at the end, or before
   * one final line terminator (the line holds no '\n'). */
  private def lineFlags(s: UTF8String, from: Int, to: Int): Int = {
    var a = from
    var e = to
    while (a < e && byteAt(s, a) == ' ') a += 1
    while (e > a && byteAt(s, e - 1) == ' ') e -= 1
    if (a == e) 0
    else {
      val b = byteAt(s, a)
      val bullet = isBullet(if (b >= 0) b else codePoint(s, a, seqLen(b)))
      val ellipsis = endsWithEllipsis(s, a, e - terminatorLen(s, a, e))
      1 | (if (bullet) 2 else 0) | (if (ellipsis) 4 else 0)
    }
  }

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
    val s = valid(text)
    val nb = s.numBytes
    var words, wordChars, alpha, symbols, dots = 0
    var inWord, wordAlpha = false
    var lines, bullets, ellipses = 0
    var lineFrom = 0
    var i = 0
    while (i <= nb) { // a '\n' past the end closes the last word and line
      val b = if (i < nb) byteAt(s, i) else '\n'
      val len = seqLen(b)
      val cp = if (len == 1) b else codePoint(s, i, len)
      if (cp == '.') dots += 1
      else {
        symbols += dots / 3
        dots = 0
        if (cp == '#' || cp == 0x2026) symbols += 1
      }
      val cls = classOf(cp)
      if ((cls & Space) != 0) {
        if (inWord) { words += 1; if (wordAlpha) alpha += 1; inWord = false }
        if (cp == '\n') {
          val flags = lineFlags(s, lineFrom, i)
          lines += flags & 1
          bullets += (flags >> 1) & 1
          ellipses += (flags >> 2) & 1
          lineFrom = i + 1
        }
      } else {
        if (!inWord) { inWord = true; wordAlpha = false }
        wordChars += 1
        if ((cls & Letter) != 0) wordAlpha = true
      }
      i += len
    }

    val ls = valid(lowered)
    val ln = ls.numBytes
    var required = 0 // bit i: RequiredWords(i) seen
    var from = 0
    i = 0
    while (i <= ln) {
      val b = if (i < ln) byteAt(ls, i) else ' '
      if (b >= 0 && (AsciiClass(b) & Space) != 0) {
        val len = i - from
        if (len >= 2 && len <= 4) {
          val p = pack(ls, from, len)
          var r = 0
          while (r < RequiredWords.length) {
            if (RequiredWords(r) == p) required |= 1 << r
            r += 1
          }
        }
        from = i + 1
      }
      i += 1
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
    val ls = valid(lowered)
    val ln = ls.numBytes
    var tokens, stop, tokenChars = 0
    var from = -1 // start of the current token, -1 between tokens
    var cps = 0   // its code points so far
    var i = 0
    while (i <= ln) {
      var len = 1
      var word = false
      if (i < ln) {
        val b = byteAt(ls, i)
        len = seqLen(b)
        word = (classOf(if (len == 1) b else codePoint(ls, i, len)) & Word) != 0
      }
      if (word) {
        if (from < 0) { from = i; cps = 0 }
        cps += 1
      } else if (from >= 0) {
        tokens += 1
        tokenChars += cps
        // stopwords are ASCII: a token of as many bytes as code points
        val bytes = i - from
        if (bytes <= MaxStopwordLen && bytes == cps &&
            java.util.Arrays.binarySearch(Stopwords, pack(ls, from, bytes)) >= 0) stop += 1
        from = -1
      }
      i += len
    }

    val s = valid(text)
    val nb = s.numBytes
    var total, space, kept = 0
    i = 0
    while (i < nb) {
      val b = byteAt(s, i)
      val len = seqLen(b)
      val cls = classOf(if (len == 1) b else codePoint(s, i, len))
      total += 1
      if ((cls & Space) != 0) space += 1
      if (cls != 0) kept += 1
      i += len
    }
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

  /** `lower(text)`, skipping Spark's ICU case mapping for ASCII strings;
   * see [[AsciiFastLower]]. */
  def lower(text: Column): Column =
    c(AsciiFastLower(x(text), SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)))

  /** `Tokenize.word` tokens of `text`; see [[WordTokens]]. */
  def wordTokens(text: Column): Column = c(WordTokens(x(lower(text))))

  /** Distinct (term, tf) pairs of a token array; see [[TermFreqs]]. */
  def termFreqs(tokens: Column): Column = c(TermFreqs(x(tokens)))

  /** Distinct word-n-gram shingles of `text`; see [[WordShingles]]. */
  def wordShingles(text: Column, n: Int): Column = c(WordShingles(x(lower(text)), n))

  /** LSH band keys of a MinHash signature; see [[LshBandKeys]]. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    c(LshBandKeys(x(signature), bands, rowsPerBand))

  /** Gopher rule counts of `text`; see [[TextKernels.gopherCounts]]. */
  def gopherCounts(text: Column): Column =
    c(GopherCounts(x(lower(text)), x(text)))

  /** Quality-score counts of `text`; see [[TextKernels.qualityCounts]]. */
  def textQualityCounts(text: Column): Column =
    c(TextQualityCounts(x(lower(text)), x(text)))
}
