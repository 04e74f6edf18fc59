package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Curate, Dedup, TextAnalysis}

/** chunk / unimax / tfidfTopTerms / selectCanonical vs straight-line
 * driver-side replays of their stated contracts. */
class CurateOpsSpec extends SparkSpecBase {
  import spark.implicits._

  // --- chunk -----------------------------------------------------------------

  test("chunk: windows, overlap, tail rule, token-less drop") {
    val docs = Seq(
      (1L, "a b c d e f g h"),   // 8 tokens: a genuinely new-token tail
      (2L, "a b c"),             // exactly one window
      (3L, "a b c d"),           // tail at s=3 is all-overlap -> suppressed
      (4L, "???!!!")             // no word tokens -> drops
    ).toDF("id", "text")
    val got = Curate.chunk(docs, col("id"), col("text"), size = 4, overlap = 1)
      .orderBy(col("id"), col("chunk_index"))
      .select(col("id"), col("chunk_index"), col("start_token"),
        col("n_tokens"), col("chunk_text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // step = 3; doc 1 (ntok 8): starts 0,3,6 (6 < 8-1 -> new token "h");
    // doc 3 (ntok 4): s=3 covers only token "d", already inside [0,4) -> out
    assert(got.toSeq == Seq(
      (1L, 0, 0L, 4L, "a b c d"),
      (1L, 1, 3L, 4L, "d e f g"),
      (1L, 2, 6L, 2L, "g h"),
      (2L, 0, 0L, 3L, "a b c"),
      (3L, 0, 0L, 4L, "a b c d")))
  }

  test("chunk: zero overlap partitions the token stream exactly") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val got = Curate.chunk(docs, col("id"), col("text"), size = 4, overlap = 0)
      .orderBy(col("chunk_index")).collect()
    assert(got.map(_.getAs[Long]("n_tokens")).toSeq == Seq(4L, 4L, 2L))
    assert(got.map(_.getAs[String]("chunk_text")).mkString(" ") ==
      (1 to 10).map(i => s"t$i").mkString(" "))
  }

  test("chunk: guards") {
    val docs = Seq((1L, "a b")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      Curate.chunk(docs, col("id"), col("text"), size = 4, overlap = 4) }
    intercept[IllegalArgumentException] {
      Curate.chunk(docs, col("id"), col("text"), size = 0, overlap = 0) }
  }

  // --- unimax ----------------------------------------------------------------

  test("unimax: smallest-first greedy with the epoch cap") {
    // counts: a=1, b=2, c=7; budget 12, cap 3 epochs
    val df = (Seq.fill(1)("a") ++ Seq.fill(2)("b") ++ Seq.fill(7)("c"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
    val got = Curate.unimax(df, col("lang"), budget = 12, maxEpochs = 3)
      .orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // a: min(1*3, 12/3 = 4) = 3 (capped), left 9
    // b: min(2*3, 9/2 = 4.5) = 6? no - min(6, 4.5) = 4.5, left 4.5
    // c: min(21, 4.5/1) = 4.5
    assert(got.toSeq == Seq(
      ("a", 1L, 3.0, 3.0), ("b", 2L, 4.5, 2.25), ("c", 7L, 4.5, 4.5 / 7)))
    assert(math.abs(got.map(_._3).sum - 12.0) < 1e-9)
  }

  test("unimax: budget beyond cap*corpus leaves the remainder unallocated") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "lang")
    val got = Curate.unimax(df, col("lang"), budget = 100, maxEpochs = 2)
      .collect().map(r => r.getDouble(2))
    assert(got.toSeq == Seq(2.0, 2.0)) // both capped at 2 epochs x 1 doc
  }

  // --- tfidfTopTerms ---------------------------------------------------------

  test("tfidf: sklearn-smoothed weights and per-doc top-k") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")).toDF("id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, col("id"), col("text"), topK = 2)
      .orderBy(col("id"), col("term_rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    def idf(df: Int) = math.log(4.0 / (1 + df)) + 1 // N = 3
    val exp = Seq(
      (1L, "apple", 2L, 2 * idf(1)),
      (1L, "banana", 1L, idf(2)),
      (2L, "banana", 1L, idf(2)),
      (2L, "cherry", 1L, idf(2)),
      (3L, "cherry", 3L, 3 * idf(2)),
      (3L, "date", 1L, idf(1)))
    assert(got.length == exp.length)
    got.zip(exp).foreach { case ((gi, gt, gtf, gw), (ei, et, etf, ew)) =>
      assert((gi, gt, gtf) == (ei, et, etf))
      assert(math.abs(gw - ew) < 1e-12, s"$gt: $gw vs $ew")
    }
  }

  // --- selectCanonical -------------------------------------------------------

  test("selectCanonical: one winner per cluster, singletons survive") {
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0),  // cluster {1,2,3}: 2 wins (tie by id)
      (4L, 1.0),                        // singleton
      (5L, 2.0), (6L, 7.0)              // cluster {5,6}: 6 wins
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    // the driver union-find arm (default bound) and the distributed arm (0)
    for (bound <- Seq(Dedup.DriverClusterMaxPairs, 0)) {
      val got = Dedup.selectCanonical(docs, col("doc_id"), col("q"),
          pairs, col("id_a"), col("id_b"), bound)
        .orderBy(col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
      assert(got.toSeq == Seq(
        (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
        (4L, 4L, true), (5L, 5L, false), (6L, 5L, true)), s"bound $bound")
      // exactly one kept per cluster
      assert(got.filter(_._3).map(_._2).distinct.length == got.map(_._2).distinct.length)
    }
  }

  test("plans: no cartesian / nested-loop beyond the single-row N broadcast") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b")).toDF("id", "text")
    for (df <- Seq(
        Curate.chunk(docs, col("id"), col("text"), 4, 1),
        TextAnalysis.tfidfTopTerms(docs, col("id"), col("text"), 2))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }
}
