package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.model.{CollectionSchema, FusionType, Hybrid, Metric}
import graft.operators.{Bm25Search, HybridSearch, VectorSearch}
import graft.operators.HybridSearch.{Fused, Leg}

/**
 * relativeScoreFusion parity with the reference's own test matrix
 * (usecases/traverser/hybrid/fusion_test.go TestFusionRelativeScore — the
 * two-leg cases; scores asserted to 1e-4 like the reference), run on the
 * driver fusion `HybridSearch.fuse`.
 */
class FusionParitySpec extends SparkSpecBase {

  private def leg(scores: Seq[Double], w: Double, name: String) =
    Leg(scores.zipWithIndex.map { case (s, i) => (i.toLong: Any, s) }, w, name)

  private def run(w1: Double, w2: Double, l1: Seq[Double], l2: Seq[Double]): Seq[(Long, Double)] =
    HybridSearch.fuse(Seq(leg(l1, w1, "keyword"), leg(l2, w2, "vector")), FusionType.RelativeScore)
      .map(h => (h.id.asInstanceOf[Long], h.score))

  // (weights, leg1 scores, leg2 scores, expected order, expected scores)
  private val cases: Seq[((Double, Double), Seq[Double], Seq[Double], Seq[Long], Seq[Double])] = Seq(
    ((0.5, 0.5), Seq(1, 2, 3), Seq(0, 1, 2), Seq(2, 1, 0), Seq(1, 0.5, 0)),
    ((0.5, 0.5), Seq(0, 2, 0.1), Seq(0, 0.2, 2), Seq(1, 2, 0), Seq(0.55, 0.525, 0)),
    ((0.75, 0.25), Seq(0.5, 0.5, 0), Seq(0, 0.01, 0.001), Seq(1, 0, 2), Seq(1, 0.75, 0.025)),
    ((0.75, 0.25), Nil, Nil, Nil, Nil),
    ((0.75, 0.25), Seq(1), Nil, Seq(0), Seq(0.75)),
    ((0.75, 0.25), Nil, Seq(1), Seq(0), Seq(0.25)),
    ((0.75, 0.25), Seq(1, 2), Nil, Seq(1, 0), Seq(0.75, 0)),
    ((0.75, 0.25), Nil, Seq(1, 2), Seq(1, 0), Seq(0.25, 0)),
    ((0.75, 0.25), Seq(1, 1), Seq(1, 2), Seq(1, 0), Seq(1, 0.75)),
    ((0.75, 0.25), Seq(1, 2, 3, 4), Seq(1, 2, 3), Seq(3, 2, 1, 0), Seq(0.75, 0.75, 0.375, 0)))

  test("float32 tie band: sub-ulp score gaps fall through to the secondary") {
    // reference comparator (hybrid_fusion.go:68-79): float32 scores, ties
    // within 1e-7 resolved by SecondarySortValue desc, then id asc. id 0's
    // fused score exceeds id 1's by 2.5e-9 — invisible at float32 — and its
    // secondary is SMALLER, so the reference ranks id 1 first while an
    // exact-double sort would rank id 0 first.
    val rows = Seq((0L, 0.75 + 2.5e-9, 0.8), (1L, 0.75, 0.9))
    // straight-line replay of the reference's epsilon comparator
    val exp = rows.sortWith { case ((ia, sa, ka), (ib, sb, kb)) =>
      val d = sb.toFloat - sa.toFloat
      if (d * d < 1e-14) {
        val d2 = kb.toFloat - ka.toFloat
        if (d2 * d2 < 1e-14) ia < ib else ka.toFloat > kb.toFloat
      } else sa.toFloat > sb.toFloat
    }.map(_._1)
    assert(exp == Seq(1L, 0L)) // the band genuinely changes the order
    assert(rows.sortBy(-_._2).map(_._1) == Seq(0L, 1L))
    // the driver ranking fuse() applies ...
    val driver = rows.map { case (i, s, k) => Fused(i, s, k, Vector.empty, Vector.empty) }
      .sorted(HybridSearch.byRank).map(_.id)
    assert(driver == exp)
    // ... and the Spark order the engine's page and groupBy pool use agree
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, s, sec) => Row(i, s, sec) }, 1),
      StructType(Seq(StructField("id", LongType),
        StructField(HybridSearch.ScoreCol, DoubleType),
        StructField(HybridSearch.SecondaryCol, DoubleType))))
    assert(df.orderBy(HybridSearch.rankOrder("id"): _*).collect().map(_.getLong(0)).toSeq == exp)
  }

  test("driver ranking: string ids by UTF-8 bytes, -0.0 == 0.0, NaN greatest") {
    def fused(id: Any, s: Double, k: Double) = Fused(id, s, k, Vector.empty, Vector.empty)
    // U+FF21 sorts before U+1F600 in UTF-8 (EF.. < F0..) but after it in
    // UTF-16 (FF21 > D83D); Spark compares UTF-8 bytes
    val ids = Seq("\uD83D\uDE00", "\uFF21", "é", "b", "a", "Z")
    val tied = ids.map(fused(_, 0.5, 0.5)).sorted(HybridSearch.byRank).map(_.id)
    assert(tied == Seq("Z", "a", "b", "é", "\uFF21", "\uD83D\uDE00"))
    val zeros = Seq(fused(2L, 0.0, 1.0), fused(1L, -0.0, 1.0), fused(3L, Double.NaN, 0.0))
      .sorted(HybridSearch.byRank).map(_.id)
    assert(zeros == Seq(3L, 1L, 2L))
  }

  test("relativeScoreFusion matches the reference fusion_test.go matrix") {
    for ((((w1, w2), l1, l2, expOrder, expScores), i) <- cases.zipWithIndex) {
      val got = run(w1, w2, l1, l2)
      assert(got.map(_._1) == expOrder, s"case $i order: got ${got.map(_._1)} want $expOrder")
      got.map(_._2).zip(expScores).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-4, s"case $i score: got $g want $e")
      }
    }
  }

  test("explain fragments match fusion_test.go's wording") {
    // fusion_test.go:85-86 pins "(Result Set keyword) Document 1: original
    // score 0.5, normalized score: 0.5" / "(Result Set vector) ... original
    // score 2, normalized score: 0.5" over keyword [1, 0.5] vector [4, 2]
    // at weights 0.5/0.5; the legs are injected as fixed frames
    val c = graft.engine.Collection(CollectionSchema("F", "id", Nil),
      spark.range(2).toDF("id"))
    def frame(scoreCol: String, scores: Seq[Double]) = spark.createDataFrame(
      spark.sparkContext.parallelize(scores.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }, 1),
      StructType(Seq(StructField("id", LongType), StructField(scoreCol, DoubleType))))
    def explained(fusion: FusionType): Map[Long, String] =
      HybridSearch.search(c, Hybrid("q", vector = Some(Array(0f)), alpha = 0.5,
          fusionType = fusion), Metric.Cosine, limit = 2,
          sparseSearch = Some((_, _) => frame(Bm25Search.ScoreCol, Seq(1, 0.5))),
          // dense leg score = 1 - distance / 2: raw [4, 2]
          denseSearch = Some((_, _) => frame(VectorSearch.DistanceCol, Seq(-6, -2))))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String](HybridSearch.ExplainCol)).toMap
    val doc1 = explained(FusionType.RelativeScore)(1L)
    assert(doc1.contains("(Result Set keyword) Document 1: original score 0.5, normalized score: 0"))
    assert(doc1.contains("(Result Set vector) Document 1: original score 2, normalized score: 0"))
    // ranked fusion renders the contributed-RRF wording
    val r0 = explained(FusionType.Ranked)(0L)
    assert(r0.contains("(Result Set keyword) Document 0 contributed"))
    assert(r0.contains("to the score"))
  }
}
