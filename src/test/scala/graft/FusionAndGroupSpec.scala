package graft

import org.apache.spark.sql.functions._

import graft.model.FusionType
import graft.operators.{HybridSearch, ResultGroupBy}

class FusionAndGroupSpec extends SparkSpecBase {
  import spark.implicits._

  private def leg(hits: Seq[(Long, Double)], w: Double, name: String) =
    HybridSearch.Leg(hits.map { case (i, s) => (i: Any, s) }, w, name)

  test("rankedFusion (RRF) = sum of w/(60+rank)") {
    val sparse = leg(Seq((1L, 10.0), (2L, 8.0), (3L, 5.0)), 0.3, "keyword")
    val dense = leg(Seq((2L, 0.9), (3L, 0.8), (4L, 0.7)), 0.7, "vector")
    val out = HybridSearch.fuse(Seq(sparse, dense), FusionType.Ranked)
      .map(h => h.id.asInstanceOf[Long] -> h.score).toMap
    assert(math.abs(out(1L) - 0.3 / 61) < 1e-12)
    assert(math.abs(out(2L) - (0.3 / 62 + 0.7 / 61)) < 1e-12)
    assert(math.abs(out(3L) - (0.3 / 63 + 0.7 / 62)) < 1e-12)
    assert(math.abs(out(4L) - 0.7 / 63) < 1e-12)
  }

  test("relativeScoreFusion min-max normalizes each leg") {
    val sparse = leg(Seq((1L, 10.0), (2L, 5.0)), 0.5, "keyword")
    val dense = leg(Seq((1L, 0.5), (2L, 1.0)), 0.5, "vector")
    val out = HybridSearch.fuse(Seq(sparse, dense), FusionType.RelativeScore)
      .map(h => h.id.asInstanceOf[Long] -> h.score).toMap
    assert(math.abs(out(1L) - (0.5 * 1.0 + 0.5 * 0.0)) < 1e-12)
    assert(math.abs(out(2L) - (0.5 * 0.0 + 0.5 * 1.0)) < 1e-12)
  }

  test("autocut cuts before the first extremum (reference semantics)") {
    // scores: big cliff after rank 3 → diff curve has a local max at i=3
    val ranked = Seq((1L, 1.00), (2L, 0.99), (3L, 0.98), (4L, 0.30), (5L, 0.29))
      .toDF("id", "s")
    val kept = HybridSearch.autocut(ranked, col("s"), col("id"), 1)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("autocut with no extremum keeps everything (linear curve)") {
    // exactly-representable linear curve: ynorm_i == i/(n-1) bit-for-bit
    val ranked = Seq((1L, 1.0), (2L, 0.75), (3L, 0.5), (4L, 0.25)).toDF("id", "s")
    val kept = HybridSearch.autocut(ranked, col("s"), col("id"), 1).count()
    assert(kept == 4)
  }

  test("autocut matches the reference's own test table (autocut_test.go:20-45)") {
    // values fed through float32 like the reference (Autocut([]float32)):
    // the 0.045160502/0.045160501 tail collapses to one float, which the
    // expected count depends on
    val cases: Seq[(Seq[Double], Int, Int)] = Seq(
      (Seq(), 1, 0),
      (Seq(2), 1, 1),
      (Seq(2, 1.95, 1.9, 0.2, 0.1, 0.1, -1), 1, 3),
      (Seq(2, 1.95, 1.9, 0.2, 0.1, 0.1, -2), 2, 6),
      (Seq(5, 1, 1, 1, 1, 0, 0), 1, 1),
      (Seq(5, 1, 1, 1, 1, 0, 0), 2, 5),
      (Seq(0.298, 0.260, 0.169, 0.108, 0.108, 0.104, 0.093), 1, 3),
      (Seq(0.5, 0.32, 0.31, 0.30, 0.29, 0.15), 1, 1),
      (Seq(0.5, 0.32, 0.31, 0.30, 0.29, 0.15, 0.15, 0.15), 2, 5),
      (Seq(1.0, 0.98, 0.95, 0.9, 0.88, 0.87, 0.80, 0.79), 1, 3),
      (Seq(1.0, 0.98, 0.95, 0.9, 0.88, 0.87, 0.80, 0.79), 2, 6),
      (Seq(1.0, 0.98, 0.95, 0.9, 0.88, 0.87, 0.80, 0.79), 3, 8),
      (Seq(0.586835, 0.5450372, 0.34137487, 0.30482167, 0.2753393), 1, 2),
      (Seq(0.36663342, 0.33818772, 0.045160502, 0.045160501), 1, 2))
    for (((values, cutOff, expected), ci) <- cases.zipWithIndex) {
      val ranked = values.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toFloat.toDouble) }.toDF("id", "s")
      val kept = HybridSearch.autocut(ranked, col("s"), col("id"), cutOff).count()
      assert(kept == expected, s"case $ci: values=$values cutOff=$cutOff " +
        s"got $kept want $expected")
    }
  }

  test("greedy result grouping: group order by best rank, caps respected") {
    val ranked = Seq(
      (1L, 1, "a"), (2L, 2, "b"), (3L, 3, "a"), (4L, 4, "c"),
      (5L, 5, "b"), (6L, 6, "a"), (7L, 7, "c"), (8L, 8, "d"))
      .toDF("id", "rnk", "grp")
    val out = ResultGroupBy(ranked, "rnk", "grp", groups = 2, objectsPerGroup = 2)
      .select($"group_index", $"group_value", $"group_hit_rank", $"id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    // groups kept: a (best rank 1), b (best rank 2); 2 hits each
    assert(out == Set((1, "a", 1, 1L), (1, "a", 2, 3L), (2, "b", 1, 2L), (2, "b", 2, 5L)))
  }

  test("array grouping: groups seeded by ONE hit open in element order, cap holds") {
    // hit 1 carries ["a","b"] — both groups share its rank, so the tie-break
    // must be the element position (reference walks values in element order)
    val ranked = Seq(
      (1L, 1, Seq("a", "b")), (2L, 2, Seq("c")), (3L, 3, Seq("b", "a")))
      .toDF("id", "rnk", "grp")
    val one = ResultGroupBy(ranked, "rnk", "grp", groups = 1, objectsPerGroup = 5,
        explodeArrays = true)
      .select($"group_index", $"group_value", $"id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // groups=1 keeps ONLY "a" (element 0 of the best hit), never both
    assert(one == Set((1, "a", 1L), (1, "a", 3L)))
    val two = ResultGroupBy(ranked, "rnk", "grp", groups = 2, objectsPerGroup = 5,
        explodeArrays = true)
      .select($"group_index", $"group_value", $"id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // groups=2: a=1, b=2 (element order), c dropped; group_index never dupes
    assert(two == Set((1, "a", 1L), (1, "a", 3L), (2, "b", 1L), (2, "b", 3L)))
  }
}
