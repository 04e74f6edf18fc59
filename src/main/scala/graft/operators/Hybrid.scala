package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Collection
import graft.model.{FusionType, Metric, NearVector, Hybrid => HybridParams}

/**
 * Hybrid search: sparse (BM25) + dense (vector) legs fused
 * (reference: usecases/traverser/explorer_hybrid.go:37-120,
 * hybrid/searcher.go:75-156; fusion math hybrid/hybrid_fusion.go).
 *
 * Each leg is a bounded top-fetchN frame (overfetch, reference
 * explorer_hybrid.go:66-71). Its (id, score) list is fetched to the driver,
 * at most legs × fetchN rows in all, and fused, ranked and cut to the page
 * there in plain Scala, as the reference fuses in-process
 * (hybrid_fusion.go:22-182). The page then reads its rows from the
 * collection by id with the scores attached from literal maps, so no join
 * or shuffle runs over the legs. The expensive work (scan or index probe +
 * TopK per leg) stays in Spark.
 */
object HybridSearch {

  val ScoreCol = "_hybrid_score"
  /** Original-leg score carried for tie-breaking (reference: hybrid_fusion.go:68-79 —
   * |Δscore| < 1e-7 falls back to SecondarySortValue desc, then id). Every
   * fused page carries it; the caller drops it after its last re-order. */
  val SecondaryCol = "_secondary"

  /** The reference ranks on FLOAT32 scores (search.Result.Score/
   * SecondarySortValue are float32, entities/search/result.go:26-27) with a
   * 1e-7 tie band (hybrid_fusion.go:70-79 — |Δ|² < 1e-14 falls through to
   * the secondary, then id ASC). 1e-7 is ~1 ulp of float32 near 1, so the
   * band is float32 equality to within rounding: ordering on the
   * float-cast score is the transitive total order that realizes it (the
   * raw epsilon comparator is intransitive and not a sort key). Scores stay
   * double in the OUTPUT — only the sort keys narrow. */
  private[graft] def rankOrder(id: String): Seq[Column] = Seq(
    col(ScoreCol).cast("float").desc,
    col(SecondaryCol).cast("float").desc_nulls_last, col(id).asc)
  private val RrfK = 60.0 // reference: hybrid_fusion.go rankedFusion constant

  /** Per-result fusion explanation (search.Result.ExplainScore — built by
   * the fusion itself, hybrid_fusion.go:40-48/140-144): one fragment per
   * contributing leg. */
  val ExplainCol = "_explainScore"

  /** Go %v-ish float render for explain fragments: whole floats drop the
   * ".0" (Go prints float32 2 as "2"). */
  private def goNum(c: Column): Column =
    when(c.cast("double") === c.cast("long").cast("double"),
      c.cast("long").cast("string")).otherwise(c.cast("float").cast("string"))

  /** One fetched leg: its (id, score) hits, with unique ids and a
   * similarity-like score (higher = better), the leg's weight and its
   * explain label. */
  final case class Leg(hits: Seq[(Any, Double)], weight: Double, name: String)

  /** One fused hit. `raw(i)` is leg i's score for the id and `contrib(i)`
   * what leg i adds to the fused score (the explain fragment's value); both
   * are None when leg i did not return the id. `secondary` is the first raw
   * score in leg order, so it is never null for a hit. */
  final case class Fused(id: Any, score: Double, secondary: Double,
                         raw: IndexedSeq[Option[Double]], contrib: IndexedSeq[Option[Double]])

  /** `rankOrder` on the driver: float32 score desc, float32 secondary desc,
   * then id asc. */
  private[graft] val byRank: Ordering[Fused] = (x, y) => {
    val byScore = SparkOrder.compareDouble(y.score.toFloat, x.score.toFloat)
    if (byScore != 0) byScore
    else {
      val bySecondary = SparkOrder.compareDouble(y.secondary.toFloat, x.secondary.toFloat)
      if (bySecondary != 0) bySecondary else SparkOrder.compareId(x.id, y.id)
    }
  }

  private val sparkDoubles: Ordering[Double] = SparkOrder.compareDouble(_, _)

  /**
   * Fuse the fetched legs; the hits come back in `rankOrder`.
   * rankedFusion: score = Σ w_leg / (60 + rank_leg), a leg ranking its hits
   * by score desc, id asc (hybrid_fusion.go:22-81).
   * relativeScore: min-max normalize each leg to [0,1], a flat leg to 1,
   * then the weighted sum (hybrid_fusion.go:93-182; default since 1.24).
   * A leg that did not return an id adds 0.0, and the sum runs in leg
   * order. A single leg scores raw × w; its explain value is the
   * relativeScore one whatever the fusion (FusionRelativeScore runs even
   * over one set).
   */
  def fuse(legs: Seq[Leg], fusion: FusionType): Seq[Fused] = {
    val relative = legs.size == 1 || fusion == FusionType.RelativeScore
    val contribs: Seq[Map[Any, Double]] = legs.map { leg =>
      if (leg.hits.isEmpty) Map.empty[Any, Double]
      else if (relative) {
        // Spark's min/max: NaN is the greatest double, and NaN equals NaN
        val scores = leg.hits.map(_._2)
        val (mn, mx) = (scores.min(sparkDoubles), scores.max(sparkDoubles))
        val flat = mx == mn || (mx.isNaN && mn.isNaN)
        leg.hits.map { case (id, s) =>
          id -> (if (flat) 1.0 else (s - mn) / (mx - mn)) * leg.weight
        }.toMap
      } else
        leg.hits.sorted(SparkOrder.byScoreThenId).zipWithIndex.map { case ((id, _), i) =>
          id -> leg.weight / (RrfK + (i + 1))
        }.toMap
    }
    val raws = legs.map(_.hits.toMap)
    legs.flatMap(_.hits.map(_._1)).distinct.map { id =>
      val raw = raws.map(_.get(id)).toIndexedSeq
      val contrib = contribs.map(_.get(id)).toIndexedSeq
      val score =
        if (legs.size == 1) raw(0).get * legs(0).weight
        else contrib.map(_.getOrElse(0.0)).reduce(_ + _)
      Fused(id, score, raw.flatten.head, raw, contrib)
    }.sorted(byRank)
  }

  /** Per-result explain fragments, in the fusion's own wording, over the
   * page's per-leg raw scores and contributions:
   * ranked — "... contributed <w/(60+rank)> to the score", fragments in LEG
   * order each behind a newline (hybrid_fusion.go:40-48);
   * relativeScore (and a single leg) — "... original score <raw>,
   * normalized score: <weighted-normalized>", fragments in REVERSE leg
   * order joined by " - " with each behind a newline
   * (hybrid_fusion.go:136-144). */
  private def explain(id: String, names: Seq[String], relative: Boolean,
                      raw: Int => Column, contrib: Int => Column): Column =
    if (!relative)
      concat(names.indices.map { i =>
        val frag = format_string(
          s"Hybrid (Result Set ${names(i)}) Document %s contributed %s to the score",
          col(id).cast("string"), goNum(contrib(i)))
        coalesce(when(raw(i).isNotNull, concat(lit("\n"), frag)), lit(""))
      }: _*)
    else
      concat_ws(" - ", names.indices.reverse.map { i =>
        when(raw(i).isNotNull, concat(lit("\n"), format_string(
          s"Hybrid (Result Set ${names(i)}) Document %s: " +
            "original score %s, normalized score: %s",
          col(id).cast("string"), goNum(raw(i)), goNum(contrib(i)))))
      }: _*)

  def search(
      c: Collection,
      params: HybridParams,
      metric: Metric,
      limit: Int,
      overfetch: Int = 100,
      filtered: Option[DataFrame] = None,
      // engine-injected dense search (NearVector, fetchN) → ranked frame with
      // VectorSearch.DistanceCol — lets the hybrid dense leg route through the
      // registered ANN index + filter-selectivity planner instead of always
      // brute-forcing (reference: hybrid legs share the shard's vector index)
      denseSearch: Option[(NearVector, Int) => DataFrame] = None,
      // engine-injected keyword search (Bm25, fetchN) → frame carrying
      // (id, Bm25Search.ScoreCol) — lets the sparse leg serve from the
      // registered postings index instead of full-scan scoring (reference:
      // the hybrid sparse leg IS the shard's inverted index,
      // hybrid/searcher.go sparseSearch → bm25 objects search)
      sparseSearch: Option[(graft.model.Bm25, Int) => DataFrame] = None): DataFrame = {
    val fetchN = math.max(limit, overfetch)
    val id = c.schema.idColumn

    def bm25Leg(kw: graft.model.Bm25): DataFrame =
      sparseSearch.map(f => f(kw, fetchN))
        .getOrElse(Bm25Search.search(c, kw, fetchN, filtered))
        .select(col(id), col(Bm25Search.ScoreCol).as("__s"))

    def denseLeg(nv: NearVector): DataFrame =
      denseSearch.map(f => f(nv, fetchN))
        .getOrElse(VectorSearch.nearVector(c, nv, nv.metric, Some(fetchN), filtered))
        // dense leg fusion input: similarity-like score, higher = better
        // (reference hybrid/searcher.go converts distance to 1 - d/2)
        .select(col(id), (lit(1.0) - col(VectorSearch.DistanceCol) / 2.0).as("__s"))

    // explicit weighted sub-searches replace the alpha legs (reference:
    // retrieval.go:105-109 + common_filters/hybrid.go:72-111; nearText
    // subsearches are resolved to nearVector by the engine facade)
    val legs: Seq[(DataFrame, Double, String)] =
      if (params.subSearches.nonEmpty)
        params.subSearches.map { ss =>
          val df = ss.bm25.map(bm25Leg)
            .orElse(ss.nearVector.map(denseLeg))
            .getOrElse(throw new IllegalArgumentException(
              "hybrid subsearch: nearText must be resolved to nearVector before search"))
          (df, ss.weight, if (ss.bm25.isDefined) "keyword" else "vector")
        }
      else {
        val sparse =
          if (params.query.nonEmpty && params.alpha < 1.0)
            Some((bm25Leg(graft.model.Bm25(params.query, params.properties,
              params.searchOperator)), 1.0 - params.alpha, "keyword"))
          else None
        // a full multi-target dense leg (denseParams) takes precedence over
        // the plain vector (retrieval.go:123 NearVectorParams)
        val dense = params.denseParams.filter(_ => params.alpha > 0.0)
          .map(nv => (denseLeg(nv), params.alpha, "vector"))
          .orElse(params.vector.filter(_ => params.alpha > 0.0).map { v =>
            (denseLeg(NearVector(v, metric, distance = params.maxVectorDistance,
              targetVectors = params.targetVectors)), params.alpha, "vector")
          })
        Seq(sparse, dense).flatten
      }
    // no legs at all (empty query at alpha 0, or alpha 1 with no vector)
    // is a VALID degenerate search in the reference — hybrid/searcher.go
    // Search simply fuses nothing and returns empty, it never errors
    // (mcp query_hybrid_test.go TestQueryHybridEmptyQuery)
    if (legs.isEmpty) {
      val base = filtered.getOrElse(c.df)
      return base.filter(lit(false))
        .withColumn(ScoreCol, lit(0.0)).withColumn(SecondaryCol, lit(0.0))
    }

    // fetch each bounded leg (a postings-served sparse leg is already a
    // local frame) and fuse, rank and cut the page on the driver; a row
    // without a score (no vector to compare) is no hit
    val fetched = legs.map { case (df, w, name) =>
      Leg(df.collect().toSeq.collect { case r if !r.isNullAt(1) => (r.get(0), r.getDouble(1)) },
        w, name)
    }
    val page = fuse(fetched, params.fusionType).take(limit)
    // a literal map keyed by the page's ids; null for an id without a value
    def byId(values: Seq[(Any, Double)]): Column =
      if (values.isEmpty) lit(null).cast(DoubleType)
      else element_at(map_from_arrays(array(values.map(v => lit(v._1)): _*),
        array(values.map(v => lit(v._2)): _*)), col(id))
    def perHit(f: Fused => Option[Double]): Column = byId(page.flatMap(h => f(h).map(h.id -> _)))
    val score = byId(page.map(h => h.id -> h.score)).as(ScoreCol)
    val secondary = byId(page.map(h => h.id -> h.secondary)).as(SecondaryCol)
    val explained = explain(id, fetched.map(_.name),
      relative = fetched.size == 1 || params.fusionType == FusionType.RelativeScore,
      raw = i => perHit(_.raw(i)), contrib = i => perHit(_.contrib(i))).as(ExplainCol)
    val fusedCols =
      if (fetched.size == 1) Seq(explained, score, secondary) else Seq(score, secondary, explained)
    // the page's rows from the collection (ids are unique), laid out as
    // id, fused columns, then the collection's other columns
    val base = filtered.getOrElse(c.df)
    base
      .filter(if (page.isEmpty) lit(false) else col(id).isin(page.map(_.id): _*))
      .select((col(id) +: fusedCols) ++
        base.columns.filterNot(_ == id).map(n => col(s"`${n.replace("`", "``")}`")): _*)
      .orderBy(rankOrder(id): _*)
  }

  /**
   * autocut — faithful port of the reference algorithm
   * (entities/autocut/autocut.go:14-51): over the ranked score curve, let
   * ynorm_i = (y_i − y_0)/(y_last − y_0), diff_i = ynorm_i − i/(n−1); count
   * local maxima of diff (last element compares against i−1 and i−2); cut
   * *before* the cutOff-th extremum; no such extremum → keep everything.
   * Expressed entirely with window functions over the bounded top-k frame.
   */
  def autocut(ranked: DataFrame, scoreCol: Column, id: Column, cuts: Int): DataFrame = {
    val w = BoundedWindow.ordered(scoreCol.desc, id.asc)
    val wAll = BoundedWindow.orderedAll(scoreCol.desc, id.asc)
    val base = ranked
      .withColumn("__i", row_number().over(w) - 1)
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__y0", first(scoreCol).over(wAll))
      .withColumn("__yl", last(scoreCol).over(wAll))
    val ynorm = (scoreCol - col("__y0")) / (col("__yl") - col("__y0"))
    val diffed = base.withColumn("__diff",
      when(col("__n") <= 1 || col("__yl") === col("__y0"), lit(0.0))
        .otherwise(ynorm - col("__i").cast("double") / (col("__n") - 1)))
    val d = col("__diff")
    val dPrev = lag(d, 1).over(w); val dPrev2 = lag(d, 2).over(w); val dNext = lead(d, 1).over(w)
    val isExt = when(col("__i") === 0, lit(0))
      .when(col("__i") === col("__n") - 1,
        (d > dPrev && d > coalesce(dPrev2, dPrev)).cast("int"))
      .otherwise((d > dPrev && d > dNext).cast("int"))
    val marked = diffed
      .withColumn("__ext", isExt)
      .withColumn("__extCum", sum(col("__ext")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val cutAt = min(when(col("__ext") === 1 && col("__extCum") >= cuts, col("__i"))).over(wAll)
    marked.withColumn("__cut", cutAt)
      .filter(col("__cut").isNull || col("__i") < col("__cut"))
      .drop("__i", "__n", "__y0", "__yl", "__diff", "__ext", "__extCum", "__cut")
  }
}
