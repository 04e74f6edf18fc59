package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/**
 * Maximal-Marginal-Relevance re-selection over a bounded top-k candidate pool
 * (reference: vector/selection/mmr.go:35; params retrieval.go:24-31):
 * iteratively pick argmax of λ·relevance − (1−λ)·max-similarity-to-selected.
 *
 * Deliberately driver-side (like the reference, and like autocut/merge-group):
 * the pool is ≤ a few hundred rows after TopK, so distributing the O(k²)
 * selection would only add shuffles (SURVEY §2.11).
 */
object Mmr {

  /** @param pool  candidate pool with id, vector and relevance columns
    * @param lambda balance: 1.0 = pure relevance, 0.0 = pure diversity */
  def rerank(pool: DataFrame, idCol: String, vecCol: String, relevanceCol: String,
             lambda: Double, k: Int): DataFrame = {
    val rows: Array[(Any, Array[Double], Double)] = pool
      .select(col(idCol), col(vecCol), col(relevanceCol).cast("double"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2)))

    def cosineSim(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }

    // selected keeps the row INDEX (diversify's incremental pattern) — an
    // id-based indexWhere inside the scoring loop was an O(n) scan per
    // similarity evaluation
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(rows.indices: _*)
    while (selected.size < math.min(k, rows.length) && remaining.nonEmpty) {
      val scoresByIdx = remaining.map { i =>
        val (_, vec, rel) = rows(i)
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map { case (j, _) => cosineSim(vec, rows(j)._2) }.max
        i -> (lambda * rel - (1 - lambda) * maxSim)
      }
      val (bestIdx, bestScore) = scoresByIdx.maxBy(_._2)
      selected += ((bestIdx, bestScore))
      remaining -= bestIdx
    }

    val spark = pool.sparkSession
    val out = selected.zipWithIndex.map { case ((idx, score), rank) =>
      Row(rows(idx)._1, rank + 1, score)
    }
    val idField = pool.schema(idCol)
    spark.createDataFrame(
      java.util.Arrays.asList(out.toSeq: _*),
      StructType(Seq(idField.copy(name = "id"),
        StructField("mmr_rank", IntegerType), StructField("mmr_score", DoubleType))))
  }

  /**
   * The reference's TERMINAL Selection{MMR} pass in its exact distance form
   * (selection/mmr.go:21-140: score = −balance·queryDist +
   * (1−balance)·minDistToSelected; balance 1 = pure relevance; the first
   * pick is the lowest query distance; unselected candidates fill the tail
   * in their original order — selection_hybrid.go:104-116): reorders the
   * bounded PAGE by the diversified order, keeps `limit` rows. Columns pass
   * through; `_mmr_rank` (1-based) is appended. A multi-vector column
   * (array<array<float>>) is diversified by the MaxSim distance its search
   * ranks by, with the selected row as the query; `metric` then is unused.
   */
  def diversify(page: DataFrame, idCol: String, vecCol: String, distCol: String,
                balance: Double, limit: Int,
                metric: graft.model.Metric = graft.model.Metric.Cosine): DataFrame = {
    require(balance >= 0 && balance <= 1, "MMR balance must be between 0 and 1")
    val multi = page.schema(vecCol).dataType match {
      case ArrayType(_: ArrayType, _) => true
      case _ => false
    }
    type Floats = scala.collection.Seq[Float]
    def doubles(v: Floats): Array[Double] = v.map(_.toDouble).toArray
    // each row's vectors: one for a single-vector column
    val rows: Array[(Any, Array[Array[Double]], Double)] = page
      .select(col(idCol), col(vecCol), col(distCol).cast("double"))
      .collect()
      .map(r => (r.get(0),
        if (multi) r.getSeq[Floats](1).map(doubles).toArray else Array(doubles(r.getSeq[Float](1))),
        r.getDouble(2)))
    import graft.model.Metric
    // MaxSim late interaction as a distance: -Σ_i max_j (a_i · b_j)
    def maxSim(a: Array[Array[Double]], b: Array[Array[Double]]): Double =
      -a.map(q => b.map(d => q.indices.map(i => q(i) * d(i)).sum).max).sum
    // pairwise diversity distance under the CLASS metric (the reference
    // hands the selector distProv.SingleDist — the index's own distancer)
    def pairDist(a: Array[Array[Double]], b: Array[Array[Double]]): Double =
      if (multi) maxSim(a, b) else singleDist(a(0), b(0))
    def singleDist(a: Array[Double], b: Array[Double]): Double = metric match {
      case Metric.L2Squared =>
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      case Metric.Manhattan =>
        var s = 0.0; var i = 0
        while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
        s
      case Metric.Hamming =>
        var s = 0.0; var i = 0
        while (i < a.length) { if (a(i) != b(i)) s += 1; i += 1 }
        s
      case Metric.Dot =>
        var dot = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); i += 1 }
        -dot
      case _ => // cosine (+ Default resolved upstream)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0 || nb == 0) 1.0 else 1.0 - dot / math.sqrt(na * nb)
    }
    val n = rows.length
    val removed = Array.fill(n)(false)
    val minDist = Array.fill(n)(Double.PositiveInfinity)
    val order = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n > 0) {
      var best = rows.indices.minBy(i => (rows(i)._3, i))
      order += best; removed(best) = true
      var lastVec = rows(best)._2
      while (order.size < math.min(limit, n)) {
        var bestScore = Double.NegativeInfinity
        var bestIdx = -1
        var i = 0
        while (i < n) {
          if (!removed(i)) {
            val d = pairDist(lastVec, rows(i)._2)
            if (d < minDist(i)) minDist(i) = d
            val score = -balance * rows(i)._3 + (1 - balance) * minDist(i)
            if (score > bestScore) { bestScore = score; bestIdx = i }
          }
          i += 1
        }
        if (bestIdx == -1) return fillAndJoin(page, idCol, rows, order, limit)
        order += bestIdx; removed(bestIdx) = true
        lastVec = rows(bestIdx)._2
      }
    }
    fillAndJoin(page, idCol, rows, order, limit)
  }

  private def fillAndJoin(page: DataFrame, idCol: String,
                          rows: Array[(Any, Array[Array[Double]], Double)],
                          order: scala.collection.mutable.ArrayBuffer[Int],
                          limit: Int): DataFrame = {
    // unselected candidates keep their original relevance order behind the
    // diversified page (selection_hybrid.go fill), then the limit applies
    val full = order.toSeq ++ rows.indices.filterNot(order.contains)
    val spark = page.sparkSession
    val idField = page.schema(idCol)
    val rankDf = spark.createDataFrame(
      java.util.Arrays.asList(
        full.zipWithIndex.map { case (idx, rank) => Row(rows(idx)._1, rank + 1) }: _*),
      StructType(Seq(idField.copy(name = "__mmr_id"),
        StructField("_mmr_rank", IntegerType))))
    page.join(broadcast(rankDf), col(idCol) === col("__mmr_id"))
      .drop("__mmr_id")
      .orderBy(col("_mmr_rank").asc)
      .limit(limit)
  }
}
