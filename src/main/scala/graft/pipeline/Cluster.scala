package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorFunctions
import org.apache.spark.storage.StorageLevel

/**
 * Deterministic Lloyd k-means — the TRAINED upgrade of
 * [[Dedup.seedAssign]]'s 0-iteration nearest-seed clustering, for the
 * curation paths that bucket by embedding (SemDeDup, cluster-balanced
 * selection, IVF-style sharding). The IVF/PQ quantizer trainer
 * (`ann/KMeansTrainer.scala`) samples by hash and seeds k-means++ from an
 * RNG, so it is deterministic per seed but not replayable in SQL; this
 * one is exactly reproducible by ANY engine, so the whole model sits on the
 * correctness gate like the other replayed models (DSIR, CCNet, SemDeDup).
 *
 * Model: centroids init from the `k` smallest-id rows (the seedAssign
 * rule); each iteration assigns every row to its L2-nearest centroid (ties
 * to the LOWER centroid index) and recomputes each centroid as the
 * per-dimension mean of its members — a cluster that loses all members
 * keeps its previous centroid (deterministic, no re-seeding). After `iters`
 * updates the returned assignment is against the FINAL centroids, with the
 * double-math squared-L2 distance attached.
 *
 * Scale shape: `iters`+1 scans over a persisted (id, vector) projection.
 * Assignment is the codegen'd NearestCentroids kernel — map-side only, the
 * centroid table rides in the closure (k·d doubles, the same footprint as
 * the IVF centroid table). The update is posexplode → (cluster, dim) hash
 * agg (partial-aggregated, k·d result rows) collected driver-side — model
 * constants, the quantizer-training precedent. The final distance join is a
 * broadcast equi-join on the k-row centroid frame. No window, no pairwise
 * work; the only shuffles are the k·d-sized mean aggs.
 */
object Cluster {

  /** @return (assignments (__id, __cluster, __dist), final centroids).
   * `iters = 0` degenerates to seedAssign's nearest-seed clustering. */
  def lloyd(df: DataFrame, idCol: Column, vecCol: Column, k: Int, iters: Int)
      : (DataFrame, Array[Array[Double]]) = {
    require(k >= 1 && k <= 65536, "lloyd: k must be centroid-table-sized")
    require(iters >= 0 && iters <= 64, "lloyd: iteration count is a bounded model constant")
    val spark = df.sparkSession
    val rows = df.select(idCol.as("__id"), vecCol.as("__vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var centers: Array[Array[Double]] = rows.orderBy(col("__id")).limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(centers.nonEmpty, "lloyd: empty input")

    def assigned(c: Array[Array[Double]]): DataFrame =
      rows.withColumn("__cluster",
        element_at(VectorFunctions.nearestCentroids(col("__vec"), c, 1), 1))

    for (_ <- 1 to iters) {
      val updated = assigned(centers)
        .select(col("__cluster"), posexplode(col("__vec")).as(Seq("__dim", "__x")))
        .groupBy(col("__cluster"), col("__dim"))
        .agg(avg(col("__x").cast("double")).as("__m"))
        .groupBy(col("__cluster"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"), col("__m")))),
          e => e.getField("__m")).as("__cv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centers = centers.indices.map(i => updated.getOrElse(i, centers(i))).toArray
    }

    import spark.implicits._
    val centDf = centers.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
      .toDF("__cluster", "__cv")
    val out = assigned(centers)
      .join(broadcast(centDf), Seq("__cluster"))
      // double-math squared L2 (the same fold shape as the t2 oracle's sqlL2)
      .withColumn("__dist", aggregate(
        zip_with(col("__vec"), col("__cv"),
          (x, y) => pow(x.cast("double") - y, lit(2))),
        lit(0.0), (acc, z) => acc + z))
      .select(col("__id"), col("__cluster"), col("__dist"))
    // `out` is lazy and still reads `rows` — an eager unpersist here would
    // force the caller's evaluation to recompute from source. The cached
    // blocks are reclaimed by the ContextCleaner once the frame is
    // unreferenced (the clusterPairs precedent).
    (out, centers)
  }
}
