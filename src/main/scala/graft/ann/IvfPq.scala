package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Metric
import graft.operators.VectorSearch

/**
 * IVF-PQ composition: coarse IVF partitioning + RESIDUAL product-quantized
 * codes inside each posting list + exact rescore — the classic two-level ANN
 * layout (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
 * Search" §IV; the reference composes the same two stages when its HNSW/flat
 * indexes run PQ-compressed, compressionhelpers/product_quantization.go +
 * the coarse layer, and SURVEY §9.2 names this composition as the
 * low-nprobe accuracy lever).
 *
 * Residual encoding: each row stores PQ codes of (vector − its centroid),
 * not the raw vector. Residuals concentrate near zero with far smaller
 * spread than raw vectors, so the same m×k codebook budget yields much
 * tighter ADC estimates — this is what makes the first pass trustworthy at
 * low nprobe. At query time the ADC table is built per probed centroid from
 * the query residual (q − c_p), selected per row by a small `__centroid`
 * when-chain (nprobe branches, all codegen'd).
 *
 * 100 TB shape: probe prunes to nprobe/nlist of the data via parquet
 * partition pruning (the IVF layout), the first pass reads ONLY the m-byte
 * code column of that subset, TakeOrderedAndProject bounds candidates per
 * partition, and the bounded candidate frame broadcast-left-semi-joins back
 * for the exact rescore — scan bytes ≈ (nprobe/nlist) × (m/4d) of the
 * vector data, e.g. 1/8 × 1/32 ≈ 0.4%.
 */
final case class IvfPqIndex(ivf: IvfIndex, pq: ProductQuantizer, codeCol: String) {

  private def idCol = ivf.idCol
  private def vecCol = ivf.vecCol

  /** Query residual vs centroid `cid` — the per-probe ADC table input. */
  private def queryResidual(query: Array[Float], cid: Int): Array[Float] = {
    val c = ivf.centroids.find(_._1 == cid).get._2
    Array.tabulate(query.length)(i => (query(i) - c(i)).toFloat)
  }

  /** Per-row ADC distance: the probed centroid picks its own residual table
   * (small when-chain over nprobe branches; each branch is the codegen'd
   * table-lookup aggregate of ProductQuantizer.adcDistance). */
  private def adcOverProbes(query: Array[Float], probes: Seq[Int]): Column =
    probes.foldLeft(lit(Double.MaxValue)) { (acc, p) =>
      when(col("__centroid") === p,
        pq.adcDistance(col(codeCol), queryResidual(query, p))).otherwise(acc)
    }

  /** Two-level search: probe → residual-ADC first pass → exact rescore. */
  def search(query: Array[Float], topK: Int, nprobe: Int,
             rescoreFactor: Int = 4, metric: Metric = Metric.L2Squared): DataFrame = {
    val probes = ivf.rankCentroids(query).take(nprobe).toSeq
    val cands = firstPass(query, probes, topK * rescoreFactor).select(col(idCol))
    val subset = ivf.assigned.filter(col("__centroid").isin(probes: _*))
    val candidates = subset.join(broadcast(cands), Seq(idCol), "left_semi")
    VectorSearch.withDistance(candidates, vecCol, query, metric)
      .orderBy(col(VectorSearch.DistanceCol).asc, col(idCol).asc)
      .limit(topK)
      .drop("__centroid", codeCol)
  }

  /** Phase-1 frame over (id, centroid, code) only — exposed for plan asserts. */
  private[graft] def firstPass(query: Array[Float], probes: Seq[Int], n: Int): DataFrame =
    ivf.assigned.filter(col("__centroid").isin(probes: _*))
      .select(col(idCol), col("__centroid"), col(codeCol))
      .withColumn("__adc", adcOverProbes(query, probes))
      .orderBy(col("__adc").asc, col(idCol).asc)
      .limit(n)
}

object IvfPq {

  /**
   * Build: train the coarse quantizer (IvfIndex), residual-encode every row
   * against its own centroid, train per-segment PQ codebooks ON THE
   * RESIDUALS, and persist the layout partitionBy(__centroid) with the code
   * column materialized — probing stays parquet partition pruning and the
   * first pass never touches the float vectors.
   */
  def build(df: DataFrame, idCol: String, vecCol: String,
            nlist: Int, m: Int, k: Int, seed: Long = 42L,
            persistPath: Option[String] = None): IvfPqIndex = {
    val codeCol = "__pqcode"
    // replicas=1: residual codes are relative to ONE owning centroid
    val ivf0 = IvfIndex.build(df, idCol, vecCol, nlist, seed, replicas = 1,
      defaultNprobe = 1, persistPath = None)
    val centers = ivf0.centroids.sortBy(_._1).map(_._2)
    val centerLit = typedLit(centers.map(_.toSeq).toSeq) // array<array<double>>
    val withRes = ivf0.assigned.withColumn("__res",
      zip_with(col(vecCol), element_at(centerLit, col("__centroid") + 1),
        (x, c) => (x.cast("double") - c).cast("float")))
      // one materialization: PQ training samples it once and the encode is
      // one more pass — without this each re-derives the centroid
      // assignment + residual zip_with from the raw data
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pq = ProductQuantizer.train(withRes, "__res", m, k, seed)
    val encoded0 = withRes.withColumn(codeCol, pq.encode(col("__res"))).drop("__res")
    val assigned = persistPath match {
      case Some(p) =>
        encoded0.write.mode("overwrite").partitionBy("__centroid").parquet(p)
        withRes.unpersist()
        df.sparkSession.read.parquet(p)
      case None =>
        // materialize the encoded layout so the build cache can be released
        // (the index outlives this method; a lazy plan over the cache would
        // recompute everything once it is unpersisted)
        val out = encoded0.repartition(col("__centroid")).localCheckpoint()
        withRes.unpersist()
        out
    }
    IvfPqIndex(ivf0.copy(assigned = assigned, persistPath = persistPath), pq, codeCol)
  }
}
