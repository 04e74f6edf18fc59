package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.{SqOps, VectorFunctions}
import graft.model.Metric
import graft.operators.VectorSearch

/**
 * Scalar quantization: byte-per-dimension affine codes + compressed-domain
 * first pass + exact rescore (reference:
 * compressionhelpers/scalar_quantization.go — NewScalarQuantizer:68-93 trains
 * a single global [b, b+a] range over every dimension value in the data,
 * codeFor:112-120 clamps into 255 buckets; the SQ branch of the flat index is
 * the reference's cheap training-default alongside PQ/BQ). 4× compression
 * (d bytes + 8 tail bytes vs 4·d float bytes — Stats():215-225).
 *
 * Train is ONE partial-aggregated scan (min/max over array elements —
 * map-side combine, no shuffle of data rows), unlike PQ's per-segment k-means:
 * that is exactly why the reference defaults flat indexes to SQ — training
 * cost is negligible and append-safe. Search shape at 100 TB mirrors
 * BinaryQuantizer.search: the first pass scans ONLY the code column (~25 TB
 * instead of 100 TB), computes the compressed-domain distance inside
 * WholeStageCodegen, TakeOrderedAndProject keeps topK × rescoreFactor rows
 * per partition, and the bounded candidate frame broadcast-left-semi-joins
 * back for the exact-rescore fetch — no driver collect round-trip.
 */
final case class ScalarQuantizer(a: Float, b: Float, dim: Int) {

  /** Codegen'd encoder column: array<float> → binary SQ code. */
  def encode(vecCol: Column): Column = VectorFunctions.sqEncode(vecCol, a, b)

  /** Driver-side encoder for query vectors (same byte layout as `encode`;
   * reference NewDistancer:146-158 likewise encodes the query once). */
  def encodeQuery(v: Array[Float]): Array[Byte] = SqOps.encode(v, a, b)

  /** Compressed-domain distance of a code column to `query`. */
  def codeDistance(codeCol: Column, query: Array[Float], metric: Metric): Column =
    VectorFunctions.sqCodeDistance(codeCol, lit(encodeQuery(query)), a, b, metric)

  /** SQ first pass over the encoded table, exact rescore of top candidates.
   * `encoded` must carry idCol, the code column, and the original vector. */
  def search(encoded: DataFrame, idCol: String, codeCol: String, vecCol: String,
             query: Array[Float], topK: Int, rescoreFactor: Int = 4,
             metric: Metric = Metric.L2Squared): DataFrame = {
    val cands = firstPass(encoded, idCol, codeCol, query, topK * rescoreFactor, metric)
      .select(col(idCol))
    Rescore.exactVector(encoded, idCol, cands, vecCol, query, metric, topK)
  }

  /** Phase-1 frame: compressed-domain ranking over (id, code) only —
   * exposed for plan asserts, mirroring BinaryQuantizer.firstPass. */
  private[graft] def firstPass(encoded: DataFrame, idCol: String, codeCol: String,
                               query: Array[Float], n: Int, metric: Metric): DataFrame =
    encoded.select(col(idCol), col(codeCol))
      .withColumn("__sqd", codeDistance(col(codeCol), query, metric))
      .orderBy(col("__sqd").asc, col(idCol).asc)
      .limit(n)
}

object ScalarQuantizer {

  /** Train the global affine range: b = min, a = max − min over EVERY
   * dimension value (the reference's incremental min/max fold,
   * scalar_quantization.go:77-88, as one distributed aggregate). */
  def train(df: DataFrame, vecCol: String): ScalarQuantizer = {
    val row = df.agg(
      min(array_min(col(vecCol))).cast("float"),
      max(array_max(col(vecCol))).cast("float"),
      max(size(col(vecCol)))).head()
    // an empty frame (or all-null vector column) aggregates to nulls —
    // surface that instead of an opaque NPE from getFloat
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"SQ train: no vectors in $vecCol (empty or all-null input)")
    val lo = row.getFloat(0)
    val hi = row.getFloat(1)
    require(hi > lo, s"degenerate value range [$lo, $hi] — SQ needs spread data")
    ScalarQuantizer(a = hi - lo, b = lo, dim = row.getInt(2))
  }
}
