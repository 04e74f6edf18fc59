package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.VectorFunctions
import graft.model.Metric
import graft.operators.VectorSearch

/**
 * Product quantization for cheap first-pass distances + exact rescore
 * (reference: adapters/repos/db/vector/compressionhelpers — PQ codebooks via
 * per-segment k-means; the rescore pattern is the reference's BQ/PQ flat-index
 * path, flat/index.go).
 *
 * Train: split the dimension into `m` segments, k-means (k codewords) per
 * segment over one shared driver-held sample ([[KMeansTrainer]]). Encode:
 * one small int per segment (m bytes/vector vs 4·d for floats — 32×
 * compression at d=64, m=8). Search (ADC): the query builds an
 * m×k distance table driver-side; the approximate distance is a table-lookup
 * sum — no float vector is read at scan time, so the first pass streams the
 * (tiny) code column only; the top `rescore·k` candidates re-rank with exact
 * distances over the full vectors.
 */
final case class ProductQuantizer(
    codebooks: Array[Array[Array[Double]]], // [segment][codeword][subdim]
    m: Int, k: Int, dim: Int) {

  private def segLen = dim / m

  /** Encode vectors → array<int> code column (one scan, no shuffle). */
  def encode(vecCol: Column): Column = {
    val segs = (0 until m).map { s =>
      val sub = slice(vecCol, s * segLen + 1, segLen)
      // argmin over codewords of the segment distance
      val dists = codebooks(s).indices.map { c =>
        val cw = codebooks(s)(c)
        aggregate(
          zip_with(sub, typedLit(cw.toSeq), (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, x) => acc + x)
      }
      // argmin via array_min + array_position (a when-chain fold would embed
      // the accumulator twice per step — exponential expression size)
      val dArr = array(dists: _*)
      (array_position(dArr, array_min(dArr)) - 1).cast("int")
    }
    array(segs: _*)
  }

  /** ADC distance of a code column to `query` (l2-squared). */
  def adcDistance(codeCol: Column, query: Array[Float]): Column = {
    val table: Seq[Seq[Double]] = (0 until m).map { s =>
      codebooks(s).indices.map { c =>
        val cw = codebooks(s)(c)
        var d = 0.0
        var i = 0
        while (i < segLen) { val t = cw(i) - query(s * segLen + i); d += t * t; i += 1 }
        d
      }
    }
    val t = typedLit(table)
    aggregate(
      zip_with(codeCol, t, (code, row) => element_at(row, code + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** PQ first pass over the encoded table, exact rescore of top candidates.
   * `encoded` must carry idCol, the code column, and the original vector.
   * Two-phase like BinaryQuantizer.search: the ADC pass projects only
   * (id, code) — column pruning keeps the float vectors out of the scan —
   * and the bounded candidate frame broadcast-left-semi-joins back onto the
   * table for the exact-rescore fetch (the reference's
   * rescore-on-full-vectors step, flat/index.go) — no driver round-trip, so
   * the candidate set never bottlenecks on `collect`. */
  def search(encoded: DataFrame, idCol: String, codeCol: String, vecCol: String,
             query: Array[Float], topK: Int, rescoreFactor: Int = 4): DataFrame = {
    val cands = firstPass(encoded, idCol, codeCol, query, topK * rescoreFactor)
      .select(col(idCol))
    Rescore.exactVector(encoded, idCol, cands, vecCol, query, Metric.L2Squared, topK)
  }

  /** Phase-1 frame: ADC ranking over (id, code) only — exposed for plan
   * asserts, mirroring BinaryQuantizer.firstPass. */
  private[graft] def firstPass(encoded: DataFrame, idCol: String, codeCol: String,
                               query: Array[Float], n: Int): DataFrame =
    encoded.select(col(idCol), col(codeCol))
      .withColumn("__adc", adcDistance(col(codeCol), query))
      .orderBy(col("__adc").asc, col(idCol).asc)
      .limit(n)
}

object ProductQuantizer {

  /** Train per-segment codebooks: one sample of at most 256·k vectors,
   * picked by xxhash64 of the vector, then driver-side k-means per segment
   * (seed + segment) — see [[KMeansTrainer]]. */
  def train(df: DataFrame, vecCol: String, m: Int, k: Int, seed: Long = 42L): ProductQuantizer = {
    val points = KMeansTrainer.sample(df, col(vecCol), col(vecCol),
      KMeansTrainer.SamplePerCentroid * k, seed)
    require(points.nonEmpty, "PQ: no non-null vectors to train on")
    val dim = points(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val segLen = dim / m
    val books = (0 until m).map { s =>
      KMeansTrainer.fit(points.map(_.slice(s * segLen, (s + 1) * segLen)), k, seed + s)
    }.toArray
    // a segment with fewer than k distinct sub-vectors gets fewer codewords;
    // record reality
    ProductQuantizer(books, m, books.map(_.length).min, dim)
  }
}
