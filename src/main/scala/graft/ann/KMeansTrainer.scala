package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The k-means trainer behind the IVF coarse quantizer and the PQ codebooks
 * (reference: compressionhelpers' PQ fits its k-means on at most
 * `trainingLimit` vectors). Training runs on the driver over a bounded
 * sample, so a build costs one Spark job however many centres or segments
 * it fits:
 *
 *  - sample: at most `SamplePerCentroid`·k non-null vectors, the ones with
 *    the smallest xxhash64(key, seed) — one `orderBy(...).limit` collect.
 *    FAISS caps k-means training at 256 points per centroid the same way;
 *    more points move the centres little and cost a pass each;
 *  - seed: k-means++ (the first centre uniform, each next one drawn with
 *    probability proportional to its squared distance to the nearest chosen
 *    centre) from a `java.util.Random(seed)`;
 *  - refine: at most `MaxIterations` Lloyd rounds (nearest centre by squared
 *    L2, ties to the lower index; a centre that loses every point keeps its
 *    place), stopping early once no assignment changes.
 *
 * Deterministic per (data, seed). A sample with fewer than k distinct
 * vectors yields one centre per distinct vector, as MLlib's KMeans did on
 * tiny inputs. Not SQL-replayable (k-means++ draws from an RNG): the
 * oracle-gated clustering is `graft.pipeline.Cluster.lloyd`.
 */
object KMeansTrainer {
  val SamplePerCentroid = 256
  val MaxIterations = 20

  /** The training sample of `vec` (array<float>), keyed for sampling by `key`. */
  def sample(df: DataFrame, key: Column, vec: Column, size: Int, seed: Long): Array[Array[Double]] =
    df.select(xxhash64(key, lit(seed)).as("__h"), key.as("__k"), vec.as("__v"))
      .filter(col("__v").isNotNull)
      .orderBy(col("__h"), col("__k"))
      .limit(size)
      .collect()
      .map(_.getSeq[Float](2).map(_.toDouble).toArray)

  /** `k` centres of the sampled `df` rows; see the object doc. */
  def train(df: DataFrame, key: Column, vec: Column, k: Int, seed: Long): Array[Array[Double]] =
    fit(sample(df, key, vec, SamplePerCentroid * k, seed), k, seed)

  /** k-means++ seeding then Lloyd refinement of driver-held `points`. */
  def fit(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    require(k >= 1, "k-means: k must be positive")
    require(points.nonEmpty, "k-means: no non-null vectors to train on")
    val n = points.length
    require(points.forall(_.length == points(0).length), "k-means: vectors differ in dimension")
    val rng = new java.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(points(rng.nextInt(n)).clone())
    val nearest = points.map(p => l2(p, centers(0)))
    var total = nearest.sum
    while (centers.size < k && total > 0) {
      // the point where the running sum of squared distances passes a
      // uniform draw; a point on a chosen centre has weight 0
      val target = rng.nextDouble() * total
      var i = 0
      var acc = nearest(0)
      while (acc <= target && i < n - 1) { i += 1; acc += nearest(i) }
      while (nearest(i) == 0.0) i -= 1 // the draw rounded past the last weighted point
      val c = points(i).clone()
      centers += c
      var j = 0
      while (j < n) { nearest(j) = math.min(nearest(j), l2(points(j), c)); j += 1 }
      total = nearest.sum
    }
    lloyd(points, centers.toArray)
  }

  private def lloyd(points: Array[Array[Double]], centers: Array[Array[Double]])
      : Array[Array[Double]] = {
    val k = centers.length
    val dim = centers(0).length
    val owner = Array.fill(points.length)(-1)
    var iter = 0
    var changed = true
    while (iter < MaxIterations && changed) {
      changed = false
      var i = 0
      while (i < points.length) {
        val c = closest(points(i), centers)
        if (c != owner(i)) { owner(i) = c; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Int](k)
        i = 0
        while (i < points.length) {
          val s = sums(owner(i)); val p = points(i)
          var d = 0
          while (d < dim) { s(d) += p(d); d += 1 }
          counts(owner(i)) += 1
          i += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) centers(c) = sums(c).map(_ / counts(c))
          c += 1
        }
      }
      iter += 1
    }
    centers
  }

  /** Index of the centre nearest `p` by squared L2, ties to the lower index. */
  private def closest(p: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = l2(p, centers(0))
    var c = 1
    while (c < centers.length) {
      val d = l2(p, centers(c))
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }
}
