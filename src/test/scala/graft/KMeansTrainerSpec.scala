package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.KMeansTrainer

/** The driver-side k-means behind the IVF quantizer and the PQ codebooks:
 * hash-picked bounded sample, k-means++ seeding, Lloyd refinement. */
class KMeansTrainerSpec extends SparkSpecBase {
  import spark.implicits._

  /** `n` 4-d gaussian vectors with ids 0..n-1; every `nullEvery`-th is null. */
  private def vectors(n: Int, seed: Int, nullEvery: Int = 0): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Seq.fill(4)(r.nextGaussian().toFloat)
      (i.toLong, if (nullEvery > 0 && i % nullEvery == 0) null else v)
    }.toDF("id", "v").repartition(3)
  }

  private def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq

  test("training is deterministic per seed, whatever the partitioning") {
    val df = vectors(900, 1)
    val a = KMeansTrainer.train(df, col("id"), col("v"), 4, 7L)
    assert(a.length == 4)
    assert(same(a, KMeansTrainer.train(df.repartition(5), col("id"), col("v"), 4, 7L)))
    assert(!same(a, KMeansTrainer.train(df, col("id"), col("v"), 4, 8L)))
  }

  test("the sample holds at most 256·k non-null vectors, the smallest xxhash64(id, seed)") {
    val df = vectors(1500, 2, nullEvery = 10)
    val k = 2
    val s = KMeansTrainer.sample(df, col("id"), col("v"), KMeansTrainer.SamplePerCentroid * k, 3L)
    assert(s.length == 256 * k)
    val want = df.filter(col("v").isNotNull)
      .orderBy(xxhash64(col("id"), lit(3L)), col("id")).limit(256 * k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    assert(same(s, want))
    // fewer non-null vectors than the cap: all of them
    assert(KMeansTrainer.sample(vectors(100, 4, nullEvery = 5), col("id"), col("v"), 512, 3L)
      .length == 80)
  }

  test("duplicate or tiny input yields at most k centres, one per distinct vector") {
    val distinct = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(1f, 1f))
    val dups = (0 until 60).map(i => (i.toLong, distinct(i % 3))).toDF("id", "v")
    val centres = KMeansTrainer.train(dups, col("id"), col("v"), 8, 42L)
    assert(centres.map(_.toSeq).toSet == distinct.map(_.map(_.toDouble)).toSet)
    val tiny = Seq((1L, Seq(0f, 2f)), (2L, Seq(3f, 1f))).toDF("id", "v")
    assert(KMeansTrainer.train(tiny, col("id"), col("v"), 5, 42L).length == 2)
    assert(KMeansTrainer.train(tiny, col("id"), col("v"), 1, 42L).length == 1)
    val none = Seq((1L, Option.empty[Seq[Float]])).toDF("id", "v")
    intercept[IllegalArgumentException](KMeansTrainer.train(none, col("id"), col("v"), 2, 42L))
  }
}
