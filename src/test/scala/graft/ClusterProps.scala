package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.pipeline.Dedup

/**
 * Property test: Dedup.clusterPairs agrees with a reference union-find on
 * random pair relations — including long chains (worst-case diameter for
 * propagation) and dense multigraphs — in both of its arms: the driver
 * union-find at the default bound, and the distributed min-label
 * propagation (driver bound 0).
 */
object ClusterProps extends Properties("ClusterPairs") {

  // each case is an iterative distributed job — 15 random graphs give the
  // chain/dense/multi-edge coverage without a minute-scale suite
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = TestSpark.spark

  private val pairsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 30)                  // node universe
    m <- Gen.choose(1, 40)                  // edges (dupes + self-ish ok)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong) if a != b
    } yield (a, b))
  } yield edges

  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min member id = the root under min-union
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def components(edges: List[(Long, Long)], driverMaxPairs: Int): Map[Long, Long] = {
    val session = spark
    import session.implicits._
    val df = edges.toDF("id_a", "id_b")
    Dedup.clusterPairs(df, df("id_a"), df("id_b"), driverMaxPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  property("components match union-find on random graphs") = forAll(pairsGen) { edges =>
    edges.isEmpty || components(edges, Dedup.DriverClusterMaxPairs) == unionFind(edges)
  }

  property("distributed arm: components match union-find on random graphs") =
    forAll(pairsGen) { edges =>
      edges.isEmpty || components(edges, 0) == unionFind(edges)
    }
}
