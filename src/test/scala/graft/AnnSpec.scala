package graft

import org.apache.spark.sql.functions._

import graft.ann.IvfIndex
import graft.model.Metric
import graft.operators.VectorSearch

/** Recall of the IVF path vs the brute-force oracle — mirrors the reference's
 * compression recall assertion (hnsw/compress_recall_test.go:144, > 0.9). */
class AnnSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Clustered synthetic vectors (the workload IVF is built for): 20 tight
   * clusters; with nprobe=4/16 the probed lists must contain the true
   * neighbours → recall ≥ 0.9 (reference asserts the same bar). */
  test("IVF recall@10 >= 0.9 on clustered vectors, nprobe=4/16") {
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16)
    index.assigned.cache().count()
    val queries = rows.grouped(100).map(_.head).toSeq
    val recalls = queries.map { case (qid, qv) =>
      val q = qv.toArray
      val truth = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
        .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val got = index.search(q, 10, Metric.L2Squared, nprobe = 4)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean < 0.9 (per-query: ${recalls.mkString(",")})")
  }

  test("dynamic probe policy: reference ef clamps mapped to probe counts; recall holds at defaults") {
    import graft.ann.DynamicProbeConfig
    val emb = spark.read.parquet(s"$sf/embeddings.parquet") // 50 rows at sf0.001
    val base = IvfIndex.build(emb, "vec_id", "embedding", nlist = 5, defaultNprobe = 2)
    // unset → defaultNprobe, exactly like an explicit ef in the reference
    assert(base.dynamicNprobe(10) == 2)
    val ix = base.copy(dynamicProbe = Some(DynamicProbeConfig()))
    val rows = ix.assignedRows // 500; mean list = 100
    assert(rows == 500L)
    // k=1 → ef clamps UP to efMin=100 → probes = ceil(100/100) = 1
    assert(ix.dynamicNprobe(1) == 1)
    // k=200 → ef = clamp(1600, 100, 500) = 500 → probes = ceil(500/100) = 5 (all lists)
    assert(ix.dynamicNprobe(200) == 5)
    // interior arithmetic with custom knobs (factor=2, efMin=4, efMax=300):
    // k=10 → ef=20 → 1 probe; k=75 → ef=150 → 2; k=200 → ef caps at 300 → 3
    val ix2 = base.copy(dynamicProbe = Some(DynamicProbeConfig(factor = 2, efMin = 4, efMax = 300)))
    assert(ix2.dynamicNprobe(10) == 1)
    assert(ix2.dynamicNprobe(75) == 2)
    assert(ix2.dynamicNprobe(200) == 3)
    // k above efMax: ef raised back to k=400 → ceil(400/100) = 4
    assert(ix2.dynamicNprobe(400) == 4)
    // when the policy demands every list (k=200 → 5/5 probes) the search is
    // EXACT — brute-force parity on the near-uniform bed
    val q = emb.filter($"vec_id" === 25L).head().getSeq[Float](1).toArray
    val truth200 = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(200)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val got200 = ix.search(q, 200, Metric.L2Squared, nprobe = ix.dynamicNprobe(200))
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(got200 == truth200, "all-list dynamic probe must reproduce brute force")
    // recall bar at the breadth the policy picks for k=63 on CLUSTERED data
    // (ef=500 → 4/16 probes — the configuration the recall suite proves)
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val rows2k = (0 until 2000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb2 = rows2k.toDF("vec_id", "embedding")
    val cIx = IvfIndex.build(emb2, "vec_id", "embedding", nlist = 16)
      .copy(dynamicProbe = Some(DynamicProbeConfig()))
    cIx.assigned.cache().count()
    assert(cIx.dynamicNprobe(63) == 4) // 2000 rows/16 lists → mean 125; ef=500
    val recalls = rows2k.grouped(100).map(_.head).toSeq.map { case (_, qv) =>
      val qq = qv.toArray
      val truth = VectorSearch.withDistance(emb2, "embedding", qq, Metric.L2Squared)
        .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val got = cIx.search(qq, 63, Metric.L2Squared, nprobe = cIx.dynamicNprobe(63))
        .limit(10).select($"vec_id").collect().map(_.getLong(0)).toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean < 0.9 at policy-chosen breadth")
  }

  test("recall grows with nprobe on near-uniform testdata embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16)
    index.assigned.cache().count()
    val q = emb.filter($"vec_id" === 25L).head().getSeq[Float](1).toArray
    val truth = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    def recallAt(p: Int) = index.search(q, 10, Metric.L2Squared, nprobe = p)
      .select($"vec_id").collect().map(_.getLong(0)).toSet.intersect(truth).size / 10.0
    assert(recallAt(16) == 1.0)
    assert(recallAt(8) >= recallAt(2))
  }

  test("weak filter probes the index (partition-pruned); strong filter brute-forces") {
    import graft.engine.Graft
    import graft.model._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq, (i % 20).toLong)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-filter").toString
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16,
      defaultNprobe = 4, persistPath = Some(path))
    val eng = new Graft(spark).withFlatSearchCutoff(150)
    eng.register(CollectionSchema("E", "vec_id", Seq(Property("label", graft.model.PropType.Int)),
      vectors = Map("default" -> "embedding"), defaultVector = Some("default")), emb)
    eng.registerIndex("E", "default", index)
    val q = rows(100)._2.toArray

    // weak filter: keeps all 2000 rows >= cutoff 150 → index path. The scan of
    // the persisted assignment must be partition-pruned to the probed lists.
    val weak = eng.get(GetParams("E",
      where = Some(Where.geInt("label", 0L)),
      nearVector = Some(NearVector(q, Metric.L2Squared)),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("vec_id"), additional = Set("distance")))
    val weakPlan = weak.queryExecution.executedPlan.toString
    assert(weakPlan.contains("PartitionFilters: [__centroid"),
      s"no __centroid partition filter in:\n$weakPlan")
    val truth = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val got = weak.select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(truth.intersect(got).size >= 9, s"filtered-index recall too low: $got vs $truth")

    // strong filter: 100 matching rows < cutoff 150 → allowlist brute force,
    // exact, and no centroid partition pruning in the plan.
    val strong = eng.get(GetParams("E",
      where = Some(Where.eqInt("label", 3L)),
      nearVector = Some(NearVector(q, Metric.L2Squared)),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("vec_id"), additional = Set("distance")))
    assert(!strong.queryExecution.executedPlan.toString.contains("__centroid"))
    val truthStrong = VectorSearch.withDistance(emb.filter($"label" === 3L),
        "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(strong.select($"vec_id").collect().map(_.getLong(0)).toSeq == truthStrong)
  }

  test("ACORN strategy widens probes by filter selectivity; dense filters keep sweeping breadth") {
    import graft.ann.FilterStrategy
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian() * 3))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val sweep = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16, defaultNprobe = 1)
    sweep.assigned.cache().count()
    val acorn = sweep.copy(filterStrategy = FilterStrategy.Acorn)
    // probe arithmetic: 2000 rows; ratio 0.1 → base/0.1; cap at nlist;
    // ratio above the 0.4 gate → base (reference acornEnabled behavior);
    // ultra-selective ratios floor at 1/nlist (can't widen past all lists)
    // density is per DOCUMENT: with replicas=2 the assigned table doubles,
    // but a 50%-dense filter must still read as 0.5 (> the 0.4 gate), not
    // 0.25 — replica inflation divided back out
    val acorn2 = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16,
        replicas = 2, defaultNprobe = 1)
      .copy(filterStrategy = FilterStrategy.Acorn)
    assert(acorn2.acornProbes(1, 1000) == 1,
      "replica-inflated denominator must not widen a dense filter")
    assert(sweep.acornProbes(1, 200) == 1, "sweeping never widens")
    assert(acorn.acornProbes(1, 200) == 10)
    assert(acorn.acornProbes(2, 200) == 16)
    assert(acorn.acornProbes(1, 1000) == 1, "ratio 0.5 > 0.4 gate → sweeping breadth")
    assert(acorn.acornProbes(1, 10) == 16, "ultra-selective → all lists")
    // behavior: allow ONLY a cluster that lives outside the query's top list —
    // sweeping at 1 probe finds nothing, ACORN widens and recovers the exact
    // allowlist top-k
    val q = rows(0)._2.toArray
    val top1 = sweep.rankCentroids(q).head
    val clustersInTop1 = sweep.assigned.filter($"__centroid" === top1)
      .select(($"vec_id" % 20).cast("int")).distinct().collect().map(_.getInt(0)).toSet
    val farCluster = (0 until 20).find(!clustersInTop1.contains(_)).get
    val allow = emb.filter($"vec_id" % 20 === farCluster).select($"vec_id")
    val truth = VectorSearch.withDistance(
        emb.join(allow, Seq("vec_id"), "left_semi"), "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val sweepGot = sweep.searchFiltered(q, 10, Metric.L2Squared,
        sweep.acornProbes(1, 100), allow)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(sweepGot.isEmpty, s"far-cluster allowlist must be invisible to a 1-probe sweep, got $sweepGot")
    val acornGot = acorn.searchFiltered(q, 10, Metric.L2Squared,
        acorn.acornProbes(1, 100), allow)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(acornGot == truth, "ACORN-widened probe must recover the exact allowlist top-k")
  }

  test("selectivity probe is bounded by the cutoff (no full count of the filtered frame)") {
    import graft.engine.Graft
    // stats path: a frame whose optimized plan carries a rowCount costs ZERO
    // jobs (Range exposes rowCount in Catalyst stats)
    val engA = new Graft(spark).withFlatSearchCutoff(100)
    val ranged = spark.range(12345).toDF("id")
    assert(engA.selectivityEstimate(ranged, "id") == 12345L)
    // capped path: a filter without stats runs count-over-limit(cutoff), so
    // the estimate is min(n, cutoff) — a full count would return n and this
    // assert is exactly what fails if someone reverts to filtered.count()
    val filtered = spark.range(5000).toDF("id").filter($"id" % 2 === 0) // 2500 rows
    assert(engA.selectivityEstimate(filtered, "id") == 100L)
    val engB = new Graft(spark).withFlatSearchCutoff(40000)
    assert(engB.selectivityEstimate(filtered, "id") == 2500L)
  }

  test("filtered objectLimit aggregation probes the index (weak filter, shared dense planner)") {
    import graft.engine.Graft
    import graft.model._
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(16)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq, (i % 20).toLong)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-agg").toString
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 16,
      defaultNprobe = 4, persistPath = Some(path))
    val eng = new Graft(spark).withFlatSearchCutoff(150)
    eng.register(CollectionSchema("E", "vec_id", Seq(Property("label", graft.model.PropType.Int)),
      vectors = Map("default" -> "embedding"), defaultVector = Some("default")), emb)
    eng.registerIndex("E", "default", index)
    // weak filter (keeps all 2000 >= cutoff 150): the aggregate's dense leg
    // must take the index arm — pre-fix, the aggregate planner dropped the
    // selectivity hint and could never probe
    val agg = eng.aggregate(AggregateParams("E",
      properties = Map("label" -> Seq(Aggregator.Count)),
      where = Some(Where.geInt("label", 0L)),
      nearVector = Some(NearVector(rows(100)._2.toArray, Metric.L2Squared)),
      objectLimit = Some(10)))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [__centroid"),
      s"aggregate dense leg did not probe the index:\n${plan.take(2000)}")
    assert(agg.count() >= 1)
  }

  test("hybrid dense leg routes through a registered index (partition-pruned)") {
    import graft.engine.Graft
    import graft.model._
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(16)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 1500).map { i =>
      val c = centers(i % 16)
      (i.toLong, s"token$i common words", c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-hybrid").toString
    // the collection is read from parquet, as a store serves it: over a
    // driver-local frame Spark folds the page into a local scan, whose
    // global sort then takes a range exchange (3 jobs instead of 1)
    val objects = java.nio.file.Files.createTempDirectory("graft-hybrid-objects").toString + "/H"
    rows.toDF("vec_id", "text", "embedding").write.parquet(objects)
    val df = spark.read.parquet(objects)
    val index = IvfIndex.build(df, "vec_id", "embedding", nlist = 16,
      defaultNprobe = 4, persistPath = Some(path))
    val eng = new Graft(spark)
    eng.register(CollectionSchema("H", "vec_id",
      Seq(Property("text", graft.model.PropType.Text, Tokenization.Word)),
      vectors = Map("default" -> "embedding"), defaultVector = Some("default")), df)
    eng.registerIndex("H", "default", index)
    eng.registerPostings("H", Seq("text"))
    val q = rows(100)._3.toArray
    val params = GetParams("H",
      hybrid = Some(Hybrid("common", vector = Some(q), metric = Metric.L2Squared,
        alpha = 0.7, fusionType = FusionType.Ranked)),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("vec_id"), additional = Set("score"))
    eng.get(params).collect() // warm-up: fills the postings cache
    // the legs are fetched while the read is built: trace every query it runs
    val (hits, trace) = ReadTrace(spark)(eng.get(params).collect())
    assert(trace.partitionFilters("__centroid"),
      s"hybrid dense leg did not probe the index:\n${trace.plans.mkString("\n").take(3000)}")
    assert(!trace.plans.exists(_.contains("__tok_")), "hybrid sparse leg not postings-served")
    assert(trace.jobs <= 3,
      s"warm hybrid read ran ${trace.jobs} Spark jobs; expected sparse fetch, dense fetch, page")
    assert(hits.length == 10)
  }

  test("multi-target search is served by per-target index probes (pruned, no full scan, recall >= 0.9)") {
    import graft.engine.Graft
    import graft.model._
    // two CORRELATED embeddings of the same object (e.g. title + body models
    // sharing the cluster structure) — the workload multi-target search is
    // for; per-target candidate generation would legitimately miss on
    // adversarially independent targets, exactly as the reference's
    // per-target HNSW searches would
    val rnd = new scala.util.Random(99)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 20)
      val v = c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq
      val v2 = c.map(x => (x * 0.8 + 0.05 * rnd.nextGaussian()).toFloat).toSeq
      (i.toLong, v, v2)
    }
    val df = rows.toDF("vec_id", "emb", "rev")
    val pathA = java.nio.file.Files.createTempDirectory("graft-mt-a").toString
    val pathB = java.nio.file.Files.createTempDirectory("graft-mt-b").toString
    val ixA = IvfIndex.build(df, "vec_id", "emb", nlist = 16, defaultNprobe = 6,
      persistPath = Some(pathA))
    val ixB = IvfIndex.build(df, "vec_id", "rev", nlist = 16, defaultNprobe = 6,
      persistPath = Some(pathB))
    val eng = new Graft(spark)
    eng.register(CollectionSchema("M", "vec_id", Seq.empty,
      vectors = Map("a" -> "emb", "b" -> "rev"), defaultVector = Some("a")), df)
    eng.registerIndex("M", "a", ixA)
    eng.registerIndex("M", "b", ixB)

    def exactTop10(q: Array[Float]): Set[Long] = {
      val d = VectorSearch.withDistance(
        VectorSearch.withDistance(df, "emb", q, Metric.L2Squared, "__d0"),
        "rev", q, Metric.L2Squared, "__d1")
      d.withColumn("__d", col("__d0") + col("__d1"))
        .orderBy(col("__d").asc, $"vec_id".asc).limit(10)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
    }

    val recalls = Seq(100, 700, 1300).map { i =>
      val q = rows(i)._2.toArray
      val got = eng.get(GetParams("M",
        nearVector = Some(NearVector(q, Metric.L2Squared,
          targetVectors = Seq("a", "b"), combination = TargetCombination.Sum)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"), additional = Set("distance")))
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [__centroid"),
        s"multi-target search did not probe the indexes:\n${plan.take(3000)}")
      assert(!plan.contains("LocalTableScan"),
        s"multi-target index path scanned the base collection:\n${plan.take(3000)}")
      val ids = got.select($"vec_id").collect().map(_.getLong(0)).toSet
      exactTop10(q).intersect(ids).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"multi-target recall $mean < 0.9 (per-query: ${recalls.mkString(",")})")

    // RelativeScore combination takes the same index arm: pool = union of
    // per-target probe top-k, min-max fuse over the pool
    val rel = eng.get(GetParams("M",
      nearVector = Some(NearVector(rows(100)._2.toArray, Metric.L2Squared,
        targetVectors = Seq("a", "b"),
        combination = TargetCombination.RelativeScore(Seq(0.7, 0.3)))),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("vec_id"), additional = Set("distance")))
    val relPlan = rel.queryExecution.executedPlan.toString
    assert(relPlan.contains("PartitionFilters: [__centroid"),
      s"RelativeScore multi-target did not probe the indexes:\n${relPlan.take(3000)}")
    assert(rel.count() == 10)

    // partial indexing (only one target has an index) falls back to the
    // exact full scan — all-or-nothing, matching the reference's error-if-
    // missing contract re-expressed as a planner fallback
    val eng2 = new Graft(spark)
    eng2.register(CollectionSchema("M2", "vec_id", Seq.empty,
      vectors = Map("a" -> "emb", "b" -> "rev"), defaultVector = Some("a")), df)
    eng2.registerIndex("M2", "a", ixA)
    val q = rows(100)._2.toArray
    val fallback = eng2.get(GetParams("M2",
      nearVector = Some(NearVector(q, Metric.L2Squared,
        targetVectors = Seq("a", "b"), combination = TargetCombination.Sum)),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("vec_id"), additional = Set("distance")))
    assert(!fallback.queryExecution.executedPlan.toString.contains("__centroid"))
    assert(fallback.select($"vec_id").collect().map(_.getLong(0)).toSet == exactTop10(q))
  }

  test("nprobe = nlist reproduces brute force exactly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val q = emb.filter($"vec_id" === 7L).head().getSeq[Float](1).toArray
    val got = index.search(q, 15, Metric.L2Squared, nprobe = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val truth = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(15)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == truth)
  }

  test("rebalance splits oversized postings under skew: bound holds, rows preserved, recall intact") {
    // planted skew: 80% of 1000 vectors crowd one REGION the coarse
    // quantizer (nlist=5) lumps into a hot posting — the straggler a 100×
    // probe must not pay (hfresh analyze.go size trigger + split.go
    // 2-means). The region carries 8 latent sub-blobs (separation 1.2 ≫
    // jitter 0.05) so the split recovers real structure: a query inside a
    // sub-blob finds its true neighbours in ONE rebalanced posting.
    val rnd = new scala.util.Random(7)
    def hotCenter(k: Int): Array[Double] =
      Array.tabulate(8)(d => if (d < 3) 2.0 + (if (((k >> d) & 1) == 1) 0.6 else -0.6) else 2.0)
    val loose = Array.tabulate(4)(k => Array.fill(8)(-3.0 * (k + 1)))
    val rows = (0 until 1000).map { i =>
      val c = if (i % 5 != 4) hotCenter(i % 8) else loose(i % 4)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 5)
    index.assigned.cache().count()
    val before = index.postingSizes()
    val cap = 120L
    assert(before.values.max > cap, s"bed not skewed: $before")

    val balanced = index.rebalance(cap)
    val after = balanced.postingSizes()
    // per-posting bound — the straggler is gone
    assert(after.values.max <= cap, s"cap violated after rebalance: $after")
    // every row still assigned exactly once (replicas = 1)
    assert(after.values.sum == 1000L)
    assert(balanced.assigned.select($"vec_id").distinct().count() == 1000L)
    // centroid table grew and matches the layout's posting ids
    assert(balanced.centroids.length > index.centroids.length)
    assert(balanced.centroids.map(_._1).toSet == after.keySet)

    // recall: the split must keep near-neighbours probe-reachable — a query
    // inside the hot cluster at nprobe=2 of the rebalanced layout reaches
    // ≥ 0.9 of the brute-force top-10 (planted copies would certify nothing;
    // these are distinct jittered vectors)
    val q = rows(10)._2.toArray
    val truth = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val got = balanced.search(q, 10, Metric.L2Squared, nprobe = 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall < 0.9 after rebalance")

    // full probe over the rebalanced layout stays exact
    val full = balanced.search(q, 10, Metric.L2Squared, nprobe = balanced.centroids.length)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(full == truth)

    // idempotence: a second rebalance under the same cap is a no-op
    val again = balanced.rebalance(cap)
    assert(again.postingSizes() == after)
  }

  test("rebalance skips degenerate splits (all-identical posting) without looping") {
    val sameVec = Seq.fill(64)(1.0f)
    val rows = (0 until 64).map(i => (i.toLong, sameVec)) ++
      (64 until 80).map(i => (i.toLong, Seq.fill(64)(-5.0f + i * 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 2)
    index.assigned.cache().count()
    // cap below the identical block: the split degenerates (one empty half)
    // and is skipped, like the reference's empty-posting guard
    val balanced = index.rebalance(maxPostingSize = 16L, maxRounds = 4)
    assert(balanced.assigned.count() == 80L)
    assert(balanced.postingSizes().values.sum == 80L)
  }

  test("RNG replica assignment (hfresh/SPFresh): rule honored, diversity fires, full probe stays exact") {
    // geometry where the RNG rule actually rejects: 4 TIGHT PAIRS of
    // centroids (pair distance² ≈ 1, inter-pair distance² ≫), plus points
    // midway BETWEEN pairs — for those, nearest-3 picks both members of the
    // closest pair while RNG rejects the twin (centDist² ≤ (1/f)·queryDist²)
    // and diversifies into the next pair, exactly rng.go:48-51
    val rnd = new scala.util.Random(7)
    val bases = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 3))
    val centers = bases.flatMap(b => Seq(b, b.map(_ + 0.25)))
    val interior = (0 until 800).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.03 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val between = (0 until 200).map { i =>
      val a = bases(i % 4); val b = bases((i + 1) % 4)
      (800L + i,
        a.zip(b).map { case (x, y) => ((x + y) / 2 + 0.03 * rnd.nextGaussian()).toFloat }.toSeq)
    }
    val emb = (interior ++ between).toDF("vec_id", "embedding")
    val f = 2.0
    // index over the KNOWN centroid table (KMeans wouldn't reliably resolve
    // the tight pairs — the kernel under test is the assignment rule, so the
    // quantizer is pinned; build-path wiring is smoke-checked below)
    val rng = IvfIndex(centers.zipWithIndex.map { case (c, i) => (i, c) },
      emb.withColumn("__centroid", explode(
        org.apache.spark.sql.graft.VectorFunctions
          .rngSelectCentroids(col("embedding"), centers, 3, f))),
      "embedding", "vec_id", replicas = 3, defaultNprobe = 8, rngFactor = Some(f))

    // 1) assignment honors the reference rule — reimplemented independently
    //    over the collected assignment and the centroid table
    val cents = rng.centroids.sortBy(_._1).map(_._2)
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def rngSelect(v: Array[Double]): Seq[Int] = {
      val dists = cents.map(c => l2(c, v))
      val order = cents.indices.sortBy(i => (dists(i), i))
      val expected = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (cand <- order if expected.size < 3) {
        val tooClose = expected.exists(r => l2(cents(cand), cents(r)) <= dists(cand) / f)
        if (!tooClose) expected += cand
      }
      expected.toSeq
    }
    def nearest3(v: Array[Double]): Set[Int] =
      cents.indices.sortBy(i => (l2(cents(i), v), i)).take(3).toSet
    val got = rng.assigned.select($"vec_id", $"embedding", $"__centroid")
      .collect().groupBy(_.getLong(0))
    var diverged = 0
    got.foreach { case (id, rows) =>
      val v = rows.head.getSeq[Float](1).map(_.toDouble).toArray
      assert(rows.map(_.getInt(2)).toSet == rngSelect(v).toSet, s"vec $id replica set")
      if (rngSelect(v).toSet != nearest3(v)) diverged += 1
    }
    // 2) the rule is not vacuous on this bed: between-pair points diversify
    //    away from the nearest-3 assignment
    assert(diverged >= 100,
      s"expected the RNG rule to reject the tight-pair twin for most of the " +
      s"200 between-pair points, diverged only for $diverged vectors")

    // 3) full probe is exact despite replication (dedup on id)
    val q = between.head._2.toArray
    val full = rng.search(q, 15, Metric.L2Squared, nprobe = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val truth = VectorSearch.withDistance(emb, "embedding", q, Metric.L2Squared)
      .orderBy(col(VectorSearch.DistanceCol).asc, $"vec_id".asc).limit(15)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(full == truth)

    // 4) build-path wiring smoke: rngFactor threads through build + append
    //    and full probe stays exact against brute force
    val built = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8, seed = 3L,
      replicas = 2, rngFactor = Some(f))
    assert(built.rngFactor.contains(f))
    val appended = built.append(emb.filter($"vec_id" === 0L)
      .withColumn("vec_id", lit(9000L)))
    val got2 = appended.search(interior.head._2.toArray, 5, Metric.L2Squared, nprobe = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got2.contains(0L) && got2.contains(9000L),
      "the appended exact copy must be probe-visible next to its original")
  }
}
