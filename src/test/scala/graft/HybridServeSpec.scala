package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.engine.Graft
import graft.model._
import graft.operators.{Bm25Search, HybridSearch, VectorSearch}

/** `Graft.get` hybrid (postings-served sparse leg, driver-side fusion) equals
 * a plain-Scala fusion of the scan legs — `Bm25Search` scores and exact
 * distances — recomputed here from hybrid_fusion.go's rules: the same ids
 * in the same order, scores within 1e-9. Aggregate's hybrid scope counts
 * the same hit set. */
class HybridServeSpec extends SparkSpecBase {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private val cats = Seq("red", "green", "blue", "gold")
  private val tieVec = Seq(1f, 0f, 0.5f, 0f, -0.5f, 0.25f, 0f, 0.75f)
  private val q = tieVec.map(_ + 0.01f).toArray
  // identical docs: every leg scores them equally; in UTF-8 byte order
  // U+FF21 precedes U+1F600, in UTF-16 order it follows it
  private val tieIds = Seq("Z", "a", "b", "é", "Ａ", "😀")

  /** Mix: 80 random docs plus the identical tie group; Pair: two docs whose
   * ranked-fusion scores tie exactly (their ranks swap between the legs),
   * so the secondary (the keyword score) decides against id order. Both
   * are read back from parquet, as a store serves them; every doc's `ref`
   * points at the one Target object. */
  private lazy val g: Graft = {
    val rnd = new scala.util.Random(7)
    val mix = (0 until 80).map { i =>
      (f"d$i%03d", Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        cats(rnd.nextInt(cats.size)), i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    } ++ tieIds.map(id => (id, "alpha beta gamma", "tie", 100, tieVec))
    val pair = Seq(("x", "alpha beta", "p", 0, q.toSeq), ("y", "alpha alpha", "p", 1, Seq.fill(8)(-1f)))
    val dir = java.nio.file.Files.createTempDirectory("graft-hybrid-serve").toString
    val eng = new Graft(spark)
    eng.register(CollectionSchema("Target", "tid", Seq(Property("label", PropType.Text))),
      Seq(("t", "target")).toDF("tid", "label"))
    for ((name, rows) <- Seq("Mix" -> mix, "Pair" -> pair)) {
      rows.toDF("uid", "text", "cat", "n", "embedding").withColumn("ref", lit("t"))
        .write.parquet(s"$dir/$name")
      eng.register(CollectionSchema(name, "uid", Seq(
        Property("text", PropType.Text, Tokenization.Word),
        Property("cat", PropType.Text, Tokenization.Field),
        Property("n", PropType.Int),
        Property("ref", PropType.Ref, refTarget = Some("Target"))),
        vectors = Map("default" -> "embedding"), defaultVector = Some("default")),
        spark.read.parquet(s"$dir/$name"))
      eng.registerPostings(name, Seq("text"))
    }
    eng
  }

  private case class Hit(id: String, score: Double, secondary: Double)

  private def utf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** hybrid_fusion.go over (id, score) legs, in rank order. */
  private def fuseRef(legs: Seq[(Seq[(String, Double)], Double)], ranked: Boolean): Seq[Hit] = {
    val contrib: Seq[Map[String, Double]] = legs.map { case (hits, w) =>
      if (hits.isEmpty) Map.empty[String, Double]
      else if (ranked && legs.size > 1)
        hits.sortWith { case ((ia, sa), (ib, sb)) => sa > sb || (sa == sb && utf8(ia, ib) < 0) }
          .zipWithIndex.map { case ((id, _), i) => id -> w / (60.0 + (i + 1)) }.toMap
      else {
        val (mn, mx) = (hits.map(_._2).min, hits.map(_._2).max)
        hits.map { case (id, s) => id -> (if (mx == mn) 1.0 else (s - mn) / (mx - mn)) * w }.toMap
      }
    }
    val raw = legs.map(_._1.toMap)
    legs.flatMap(_._1.map(_._1)).distinct.map { id =>
      val score =
        if (legs.size == 1) raw(0)(id) * legs(0)._2
        else contrib.map(_.getOrElse(id, 0.0)).reduce(_ + _)
      Hit(id, score, raw.flatMap(_.get(id)).head)
    }.sortWith { (a, b) =>
      if (a.score.toFloat != b.score.toFloat) a.score.toFloat > b.score.toFloat
      else if (a.secondary.toFloat != b.secondary.toFloat) a.secondary.toFloat > b.secondary.toFloat
      else utf8(a.id, b.id) < 0
    }
  }

  /** The scan legs of `h` (sparse then dense, or its subsearches), each its
   * top-`fetchN` over the `where`-filtered collection. */
  private def scanLegs(coll: String, h: Hybrid, fetchN: Int,
                       where: Option[Column]): Seq[(Seq[(String, Double)], Double)] = {
    val c = g.collection(coll)
    val filtered = where.map(c.df.filter)
    def sparse(kw: Bm25) = Bm25Search.search(c, kw, fetchN, filtered)
      .select(col("uid"), col(Bm25Search.ScoreCol)).as[(String, Double)].collect().toSeq
    def dense(nv: NearVector) = VectorSearch.nearVector(c, nv, nv.metric, Some(fetchN), filtered)
      .select(col("uid"), col(VectorSearch.DistanceCol)).as[(String, Double)].collect()
      .map { case (id, d) => (id, 1.0 - d / 2.0) }.toSeq
    if (h.subSearches.nonEmpty)
      h.subSearches.map(ss => (ss.bm25.map(sparse).getOrElse(dense(ss.nearVector.get)), ss.weight))
    else
      Seq(
        Option.when(h.query.nonEmpty && h.alpha < 1.0)(
          (sparse(Bm25(h.query, h.properties, h.searchOperator)), 1.0 - h.alpha)),
        h.vector.filter(_ => h.alpha > 0.0).map(v =>
          (dense(NearVector(v, h.metric, distance = h.maxVectorDistance)), h.alpha))).flatten
  }

  private def expected(coll: String, h: Hybrid, limit: Int, where: Option[Column] = None): Seq[Hit] =
    fuseRef(scanLegs(coll, h, math.max(limit, 100), where),
      ranked = h.fusionType == FusionType.Ranked).take(limit)

  private def served(coll: String, h: Hybrid, limit: Int, where: Option[Where] = None,
                     autocut: Option[Int] = None, additional: Set[String] = Set("score")): Seq[Row] =
    g.get(GetParams(coll, hybrid = Some(h), where = where, autocut = autocut,
      pagination = Some(Pagination(limit = limit)), properties = Seq("uid", "cat"),
      additional = additional)).collect().toSeq

  private def assertSame(got: Seq[Row], exp: Seq[Hit], clue: String): Unit = {
    assert(got.map(_.getAs[String]("uid")) == exp.map(_.id), clue)
    got.zip(exp).foreach { case (r, e) =>
      assert(math.abs(r.getAs[Double]("_score") - e.score) < 1e-9, s"$clue: ${e.id}")
    }
  }

  private def check(coll: String, h: Hybrid, limit: Int, where: Option[(Where, Column)] = None): Seq[Hit] = {
    val exp = expected(coll, h, limit, where.map(_._2))
    assertSame(served(coll, h, limit, where.map(_._1)), exp, s"$h limit $limit where $where")
    exp
  }

  private val base = Hybrid("alpha beta", vector = Some(q), metric = Metric.Cosine, alpha = 0.6)

  test("Get hybrid == plain-Scala fusion of the scan legs (fusions, alpha, subsearches, where, limit)") {
    for (fusion <- Seq(FusionType.Ranked, FusionType.RelativeScore)) {
      val h = base.copy(fusionType = fusion)
      assert(check("Mix", h, 10).size == 10)
      assert(check("Mix", h, 3).size == 3) // limit below the pool
      assert(check("Mix", h, 10, Some((Where.gtInt("n", 40), col("n") > 40))).nonEmpty)
      assert(check("Mix", h.copy(alpha = 0.0), 10).size == 10) // keyword leg only
      assert(check("Mix", h.copy(alpha = 1.0), 10).size == 10) // vector leg only
      val three = h.copy(subSearches = Seq(
        HybridSubSearch(0.5, bm25 = Some(Bm25("alpha"))),
        HybridSubSearch(0.3, nearVector = Some(NearVector(q, Metric.Cosine))),
        HybridSubSearch(0.2, bm25 = Some(Bm25("delta theta")))))
      assert(check("Mix", three, 10).size == 10)
      // no term matches: the keyword leg is empty, the vector leg alone ranks
      assert(check("Mix", h.copy(query = "nomatch"), 10).size == 10)
      // both legs empty: no term matches and no vector is within range
      val none = h.copy(query = "nomatch", maxVectorDistance = Some(1e-12))
      assert(check("Mix", none, 10).isEmpty)
    }
  }

  private def pageIds(p: GetParams): Seq[String] =
    g.get(p.copy(pagination = Some(Pagination(limit = 10)), properties = Seq("uid"))).collect()
      .map(_.getAs[String]("uid")).toSeq

  test("float32-tied string ids fall to the secondary, then UTF-8 id order") {
    // the tie group fuses to equal scores and secondaries: id order decides
    val rel = check("Mix", base, 10)
    assert(rel.map(_.id).filter(tieIds.contains) == tieIds)
    assert(rel.filter(h => tieIds.contains(h.id)).map(_.score).distinct.size == 1)
    // ranks swap between the legs, so the ranked sums tie exactly; the
    // keyword score (secondary) puts y first, against id order
    val ranked = Hybrid("alpha", vector = Some(q), metric = Metric.Cosine,
      alpha = 0.5, fusionType = FusionType.Ranked)
    val pair = check("Pair", ranked, 10)
    assert(pair.map(_.id) == Seq("y", "x"))
    assert(pair(0).score == pair(1).score && pair(0).secondary > pair(1).secondary)
    // resolving refs re-orders the page by the same rank, after which the
    // rank key is dropped whatever the projection
    val withRefs = GetParams("Pair", hybrid = Some(ranked), resolveRefs = Seq("ref"))
    assert(pageIds(withRefs) == Seq("y", "x"))
    assert(!g.get(withRefs).columns.contains(HybridSearch.SecondaryCol))
  }

  test("autocut cuts the fused page's score curve") {
    val h = base.copy(fusionType = FusionType.RelativeScore)
    // autocut ranks the page by score desc, id asc (HybridSearch.autocut)
    val page = expected("Mix", h, 20)
      .sortWith((a, b) => a.score > b.score || (a.score == b.score && utf8(a.id, b.id) < 0))
    val ys = page.map(_.score)
    val diff = ys.indices.map(i =>
      if (ys.size <= 1 || ys.last == ys.head) 0.0
      else (ys(i) - ys.head) / (ys.last - ys.head) - i.toDouble / (ys.size - 1))
    val extrema = ys.indices.filter { i =>
      if (i == 0) false
      else if (i == ys.size - 1) diff(i) > diff(i - 1) && diff(i) > diff(math.max(i - 2, 0))
      else diff(i) > diff(i - 1) && diff(i) > diff(i + 1)
    }
    val cut = extrema.headOption.getOrElse(ys.size)
    assert(cut < ys.size, "vacuous: the curve has no extremum to cut at")
    assertSame(served("Mix", h, 20, autocut = Some(1)), page.take(cut), "autocut 1")
  }

  test("groupBy over the fused pool ranks with the kept secondary") {
    val h = Hybrid("alpha", vector = Some(q), metric = Metric.Cosine, alpha = 0.5,
      fusionType = FusionType.Ranked)
    val pool = expected("Pair", h, 10)
    val got = g.get(GetParams("Pair", hybrid = Some(h),
      groupBy = Some(GroupByParams("n", groups = 2, objectsPerGroup = 1)),
      pagination = Some(Pagination(limit = 10)), properties = Seq("uid"),
      additional = Set("score"))).collect()
    // one hit per group, groups in rank order: the secondary-decided y first
    assert(got.map(r => (r.getAs[Int]("group_index"), r.getAs[String]("uid"))).toSeq ==
      pool.zipWithIndex.map { case (hit, i) => (i + 1, hit.id) })
    val mixH = base.copy(fusionType = FusionType.RelativeScore)
    val mixPool = expected("Mix", mixH, 10)
    val groups = served("Mix", mixH, 10).map(r => r.getAs[String]("uid") -> r.getAs[String]("cat")).toMap
    // greedy grouping (shard_group_by.go): groups open in rank order
    val order = mixPool.map(h => groups(h.id)).distinct.take(2)
    val exp = order.flatMap(gv => mixPool.filter(h => groups(h.id) == gv).take(2).map(h => (gv, h.id)))
    val mixGot = g.get(GetParams("Mix", hybrid = Some(mixH),
      groupBy = Some(GroupByParams("cat", groups = 2, objectsPerGroup = 2)),
      pagination = Some(Pagination(limit = 10)), properties = Seq("uid"))).collect()
      .map(r => (r.getAs[String]("group_value"), r.getAs[String]("uid"))).toSeq
    assert(mixGot == exp)
  }

  /** The reference sorts the ranked slice stably: within a `cat`, rows keep
   * the leg's order, not id order. The page covers every hit, so the
   * unsorted read is the whole ranked slice. */
  private def assertSortKeepsRank(p: GetParams): Unit = {
    def page(p: GetParams): Seq[(String, String)] =
      g.get(p.copy(pagination = Some(Pagination(limit = 200)), properties = Seq("uid", "cat")))
        .collect().map(r => (r.getAs[String]("uid"), r.getAs[String]("cat"))).toSeq
    val ranked = page(p)
    val sorted = page(p.copy(sort = Seq(SortBy(Seq("cat")))))
    assert(sorted == ranked.sortBy(_._2))
    val idOrder = ranked.sortWith((a, b) => a._2 < b._2 || (a._2 == b._2 && utf8(a._1, b._1) < 0))
    assert(sorted != idOrder, "a rank that agrees with id order proves nothing")
  }

  test("a sort after a bm25 leg breaks its ties by the keyword rank") {
    assertSortKeepsRank(GetParams("Mix", bm25 = Some(Bm25("alpha gamma", Seq("text")))))
  }

  test("a sort after a hybrid leg breaks its ties by the fused rank") {
    assertSortKeepsRank(GetParams("Mix", hybrid = Some(base)))
  }

  test("resolving refs or grouping keeps a boosted page's order") {
    // x is the nearer doc; the boost on n = 1 lifts y over it
    val boosted = GetParams("Pair", nearVector = Some(NearVector(q, Metric.Cosine)),
      boost = Some(BoostParams(Seq(BoostCondition(filter = Some(Where.eqInt("n", 1)))), weight = 0.9)))
    assert(pageIds(boosted.copy(boost = None)) == Seq("x", "y"))
    assert(pageIds(boosted) == Seq("y", "x"))
    assert(pageIds(boosted.copy(resolveRefs = Seq("ref"))) == Seq("y", "x"))
    // groups open in the boosted order too, as they do for boosted keyword
    // and fused pools
    assert(pageIds(boosted.copy(groupBy = Some(GroupByParams("n", groups = 2, objectsPerGroup = 1)))) ==
      Seq("y", "x"))
  }

  test("explainScore renders as before the driver-side fusion") {
    def explained(fusion: FusionType) =
      served("Pair", Hybrid("alpha", vector = Some(q), metric = Metric.Cosine, alpha = 0.5,
        fusionType = fusion), 10, additional = Set("score", "explainScore"))
        .map(r => r.getAs[String]("uid") -> r.getAs[String]("_explainScore")).toMap
    assert(explained(FusionType.Ranked) == ExplainGolden.ranked)
    assert(explained(FusionType.RelativeScore) == ExplainGolden.relative)
    val single = served("Pair", Hybrid("alpha", alpha = 0.0), 10,
      additional = Set("score", "explainScore"))
      .map(r => r.getAs[String]("uid") -> r.getAs[String]("_explainScore")).toMap
    assert(single == ExplainGolden.keywordOnly)
  }

  test("an oversized page is rejected before any leg is fetched") {
    // legs are fetched while the read is built, so the page bound
    // (queryMaximumResults, default 10000) must be checked first
    val (err, trace) = ReadTrace(spark)(intercept[IllegalArgumentException] {
      g.get(GetParams("Mix", hybrid = Some(base), pagination = Some(Pagination(limit = 20000))))
    })
    assert(err.getMessage.contains("query maximum results exceeded"))
    assert(trace.jobs == 0, s"an oversized hybrid page ran ${trace.jobs} Spark jobs")
  }

  test("Aggregate over hybrid counts Get's hit set (objectLimit and the default pool)") {
    // the subSearch leg is at Metric.Default, which Aggregate resolves as Get does
    val sub = Hybrid("alpha beta", subSearches = Seq(
      HybridSubSearch(0.5, bm25 = Some(Bm25("alpha"))),
      HybridSubSearch(0.5, nearVector = Some(NearVector(q, Metric.Default)))))
    for (h <- Seq(base.copy(fusionType = FusionType.RelativeScore), sub);
         objectLimit <- Seq(Some(30), None)) {
      val hits = served("Mix", h, objectLimit.getOrElse(100))
      val meta = g.aggregate(AggregateParams("Mix", includeMetaCount = true,
        hybrid = Some(h), objectLimit = objectLimit)).head()
      assert(meta.getAs[Long]("meta_count") == hits.size.toLong, s"objectLimit $objectLimit")
      val grouped = g.aggregate(AggregateParams("Mix", groupBy = Some(Seq("cat")),
        includeMetaCount = true, hybrid = Some(h), objectLimit = objectLimit)).collect()
        .map(r => r.getAs[String]("groupedBy_value") -> r.getAs[Long]("meta_count")).toMap
      assert(grouped == hits.groupBy(_.getAs[String]("cat")).map { case (k, v) => k -> v.size.toLong },
        s"objectLimit $objectLimit")
    }
  }
}

/** The explainScore replies the Spark-side fusion rendered for the Pair bed
 * (captured before fusion moved to the driver). */
private object ExplainGolden {
  val ranked: Map[String, String] = Map(
    "y" -> "\nHybrid (Result Set keyword) Document y contributed 0.008196721 to the score\nHybrid (Result Set vector) Document y contributed 0.008064516 to the score",
    "x" -> "\nHybrid (Result Set keyword) Document x contributed 0.008064516 to the score\nHybrid (Result Set vector) Document x contributed 0.008196721 to the score")
  val relative: Map[String, String] = Map(
    "y" -> "\nHybrid (Result Set vector) Document y: original score 0.2501501, normalized score: 0 - \nHybrid (Result Set keyword) Document y: original score 0.12074275, normalized score: 0.5",
    "x" -> "\nHybrid (Result Set vector) Document x: original score 1, normalized score: 0.5 - \nHybrid (Result Set keyword) Document x: original score 0.06654071, normalized score: 0")
  val keywordOnly: Map[String, String] = Map(
    "y" -> "\nHybrid (Result Set keyword) Document y: original score 0.12074275, normalized score: 1",
    "x" -> "\nHybrid (Result Set keyword) Document x: original score 0.06654071, normalized score: 0")
}
