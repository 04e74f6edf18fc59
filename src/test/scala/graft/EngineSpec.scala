package graft

import org.apache.spark.sql.functions._

import graft.engine.Graft
import graft.model._
import graft.operators.Mmr
import graft.pipeline.{Classify, Ref2Vec, TextAnalysis}

/** End-to-end engine behaviours on the sf0.001 fixtures. */
class EngineSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val g = Fixtures.graft(spark, sf)

  test("nearVector top-k is ordered and self-first for nearObject") {
    val rows = g.get(GetParams("Embedding",
      nearObject = Some(NearObject(7L, metric = Metric.L2Squared)),
      pagination = Some(Pagination(limit = 5)),
      properties = Seq("vec_id"), additional = Set("distance"))).collect()
    assert(rows.head.getAs[Long]("vec_id") == 7L)
    assert(rows.head.getAs[Double]("_distance") == 0.0)
    val dists = rows.map(_.getAs[Double]("_distance")).toSeq
    assert(dists == dists.sorted)
  }

  test("_additional creationTimeUnix projects the declared timestamp column") {
    val rows = g.get(GetParams("EventTenant",
      tenant = Some("view"),
      pagination = Some(Pagination(limit = 3)),
      properties = Seq("event_id"),
      additional = Set("id", "creationTimeUnix"))).collect()
    assert(rows.nonEmpty)
    assert(rows.head.schema.fieldNames.contains("_creationTimeUnix"))
    assert(rows.forall(_.getAs[Long]("_creationTimeUnix") > 0L))
    // an undeclared timestamp silently projects nothing (schema gate, like
    // the reference's indexTimestamps)
    val noTs = g.get(GetParams("Embedding",
      pagination = Some(Pagination(limit = 1)),
      properties = Seq("vec_id"),
      additional = Set("lastUpdateTimeUnix"))).collect()
    assert(!noTs.head.schema.fieldNames.contains("_lastUpdateTimeUnix"))
  }

  test("distance threshold bounds results (certainty round-trip)") {
    val rows = g.get(GetParams("Embedding",
      nearObject = Some(NearObject(3L, metric = Metric.Cosine, certainty = Some(0.62))),
      properties = Seq("vec_id"), additional = Set("distance", "certainty"))).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("_distance") <= 2 * (1 - 0.62) + 1e-12))
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("_certainty") - (1 - r.getAs[Double]("_distance") / 2)) < 1e-12)
    }
  }

  test("hybrid pure-vector and pure-keyword degenerate cases") {
    val vOnly = g.get(GetParams("DocVec",
      hybrid = Some(Hybrid("", vector = Some(Fixtures.anchorVector(g, 7L)), alpha = 1.0)),
      pagination = Some(Pagination(limit = 5)), properties = Seq("doc_id")))
    assert(vOnly.count() == 5)
    val kOnly = g.get(GetParams("DocVec",
      hybrid = Some(Hybrid("spark join", alpha = 0.0)),
      pagination = Some(Pagination(limit = 5)), properties = Seq("doc_id")))
    assert(kOnly.count() == 5)
  }

  test("cursor pagination walks without overlap") {
    val page1 = g.get(GetParams("Order", cursor = Some(Cursor(None, 10)),
      properties = Seq("o_orderkey"))).collect().map(_.getLong(0))
    val page2 = g.get(GetParams("Order", cursor = Some(Cursor(Some(page1.last), 10)),
      properties = Seq("o_orderkey"))).collect().map(_.getLong(0))
    assert(page1.length == 10 && page2.length == 10)
    assert(page1.toSet.intersect(page2.toSet).isEmpty)
    assert(page2.min > page1.max)
  }

  test("cursor rejects offset/where/sort (reference cursor_validator)") {
    val cur = Some(Cursor(Some(5L), 10))
    assertThrows[IllegalArgumentException](g.get(GetParams("Order", cursor = cur,
      sort = Seq(SortBy.asc("o_totalprice")), properties = Seq("o_orderkey"))))
    assertThrows[IllegalArgumentException](g.get(GetParams("Order", cursor = cur,
      where = Some(Where.gtNum("o_totalprice", 100.0)), properties = Seq("o_orderkey"))))
    assertThrows[IllegalArgumentException](g.get(GetParams("Order", cursor = cur,
      pagination = Some(Pagination(limit = 5, offset = 3)), properties = Seq("o_orderkey"))))
  }

  test("QueryMaximumResults caps limit-less Get and rejects oversized pages") {
    import graft.engine.{Collection, Graft}
    val df = (1L to 50L).map(i => (i, s"row$i")).toDF("id", "name")
    val eng = new Graft(spark).withQueryMaximumResults(20)
    eng.register(Collection(CollectionSchema("C", "id", Seq(
      Property("name", PropType.Text, Tokenization.Field))), df))
    // limit-less Get clamps to the cap (reference: a query above
    // QUERY_MAXIMUM_RESULTS cannot materialize)
    assert(eng.get(GetParams("C")).count() == 20)
    // explicit pages above the cap error like search.go getTotalLimit
    val e = intercept[IllegalArgumentException] {
      eng.get(GetParams("C", pagination = Some(Pagination(offset = 15, limit = 10))))
    }
    assert(e.getMessage.contains("query maximum results exceeded"))
    intercept[IllegalArgumentException] {
      eng.get(GetParams("C", cursor = Some(Cursor(None, 25))))
    }
    // in-cap pages unaffected
    assert(eng.get(GetParams("C", pagination = Some(Pagination(limit = 20)))).count() == 20)
  }

  test("radius search bypasses the results cap (LimitFlagSearchByDist)") {
    // 30 identical vectors, cap 10: a distance-threshold search must return
    // all 30 (the reference exempts SearchByVectorDistance from the cap)
    import graft.engine.{Collection, Graft}
    val df = (1L to 30L).map(i => (i, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val eng = new Graft(spark).withQueryMaximumResults(10)
    eng.register(Collection(CollectionSchema("R", "id", Nil,
      vectors = Map("default" -> "vec"), defaultVector = Some("default")), df))
    val out = eng.get(GetParams("R",
      nearVector = Some(NearVector(Array(1.0f, 0.0f), Metric.L2Squared, distance = Some(0.5)))))
    assert(out.count() == 30)
  }

  test("multi-target Minimum combination = least of per-target distances") {
    val rows = g.get(GetParams("Embedding",
      nearVector = Some(NearVector(Fixtures.anchorVector(g, 11L), metric = Metric.L2Squared,
        targetVectors = Seq("default", "rev"), combination = TargetCombination.Minimum)),
      pagination = Some(Pagination(limit = 3)),
      properties = Seq("vec_id"), additional = Set("distance"))).collect()
    assert(rows.head.getAs[Long]("vec_id") == 11L) // self via default target
  }

  test("plain-path groupBy bounds the rank pool (no unbounded global window)") {
    val res = g.get(GetParams("Embedding",
      groupBy = Some(GroupByParams("label", groups = 4, objectsPerGroup = 3)),
      properties = Seq("vec_id")))
    // pool = groups × objectsPerGroup = 12, ranked by id: groups appear in
    // first-seen id order and no hit rank exceeds objectsPerGroup
    val rows = res.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("group_hit_rank") <= 3))
    assert(rows.map(_.getAs[Int]("group_index")).distinct.length <= 4)
    // plan shape: the window input is a TakeOrderedAndProject (bounded pool),
    // not a full scan — the scale guarantee this test exists for
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"pool not bounded:\n$plan")
  }

  test("resolveRefs broadcasts dim-sized targets, not huge ones") {
    import graft.engine.{Collection, Graft}
    // small target → broadcast hint; huge-stats target → plain join (AQE
    // picks the shuffle side) — forcing broadcast there OOMs at 100 TB
    val facts = Seq((1L, 10L), (2L, 20L)).toDF("f_id", "ref")
    val small = Seq((10L, "a"), (20L, "b")).toDF("t_id", "name")
    val huge = spark.range(20000000L).select($"id".as("t_id"), concat(lit("n"), $"id").as("name"))
    def engineWith(target: org.apache.spark.sql.DataFrame): Graft =
      new Graft(spark)
        .register(Collection(CollectionSchema("F", "f_id", Seq(
          Property("ref", PropType.Ref, refTarget = Some("T")))), facts))
        .register(Collection(CollectionSchema("T", "t_id", Seq(
          Property("name", PropType.Text))), target))
    def planOf(target: org.apache.spark.sql.DataFrame): String =
      engineWith(target).get(GetParams("F",
        pagination = Some(Pagination(limit = 2)),
        properties = Seq("f_id"), resolveRefs = Seq("ref")))
        .queryExecution.optimizedPlan.toString
    assert(planOf(small).contains("strategy=broadcast"),
      "small target should carry the broadcast hint")
    assert(!planOf(huge).contains("strategy=broadcast"),
      "huge target must not be forced broadcast")
  }

  test("MMR: first pick is most relevant, selection is diverse") {
    val pool = g.get(GetParams("Embedding",
      nearObject = Some(NearObject(7L, metric = Metric.Cosine)),
      pagination = Some(Pagination(limit = 20))))
      .withColumn("rel", lit(1.0) - col("_distance") / 2.0)
    val out = Mmr.rerank(pool, "vec_id", "embedding", "rel", lambda = 0.5, k = 5).collect()
    assert(out.length == 5)
    assert(out.head.getAs[Long]("id") == 7L)
  }

  test("kNN classification predicts the probe's own label region") {
    val emb = g.collection("Embedding").df
    val probes = emb.filter($"vec_id" === 7L)
    val out = Classify.knn(emb, $"vec_id", $"embedding", $"label",
      probes, $"vec_id", $"embedding", k = 5).head()
    assert(out.getAs[Long]("votes") >= 1L)
  }

  test("ref2vec centroid has the vector dimension") {
    val c = Ref2Vec.centroid(g.collection("DocVec").df, $"lang", $"embedding").head()
    assert(c.getSeq[Double](1).length == 64)
  }

  test("language ID is deterministic and from the profile set") {
    val langs = g.collection("Document").df
      .select(TextAnalysis.languageId($"text").as("l")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("de", "en", "es", "fr")))
  }

  test("schema validation: reference name rules enforced at register time") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("k", "v")
    def reg(s: CollectionSchema) = new graft.engine.Graft(spark).register(s, df)
    def msg(s: CollectionSchema) = intercept[IllegalArgumentException] { reg(s) }.getMessage

    // class name must match [A-Z][_0-9A-Za-z]*
    assert(msg(CollectionSchema("lowercase", "k", Seq(Property("v", PropType.Text))))
      .contains("'lowercase' is not a valid class name"))
    assert(msg(CollectionSchema("Bad-Name", "k", Seq(Property("v", PropType.Text))))
      .contains("not a valid class name"))
    // property naming: GraphQL charset, reserved names, internal suffixes,
    // duplicates
    assert(msg(CollectionSchema("C", "k", Seq(Property("bad-prop", PropType.Text))))
      .contains("'bad-prop' is not a valid property name"))
    assert(msg(CollectionSchema("C", "k", Seq(Property("id", PropType.Text))))
      .contains("'id' is a reserved property name"))
    assert(msg(CollectionSchema("C", "k", Seq(Property("_additional", PropType.Text))))
      .contains("reserved property name"))
    assert(msg(CollectionSchema("C", "k", Seq(Property("foo_propertyLength", PropType.Text))))
      .contains("suffix '_propertyLength' is reserved for internal indices"))
    assert(msg(CollectionSchema("C", "k", Seq(
      Property("v", PropType.Text), Property("v", PropType.Int))))
      .contains("conflicting property 'v'"))
    // vector names: GraphQL charset
    assert(msg(CollectionSchema("C", "k", Seq(Property("v", PropType.Text)),
      vectors = Map("bad name" -> "vcol")))
      .contains("'bad name' is not a valid vector name"))
    // a valid schema registers fine (underscore-leading property is legal)
    reg(CollectionSchema("Ok_1", "k", Seq(Property("_private", PropType.Text))))
  }

  test("schema-configured vector metric: Metric.Default resolves per class config") {
    val gg = new Graft(spark)
    import spark.implicits._
    // unnormalized vectors where L2 and cosine disagree: query (1,0);
    // (2,0) is cosine-identical (dist 0) but L2-far; (0.1,0.3) is L2-near
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)), (3L, Seq(0.1f, 0.3f)))
      .toDF("id", "vec")
    gg.register(CollectionSchema("M", "id", Nil,
      vectors = Map("default" -> "vec"), defaultVector = Some("default"),
      vectorMetrics = Map("default" -> Metric.L2Squared)), df)
    def top(m: Metric): Seq[Long] =
      gg.get(GetParams("M", nearObject = Some(NearObject(1L, metric = m)),
        pagination = Some(Pagination(limit = 3)), properties = Seq("id")))
        .collect().map(_.getLong(0)).toSeq
    assert(top(Metric.Default) == Seq(1L, 3L, 2L)) // L2 order per class config
    assert(top(Metric.Cosine) == Seq(1L, 2L, 3L))  // explicit override still wins
    // unconfigured vectors default to cosine
    val gg2 = new Graft(spark)
    gg2.register(CollectionSchema("M2", "id", Nil,
      vectors = Map("default" -> "vec"), defaultVector = Some("default")), df)
    val viaDefault = gg2.get(GetParams("M2",
      nearObject = Some(NearObject(1L, metric = Metric.Default)),
      pagination = Some(Pagination(limit = 3)), properties = Seq("id")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaDefault == Seq(1L, 2L, 3L))
    // direct operator calls must not silently see Default
    val e = intercept[IllegalStateException] {
      org.apache.spark.sql.graft.VectorFunctions.distance(Metric.Default)($"a", $"b")
    }
    assert(e.getMessage.contains("must be resolved"))
    // certainty (argument OR additional) is cosine-only, like the reference
    val ce = intercept[IllegalArgumentException] {
      gg.get(GetParams("M", nearObject = Some(NearObject(1L,
        metric = Metric.Default, certainty = Some(0.9)))))
    }
    assert(ce.getMessage.contains("can't compute and return certainty") &&
      ce.getMessage.contains("l2-squared"))
    intercept[IllegalArgumentException] {
      gg.get(GetParams("M", nearObject = Some(NearObject(1L, metric = Metric.Default)),
        pagination = Some(Pagination(limit = 1)), additional = Set("certainty")))
    }
  }

  test("selection MMR: balance trades relevance for diversity; tail fill keeps order") {
    val gg = new Graft(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),   // the query anchor
      (2L, Seq(0.99f, 0.01f)), // near-duplicate of 1
      (3L, Seq(0.0f, 1.0f)))   // far but diverse
      .toDF("id", "vec")
    gg.register(CollectionSchema("Sel", "id", Nil,
      vectors = Map("default" -> "vec"), defaultVector = Some("default"),
      vectorMetrics = Map("default" -> Metric.L2Squared)), df)
    def pick(balance: Double, limit: Int): Seq[Long] =
      gg.get(GetParams("Sel",
        nearObject = Some(NearObject(1L, metric = Metric.Default)),
        pagination = Some(Pagination(limit = 3)),
        selectionMmr = Some(SelectionMmrParams(limit, balance)),
        properties = Seq("id")))
        .orderBy(col("_mmr_rank")).collect().map(_.getLong(0)).toSeq
    assert(pick(1.0, 2) == Seq(1L, 2L))   // pure relevance
    assert(pick(0.3, 2) == Seq(1L, 3L))   // diversity outweighs the near-dup
    // unselected candidates fill the tail in relevance order (limit 3 here)
    assert(pick(0.3, 3) == Seq(1L, 3L, 2L))
    intercept[IllegalArgumentException] { SelectionMmrParams(2, 1.5) }
    // requires a vector leg
    val e = intercept[IllegalArgumentException] {
      gg.get(GetParams("Sel", pagination = Some(Pagination(limit = 2)),
        selectionMmr = Some(SelectionMmrParams(2, 0.5))))
    }
    assert(e.getMessage.contains("requires a vector search leg"))
    // a leg over a NAMED vector diversifies against THAT vector column:
    // on "alt" (where 2 and 3 swap geometry — 2 is the diverse one) the
    // balance=0.3 pick must flip vs the default-vector pick above
    val alt = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(0.99f, 0.01f), Seq(0.0f, 1.0f)),  // near-dup on default, diverse on alt
      (3L, Seq(0.0f, 1.0f), Seq(0.99f, 0.01f)))  // diverse on default, near-dup on alt
      .toDF("id", "vec", "vec2")
    gg.register(CollectionSchema("SelAlt", "id", Nil,
      vectors = Map("default" -> "vec", "alt" -> "vec2"), defaultVector = Some("default"),
      vectorMetrics = Map("default" -> Metric.L2Squared, "alt" -> Metric.L2Squared)), alt)
    val viaAlt = gg.get(GetParams("SelAlt",
      nearObject = Some(NearObject(1L, metric = Metric.Default,
        targetVectors = Seq("alt"))),
      pagination = Some(Pagination(limit = 3)),
      selectionMmr = Some(SelectionMmrParams(2, 0.3)),
      properties = Seq("id")))
      .orderBy(col("_mmr_rank")).collect().map(_.getLong(0)).toSeq
    assert(viaAlt == Seq(1L, 2L),
      "MMR must diversify over the leg's named vector, not the default")
  }

  test("selection.mmr after nearMultiVector diversifies over the leg's multi-vector target") {
    val gg = new Graft(spark)
    // one-token bags, so MaxSim is a plain dot: on colbert 2 is the near-dup
    // of 1 and 3 the diverse one; the default vector swaps them
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(Seq(1.0f, 0.0f))),
      (2L, Seq(0.0f, 1.0f), Seq(Seq(0.99f, 0.01f))),
      (3L, Seq(0.99f, 0.01f), Seq(Seq(0.0f, 1.0f))))
      .toDF("id", "vec", "cvec")
    gg.register(CollectionSchema("SelMv", "id", Nil,
      vectors = Map("default" -> "vec", "colbert" -> "cvec"), defaultVector = Some("default"),
      vectorMetrics = Map("default" -> Metric.L2Squared)), df)
    val picked = gg.get(GetParams("SelMv",
      nearMultiVector = Some(NearMultiVector(Array(Array(1.0f, 0.0f)), Seq("colbert"))),
      pagination = Some(Pagination(limit = 3)),
      selectionMmr = Some(SelectionMmrParams(2, 0.3)),
      properties = Seq("id")))
      .orderBy(col("_mmr_rank")).collect().map(_.getLong(0)).toSeq
    assert(picked == Seq(1L, 3L),
      "MMR must diversify over the nearMultiVector leg's colbert vectors, not the default")
  }

  test("collection aliases: create/resolve/update/delete with reference error shapes") {
    val gg = new Graft(spark)
    import spark.implicits._
    gg.register(CollectionSchema("ClassA", "id", Seq(Property("v", PropType.Int))),
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    gg.register(CollectionSchema("ClassB", "id", Seq(Property("v", PropType.Int))),
      Seq((3L, 30L)).toDF("id", "v"))
    // create + resolution at the registry entry point (lowercase input
    // uppercases like schema.UppercaseClassName)
    gg.createAlias("myAlias", "ClassA")
    assert(gg.collection("MyAlias").name == "ClassA")
    assert(gg.hasCollection("MyAlias"))
    assert(gg.get(GetParams("MyAlias", properties = Seq("id"))).count() == 2)
    assert(gg.listAliases() == Seq("MyAlias" -> "ClassA"))
    assert(gg.listAliases(Some("ClassB")).isEmpty)
    // the className filter canonicalizes like every mutation path — a
    // lowercase filter must still find the alias
    assert(gg.listAliases(Some("classA")) == Seq("MyAlias" -> "ClassA"))
    // collisions: existing alias, existing class, unknown target
    assert(intercept[IllegalArgumentException] { gg.createAlias("MyAlias", "ClassB") }
      .getMessage.contains("alias already exists"))
    assert(intercept[IllegalArgumentException] { gg.createAlias("ClassB", "ClassA") }
      .getMessage.contains("class ClassB already exists"))
    assert(intercept[IllegalArgumentException] { gg.createAlias("Other", "Nope") }
      .getMessage.contains("class not found"))
    assert(intercept[IllegalArgumentException] { gg.createAlias("bad name", "ClassA") }
      .getMessage.contains("not a valid class name"))
    // update re-points; delete removes; both error on unknown alias
    gg.updateAlias("MyAlias", "ClassB")
    assert(gg.collection("MyAlias").name == "ClassB")
    assert(intercept[IllegalArgumentException] { gg.updateAlias("Ghost", "ClassA") }
      .getMessage.contains("alias Ghost does not exist"))
    gg.deleteAlias("MyAlias")
    assert(!gg.hasCollection("MyAlias"))
    assert(intercept[IllegalArgumentException] { gg.deleteAlias("MyAlias") }
      .getMessage.contains("not found"))
  }

  test("alias-addressed registries land on the canonical collection") {
    val gg = new Graft(spark)
    import spark.implicits._
    gg.register(CollectionSchema("TenantC", "id",
        Seq(Property("v", PropType.Int), Property("t", PropType.Text)),
        tenantColumn = Some("t")),
      Seq((1L, 10L, "t1"), (2L, 20L, "t2")).toDF("id", "v", "t"))
    gg.createAlias("TAlias", "TenantC")
    // tenant MUTATIONS never resolve aliases (aliases_api_test.go
    // "add_update_delete tenants with alias - should fail"); tenant READS
    // and data queries do
    val add = intercept[IllegalArgumentException](
      gg.addTenants("TAlias", Seq(graft.model.Tenant("t1"))))
    assert(add.getMessage == "class TAlias not found")
    gg.addTenants("TenantC", Seq(graft.model.Tenant("t1",
      graft.model.TenantStatus.Inactive)))
    assert(gg.tenants("TAlias").map(_.name) == Seq("t1")) // read resolves
    val e = intercept[IllegalArgumentException] {
      gg.get(GetParams("TenantC", tenant = Some("t1"), properties = Seq("id")))
        .count()
    }
    assert(e.getMessage.toLowerCase.contains("not active"), e.getMessage)
    intercept[IllegalArgumentException](
      gg.updateTenant("TAlias", "t1", graft.model.TenantStatus.Active))
    gg.updateTenant("TenantC", "t1", graft.model.TenantStatus.Active)
    assert(gg.get(GetParams("TAlias", tenant = Some("t1"),
      properties = Seq("id"))).count() == 1)
    intercept[IllegalArgumentException](gg.deleteTenants("TAlias", Seq("t1")))
  }

  test("cursor + search leg is rejected loudly (keyset walks the id order)") {
    val gg = new Graft(spark)
    import spark.implicits._
    gg.register(CollectionSchema("CurC", "id", Seq(Property("txt", PropType.Text))),
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("id", "txt"))
    val e = intercept[IllegalArgumentException] {
      gg.get(GetParams("CurC",
        bm25 = Some(graft.model.Bm25("beta", Seq("txt"))),
        cursor = Some(graft.model.Cursor(after = Some(1L), limit = 10)),
        properties = Seq("id"))).count()
    }
    assert(e.getMessage.contains("after and limit"), e.getMessage)
  }

  test("resolveRefs resolves array (beacon-list) crefs in edge order") {
    val gg = new Graft(spark)
    import spark.implicits._
    gg.register(CollectionSchema("RTarget", "id", Seq(Property("nm", PropType.Text))),
      Seq((10L, "x"), (20L, "y")).toDF("id", "nm"))
    gg.register(CollectionSchema("RSource", "id",
        Seq(Property("refs", PropType.Ref, refTarget = Some("RTarget")))),
      Seq((1L, Seq(20L, 10L)), (2L, Seq.empty[Long]), (3L, Seq(10L, 99L)))
        .toDF("id", "refs"))
    val out = gg.get(GetParams("RSource", properties = Seq("id", "refs"),
        resolveRefs = Seq("refs")))
      .orderBy($"id").collect()
    val r1 = out(0).getSeq[org.apache.spark.sql.Row](out(0).fieldIndex("refs_resolved"))
    assert(r1.map(_.getAs[String]("nm")) == Seq("y", "x")) // edge order kept
    assert(out(1).isNullAt(out(1).fieldIndex("refs_resolved"))) // no refs
    val r3 = out(2).getSeq[org.apache.spark.sql.Row](out(2).fieldIndex("refs_resolved"))
    assert(r3.map(_.getAs[String]("nm")) == Seq("x")) // dangling 99 dropped
  }
}
