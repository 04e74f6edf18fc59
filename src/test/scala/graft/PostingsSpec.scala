package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.engine.Collection
import graft.model._
import graft.operators.{Bm25Search, Postings, PostingsIndex}
import graft.text.Tokenize

/** The postings-table BM25 path must reproduce the scan path bit-for-bit
 * (same formula, different physical plan). */
class PostingsSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def hitsOf(df: DataFrame, id: String): Seq[(Any, Double)] =
    df.select(col(id), col(Bm25Search.ScoreCol)).collect()
      .map(r => (r.get(0), r.getDouble(1))).toSeq

  /** The postings top-k (driver-scored `search`, or `searchPruned` when
   * `pruned`) equals the scan path's on the same params (same ids in the
   * same order, scores within 1e-9), optionally under a `where` allowlist.
   * Returns the postings hits. */
  private def assertParity(c: Collection, idx: PostingsIndex, kw: Bm25, limit: Int,
                           where: Option[Column] = None,
                           pruned: Boolean = false): Seq[(Any, Double)] = {
    val id = c.schema.idColumn
    val base = where.map(c.df.filter)
    val specs = Bm25Search.parseProps(kw.properties)
    val scan = hitsOf(Bm25Search.search(c, kw, limit, base), id)
    val f = if (pruned) Postings.searchPruned _ else Postings.search _
    val posted = hitsOf(f(idx, kw.query, limit, kw.searchOperator, kw.k1, kw.b,
      base.map(_.select(col(id))), specs.map(s => s.name -> s.boost).toMap,
      Some(specs.map(_.name))), id)
    assert(scan.nonEmpty, s"vacuous parity case $kw")
    assert(posted.map(_._1) == scan.map(_._1), s"ids or order differ for $kw")
    scan.zip(posted).foreach { case ((_, a), (d, b)) =>
      assert(math.abs(a - b) < 1e-9, s"doc $d: scan $a vs postings $b for $kw")
    }
    posted
  }

  test("postings search == scan search (scores within 1e-9, same order)") {
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("Document")
    val idx = Postings.build(c, "text")
    val cases = Seq(
      Bm25("spark join stream", Seq("text")),
      Bm25("table scan", Seq("text")),
      Bm25("spark join stream window", Seq("text"), SearchOperator.Or(2)),
      Bm25("table scan", Seq("text"), SearchOperator.AndOp),
      Bm25("spark spark join stream spark", Seq("text")),   // duplicate query terms
      Bm25("spark join stream", Seq("text"), k1 = 0.0))
    cases.foreach(kw => assertParity(c, idx, kw, 20))
    // a where allowlist only restricts which docs return: df stays
    // collection-wide, so an allowed doc scores exactly as it does unfiltered
    val kw = Bm25("spark join stream", Seq("text"))
    val allowed = assertParity(c, idx, kw, 15, Some(col("doc_id") % 3 =!= 0))
    val unfiltered = hitsOf(Postings.search(idx, kw.query, 100000), "doc_id").toMap
    allowed.foreach { case (d, s) => assert(unfiltered(d) == s, s"doc $d: df moved under the allowlist") }
    assert(allowed.map(_._1) != hitsOf(Postings.search(idx, kw.query, 15), "doc_id").map(_._1),
      "sanity: the allowlist must change the page")
  }

  test("postings == scan: string ids with tied scores, a boosted two-prop group, zero boost, k1=0, after delta") {
    import spark.implicits._
    val schema = CollectionSchema("Tied", "id", Seq(
      Property("title", PropType.Text, Tokenization.Word),
      Property("body", PropType.Text, Tokenization.Word)))
    val docs = Seq(
      ("b", "spark join", "stream window spark"), ("a", "spark join", "stream window spark"),
      ("\u00e9", "spark join", "stream window spark"), ("Z", "spark join", "stream window spark"),
      ("c", "join", "spark spark table"), ("d", null, "stream"), ("e", "table", "merge sort"),
      ("f", "spark", null), ("ab", "window", "join stream spark spark"), ("aa", "merge", "hash"))
    val c0 = Collection(schema, docs.toDF("id", "title", "body"))
    val idx0 = Postings.build(c0, Seq("title", "body"), buckets = 2)
    val cases = Seq(
      Bm25("spark stream", Seq("title^2", "body^0")),
      Bm25("spark join window", Seq("title", "body^1.5")),
      Bm25("spark join", Seq("title", "body"), k1 = 0.0),
      Bm25("spark spark join", Seq("title", "body"), SearchOperator.Or(2)),
      Bm25("spark join", Seq("title", "body"), SearchOperator.AndOp),
      Bm25("stream spark", Seq("body")))
    val tied = assertParity(c0, idx0, cases.head, 10)
    assert(tied.filter(_._2 == tied(1)._2).map(_._1) == Seq("Z", "a", "b", "\u00e9"),
      s"tied docs must order by id: $tied")
    cases.foreach(kw => assertParity(c0, idx0, kw, 10))
    assertParity(c0, idx0, cases(1), 10, Some(col("id") =!= "ab"))

    // upsert (replace "a", add "new") + delete "b"
    val changed = Seq(("a", "merge table", "sort"), ("new", "spark spark", "join stream")).toDF("id", "title", "body")
    val c1 = Collection(schema, c0.df.filter(!col("id").isin("a", "b")).unionByName(changed))
    val idx1 = Postings.delta(idx0, c1, changed, Some(Seq("b").toDF("id")))
    cases.foreach(kw => assertParity(c1, idx1, kw, 10))
    val after = hitsOf(Postings.search(idx1, "spark merge", 10), "id").map(_._1)
    assert(after.contains("a") && after.contains("new") && !after.contains("b"))
  }

  test("block-max pruned search (WAND analogue) is exact vs unpruned") {
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("Document")
    val idx = Postings.build(c, "text", buckets = 16)
    for (q <- Seq("spark join stream", "window dup", "table hash merge sort")) {
      val full = Postings.search(idx, q, 15)
        .select(col("doc_id"), col(Bm25Search.ScoreCol))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pruned = Postings.searchPruned(idx, q, 15)
        .select(col("doc_id"), col(Bm25Search.ScoreCol))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(full.map(_._1) == pruned.map(_._1), s"doc order differs for '$q'")
      full.zip(pruned).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("pruned arm scores out-of-range b and negative boosts unpruned in Spark, at scan parity") {
    // searchPruned serves corpora at or above the prune cutoff, too large for
    // the driver-side posting fetch: queries outside the range its bound is
    // proven on (k1 < 0, b outside [0, 1], a negative boost) must still be
    // scored by a Spark plan over the postings, not a driver-built frame
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("DocVec")
    val idx = Postings.build(c, Seq("text", "lang"), buckets = 16)
    val cases = Seq(
      Bm25("spark join stream", Seq("text"), b = 1.5),
      Bm25("spark join en", Seq("text^2", "lang^-1")),
      Bm25("stream window de", Seq("text", "lang^-0.5"), SearchOperator.Or(2)))
    cases.foreach { kw =>
      assertParity(c, idx, kw, 15, pruned = true)
      assertParity(c, idx, kw, 15, Some(col("doc_id") % 2 === 0), pruned = true)
      val specs = Bm25Search.parseProps(kw.properties)
      val plan = Postings.searchPruned(idx, kw.query, 15, kw.searchOperator, kw.k1, kw.b,
        boosts = specs.map(s => s.name -> s.boost).toMap, props = Some(specs.map(_.name)))
        .queryExecution.optimizedPlan
      assert(plan.find(_.isInstanceOf[LocalRelation]).isEmpty,
        s"out-of-range query must score in Spark for $kw:\n$plan")
    }
  }

  test("postings And-operator matches scan path") {
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("Document")
    val idx = Postings.build(c, "text")
    val scan = Bm25Search.search(c, Bm25("table scan merge", Seq("text"),
      SearchOperator.AndOp), 50).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val posted = Postings.search(idx, "table scan merge", 50, SearchOperator.AndOp)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(scan == posted)
  }

  // --- engine-facade routing (reference: BM25 is always index-served,
  // BlockMax on by default — inverted/bm25_searcher.go:183-193) -------------

  private def engineHits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select(col("doc_id"), round(col("_score"), 9)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("engine bm25 leg serves from the registered postings index (plan has no corpus tokenization)") {
    val g = Fixtures.graft(spark, sf)
    val params = GetParams("Document",
      bm25 = Some(Bm25("spark join stream window", properties = Seq("text"))),
      pagination = Some(Pagination(limit = 20)),
      properties = Seq("doc_id"), additional = Set("score"))
    // warm-up read: the first one also fills the in-memory postings cache
    engineHits(g.get(params))
    val ((served, hits), trace) = ReadTrace(spark) {
      val s = g.get(params)
      (s, engineHits(s))
    }
    assert(!served.queryExecution.executedPlan.toString.contains("__tok_"),
      "engine bm25 plan re-tokenizes the corpus — postings index not routed")
    assert(trace.jobs <= 2,
      s"served bm25 read ran ${trace.jobs} Spark jobs; expected posting fetch + page")
    // parity vs the scan path on the same params
    val scan = Bm25Search.search(g.collection("Document"),
      Bm25("spark join stream window", Seq("text")), 20)
      .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits == scan)
  }

  test("engine bm25 with a where-filter applies the allowlist before scoring (postings path)") {
    val g = Fixtures.graft(spark, sf)
    val where = Where.gtInt("n_chars", 60)
    val served = g.get(GetParams("Document",
      where = Some(where),
      bm25 = Some(Bm25("spark join stream", properties = Seq("text"))),
      pagination = Some(Pagination(limit = 15)),
      properties = Seq("doc_id"), additional = Set("score")))
    assert(!served.queryExecution.executedPlan.toString.contains("__tok_"))
    val c = g.collection("Document")
    val filtered = c.df.filter(col("n_chars") > 60)
    val scan = Bm25Search.search(c, Bm25("spark join stream", Seq("text")), 15, Some(filtered))
      .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(engineHits(served) == scan)
  }

  test("engine serves a scored-prop SUBSET from a wider index (per-property posting lists)") {
    // DocVec's index covers (text, lang, source); scoring only `text` takes
    // the subset path: df re-aggregated from the term-pruned postings
    val g = Fixtures.graft(spark, sf)
    val served = g.get(GetParams("DocVec",
      bm25 = Some(Bm25("spark join", properties = Seq("text"))),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("doc_id"), additional = Set("score")))
    assert(!served.queryExecution.executedPlan.toString.contains("__tok_"),
      "subset query should be index-served")
    val scan = Bm25Search.search(g.collection("DocVec"),
      Bm25("spark join", Seq("text")), 10)
      .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(engineHits(served) == scan)
  }

  test("engine pruned arm (large-corpus planner choice) keeps exact parity") {
    // cutoff 0 forces the block-max pruned arm through the engine facade
    val g0 = Fixtures.graft(spark, sf)
    val eng = new graft.engine.Graft(spark).withPostingsPruneCutoff(0)
    eng.register(g0.collection("Document"))
    eng.registerPostings("Document", Seq("text"), buckets = 16)
    val served = eng.get(GetParams("Document",
      bm25 = Some(Bm25("spark join stream window", properties = Seq("text"))),
      pagination = Some(Pagination(limit = 20)),
      properties = Seq("doc_id"), additional = Set("score")))
    assert(!served.queryExecution.executedPlan.toString.contains("__tok_"))
    val scan = Bm25Search.search(g0.collection("Document"),
      Bm25("spark join stream window", Seq("text")), 20)
      .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(engineHits(served) == scan)
  }

  test("engine falls back to the scan path when the collection has no postings index") {
    val g = Fixtures.graft(spark, sf)
    val served = g.get(GetParams("Part",
      bm25 = Some(Bm25("widget bolt", properties = Seq("p_name"))),
      pagination = Some(Pagination(limit = 5)),
      properties = Seq("p_partkey"), additional = Set("score")))
    assert(served.queryExecution.executedPlan.toString.contains("__tok_"),
      "unindexed collection should take the scan path")
    assert(served.count() > 0)
  }

  test("engine hybrid sparse leg routes through the postings index") {
    val g = Fixtures.graft(spark, sf)
    val gg = g // DocVec has text + vector
    val anchor = Fixtures.anchorVector(gg, 7L)
    val params = GetParams("DocVec",
      hybrid = Some(graft.model.Hybrid("spark join stream", vector = Some(anchor),
        alpha = 0.5, fusionType = graft.model.FusionType.Ranked)),
      pagination = Some(Pagination(limit = 15)),
      properties = Seq("doc_id"), additional = Set("score"))
    gg.get(params).collect() // warm-up: fills the postings cache
    // the legs are fetched while the read is built, so the served frame's
    // plan no longer shows them: trace every query the read runs
    val (rows, trace) = ReadTrace(spark)(gg.get(params).collect())
    assert(trace.plans.nonEmpty)
    assert(!trace.plans.exists(_.contains("__tok_")),
      "hybrid sparse leg re-tokenizes the corpus — postings index not routed")
    assert(rows.length == 15)
  }

  // --- incremental maintenance (delta — the async-indexing-queue analogue) --

  test("delta(upsert+delete) == fresh rebuild (postings, stats, pruned search)", SlowTests) {
    val g = Fixtures.graft(spark, sf)
    val c0 = g.collection("Document")
    val idx0 = Postings.build(c0, Seq("text"), buckets = 16)

    // mutation: replace doc 3, delete doc 7, add two new docs
    val changed = c0.df.filter(col("doc_id") === 3L)
      .withColumn("text", lit("replacement text about spark window merge"))
      .unionByName(
        c0.df.limit(2).withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("text", lit("fresh appended document about stream join")))
    val removed = c0.df.filter(col("doc_id") === 7L).select(col("doc_id"))
    val newDf = c0.df.filter(col("doc_id") =!= 3L && col("doc_id") =!= 7L)
      .unionByName(changed)
    val c1 = graft.engine.Collection(c0.schema, newDf)

    val viaDelta = Postings.delta(idx0, c1, changed, Some(removed))
    val fresh    = Postings.build(c1, Seq("text"), buckets = 16)

    assert(viaDelta.nDocs == fresh.nDocs)
    viaDelta.propMeans.zip(fresh.propMeans).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    assert(viaDelta.storeVersion == c1.version)

    for (q <- Seq("spark join stream", "replacement window", "fresh appended")) {
      val a = Postings.searchPruned(viaDelta, q, 15)
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Postings.searchPruned(fresh, q, 15)
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"delta vs rebuild differ for '$q'")
    }
    // deleted doc is gone, replaced doc scores under its NEW text only
    val hits = Postings.search(viaDelta, "replacement", 50)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(hits.contains(3L))
    val gone = Postings.search(viaDelta, "spark join stream window table", 10000)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(!gone.contains(7L))
  }

  test("build and delta give the explode/groupBy forms' postings and docLens (repeated tokens, text[], null body)") {
    import spark.implicits._
    val schema = CollectionSchema("Tf", "id", Seq(
      Property("title", PropType.Arr(PropType.Text), Tokenization.Word),
      Property("body", PropType.Text, Tokenization.Lowercase)))
    val docs = Seq[(Long, Seq[String], String)](
      (1L, Seq("Spark spark", null, "SPARK join"), "the the The join  join spark"),
      (2L, Nil, null),
      (3L, null, "  lead trail  x x x "),
      (4L, Seq("\u0130stanbul \u212Aelvin kelvin", "\u039F\u03A3 \u03BF\u03C2"), "\u039F\u03A3 \u03BF\u03C2 x x"),
      (5L, Seq("a-b a_b a"), ""))
    val c0 = Collection(schema, docs.toDF("id", "title", "body").coalesce(1))

    /** (term, __id, __p, tf, __dl) and docLens rows as the explode/groupBy
     * and array_distinct forms computed them. */
    def reference(c: Collection): (Set[Row], Set[Row]) = {
      val toks = c.df.select(col("id").as("__id"),
        Tokenize.propTokens(Tokenization.Word, false, true)(col("title")).as("t0"),
        Tokenize.propTokens(Tokenization.Lowercase, false, false)(col("body")).as("t1"))
      def len(t: String): Column = size(array_distinct(col(t))).cast("double")
      val post = Seq("t0", "t1").zipWithIndex.map { case (t, i) =>
        toks.select(col("__id"), lit(i).as("__p"), len(t).as("__dl"), explode(col(t)).as("term"))
      }.reduce(_ unionByName _)
        .groupBy(col("term"), col("__id"), col("__p"))
        .agg(count(lit(1)).cast("double").as("tf"), max(col("__dl")).as("__dl"))
      val lens = toks.select(col("__id"), len("t0").as("__dl_0"), len("t1").as("__dl_1"))
      (post.collect().toSet, lens.collect().toSet)
    }
    def rowsOf(idx: PostingsIndex): (Set[Row], Set[Row]) =
      (idx.postings.select("term", "__id", "__p", "tf", "__dl").collect().toSet,
        idx.docLens.select("__id", "__dl_0", "__dl_1").collect().toSet)

    val dir = Gate.tempDir("postings-tf")
    val persisted = Postings.build(c0, Seq("title", "body"), 2, Some(dir))
    val want0 = reference(c0)
    assert(want0._1.exists(_.getDouble(3) > 1.0), "vacuous: no repeated token")
    assert(rowsOf(persisted) == want0)
    assert(rowsOf(Postings.build(c0, Seq("title", "body"), 2)) == want0)
    // a one-partition input keeps the old layout: one term-sorted file per bucket
    for (b <- new java.io.File(s"$dir/postings").listFiles().filter(_.getName.startsWith("__bucket="))) {
      val files = b.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, b)
      val terms = spark.read.parquet(files.head.getPath).select("term").collect().map(_.getString(0)).toSeq
      assert(terms == terms.sorted, b)
    }

    // delta: replace doc 1, delete doc 3, add doc 6
    val changed = Seq[(Long, Seq[String], String)](
      (1L, Seq("join join", "window"), "Spark SPARK spark"), (6L, Seq("x", null), null))
      .toDF("id", "title", "body")
    val c1 = Collection(schema, c0.df.filter(!col("id").isin(1L, 3L)).unionByName(changed))
    val viaDelta = Postings.delta(persisted, c1, changed, Some(Seq(3L).toDF("id")))
    assert(rowsOf(viaDelta) == reference(c1))
  }

  test("registered prebuilt index goes stale with the store version and the engine re-serves") {
    // spec-registered postings REBUILD on a new store version (storeId gate)
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("Document")
    val idx = g.postingsFor(c).get
    assert(idx.storeVersion == c.version)
    assert(g.postingsFor(c).get eq idx, "same store version must reuse the built index")
  }

  test("store re-open serves the same version; distinct roots and recreated roots never alias") {
    import graft.sources.CollectionStore
    import graft.model.{CollectionSchema, Property, PropType, Tokenization}
    import spark.implicits._
    val schema = CollectionSchema("SameName", "id",
      Seq(Property("t", PropType.Text, Tokenization.Word)))
    val dirA = java.nio.file.Files.createTempDirectory("graft-ver-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ver-b").toString
    val stA = new CollectionStore(spark, dirA, schema)
    stA.init(Seq((1L, "alpha body")).toDF("id", "t"))
    // re-reading the same store version does NOT invalidate: a second
    // CollectionStore on the SAME root reports the identical version, so
    // cached stats/postings/muvera artifacts keyed on it keep serving
    val v1 = stA.collection.version
    assert(new CollectionStore(spark, dirA, schema).collection.version == v1)
    assert(stA.collection.version == v1)
    // a DIFFERENT store with the same collection name (own root) is its own
    // lineage: same disk version number (0), distinct Collection.version
    val stB = new CollectionStore(spark, dirB, schema)
    stB.init(Seq((1L, "beta body")).toDF("id", "t"))
    assert(stB.collection.version != v1,
      "two stores sharing a collection name alias each other's cache keys")
    // a root deleted and recreated is a NEW lineage even at disk version 0
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(java.nio.file.Paths.get(dirA))
    val stA2 = new CollectionStore(spark, dirA, schema)
    stA2.init(Seq((1L, "gamma body")).toDF("id", "t"))
    assert(stA2.collection.version != v1,
      "recreated root reuses the old lineage's versions")
    // and a version bump still invalidates within one lineage
    stA2.upsert(Seq((2L, "delta body")).toDF("id", "t"))
    assert(stA2.collection.version != stB.collection.version)
  }

  test("pruned bound survives k1=0 with a zero-boost prop (no NaN poisoning)", SlowTests) {
    // DocVec postings cover (text, lang, source); boost lang to 0 and set
    // k1 = 0: a bucket where a query term appears only in `lang` has a zero
    // frequency upper bound, and 0/0 would poison that bucket's summed bound
    // so it could never reach theta — pruning away docs whose score comes
    // entirely from the other terms
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("DocVec")
    val idx = Postings.build(c, Seq("text", "lang"), buckets = 16)
    val boosts = Map("text" -> 1.0, "lang" -> 0.0)
    // k1 = 0 makes every matching doc's score tf-independent (pure summed
    // idf), so docs matching the same term subset tie EXACTLY and the lazy
    // vs pruned plans may order 1-ULP-apart ties differently — compare up to
    // tied-rank permutation: same size, same score multiset, same score per
    // doc on the intersection. Pre-fix, the NaN-poisoned bounds pruned every
    // bucket (the "de"/"en" terms never appear in `text`, so every bucket's
    // freqUpper for them is 0) and the result collapsed to empty.
    for (q <- Seq("spark en", "join de stream")) {
      val full = Postings.search(idx, q, 15, k1 = 0.0, boosts = boosts)
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val pruned = Postings.searchPruned(idx, q, 15, k1 = 0.0, boosts = boosts)
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(pruned.size == full.size, s"pruned lost docs for '$q' at k1=0")
      assert(pruned.values.toSeq.sorted == full.values.toSeq.sorted,
        s"pruned score multiset differs for '$q' at k1=0")
      full.keySet.intersect(pruned.keySet).foreach { id =>
        assert(full(id) == pruned(id), s"doc $id scores differ for '$q' at k1=0")
      }
    }
  }

  test("subset props + allowlist + minMatch through the pruned arm (all three at once)") {
    // the engine facade with cutoff 0 forces block-max pruning; the query
    // scores a SUBSET (text) of DocVec's (text, lang, source) index under a
    // where-filter allowlist and Or(minMatch=2) — no prior case drove all
    // three together
    val g0 = Fixtures.graft(spark, sf)
    val eng = new graft.engine.Graft(spark).withPostingsPruneCutoff(0)
    eng.register(g0.collection("DocVec"))
    eng.registerPostings("DocVec", Seq("text", "lang", "source"), buckets = 16)
    val where = Where.gtInt("doc_id", 5L)
    val params = GetParams("DocVec",
      where = Some(where),
      bm25 = Some(Bm25("spark join stream window", properties = Seq("text"),
        searchOperator = SearchOperator.Or(2))),
      pagination = Some(Pagination(limit = 12)),
      properties = Seq("doc_id"), additional = Set("score"))
    val served = eng.get(params)
    assert(!served.queryExecution.executedPlan.toString.contains("__tok_"),
      "combined query should be index-served")
    val c = g0.collection("DocVec")
    val filtered = c.df.filter(col("doc_id") > 5L)
    val scan = Bm25Search.search(c,
      Bm25("spark join stream window", Seq("text"), SearchOperator.Or(2)),
      12, Some(filtered))
      .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(engineHits(served) == scan)
  }

  test("explainScore (scan path) matches the postings-served _score; per-term columns sum to it") {
    // multi-prop boosted query: the engine serves `score` from the postings
    // index but explainScore from the scan path (Graft.bm25Serve) — the two
    // must agree because they share one scoring model
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("DocVec")
    val params = Bm25("spark join stream", Seq("text^1.5", "lang"))
    val explained = Bm25Search.score(c, params, explain = true)
    // word-group terms get one column each; the Field-tokenized `lang` group
    // contributes the whole query string as a single term
    val expCols = explained.columns.filter(_.startsWith("_exp_"))
    assert(expCols.toSet ==
      Set("_exp_spark", "_exp_join", "_exp_stream", "_exp_spark join stream"),
      s"unexpected explain columns: ${expCols.mkString(",")}")
    val offSum = explained
      .withColumn("__sum", expCols.map(col).reduce(_ + _))
      .filter(abs(col("__sum") - col(Bm25Search.ScoreCol)) > 1e-9).count()
    assert(offSum == 0, "per-term explain columns do not sum to _score")
    val scanTop = explained
      .orderBy(col(Bm25Search.ScoreCol).desc, col("doc_id").asc).limit(15)
      .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = g.get(GetParams("DocVec",
      bm25 = Some(params),
      pagination = Some(Pagination(limit = 15)),
      properties = Seq("doc_id"), additional = Set("score")))
    assert(!served.queryExecution.executedPlan.toString.contains("__tok_"),
      "score query should be postings-served")
    assert(engineHits(served) == scanTop,
      "postings-served scores diverge from the scan/explain path")
  }

  test("duplicate property specs fold to one prop with the last boost (reference dup handling)") {
    // bm25_searcher.go:297-313 — the boosts map overwrites per occurrence,
    // seenProps processes the prop once; ["text^2","text"] ≡ ["text"]
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("Document")
    def hits(props: Seq[String]): Seq[(Long, Double)] =
      Bm25Search.search(c, Bm25("spark join stream", props), 10)
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 9))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(Seq("text^2", "text")) == hits(Seq("text")))
    assert(hits(Seq("text", "text^2")) == hits(Seq("text^2")))
    assert(hits(Seq("text^2")) != hits(Seq("text")),
      "sanity: the boost must actually change single-prop scores")
  }

  test("bm25 on a property without a searchable index errors (WEAVIATE-471)") {
    val g = Fixtures.graft(spark, sf)
    val c = g.collection("Document")
    val e = intercept[IllegalArgumentException] {
      Bm25Search.search(c, Bm25("spark", Seq("n_chars")), 5).collect()
    }
    assert(e.getMessage.contains("requires inverted index"))
  }
}
