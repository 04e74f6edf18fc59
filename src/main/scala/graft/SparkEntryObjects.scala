package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.engine.{Graft, WireDecoder}
import graft.model._
import graft.sources.AutoSchema

/**
 * q_fixture_objects* gates: the objects/ REST acceptance journeys
 * (test/acceptance/objects/auto_schema_test.go, setup_test.go's
 * autoSchemaObjects, rapid_updates_add_reference_test.go) replayed as
 * composed walks — every create goes through the REST object decode
 * (WireDecoder.decodeRestObject + restObjectValues) and the auto-schema
 * inference (AutoSchema.mergeRestObject), references through the store's
 * write path, and the assertions are the suites' own (schema dumps after
 * evolution, beacon sets after rapid reference churn).
 */
object SparkEntryObjects {

  import Gate.steps

  /** A tiny auto-schema world: classes evolve per create like the
   * reference's AutoSchemaManager; objects accumulate per class. */
  private final class AutoSchemaWorld {
    var schemas = Map.empty[String, CollectionSchema]
    var objects = Map.empty[String, Vector[(String, Map[String, Any])]] // class → (id, props)
    private var counter = 0

    private def classOfId(id: String): Option[String] =
      objects.collectFirst { case (cls, objs) if objs.exists(_._1 == id) => cls }

    /** ObjectsCreate: auto-schema merge, then value typing + store. */
    def create(json: String): String = {
      val o = WireDecoder.decodeRestObject(json)
      val merged = AutoSchema.mergeRestObject(
        schemas.get(o.collection), o.collection, "uuid", o.properties, classOfId)
      schemas += o.collection -> merged
      val id = o.id.getOrElse { counter += 1; f"0df00000-0000-4000-8000-$counter%012d" }
      val values = WireDecoder.restObjectValues(merged, o)
      objects += o.collection ->
        (objects.getOrElse(o.collection, Vector.empty) :+ (id, values))
      id
    }

    def deleteClass(cls: String): Unit = {
      schemas -= cls; objects -= cls
    }

    /** SchemaDump shape: the class's properties as name:type, name-sorted.
     * Ref props render their target class list like the REST schema. */
    def dumpClass(cls: String): String =
      schemas.get(cls).map(_.properties.sortBy(_.name).map { p =>
        val t = p.dataType match {
          case PropType.Ref =>
            (p.refTarget.toSeq ++ p.refTargets).distinct.mkString("&")
          case other => other.name
        }
        s"${p.name}:$t"
      }.mkString(",")).getOrElse("∅")
  }

  private def grpcObjectsGate(s: SparkSession): DataFrame = {
    val out = Seq.newBuilder[(String, String)]

    // -- TestAutoSchemaWithDifferentProperties: both casings land lowercased
    Seq("Upper" -> Seq("NonExistingProperty", "OtherNonExistingProperty"),
        "lower" -> Seq("nonExistingProperty", "otherNonExistingProperty"))
      .foreach { case (key, names) =>
        val w = new AutoSchemaWorld
        names.foreach { n =>
          w.create(s"""{"class": "RandomName234234", "properties": {"$n": "test"}}""")
        }
        out += s"o1_${key}" -> w.dumpClass("RandomName234234")
        w.deleteClass("RandomName234234")
      }

    // -- autoSchemaObjects (setup_test.go): the full typed payload creates
    //    an unseen class; unseen props extend an existing one; beacon
    //    arrays become cross-refs targeting the pointed objects' classes
    val w = new AutoSchemaWorld
    w.create("""{
      "class": "NonExistingClass", "id": "8e2997f2-1972-4ee2-ad35-5fc704f2893e",
      "properties": {
        "testString": "test", "testNumber": 1,
        "testDate": "2002-10-02T15:00:00Z", "testBoolean": true,
        "testGeoCoordinates": {"latitude": 1.01, "longitude": 1.01},
        "testPhoneNumber": {"input": "020 1234567", "defaultCountry": "nl"},
        "textArray": ["a", "b", "c"], "intArray": [1, 2, 3],
        "numberArray": [11.0, 22.0, 33.0]}}""")
    out += "o2_new_class" -> w.dumpClass("NonExistingClass")

    w.create("""{"class": "TestObject", "properties": {"nonExistingProperty": "test"}}""")
    out += "o3_new_prop" -> w.dumpClass("TestObject")
    w.create("""{
      "class": "TestObject", "id": "8e2997f2-1972-4ee2-ad35-5fc704f2893f",
      "properties": {
        "nonExistingDateProperty": "2002-10-02T15:00:00Z",
        "nonExistingNumberProperty": 1}}""")
    out += "o4_typed_props" -> w.dumpClass("TestObject")

    w.create("""{"class": "TestObject", "properties": {
      "hasNonExistingClass": [
        {"beacon": "weaviate://localhost/8e2997f2-1972-4ee2-ad35-5fc704f2893e"}]}}""")
    w.create("""{"class": "TestObject", "properties": {
      "hasNonExistingClassAndTestObject": [
        {"beacon": "weaviate://localhost/8e2997f2-1972-4ee2-ad35-5fc704f2893e"},
        {"beacon": "weaviate://localhost/8e2997f2-1972-4ee2-ad35-5fc704f2893f"}]}}""")
    out += "o5_cross_refs" -> w.dumpClass("TestObject")

    // -- Test_RapidlyAddingReferences: 10 sequential single-reference POSTs
    //    against one source object, each a full store write — the write-
    //    serialization contract is that NO edge is lost
    val sourceId = "96ce03ca-58ed-48e1-a0f1-51f63fa9aa12"
    val targetIds = Seq(
      "ce1a4756-b7ce-44fa-b079-45a7ec400882", "e1edb4ff-570c-4f0b-a1a1-18af118369aa",
      "25d22c70-3df0-4e5c-b8c1-a88d4d2771ef", "6f2a0708-3e8e-4a68-9763-26c465d8bf83",
      "c4dfae47-ebcf-4808-9122-1c67898ec140", "754bd925-1900-4f93-9f5d-27631eb618bb",
      "babba820-e3f5-4e8d-a354-76f2cb13fdba", "270942da-1999-40cd-a580-a91aa144b6c0",
      "a7a06618-6d50-4654-be75-2c9f639a6368", "47ba1d2b-6b8c-4b3b-92a8-46574a069ae8")
    val srcSchema = CollectionSchema("SequenceReferenceTestSource", "uuid", Seq(
      Property("toTarget", PropType.Ref, refTarget = Some("SequenceReferenceTestTarget")),
      Property("name", PropType.Text, Tokenization.Whitespace)))
    val tgtSchema = CollectionSchema("SequenceReferenceTestTarget", "uuid", Seq(
      Property("name", PropType.Text, Tokenization.Whitespace)))
    val srcStore = new graft.sources.CollectionStore(s,
      Gate.tempDir("seq-src"), srcSchema)
    srcStore.init(s.createDataFrame(java.util.Arrays.asList(
      Row(sourceId, null, "Source Object")),
      StructType(Seq(StructField("uuid", StringType),
        StructField("toTarget", ArrayType(StringType)),
        StructField("name", StringType)))))
    val tgtStore = new graft.sources.CollectionStore(s,
      Gate.tempDir("seq-tgt"), tgtSchema)
    tgtStore.init(s.createDataFrame(
      java.util.Arrays.asList(targetIds.zipWithIndex.map { case (id, i) =>
        Row(id, s"target object $i") }: _*),
      StructType(Seq(StructField("uuid", StringType), StructField("name", StringType)))))
    import s.implicits._
    targetIds.foreach { tid =>
      // ObjectsReferencesCreate: one beacon per call, applied immediately
      srcStore.addReferences("toTarget", Seq((sourceId, tid)).toDF("uuid", "target"))
    }
    val found = srcStore.read().filter(col("uuid") === sourceId)
      .select(col("toTarget")).collect().head.getSeq[String](0)
    out += "r1_refs_set" -> (s"n=${found.size};" +
      s"all=${found.toSet == targetIds.toSet}")
    steps(s, out.result())
  }

  /** TestRefsWithoutToClass + TestRefsMultiTarget (crefs_test.go:104-296):
   * to-class detection when a SHORT beacon lands on a single-target ref
   * prop, PUT/DELETE reference semantics, and verbatim rendering on
   * multi-target props. */
  private def crefsGate(s: SparkSession): DataFrame = {
    import s.implicits._
    val out = Seq.newBuilder[(String, String)]
    def render(prop: Property, edges: Seq[String]): String =
      graft.engine.WireEncoder.refBeacons(prop, edges)
        .map { case (b, h) => s"$b|$h" }.mkString(",")

    val refToId = "0c1f0000-0000-4000-8000-000000000001"
    val refFromId = "0c1f0000-0000-4000-8000-000000000002"
    def store(name: String, refProp: Property): graft.sources.CollectionStore = {
      val sc = CollectionSchema(name, "uuid", Seq(refProp))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir(s"cref-$name"), sc)
      st.init(s.createDataFrame(java.util.Collections.emptyList[Row](), StructType(Seq(
        StructField("uuid", StringType),
        StructField("ref", ArrayType(StringType))))))
      st
    }
    def edgesOf(st: graft.sources.CollectionStore, id: String): Seq[String] =
      st.read().filter(col("uuid") === id).select(col("ref")).collect()
        .headOption.map(r => if (r.isNullAt(0)) Nil else r.getSeq[String](0).sorted)
        .getOrElse(Nil)

    // -- single-target prop: short beacons qualify with the declared class
    val singleProp = Property("ref", PropType.Ref, refTarget = Some("ReferenceTo"))
    val fromSt = store("ReferenceFrom", singleProp)
    fromSt.upsert(Seq((refFromId, null: Seq[String])).toDF("uuid", "ref"))
    // POST a short (class-less) beacon — stored as the bare uuid
    fromSt.addReferences("ref", Seq((refFromId, refToId)).toDF("uuid", "target"))
    out += "c1_post_short" -> render(singleProp, edgesOf(fromSt, refFromId))
    // PUT [short, qualified] — the reference reads back BOTH entries as the
    // qualified beacon; this store's cref lists are SET-valued (documented
    // divergence, CollectionStore.replaceReferences), so the two forms of
    // one edge collapse to a single qualified beacon
    fromSt.replaceReferences("ref", Seq(
      (refFromId, refToId), (refFromId, refToId)).toDF("uuid", "target"))
    out += "c2_put_two" -> render(singleProp, edgesOf(fromSt, refFromId))
    // DELETE the short form — every occurrence leaves; the list EMPTIES,
    // it does not null out
    fromSt.deleteReferences("ref", Seq((refFromId, refToId)).toDF("uuid", "target"))
    val after = fromSt.read().filter(col("uuid") === refFromId)
      .select(col("ref")).collect().head
    out += "c3_delete_empties" -> (if (after.isNullAt(0)) "null"
      else s"[${after.getSeq[String](0).mkString(",")}]")

    // -- multi-target prop (DataType [ReferenceTo, ReferenceFrom]): every
    //    posted form reads back VERBATIM (no detection)
    val multiProp = Property("ref", PropType.Ref,
      refTargets = Seq("ReferenceTo", "ReferenceFrom"))
    val multiSt = store("ReferenceFromMulti", multiProp)
    multiSt.upsert(Seq((refFromId, null: Seq[String])).toDF("uuid", "ref"))
    Seq("m1" -> refToId, "m2" -> s"ReferenceTo/$refToId",
        "m3" -> s"ReferenceFrom/$refFromId").foreach { case (key, form) =>
      multiSt.addReferences("ref", Seq((refFromId, form)).toDF("uuid", "target"))
      out += s"c4_${key}" -> render(multiProp, edgesOf(multiSt, refFromId))
      // PUT [] clears between cases (one (id, null) edge row = clearing PUT)
      multiSt.replaceReferences("ref",
        Seq((refFromId, null: String)).toDF("uuid", "target"))
    }
    steps(s, out.result())
  }

  /** The schema lifecycle journeys (test/acceptance/schema/
   * default_vector_index_test.go, default_quantization_test.go,
   * auto_tenant_activation_test.go, update_shard_status_cold_tenant_test
   * .go): defaults resolution for the vector index type and the
   * DEFAULT_QUANTIZATION matrix, auto tenant activation through the binary
   * Aggregate/Search wire, and the cold-tenant shard-status update. */
  private def schemaDefaultsGate(s: SparkSession): DataFrame = {
    import graft.sources.SchemaWire
    import graft.engine.ProtoWire
    val out = Seq.newBuilder[(String, String)]

    // -- default vector index type (default_vector_index_test.go) ----------
    out += "d1_legacy_absent" -> SchemaWire.resolveVectorIndexType(None)
    out += "d1_legacy_empty" -> SchemaWire.resolveVectorIndexType(Some(""))
    out += "d1_named_absent" -> SchemaWire.resolveVectorIndexType(None)
    out += "d1_env_hfresh" ->
      SchemaWire.resolveVectorIndexType(None, defaultVectorIndex = "hfresh")

    // -- the "none" dropped-index sentinel is never creatable
    //    (alter_schema/drop_vector_index_reject_test.go; texts
    //    usecases/schema/parser.go:250-254 + class.go:1108-1113) ----------
    out += "d5_reject_none_legacy" ->
      (try SchemaWire.resolveVectorIndexType(Some("none"))
       catch { case e: Exception => e.getMessage })
    out += "d5_reject_none_named" ->
      (try { SchemaWire.rejectDroppedSentinel("v1", "none"); "accepted" }
       catch { case e: Exception => e.getMessage })
    out += "d5_reject_unsupported" ->
      (try SchemaWire.resolveVectorIndexType(Some("skiplist"))
       catch { case e: Exception => e.getMessage })

    // -- DEFAULT_QUANTIZATION matrix (default_quantization_test.go) --------
    def q(idx: String, dq: String, skip: Boolean = false,
          explicit: Option[String] = None): String = {
      val (it, sections) = SchemaWire.resolveIndexDefaults(
        Some(idx).filter(_ != "hnsw"), dq,
        explicitQuantizer = explicit, skipDefaultQuantization = skip)
      s"$it{${sections.toSeq.sortBy(_._1).map { case (k, v) => s"$k:${v.render}" }.mkString(";")}}"
    }
    Seq("rq-8", "rq-1").foreach { dq =>
      Seq("hnsw", "flat", "dynamic").foreach { idx =>
        out += s"d2_${dq.replace("-", "")}_$idx" -> q(idx, dq)
      }
    }
    Seq("hnsw", "flat", "dynamic").foreach { idx =>
      out += s"d3_skip_$idx" -> q(idx, "rq-8", skip = true)
      out += s"d4_override_$idx" -> q(idx, "rq-8", explicit = Some("bq"))
    }

    // -- auto tenant activation (auto_tenant_activation_test.go): reads on
    //    a deactivated tenant succeed and flip it ACTIVE ------------------
    {
      val schema = CollectionSchema("Paragraph", "uuid", Seq(
        Property("contents", PropType.Text),
        Property("title", PropType.Text, Tokenization.Whitespace)),
        tenantColumn = Some("tenant"))
      val gg = new Graft(s)
      gg.register(schema, s.createDataFrame(java.util.Arrays.asList(Seq(
        Row("0d3a0000-0000-4000-8000-000000000001", "paragraph#0", null, "tenant")): _*),
        StructType(Seq(StructField("uuid", StringType),
          StructField("contents", StringType), StructField("title", StringType),
          StructField("tenant", StringType)))))
      gg.addTenants("Paragraph", Seq(Tenant("tenant")))
      gg.withAutoTenant("Paragraph", creation = true, activation = true)
      def status: String = gg.tenants("Paragraph").head.activityStatus.name
      gg.updateTenant("Paragraph", "tenant", TenantStatus.Inactive)
      val aggDoc = JObject(List("collection" -> JString("Paragraph"),
        "objects_count" -> JBool(true), "tenant" -> JString("tenant")))
      val aggDf = gg.aggregate(ProtoWire.aggregateRequest(gg,
        ProtoWire.write(aggDoc, "AggregateRequest")))
      val cnt = aggDf.collect().head.get(aggDf.columns.indexOf("meta_count"))
      out += "t1_agg_cold" -> s"count=$cnt;after=$status"
      gg.updateTenant("Paragraph", "tenant", TenantStatus.Inactive)
      val searchDoc = JObject(List("collection" -> JString("Paragraph"),
        "tenant" -> JString("tenant"), "uses_127_api" -> JBool(true)))
      val n = gg.get(ProtoWire.searchRequest(gg,
        ProtoWire.write(searchDoc, "SearchRequest"))).count()
      out += "t2_search_cold" -> s"n=$n;after=$status"
    }

    // -- cold-tenant shard status update (update_shard_status_cold_tenant
    //    _test.go): setting READONLY on a COLD tenant's class returns
    //    without error and the write gate holds -----------------------------
    {
      val schema = CollectionSchema("DeadlockProbe", "uuid", Nil,
        tenantColumn = Some("tenant"))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("coldshard"), schema)
      // a multi-tenant store partitions by the tenant column; an empty init
      // would write no partition files, so seed the tenant's one row
      st.init(s.createDataFrame(java.util.Arrays.asList(
        Row("0d4a0000-0000-4000-8000-000000000001", "t1")), StructType(Seq(
        StructField("uuid", StringType), StructField("tenant", StringType)))))
      val gg = new Graft(s)
      gg.register(schema, st.read())
      gg.addTenants("DeadlockProbe", Seq(Tenant("t1", TenantStatus.Active)))
      gg.updateTenant("DeadlockProbe", "t1", TenantStatus.Inactive)
      val res = try { st.setReadOnly(Some("requested")); "ok" }
                catch { case e: Exception => e.getMessage }
      out += "t3_cold_readonly" -> s"update=$res;status=${st.status}"
    }
    steps(s, out.result())
  }

  private[graft] def gates: Seq[Gate] = Seq(
    // TestAutoSchemaWithDifferentProperties + autoSchemaObjects +
    // Test_RapidlyAddingReferences: lowercased property normalization, the
    // reference's inference defaults (json numbers → number, RFC3339 →
    // date, geo/phone maps, beacon arrays → refs targeting the pointed
    // objects' classes — two classes for the mixed-beacon prop), and the
    // no-edge-lost contract over 10 sequential reference POSTs
    Gate("q_fixture_objects",
      """SELECT * FROM (VALUES
        |  ('o1_Upper', 'nonExistingProperty:text,otherNonExistingProperty:text'),
        |  ('o1_lower', 'nonExistingProperty:text,otherNonExistingProperty:text'),
        |  ('o2_new_class', 'intArray:number[],numberArray:number[],testBoolean:boolean,testDate:date,testGeoCoordinates:geoCoordinates,testNumber:number,testPhoneNumber:phoneNumber,testString:text,textArray:text[]'),
        |  ('o3_new_prop', 'nonExistingProperty:text'),
        |  ('o4_typed_props', 'nonExistingDateProperty:date,nonExistingNumberProperty:number,nonExistingProperty:text'),
        |  ('o5_cross_refs', 'hasNonExistingClass:NonExistingClass,hasNonExistingClassAndTestObject:NonExistingClass&TestObject,nonExistingDateProperty:date,nonExistingNumberProperty:number,nonExistingProperty:text'),
        |  ('r1_refs_set', 'n=10;all=true')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcObjectsGate(s)),
    // TestRefsWithoutToClass + TestRefsMultiTarget: short beacons qualify
    // with the single-target prop's class on read-back; multi-target props
    // render verbatim; DELETE empties (never nulls) the list. c2 records
    // ONE qualified beacon where the reference shows the same beacon twice
    // — this store's cref lists are set-valued (documented divergence,
    // CollectionStore.replaceReferences)
    Gate("q_fixture_objects_crefs",
      """SELECT * FROM (VALUES
        |  ('c1_post_short', 'weaviate://localhost/ReferenceTo/0c1f0000-0000-4000-8000-000000000001|/v1/objects/ReferenceTo/0c1f0000-0000-4000-8000-000000000001'),
        |  ('c2_put_two', 'weaviate://localhost/ReferenceTo/0c1f0000-0000-4000-8000-000000000001|/v1/objects/ReferenceTo/0c1f0000-0000-4000-8000-000000000001'),
        |  ('c3_delete_empties', '[]'),
        |  ('c4_m1', 'weaviate://localhost/0c1f0000-0000-4000-8000-000000000001|/v1/objects/0c1f0000-0000-4000-8000-000000000001'),
        |  ('c4_m2', 'weaviate://localhost/ReferenceTo/0c1f0000-0000-4000-8000-000000000001|/v1/objects/ReferenceTo/0c1f0000-0000-4000-8000-000000000001'),
        |  ('c4_m3', 'weaviate://localhost/ReferenceFrom/0c1f0000-0000-4000-8000-000000000002|/v1/objects/ReferenceFrom/0c1f0000-0000-4000-8000-000000000002')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => crefsGate(s)),
    // default_vector_index/default_quantization/auto_tenant_activation/
    // update_shard_status_cold_tenant: hnsw default (env override flows
    // through), the RQ-8/RQ-1 matrix with per-index rescore defaults (hnsw
    // 20/512, flat -1) incl. the dynamic index's dual sections, skip and
    // explicit-quantizer overrides (track=false), reads on a deactivated
    // tenant succeeding and flipping ACTIVE, and READONLY on a cold tenant
    Gate("q_fixture_schema_defaults",
      """SELECT * FROM (VALUES
        |  ('d1_env_hfresh', 'hfresh'),
        |  ('d1_legacy_absent', 'hnsw'),
        |  ('d1_legacy_empty', 'hnsw'),
        |  ('d1_named_absent', 'hnsw'),
        |  ('d2_rq1_dynamic', 'dynamic{flat:rq;bits=1;rescoreLimit=-1;skip=false;track=true;hnsw:rq;bits=1;rescoreLimit=512;skip=false;track=true}'),
        |  ('d2_rq1_flat', 'flat{flat:rq;bits=1;rescoreLimit=-1;skip=false;track=true}'),
        |  ('d2_rq1_hnsw', 'hnsw{hnsw:rq;bits=1;rescoreLimit=512;skip=false;track=true}'),
        |  ('d2_rq8_dynamic', 'dynamic{flat:rq;bits=8;rescoreLimit=-1;skip=false;track=true;hnsw:rq;bits=8;rescoreLimit=20;skip=false;track=true}'),
        |  ('d2_rq8_flat', 'flat{flat:rq;bits=8;rescoreLimit=-1;skip=false;track=true}'),
        |  ('d2_rq8_hnsw', 'hnsw{hnsw:rq;bits=8;rescoreLimit=20;skip=false;track=true}'),
        |  ('d5_reject_none_legacy', 'parse vector index config: "none" is not a valid vector index type; it is an internal sentinel for dropped indexes'),
        |  ('d5_reject_none_named', 'vector "v1": cannot create a new class with vectorIndexType "none"; this is an internal sentinel for dropped indexes'),
        |  ('d5_reject_unsupported', 'parse vector index config: unsupported vector index type: "skiplist"'),
        |  ('d3_skip_dynamic', 'dynamic{flat:none;skip=true;track=false;hnsw:none;skip=true;track=false}'),
        |  ('d3_skip_flat', 'flat{flat:none;skip=true;track=false}'),
        |  ('d3_skip_hnsw', 'hnsw{hnsw:none;skip=true;track=false}'),
        |  ('d4_override_dynamic', 'dynamic{flat:bq;bits=0;rescoreLimit=0;skip=false;track=false;hnsw:bq;bits=0;rescoreLimit=0;skip=false;track=false}'),
        |  ('d4_override_flat', 'flat{flat:bq;bits=0;rescoreLimit=0;skip=false;track=false}'),
        |  ('d4_override_hnsw', 'hnsw{hnsw:bq;bits=0;rescoreLimit=0;skip=false;track=false}'),
        |  ('t1_agg_cold', 'count=1;after=ACTIVE'),
        |  ('t2_search_cold', 'n=1;after=ACTIVE'),
        |  ('t3_cold_readonly', 'update=ok;status=READONLY')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => schemaDefaultsGate(s))
  )

}
