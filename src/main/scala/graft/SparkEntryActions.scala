package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{WireDecoder, WireEncoder}
import graft.model._
import graft.sources.CollectionStore

/**
 * q_fixture_actions* gates: the actions/ REST acceptance journeys
 * (test/acceptance/actions/{setup,add,delete,update,individual_refs,
 * object}_test.go — 1,572 lines) replayed as composed single-object CRUD
 * walks. Every create/replace/merge goes through the REST object decode
 * (WireDecoder.decodeRestObject + restObjectValues) and a real
 * CollectionStore write; reads render the reference's GET payload shape
 * (props with Go json.Number formatting, cref props as beacon+href pairs
 * with single-target class detection); the reference-endpoint error matrix
 * (unknown property → 422, unknown id → 404, nil body → 422) follows the
 * handlers' check order (usecases/objects/references_{add,update,delete}.go:
 * property validation before the source-object fetch).
 *
 * Echo note (same family as the gRPC aggregate group-key divergence, SURVEY
 * §2.6): the reference stores the MARSHALLED object document and GET returns
 * it verbatim, so a date submitted as "2017-10-06T08:15:30+01:00" echoes
 * with its offset. This store types dates as Spark TimestampType (an
 * instant — offsets don't survive), so the world carries the submitted
 * RFC3339 string per (class, id, prop) beside the typed column — the moral
 * equivalent of the reference's stored-document echo — and falls back to
 * the UTC instant render when a date arrived through a non-string path.
 */
object SparkEntryActions {

  import Gate.steps

  /** Go-style float rendering (encoding/json on a float64): integral values
   * drop the decimal part — json.Number("2"), not "2.0". */
  private def goNum(x: Double): String =
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else BigDecimal(x).bigDecimal.stripTrailingZeros.toPlainString

  /** A REST objects world over real CollectionStores: one store per class,
   * fixed (or auto-created empty) schemas, deterministic uuid assignment so
   * the journey's rendered payloads are oracle-stable. */
  private final class RestWorld(s: SparkSession) {
    import scala.collection.mutable
    private val classes =
      mutable.LinkedHashMap.empty[String, (CollectionSchema, CollectionStore)]
    // stored-document echo for date props: (class, id, prop) → raw RFC3339
    private val rawDates = mutable.Map.empty[(String, String, String), String]
    private var counter = 0
    private def nextId(): String = { counter += 1; f"0ac70000-0000-4000-8000-$counter%012d" }

    private def sparkType(p: Property): DataType = p.dataType match {
      case PropType.Text   => StringType
      case PropType.Int    => LongType
      case PropType.Number => DoubleType
      case PropType.Bool   => BooleanType
      case PropType.Date   => TimestampType
      case PropType.Ref    => ArrayType(StringType)
      case other => throw new IllegalArgumentException(s"actions world: $other unsupported")
    }
    private def structOf(schema: CollectionSchema, props: Seq[Property]): StructType =
      StructType(StructField(schema.idColumn, StringType) +:
        props.map(p => StructField(p.name, sparkType(p))))

    def createClass(schema: CollectionSchema): Unit = {
      val st = new CollectionStore(s,
        Gate.tempDir(s"actions-${schema.name}"),
        schema)
      st.init(s.createDataFrame(java.util.Collections.emptyList[Row](),
        structOf(schema, schema.properties)))
      classes(schema.name) = (schema, st)
    }

    private def cls(name: String): (CollectionSchema, CollectionStore) =
      classes.getOrElse(name, {
        // AssertCreateObject on an unseen class auto-creates it (the suite
        // leans on auto-schema for its empty friend classes)
        createClass(CollectionSchema(name, "uuid", Nil)); classes(name)
      })

    def exists(name: String, id: String): Boolean =
      classes.get(name).exists { case (schema, st) =>
        !st.read().filter(col(schema.idColumn) === id).isEmpty
      }
    private def classOf(id: String): Option[String] =
      classes.keys.find(exists(_, id))

    private def journalDates(schema: CollectionSchema, id: String,
                             o: WireDecoder.RestObject, replace: Boolean): Unit =
      schema.properties.filter(_.dataType == PropType.Date).foreach { p =>
        if (replace) rawDates.remove((schema.name, id, p.name))
        o.properties.get(p.name).collect { case org.json4s.JString(x) => x }
          .foreach(x => rawDates((schema.name, id, p.name)) = x)
      }

    /** ObjectsCreate / ObjectsUpdate / ObjectsClassPut: a full-object write —
     * PUT semantics, absent props null out (obj_put in the handlers). */
    def put(json: String): String = {
      val o = WireDecoder.decodeRestObject(json)
      val (schema, st) = cls(o.collection)
      val id = o.id.getOrElse(nextId())
      val values = WireDecoder.restObjectValues(schema, o)
      val row = Row.fromSeq(id +: schema.properties.map(p => values.get(p.name).orNull))
      // LocalRelation: exact size estimate for the adaptive write width
      st.upsert(s.createDataFrame(java.util.Arrays.asList(row),
        structOf(schema, schema.properties)))
      journalDates(schema, id, o, replace = true)
      id
    }

    /** ObjectsPatch / ObjectsClassPatch: merge-only-present props; a missing
     * id is an ERROR on this endpoint (merge.go requires the object),
     * unlike the store's silent no-op. */
    def patch(clsName: String, id: String, json: String): String = {
      val (schema, st) = classes(clsName)
      if (!exists(clsName, id)) return "404"
      val o = WireDecoder.decodeRestObject(json).copy(collection = clsName)
      val values = WireDecoder.restObjectValues(schema, o)
      val present = schema.properties.filter(p => values.contains(p.name))
      val row = Row.fromSeq(id +: present.map(p => values(p.name)))
      // LocalRelation: exact size estimate for the adaptive write width
      st.merge(s.createDataFrame(java.util.Arrays.asList(row),
        structOf(schema, present)))
      journalDates(schema, id, o, replace = false)
      "200"
    }

    def delete(clsName: String, id: String): String = {
      val (_, st) = classes(clsName)
      if (!exists(clsName, id)) return "404"
      st.deleteWhere(Where.eqText("_id", id))
      rawDates.keys.filter(k => k._1 == clsName && k._2 == id)
        .toSeq.foreach(rawDates.remove)
      "204"
    }

    /** GET render: name-sorted non-null props as `name=value`, refs as
     * `[beacon|href,…]` (sorted — this store's cref lists are set-valued,
     * the documented divergence shared with q_fixture_objects_crefs). */
    def get(clsName: String, id: String): String = classes.get(clsName) match {
      case None => "404"
      case Some((schema, st)) =>
        val rows = st.read().filter(col(schema.idColumn) === id).collect()
        if (rows.isEmpty) "404" else render(schema, id, rows.head)
    }
    /** Deprecated classless GET: scan classes like getObjectFromRepo. */
    def getAny(id: String): String =
      classOf(id).map(get(_, id)).getOrElse("404")
    def head(clsName: String, id: String): String =
      if (exists(clsName, id)) "204" else "404"

    private def render(schema: CollectionSchema, id: String, row: Row): String = {
      val parts = schema.properties.sortBy(_.name).flatMap { p =>
        val i = row.fieldIndex(p.name)
        if (row.isNullAt(i)) None
        else Some(p.name + "=" + (p.dataType match {
          case PropType.Ref =>
            WireEncoder.refBeacons(p, row.getSeq[String](i).sorted)
              .map { case (b, h) => s"$b|$h" }.mkString("[", ",", "]")
          case PropType.Date =>
            rawDates.getOrElse((schema.name, id, p.name),
              row.getTimestamp(i).toInstant.toString)
          case PropType.Number => goNum(row.getDouble(i))
          case _ => row.get(i).toString
        }))
      }
      if (parts.isEmpty) "∅" else parts.mkString(";")
    }

    /** The three reference endpoints (POST appends one beacon, PUT replaces
     * the list, DELETE removes every occurrence) with the handlers' check
     * order: property-is-a-declared-ref first (422), then the source fetch
     * (404); a nil body is a 422 at the swagger layer. Targets arrive as
     * `Class/uuid`; single-target props store the bare uuid (the same
     * normalization restObjectValues applies to beacons). */
    def refMutate(clsName: String, id: String, prop: String,
                  targets: Option[Seq[String]], op: String): String = {
      import s.implicits._
      val (schema, st) = classes(clsName)
      val p = schema.property(prop) match {
        case Some(p0) if p0.dataType == PropType.Ref => p0
        case _ => return "422"
      }
      val ts = targets.getOrElse(return "422")
      if (!exists(clsName, id)) return "404"
      val norm = ts.map { t =>
        if (!p.isMultiRef && t.contains('/')) t.substring(t.lastIndexOf('/') + 1) else t
      }
      val edges =
        if (norm.isEmpty) Seq((id, null: String)) else norm.map(t => (id, t))
      op match {
        case "add" => st.addReferences(prop, edges.toDF("uuid", "target"))
        case "put" => st.replaceReferences(prop, edges.toDF("uuid", "target"))
        case "del" => st.deleteReferences(prop, edges.toDF("uuid", "target"))
      }
      "200"
    }

    /** ObjectsList?class=: n objects + the int-prop tally TestQuery sums. */
    def list(clsName: String, sumProp: Option[String] = None): String =
      classes.get(clsName) match {
        case None => "404"
        case Some((schema, st)) =>
          val df = st.read()
          sumProp match {
            case Some(sp) =>
              // one agg job for count+sum instead of two separate actions
              val r = df.agg(count(lit(1)), coalesce(sum(col(sp)), lit(0L))).head()
              s"n=${r.getLong(0)};sum=${r.getLong(1)}"
            case None => s"n=${df.count()}"
          }
      }
  }

  /** Test_Objects (setup_test.go → add/delete/update/individual_refs): the
   * deprecated classless routes over the suite's three fixed classes. */
  private def actionsGate(s: SparkSession): DataFrame = {
    val out = Seq.newBuilder[(String, String)]
    val w = new RestWorld(s)
    w.createClass(CollectionSchema("ObjectTestThing", "uuid", Seq(
      Property("testString", PropType.Text, Tokenization.Whitespace))))
    w.createClass(CollectionSchema("TestObject", "uuid", Seq(
      Property("testString", PropType.Text, Tokenization.Whitespace),
      Property("testWholeNumber", PropType.Int),
      Property("testNumber", PropType.Number),
      Property("testDateTime", PropType.Date),
      Property("testTrueFalse", PropType.Bool),
      Property("testReference", PropType.Ref, refTarget = Some("ObjectTestThing")))))
    w.createClass(CollectionSchema("TestObjectTwo", "uuid", Seq(
      Property("testReference", PropType.Ref, refTarget = Some("TestObject")),
      Property("testReferences", PropType.Ref, refTarget = Some("TestObject")),
      Property("testString", PropType.Text, Tokenization.Whitespace))))

    val typedPayload = """{"class": "TestObject", "properties": {
      "testString": "Test string", "testWholeNumber": 1, "testTrueFalse": true,
      "testNumber": 1.337, "testDateTime": "2017-10-06T08:15:30+01:00"}}"""
    // add_test.go "can create object": the response echoes the typed payload
    // — the int as json.Number("1"), the date with its +01:00 offset intact
    val a1 = w.put(typedPayload)
    out += "a1_create_echo" -> w.get("TestObject", a1)
    // "can create and get object": the same payload read back through GET
    val a2 = w.put(typedPayload)
    out += "a2_get_roundtrip" -> w.get("TestObject", a2)
    // "can add single ref": a SHORT beacon on the single-target prop reads
    // back qualified with the declared class (add_test.go:128)
    val firstId = w.put("""{"class": "TestObject", "properties": {}}""")
    val a3 = w.put(s"""{"class": "TestObjectTwo", "properties": {
      "testString": "stringy",
      "testReference": [{"beacon": "weaviate://localhost/$firstId"}]}}""")
    out += "a3_single_ref" -> w.get("TestObjectTwo", a3)

    // delete_test.go removingObjects: create → exists → delete → 404
    val d1 = w.put("""{"class": "TestObject", "properties": {}}""")
    val d1Before = w.get("TestObject", d1) != "404"
    w.delete("TestObject", d1)
    out += "d1_delete" -> s"before=$d1Before;after=${w.get("TestObject", d1)}"

    // update_test.go updateObjectsDeprecated: PUT (via the classless route)
    // REPLACES the whole property set — only the updated prop survives
    Seq(("u1_update_number", """{"testNumber": 41.0}"""),
        ("u2_update_string", """{"testString": "wibbly wobbly"}"""),
        ("u3_update_bool", """{"testTrueFalse": true}""")).foreach { case (k, props) =>
      val id = w.put("""{"class": "TestObject", "properties": {}}""")
      w.put(s"""{"class": "TestObject", "id": "$id", "properties": $props}""")
      out += k -> w.get("TestObject", id)
    }
    // "can patch object with cref": classless PATCH merges a short-beacon
    // ref; it reads back qualified with ObjectTestThing
    val thing = w.put("""{"class": "ObjectTestThing", "properties": {}}""")
    val u4 = w.put("""{"class": "TestObject", "properties": {}}""")
    w.patch("TestObject", u4, s"""{"properties": {
      "testReference": [{"beacon": "weaviate://localhost/$thing"}]}}""")
    out += "u4_patch_cref" -> w.get("TestObject", u4)

    // individual_refs_test.go "can add reference individually": empty before,
    // the POSTed beacon lands
    val toPoint = w.put("""{"class": "TestObject", "properties": {}}""")
    val r1 = w.put("""{"class": "TestObjectTwo", "properties": {}}""")
    val r1Pre = w.get("TestObjectTwo", r1)
    w.refMutate("TestObjectTwo", r1, "testReferences", Some(Seq(toPoint)), "add")
    out += "r1_ref_append" -> s"pre=$r1Pre;post=${w.get("TestObjectTwo", r1)}"
    // "can replace all properties": PUT references swaps first → later
    val refFirst = w.put("""{"class": "TestObject", "properties": {}}""")
    val refLater = w.put("""{"class": "TestObject", "properties": {}}""")
    val r2 = w.put(s"""{"class": "TestObjectTwo", "properties": {
      "testReferences": [{"beacon": "weaviate://localhost/$refFirst"}]}}""")
    w.refMutate("TestObjectTwo", r2, "testReferences", Some(Seq(refLater)), "put")
    out += "r2_ref_replace" -> w.get("TestObjectTwo", r2)
    // "remove property individually": DELETE empties the list (stays [])
    val toRemove = w.put("""{"class": "TestObject", "properties": {}}""")
    val r3 = w.put(s"""{"class": "TestObjectTwo", "properties": {
      "testReferences": [{"beacon": "weaviate://localhost/$toRemove"}]}}""")
    w.refMutate("TestObjectTwo", r3, "testReferences", Some(Seq(toRemove)), "del")
    out += "r3_ref_remove" -> w.get("TestObjectTwo", r3)
    steps(s, out.result())
  }

  /** object_test.go: the class-scoped REST CRUD walks with their error
   * contracts. The suite's undeclared-prop creates lean on auto-schema; the
   * props are declared upfront here — the observable contract (the GET
   * payload) is identical. */
  private def crudGate(s: SparkSession): DataFrame = {
    val out = Seq.newBuilder[(String, String)]
    val w = new RestWorld(s)
    val unknownId = "11110000-0000-0000-0000-000011110000"

    // -- TestFindObject: multi-target friend renders both qualified links
    val fid1 = w.put("""{"class": "TestObjectHTTPGetFriendFirst", "properties": {}}""")
    val fid2 = w.put("""{"class": "TestObjectHTTPGetFriendSecond", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPGet", "uuid", Seq(
      Property("name", PropType.Text, Tokenization.Whitespace),
      Property("friend", PropType.Ref,
        refTargets = Seq("TestObjectHTTPGetFriendFirst", "TestObjectHTTPGetFriendSecond")),
      Property("number", PropType.Number))))
    val f1 = w.put(s"""{"class": "TestObjectHTTPGet", "properties": {
      "number": 2,
      "friend": [
        {"beacon": "weaviate://localhost/TestObjectHTTPGetFriendFirst/$fid1"},
        {"beacon": "weaviate://localhost/TestObjectHTTPGetFriendSecond/$fid2"}]}}""")
    out += "f1_find" -> w.get("TestObjectHTTPGet", f1)
    out += "f2_find_unknown" -> w.get("TestObjectHTTPGet", unknownId)

    // -- TestHeadObject
    w.createClass(CollectionSchema("TestObjectHTTPHead", "uuid", Seq(
      Property("name", PropType.Text, Tokenization.Whitespace))))
    val h1 = w.put("""{"class": "TestObjectHTTPHead", "properties": {"name": "John"}}""")
    out += "h1_head" -> w.head("TestObjectHTTPHead", h1)
    out += "h2_head_unknown" -> w.head("TestObjectHTTPHead", unknownId)

    // -- TestPutObject: PUT replaces the WHOLE property set (the created
    //    testWholeNumber/testDateTime are gone). The expected friend list
    //    holds the same link twice and the props path stores the beacon
    //    list VERBATIM (restObjectValues) — both render, like the
    //    reference; only the reference-ENDPOINT ops are set-valued.
    val putFriend = w.put("""{"class": "TestObjectHTTPUpdateFriend", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPUpdate", "uuid", Seq(
      Property("testString", PropType.Text, Tokenization.Whitespace),
      Property("testWholeNumber", PropType.Int),
      Property("testNumber", PropType.Number),
      Property("testDateTime", PropType.Date),
      Property("testTrueFalse", PropType.Bool),
      Property("friend", PropType.Ref, refTarget = Some("TestObjectHTTPUpdateFriend")))))
    val p1 = w.put("""{"class": "TestObjectHTTPUpdate", "properties": {
      "testWholeNumber": 2.0, "testDateTime": "2022-05-18T13:20:05Z",
      "testString": "wibbly"}}""")
    w.put(s"""{"class": "TestObjectHTTPUpdate", "id": "$p1", "properties": {
      "testNumber": 2, "testTrueFalse": true, "testString": "wibbly wobbly",
      "friend": [
        {"beacon": "weaviate://localhost/TestObjectHTTPUpdateFriend/$putFriend"},
        {"beacon": "weaviate://localhost/TestObjectHTTPUpdateFriend/$putFriend"}]}}""")
    out += "p1_put_replace" -> w.get("TestObjectHTTPUpdate", p1)

    // -- TestPatchObject: merge keeps integer1, adds the rest; a PATCH on a
    //    missing id errors (unlike the store's silent no-op)
    val patchFriend = w.put("""{"class": "TestObjectHTTPPatchFriend", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPPatch", "uuid", Seq(
      Property("string1", PropType.Text, Tokenization.Whitespace),
      Property("integer1", PropType.Int),
      Property("number1", PropType.Number),
      Property("friend", PropType.Ref, refTarget = Some("TestObjectHTTPPatchFriend")),
      Property("boolean1", PropType.Bool))))
    val p2 = w.put("""{"class": "TestObjectHTTPPatch", "properties": {
      "integer1": 2.0, "string1": "wibbly"}}""")
    w.patch("TestObjectHTTPPatch", p2, s"""{"properties": {
      "number1": 3.0, "boolean1": true, "string1": "wibbly wobbly",
      "friend": [
        {"beacon": "weaviate://localhost/TestObjectHTTPPatchFriend/$patchFriend"},
        {"beacon": "weaviate://localhost/TestObjectHTTPPatchFriend/$patchFriend"}]}}""")
    out += "p2_patch_merge" -> w.get("TestObjectHTTPPatch", p2)
    out += "p3_patch_unknown" ->
      w.patch("TestObjectHTTPPatch", "e5be1f32-0001-0000-0000-ebb25dfc811f",
        """{"properties": {"number1": 3.0}}""")

    // -- TestDeleteObject: the same uuid lives in two classes; the
    //    class-scoped DELETE removes only classA's object
    val sharedId = "21111111-1111-1111-1111-111111111111"
    Seq("TestObjectHTTPDeleteA" -> "string 1", "TestObjectHTTPDeleteB" -> "string 2")
      .foreach { case (cn, text) =>
        w.createClass(CollectionSchema(cn, "uuid", Seq(Property("text", PropType.Text))))
        w.put(s"""{"class": "$cn", "id": "$sharedId", "properties": {"text": "$text"}}""")
      }
    out += "del1_delete_a" -> w.delete("TestObjectHTTPDeleteA", sharedId)
    out += "del2_gone_a" -> w.get("TestObjectHTTPDeleteA", sharedId)
    out += "del3_b_survives" -> w.get("TestObjectHTTPDeleteB", sharedId)

    // -- TestPostReference: append + the error matrix
    val postFriend = w.put("""{"class": "TestObjectHTTPAddReferenceFriend", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPAddReference", "uuid", Seq(
      Property("number", PropType.Number),
      Property("friend", PropType.Ref, refTarget = Some("TestObjectHTTPAddReferenceFriend")))))
    val pr = w.put("""{"class": "TestObjectHTTPAddReference", "properties": {"number": 2.0}}""")
    w.refMutate("TestObjectHTTPAddReference", pr, "friend",
      Some(Seq(s"TestObjectHTTPAddReferenceFriend/$postFriend")), "add")
    out += "pr1_post_ref" -> w.get("TestObjectHTTPAddReference", pr)
    out += "pr2_unknown_prop" -> w.refMutate("TestObjectHTTPAddReference", pr,
      "unknown", Some(Seq(postFriend)), "add")
    out += "pr3_unknown_id" -> w.refMutate("TestObjectHTTPAddReference",
      "e7cd261a-0000-0000-0000-d7b8e7b5c9ea", "friend", Some(Seq(postFriend)), "add")

    // -- TestPutReferences: replace two → one → none on a multi-target prop
    val puF1 = w.put("""{"class": "TestObjectHTTPUpdateReferencesFriendFirst", "properties": {}}""")
    val puF2 = w.put("""{"class": "TestObjectHTTPUpdateReferencesFriendSecond", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPUpdateReferences", "uuid", Seq(
      Property("number", PropType.Number),
      Property("friend", PropType.Ref, refTargets = Seq(
        "TestObjectHTTPUpdateReferencesFriendFirst",
        "TestObjectHTTPUpdateReferencesFriendSecond")))))
    val pu = w.put("""{"class": "TestObjectHTTPUpdateReferences", "properties": {"number": 2.0}}""")
    w.refMutate("TestObjectHTTPUpdateReferences", pu, "friend", Some(Seq(
      s"TestObjectHTTPUpdateReferencesFriendFirst/$puF1",
      s"TestObjectHTTPUpdateReferencesFriendSecond/$puF2")), "put")
    out += "pu1_put_two" -> w.get("TestObjectHTTPUpdateReferences", pu)
    w.refMutate("TestObjectHTTPUpdateReferences", pu, "friend",
      Some(Seq(s"TestObjectHTTPUpdateReferencesFriendFirst/$puF1")), "put")
    out += "pu2_put_one" -> w.get("TestObjectHTTPUpdateReferences", pu)
    out += "pu3_unknown_prop" -> w.refMutate("TestObjectHTTPUpdateReferences", pu,
      "unknown", Some(Nil), "put")
    out += "pu4_unknown_id" -> w.refMutate("TestObjectHTTPUpdateReferences",
      "e7cd261a-0000-0000-0000-d7b8e7b5c9ea", "friend", Some(Nil), "put")
    w.refMutate("TestObjectHTTPUpdateReferences", pu, "friend", Some(Nil), "put")
    out += "pu5_put_empty" -> w.get("TestObjectHTTPUpdateReferences", pu)
    out += "pu6_nil_body" -> w.refMutate("TestObjectHTTPUpdateReferences", pu,
      "friend", None, "put")

    // -- TestDeleteReference: remove second → idempotent → remove last → []
    val drF1 = w.put("""{"class": "TestObjectHTTPDeleteReferenceFriendFirst", "properties": {}}""")
    val drF2 = w.put("""{"class": "TestObjectHTTPDeleteReferenceFriendSecond", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPDeleteReference", "uuid", Seq(
      Property("number", PropType.Number),
      Property("friend", PropType.Ref, refTargets = Seq(
        "TestObjectHTTPDeleteReferenceFriendFirst",
        "TestObjectHTTPDeleteReferenceFriendSecond")))))
    val dr = w.put(s"""{"class": "TestObjectHTTPDeleteReference", "properties": {
      "number": 2.0,
      "friend": [
        {"beacon": "weaviate://localhost/TestObjectHTTPDeleteReferenceFriendFirst/$drF1"},
        {"beacon": "weaviate://localhost/TestObjectHTTPDeleteReferenceFriendSecond/$drF2"}]}}""")
    w.refMutate("TestObjectHTTPDeleteReference", dr, "friend",
      Some(Seq(s"TestObjectHTTPDeleteReferenceFriendSecond/$drF2")), "del")
    out += "dr1_del_second" -> w.get("TestObjectHTTPDeleteReference", dr)
    w.refMutate("TestObjectHTTPDeleteReference", dr, "friend",
      Some(Seq(s"TestObjectHTTPDeleteReferenceFriendSecond/$drF2")), "del")
    out += "dr2_del_again" -> w.get("TestObjectHTTPDeleteReference", dr)
    w.refMutate("TestObjectHTTPDeleteReference", dr, "friend",
      Some(Seq(s"TestObjectHTTPDeleteReferenceFriendFirst/$drF1")), "del")
    out += "dr3_del_last" -> w.get("TestObjectHTTPDeleteReference", dr)
    out += "dr4_unknown_prop" -> w.refMutate("TestObjectHTTPDeleteReference", dr,
      "unknown", Some(Seq(drF1)), "del")
    out += "dr5_unknown_id" -> w.refMutate("TestObjectHTTPDeleteReference",
      "e7cd261a-0000-0000-0000-d7b8e7b5c9ea", "friend", Some(Seq(drF1)), "del")
    out += "dr6_nil_body" -> w.refMutate("TestObjectHTTPDeleteReference", dr,
      "friend", None, "del")

    // -- TestQuery: list by class, tally the int prop, unknown class → 404
    w.put("""{"class": "TestObjectHTTPQueryFriend", "properties": {}}""")
    w.createClass(CollectionSchema("TestObjectHTTPQuery", "uuid", Seq(
      Property("count", PropType.Int))))
    w.put("""{"class": "TestObjectHTTPQuery", "properties": {"count": 1}}""")
    w.put("""{"class": "TestObjectHTTPQuery", "properties": {"count": 1}}""")
    out += "q1_list" -> w.list("TestObjectHTTPQuery", sumProp = Some("count"))
    out += "q2_list_friend" -> w.list("TestObjectHTTPQueryFriend")
    out += "q3_list_unknown" -> w.list("unknow")
    steps(s, out.result())
  }

  /** The drop_vector_index acceptance journeys (test/acceptance/
   * drop_vector_index/{lifecycle,multivector,cold_tenant}_test.go) over
   * Graft.dropVectorIndex: dropping a named vector space releases its ANN
   * side tables, strips the stored vectors, removes the VectorConfig entry
   * (marker-deferred while a tenant is cold), leaves siblings untouched,
   * and the name is re-creatable fresh at a new dimensionality.
   *
   * Divergence note: the suite asserts nearVector on the dropped space
   * errors (any message — require.NotEmpty); this engine's deterministic
   * text ("collection X has no vector named Y") is recorded, not the
   * reference's shard-level "target vector %q not found". */
  private def dropIndexGate(s: SparkSession): DataFrame = {
    import graft.engine.Graft
    val out = Seq.newBuilder[(String, String)]
    // helpers_test.go randVec: seed + i*0.001 per lane
    def randVec(dim: Int, seed: Float): Array[Float] =
      Array.tabulate(dim)(i => seed + i * 0.001f)
    def vecField(n: String): StructField = StructField(n, ArrayType(FloatType))
    def near(g: Graft, cls: String, target: String, vec: Array[Float],
             limit: Int, tenant: Option[String] = None): String =
      try g.get(GetParams(cls, tenant = tenant,
        nearVector = Some(NearVector(vec, targetVectors = Seq(target))),
        pagination = Some(Pagination(limit = limit)))).count().toString
      catch { case e: Exception => s"error:${e.getMessage}" }
    def vecStats(g: Graft, cls: String, vecCol: String,
                 tenant: Option[String] = None): String = {
      val df0 = g.collection(cls).df
      if (!df0.columns.contains(vecCol)) "absent"
      else {
        val df = tenant.map(t => df0.filter(col("tenant") === t)).getOrElse(df0)
        val r = df.agg(count(lit(1)), count(col(vecCol)),
          max(size(col(vecCol)))).head()
        s"n=${r.getLong(0)};with=${r.getLong(1)};dim=${r.get(2)}"
      }
    }

    // ---- lifecycle_test.go: drop → sibling survives → re-create fresh ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexLifecycle"
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), vecField("v8"), vecField("v1")))
      val rows = (0 until 50).map(i => Row(
        f"00000000-0000-0000-0000-0000000001$i%02d", s"object-$i",
        randVec(512, i.toFloat), randVec(768, i.toFloat)))
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)),
        vectors = Map("vec_rq8" -> "v8", "vec_rq1" -> "v1")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      out += "l1_pre_near" -> (s"rq8=${near(g, cls, "vec_rq8", randVec(512, 7), 3)};" +
        s"rq1=${near(g, cls, "vec_rq1", randVec(768, 7), 3)}")
      out += "l2_pre_vectors" ->
        (s"rq8={${vecStats(g, cls, "v8")}};rq1={${vecStats(g, cls, "v1")}}")
      g.dropVectorIndex(cls, "vec_rq8")
      val sc1 = g.collection(cls).schema
      out += "l3_drop_schema" -> (s"dropped=${sc1.vectors.contains("vec_rq8")};" +
        s"sibling=${sc1.vectors.contains("vec_rq1")}")
      out += "l4_near_dropped" ->
        near(g, cls, "vec_rq8", randVec(512, 7), 1).takeWhile(_ != ',')
      out += "l5_near_sibling" -> near(g, cls, "vec_rq1", randVec(768, 7), 3)
      out += "l6_stripped" ->
        (s"rq8=${vecStats(g, cls, "v8")};rq1={${vecStats(g, cls, "v1")}}")
      // re-create under the same name at 256 dims: old objects must NOT
      // resurrect pre-drop values — the re-created space is fresh
      val c = g.collection(cls)
      val withCol = c.df.withColumn("v8", lit(null).cast(ArrayType(FloatType)))
      val newRows = (0 until 5).map(i => Row(
        f"00000000-0000-0000-0000-0000000002$i%02d", s"new-object-$i",
        randVec(256, i.toFloat), null))
      val extended = withCol.select(col("uuid"), col("name"), col("v8"), col("v1"))
        .unionByName(s.createDataFrame(java.util.Arrays.asList(newRows: _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("name", StringType), vecField("v8"), vecField("v1")))))
      g.register(c.schema.copy(vectors = c.schema.vectors + ("vec_rq8" -> "v8")),
        extended)
      out += "l7_recreated" -> (s"rq8={${vecStats(g, cls, "v8")}};" +
        s"rq1={${vecStats(g, cls, "v1")}}")
      out += "l8_near_recreated" -> near(g, cls, "vec_rq8", randVec(256, 2), 5)
    }

    // ---- multivector_test.go: a ColBERT space's vector LISTS strip too ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexMultiVector"
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType),
        StructField("vcb", ArrayType(ArrayType(FloatType))), vecField("vs")))
      val rows = (0 until 20).map(i => Row(
        f"00000000-0000-0000-0000-0000000015$i%02d", s"object-$i",
        Seq(randVec(16, i.toFloat), randVec(16, (i + 100).toFloat),
          randVec(16, (i + 200).toFloat)), randVec(16, (i + 300).toFloat)))
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)),
        vectors = Map("colbert" -> "vcb", "sibling" -> "vs")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      out += "m1_pre" -> (s"colbert_carried=${g.collection(cls).df
        .filter(col("vcb").isNotNull).count()};sibling={${vecStats(g, cls, "vs")}}")
      g.dropVectorIndex(cls, "colbert")
      val sc2 = g.collection(cls).schema
      out += "m2_dropped" -> (s"entry=${sc2.vectors.contains("colbert")};" +
        s"colbert=${vecStats(g, cls, "vcb")};sibling={${vecStats(g, cls, "vs")}}")
      out += "m3_near_sibling" -> near(g, cls, "sibling", randVec(16, 7), 3)
    }

    // ---- writes_test.go: the write matrix across the marker phases.
    //      Adaptation note: the suite's non-MT marker window is the async
    //      cleanup's minutes-long run; this engine's only deferred state is
    //      the cold-tenant marker, so the matrix runs against a class whose
    //      marker a cold tenant holds — the phase CONTRACT (during: the
    //      dropped-writes text, vector_validation.go:68; after finalize:
    //      the no-configuration text) is identical. ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexWrites"
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), vecField("vv"), vecField("vs"),
        StructField("tenant", StringType)))
      val rows = (0 until 10).map(i => Row(
        f"00000000-0000-0000-0000-0000000003$i%02d", s"object-$i",
        randVec(32, i.toFloat), randVec(64, i.toFloat), "hot")) :+
        Row("00000000-0000-0000-0000-000000000399", "cold-row",
          randVec(32, 99f), randVec(64, 99f), "cold")
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)), tenantColumn = Some("tenant"),
        vectors = Map("vec" -> "vv", "sibling" -> "vs")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      g.addTenants(cls, Seq(Tenant("hot"), Tenant("cold")))
      g.updateTenant(cls, "cold", TenantStatus.Inactive)
      g.dropVectorIndex(cls, "vec")
      def tryWrite(names: Seq[String]): String =
        try { g.validateVectorWrite(cls, names); "ok" }
        catch { case e: Exception => e.getMessage }
      out += "w1_during_carrying" -> tryWrite(Seq("vec"))
      out += "w2_during_sibling" -> tryWrite(Seq("sibling"))
      // batch mixing a carrying and a clean object splits per object
      out += "w3_during_batch_split" ->
        Seq(Seq("vec"), Seq("sibling")).map(ns =>
          tryWrite(ns) match { case "ok" => "ok"; case e => s"err(${e.takeWhile(_ != ';')})" })
          .mkString("|")
      // a property PATCH on an object that carried the vector succeeds and
      // keeps the sibling (the strip already nulled vv for hot rows)
      val patched = g.collection(cls).df
        .withColumn("name", when(col("uuid") === "00000000-0000-0000-0000-000000000300",
          lit("patched")).otherwise(col("name")))
      g.register(g.collection(cls).schema, patched)
      val p0 = g.collection(cls).df
        .filter(col("uuid") === "00000000-0000-0000-0000-000000000300")
        .select(col("name"), col("vs").isNotNull).collect().head
      out += "w4_patch_ok" -> s"name=${p0.getString(0)};sibling=${p0.getBoolean(1)}"
      g.updateTenant(cls, "cold", TenantStatus.Active) // finalize
      out += "w5_after_carrying" -> tryWrite(Seq("vec"))
      out += "w6_after_sibling" -> tryWrite(Seq("sibling"))
      out += "w7_no_survivor_carries" ->
        s"vv_col=${g.collection(cls).df.columns.contains("vv")}"
    }

    // ---- last_vector_test.go: dropping the ONLY named vector flips the
    //      collection genuinely vector-less; objects/properties survive ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexLastVector"
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), vecField("vo")))
      val rows = (0 until 20).map(i => Row(
        f"00000000-0000-0000-0000-0000005$i%05d", s"object-$i",
        randVec(32, i.toFloat)))
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)),
        vectors = Map("onlyvec" -> "vo"), defaultVector = Some("onlyvec")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      out += "v1_pre_near" -> near(g, cls, "onlyvec", randVec(32, 7), 3)
      g.dropVectorIndex(cls, "onlyvec")
      val sc3 = g.collection(cls).schema
      out += "v2_vectorless" -> (s"vectors_empty=${sc3.vectors.isEmpty};" +
        s"default_empty=${sc3.defaultVector.isEmpty}")
      val survived = g.collection(cls).df
        .agg(count(lit(1)), count(col("name"))).head()
      out += "v3_objects_survive" -> (s"n=${survived.getLong(0)};" +
        s"named=${survived.getLong(1)};vo_col=${g.collection(cls).df.columns.contains("vo")}")
      // a new vector-less write works (nothing synthetic started vectorizing)
      g.register(sc3, g.collection(cls).df.unionByName(
        s.createDataFrame(java.util.Arrays.asList(Seq(Row(
          "00000000-0000-0000-0000-000000599999", "post-flip")): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("name", StringType))))))
      out += "v4_postflip_write" -> s"n=${g.collection(cls).df.count()}"
    }

    // ---- redrop_test.go: drop → re-create the name → drop AGAIN — the
    //      second drop strips the NEW values and finalizes (no stale state
    //      from the first drop interferes) ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexRedrop"
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), vecField("v1"), vecField("vs")))
      val rows = (0 until 10).map(i => Row(
        f"00000000-0000-0000-0000-0000000007$i%02d", s"object-$i",
        randVec(16, i.toFloat), randVec(16, (i + 50).toFloat)))
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)),
        vectors = Map("vec" -> "v1", "sibling" -> "vs")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      g.dropVectorIndex(cls, "vec")
      val afterFirst = g.collection(cls)
      // re-create at the same name with fresh values
      g.register(afterFirst.schema.copy(
        vectors = afterFirst.schema.vectors + ("vec" -> "v1")),
        afterFirst.df.withColumn("v1",
          array((0 until 16).map(j => lit(7f + j * 0.001f)): _*)))
      out += "x1_recreated" -> s"with=${vecStats(g, cls, "v1")}"
      g.dropVectorIndex(cls, "vec")
      val sc4 = g.collection(cls).schema
      out += "x2_redropped" -> (s"entry=${sc4.vectors.contains("vec")};" +
        s"v1=${vecStats(g, cls, "v1")};sibling={${vecStats(g, cls, "vs")}}")
      out += "x3_sibling_near" -> near(g, cls, "sibling", randVec(16, 52f), 3)
    }

    // ---- deleted_tenant_reclean_test.go: deleting the owed cold tenant
    //      finalizes on the coverage already recorded — the marker leaves,
    //      the survivors stay stripped and intact, no re-clean round ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexDeletedColdTenant"
      val tenants = Seq("tenant-1", "tenant-2", "tenant-3")
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), vecField("vv"), vecField("vs"),
        StructField("tenant", StringType)))
      val rows = for {
        (t, ti) <- tenants.zipWithIndex; i <- 0 until 10
      } yield Row(f"00000000-0000-0000-00$ti%02d-0000000029$i%02d",
        s"object-$i", randVec(32, i.toFloat), randVec(32, (i + 100).toFloat), t)
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)), tenantColumn = Some("tenant"),
        vectors = Map("vec" -> "vv", "sibling" -> "vs")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      g.addTenants(cls, tenants.map(Tenant(_)))
      g.updateTenant(cls, "tenant-3", TenantStatus.Inactive)
      g.dropVectorIndex(cls, "vec")
      g.deleteTenants(cls, Seq("tenant-3"))
      out += "d1_deleted_finalizes" ->
        (s"entry=${g.collection(cls).schema.vectors.contains("vec")};" +
         s"marker=${g.vectorDropMarker(cls, "vec").getOrElse("∅")}")
      out += "d2_survivors_intact" -> (tenants.take(2).map(t =>
        s"$t={${vecStats(g, cls, "vs", Some(t))}}").mkString(";") +
        s";near=${near(g, cls, "sibling", randVec(32, 7), 3, Some("tenant-1"))}")
    }

    // ---- cold_tenant_test.go: deferred finalize behind the marker ----
    {
      val g = new Graft(s)
      val cls = "DropVectorIndexColdTenant"
      val tenants = Seq("tenant-1", "tenant-2", "tenant-3")
      val struct = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), vecField("vv"), vecField("vs"),
        StructField("tenant", StringType)))
      val rows = for {
        (t, ti) <- tenants.zipWithIndex; i <- 0 until 10
      } yield Row(f"00000000-0000-0000-00$ti%02d-0000000022$i%02d",
        s"object-$i", randVec(32, i.toFloat), randVec(32, (i + 100).toFloat), t)
      g.register(CollectionSchema(cls, "uuid",
        Seq(Property("name", PropType.Text)), tenantColumn = Some("tenant"),
        vectors = Map("vec" -> "vv", "sibling" -> "vs")),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
      g.addTenants(cls, tenants.map(Tenant(_)))
      g.updateTenant(cls, "tenant-3", TenantStatus.Inactive)
      g.dropVectorIndex(cls, "vec")
      // hot tenants stripped now; the cold one keeps its rows and the
      // schema keeps the entry as the "none" marker
      out += "c1_hot_stripped" -> tenants.map(t =>
        s"$t={${vecStats(g, cls, "vv", Some(t))}}").mkString(";")
      out += "c2_marker" -> (s"entry=${g.collection(cls).schema.vectors.contains("vec")};" +
        s"type=${g.vectorDropMarker(cls, "vec").getOrElse("∅")}")
      out += "c3_remove_rejected" ->
        (try { g.removeVectorConfig(cls, "vec"); "accepted" }
         catch { case e: Exception => e.getMessage })
      out += "c4_marker_survives" -> g.vectorDropMarker(cls, "vec").getOrElse("∅")
      g.updateTenant(cls, "tenant-3", TenantStatus.Active)
      out += "c5_finalized" -> (s"entry=${g.collection(cls).schema.vectors.contains("vec")};" +
        s"vv=${vecStats(g, cls, "vv")};" +
        tenants.map(t => s"$t={${vecStats(g, cls, "vs", Some(t))}}").mkString(";"))
      out += "c6_near_tenants" -> tenants.map(t =>
        s"$t=${near(g, cls, "sibling", randVec(32, 7), 3, Some(t))}").mkString(";")
    }
    steps(s, out.result())
  }

  /** alter_schema/delete_property_index_test.go: deleting a property's
   * searchable/filterable/rangeFilters index flips the flag; filters on a
   * property with NO remaining inverted index error with the reference's
   * missingFilterable text (a surviving searchable/rangeable index still
   * serves filters — the suite deletes BOTH for `title` before asserting
   * failure), bm25 on a de-searchabled property errors WEAVIATE-471-style,
   * and an unknown property rejects with the handler's text. */
  private def deletePropIndexGate(s: SparkSession): DataFrame = {
    import graft.engine.Graft
    val out = Seq.newBuilder[(String, String)]
    val g = new Graft(s)
    val struct = StructType(Seq(StructField("uuid", StringType),
      StructField("title", StringType), StructField("author", StringType),
      StructField("title_only_filterable", StringType),
      StructField("year", LongType)))
    val rows = Seq(
      Row("00000000-0000-4000-8000-000000000001", "Dune", "Frank Herbert", "Dune", 1965L),
      Row("00000000-0000-4000-8000-000000000002", "Project Hail Mary", "Andy Weir", "Project Hail Mary", 2021L),
      Row("00000000-0000-4000-8000-000000000003", "The Lord of the Ice Garden", "Jaroslaw Grzedowicz", "The Lord of the Ice Garden", 1960L))
    g.register(CollectionSchema("Book", "uuid", Seq(
      // the suite's Book class declares no tokenization → the default
      // lowercasing "word" (bm25 "herbert" must match "Frank Herbert")
      Property("title", PropType.Text),
      Property("author", PropType.Text),
      Property("title_only_filterable", PropType.Text,
        indexSearchable = false),
      Property("year", PropType.Int, indexRangeFilters = true))),
      s.createDataFrame(java.util.Arrays.asList(rows: _*), struct))
    def filterText(propName: String): String =
      try g.get(GetParams("Book", where = Some(Where.eqText(propName, "Dune"))))
        .count().toString
      catch { case e: Exception => e.getMessage }
    def filterYear(): String =
      try g.get(GetParams("Book",
        where = Some(Where.leInt("year", 1960L)))).count().toString
      catch { case e: Exception => e.getMessage }
    def searchAuthor(): String =
      try g.get(GetParams("Book",
        bm25 = Some(Bm25("herbert", properties = Seq("author"))))).count().toString
      catch { case e: Exception =>
        e.getMessage.replace("requirement failed: ", "") }

    out += "p1_pre" -> (s"title=${filterText("title")};" +
      s"only_filterable=${filterText("title_only_filterable")};" +
      s"author=${searchAuthor()};year=${filterYear()}")
    g.deletePropertyIndex("Book", "title_only_filterable", "filterable")
    g.deletePropertyIndex("Book", "author", "searchable")
    g.deletePropertyIndex("Book", "author", "filterable")
    g.deletePropertyIndex("Book", "title", "filterable")
    // the searchable index still serves filters until it leaves too
    out += "p2_title_fallback" -> filterText("title")
    g.deletePropertyIndex("Book", "title", "searchable")
    g.deletePropertyIndex("Book", "year", "filterable")
    g.deletePropertyIndex("Book", "year", "rangeFilters")
    out += "p3_unknown_prop" ->
      (try { g.deletePropertyIndex("Book", "doesntexist", "rangeFilters"); "accepted" }
       catch { case e: Exception => e.getMessage })
    out += "p4_title_off" -> filterText("title")
    out += "p5_only_filterable_off" -> filterText("title_only_filterable")
    out += "p6_author_off" -> searchAuthor()
    out += "p7_year_off" -> filterYear()
    steps(s, out.result())
  }

  private[graft] def gates: Seq[Gate] = Seq(
    // Test_Objects (setup/add/delete/update/individual_refs): the typed
    // create echo (int as json.Number "1", the +01:00 date offset intact —
    // the stored-document echo), short-beacon class detection on
    // single-target props, delete → 404, deprecated PUT replacing the whole
    // prop set, classless PATCH merging a cref, and the three reference-
    // endpoint ops (append / replace / remove-to-empty)
    Gate("q_fixture_actions",
      """SELECT * FROM (VALUES
        |  ('a1_create_echo', 'testDateTime=2017-10-06T08:15:30+01:00;testNumber=1.337;testString=Test string;testTrueFalse=true;testWholeNumber=1'),
        |  ('a2_get_roundtrip', 'testDateTime=2017-10-06T08:15:30+01:00;testNumber=1.337;testString=Test string;testTrueFalse=true;testWholeNumber=1'),
        |  ('a3_single_ref', 'testReference=[weaviate://localhost/TestObject/0ac70000-0000-4000-8000-000000000003|/v1/objects/TestObject/0ac70000-0000-4000-8000-000000000003];testString=stringy'),
        |  ('d1_delete', 'before=true;after=404'),
        |  ('r1_ref_append', 'pre=∅;post=testReferences=[weaviate://localhost/TestObject/0ac70000-0000-4000-8000-000000000011|/v1/objects/TestObject/0ac70000-0000-4000-8000-000000000011]'),
        |  ('r2_ref_replace', 'testReferences=[weaviate://localhost/TestObject/0ac70000-0000-4000-8000-000000000014|/v1/objects/TestObject/0ac70000-0000-4000-8000-000000000014]'),
        |  ('r3_ref_remove', 'testReferences=[]'),
        |  ('u1_update_number', 'testNumber=41'),
        |  ('u2_update_string', 'testString=wibbly wobbly'),
        |  ('u3_update_bool', 'testTrueFalse=true'),
        |  ('u4_patch_cref', 'testReference=[weaviate://localhost/ObjectTestThing/0ac70000-0000-4000-8000-000000000009|/v1/objects/ObjectTestThing/0ac70000-0000-4000-8000-000000000009]')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => actionsGate(s)),
    // object_test.go: class-scoped find/head/put/patch/delete with the
    // duplicate-beacon lists stored VERBATIM through the props path (PUT/
    // PATCH expected maps keep link1+link2), the references error matrix
    // (unknown prop → 422 before the id fetch → 404, nil body → 422),
    // the same-uuid-two-classes delete, and the list endpoint
    Gate("q_fixture_actions_crud",
      """SELECT * FROM (VALUES
        |  ('del1_delete_a', '204'),
        |  ('del2_gone_a', '404'),
        |  ('del3_b_survives', 'text=string 2'),
        |  ('dr1_del_second', 'friend=[weaviate://localhost/TestObjectHTTPDeleteReferenceFriendFirst/0ac70000-0000-4000-8000-000000000014|/v1/objects/TestObjectHTTPDeleteReferenceFriendFirst/0ac70000-0000-4000-8000-000000000014];number=2'),
        |  ('dr2_del_again', 'friend=[weaviate://localhost/TestObjectHTTPDeleteReferenceFriendFirst/0ac70000-0000-4000-8000-000000000014|/v1/objects/TestObjectHTTPDeleteReferenceFriendFirst/0ac70000-0000-4000-8000-000000000014];number=2'),
        |  ('dr3_del_last', 'friend=[];number=2'),
        |  ('dr4_unknown_prop', '422'),
        |  ('dr5_unknown_id', '404'),
        |  ('dr6_nil_body', '422'),
        |  ('f1_find', 'friend=[weaviate://localhost/TestObjectHTTPGetFriendFirst/0ac70000-0000-4000-8000-000000000001|/v1/objects/TestObjectHTTPGetFriendFirst/0ac70000-0000-4000-8000-000000000001,weaviate://localhost/TestObjectHTTPGetFriendSecond/0ac70000-0000-4000-8000-000000000002|/v1/objects/TestObjectHTTPGetFriendSecond/0ac70000-0000-4000-8000-000000000002];number=2'),
        |  ('f2_find_unknown', '404'),
        |  ('h1_head', '204'),
        |  ('h2_head_unknown', '404'),
        |  ('p1_put_replace', 'friend=[weaviate://localhost/TestObjectHTTPUpdateFriend/0ac70000-0000-4000-8000-000000000005|/v1/objects/TestObjectHTTPUpdateFriend/0ac70000-0000-4000-8000-000000000005,weaviate://localhost/TestObjectHTTPUpdateFriend/0ac70000-0000-4000-8000-000000000005|/v1/objects/TestObjectHTTPUpdateFriend/0ac70000-0000-4000-8000-000000000005];testNumber=2;testString=wibbly wobbly;testTrueFalse=true'),
        |  ('p2_patch_merge', 'boolean1=true;friend=[weaviate://localhost/TestObjectHTTPPatchFriend/0ac70000-0000-4000-8000-000000000007|/v1/objects/TestObjectHTTPPatchFriend/0ac70000-0000-4000-8000-000000000007,weaviate://localhost/TestObjectHTTPPatchFriend/0ac70000-0000-4000-8000-000000000007|/v1/objects/TestObjectHTTPPatchFriend/0ac70000-0000-4000-8000-000000000007];integer1=2;number1=3;string1=wibbly wobbly'),
        |  ('p3_patch_unknown', '404'),
        |  ('pr1_post_ref', 'friend=[weaviate://localhost/TestObjectHTTPAddReferenceFriend/0ac70000-0000-4000-8000-000000000009|/v1/objects/TestObjectHTTPAddReferenceFriend/0ac70000-0000-4000-8000-000000000009];number=2'),
        |  ('pr2_unknown_prop', '422'),
        |  ('pr3_unknown_id', '404'),
        |  ('pu1_put_two', 'friend=[weaviate://localhost/TestObjectHTTPUpdateReferencesFriendFirst/0ac70000-0000-4000-8000-000000000011|/v1/objects/TestObjectHTTPUpdateReferencesFriendFirst/0ac70000-0000-4000-8000-000000000011,weaviate://localhost/TestObjectHTTPUpdateReferencesFriendSecond/0ac70000-0000-4000-8000-000000000012|/v1/objects/TestObjectHTTPUpdateReferencesFriendSecond/0ac70000-0000-4000-8000-000000000012];number=2'),
        |  ('pu2_put_one', 'friend=[weaviate://localhost/TestObjectHTTPUpdateReferencesFriendFirst/0ac70000-0000-4000-8000-000000000011|/v1/objects/TestObjectHTTPUpdateReferencesFriendFirst/0ac70000-0000-4000-8000-000000000011];number=2'),
        |  ('pu3_unknown_prop', '422'),
        |  ('pu4_unknown_id', '404'),
        |  ('pu5_put_empty', 'friend=[];number=2'),
        |  ('pu6_nil_body', '422'),
        |  ('q1_list', 'n=2;sum=2'),
        |  ('q2_list_friend', 'n=1'),
        |  ('q3_list_unknown', '404')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => crudGate(s)),
    // alter_schema/delete_property_index_test.go: pre-deletion searches all
    // serve; a filterable deletion with a SURVIVING searchable index still
    // serves filters (the suite deletes both for `title` before asserting
    // failure); once no inverted index remains, filters error with the
    // missingFilterable text, bm25 with the missing-searchable text
    // (WEAVIATE-471), and an unknown property rejects with the handler's
    // "property name X: not found"
    Gate("q_fixture_delete_prop_index",
      """SELECT * FROM (VALUES
        |  ('p1_pre', 'title=1;only_filterable=1;author=1;year=1'),
        |  ('p2_title_fallback', '1'),
        |  ('p3_unknown_prop', 'property name doesntexist: not found'),
        |  ('p4_title_off', 'Filtering by property ''title'' requires inverted index. Is `indexFilterable` option of property ''title'' enabled? Set it to `true` or leave empty'),
        |  ('p5_only_filterable_off', 'Filtering by property ''title_only_filterable'' requires inverted index. Is `indexFilterable` option of property ''title_only_filterable'' enabled? Set it to `true` or leave empty'),
        |  ('p6_author_off', 'Searching by property ''author'' requires inverted index. Is `indexSearchable` option of property ''author'' enabled? Set it to `true` or leave empty'),
        |  ('p7_year_off', 'Filtering by property ''year'' requires inverted index. Is `indexFilterable` option of property ''year'' enabled? Set it to `true` or leave empty')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => deletePropIndexGate(s)),
    // drop_vector_index lifecycle/multivector/cold_tenant: drop strips
    // stored vectors + removes the schema entry, sibling untouched, the
    // name re-creatable FRESH at 256 dims (old objects don't resurrect),
    // multi-vector lists strip the same way, and the cold-tenant deferral:
    // hot tenants strip now, the "none" marker stays, manual removal is
    // rejected with the reference's text, reactivation finalizes
    Gate("q_fixture_drop_index",
      """SELECT * FROM (VALUES
        |  ('c1_hot_stripped', 'tenant-1={n=10;with=0;dim=null};tenant-2={n=10;with=0;dim=null};tenant-3={n=10;with=10;dim=32}'),
        |  ('c2_marker', 'entry=true;type=none'),
        |  ('c3_remove_rejected', 'cannot remove dropped vector "vec" on DropVectorIndexColdTenant: 1 shards are not covered by the completing cleanup task; cleanup re-runs automatically and the entry is removed once every shard is covered'),
        |  ('c4_marker_survives', 'none'),
        |  ('c5_finalized', 'entry=false;vv=absent;tenant-1={n=10;with=10;dim=32};tenant-2={n=10;with=10;dim=32};tenant-3={n=10;with=10;dim=32}'),
        |  ('c6_near_tenants', 'tenant-1=3;tenant-2=3;tenant-3=3'),
        |  ('d1_deleted_finalizes', 'entry=false;marker=∅'),
        |  ('d2_survivors_intact', 'tenant-1={n=10;with=10;dim=32};tenant-2={n=10;with=10;dim=32};near=3'),
        |  ('l1_pre_near', 'rq8=3;rq1=3'),
        |  ('l2_pre_vectors', 'rq8={n=50;with=50;dim=512};rq1={n=50;with=50;dim=768}'),
        |  ('l3_drop_schema', 'dropped=false;sibling=true'),
        |  ('l4_near_dropped', 'error:collection DropVectorIndexLifecycle has no vector named vec_rq8'),
        |  ('l5_near_sibling', '3'),
        |  ('l6_stripped', 'rq8=absent;rq1={n=50;with=50;dim=768}'),
        |  ('l7_recreated', 'rq8={n=55;with=5;dim=256};rq1={n=55;with=50;dim=768}'),
        |  ('l8_near_recreated', '5'),
        |  ('m1_pre', 'colbert_carried=20;sibling={n=20;with=20;dim=16}'),
        |  ('m2_dropped', 'entry=false;colbert=absent;sibling={n=20;with=20;dim=16}'),
        |  ('m3_near_sibling', '3'),
        |  ('v1_pre_near', '3'),
        |  ('v2_vectorless', 'vectors_empty=true;default_empty=true'),
        |  ('v3_objects_survive', 'n=20;named=20;vo_col=false'),
        |  ('v4_postflip_write', 'n=21'),
        |  ('w1_during_carrying', 'vector index for vec was dropped; writes targeting it are rejected'),
        |  ('w2_during_sibling', 'ok'),
        |  ('w3_during_batch_split', 'err(vector index for vec was dropped)|ok'),
        |  ('w4_patch_ok', 'name=patched;sibling=true'),
        |  ('w5_after_carrying', 'collection DropVectorIndexWrites does not have configuration for vector vec'),
        |  ('w6_after_sibling', 'ok'),
        |  ('w7_no_survivor_carries', 'vv_col=false'),
        |  ('x1_recreated', 'with=n=10;with=10;dim=16'),
        |  ('x2_redropped', 'entry=false;v1=absent;sibling={n=10;with=10;dim=16}'),
        |  ('x3_sibling_near', '3')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => dropIndexGate(s))
  )

}
