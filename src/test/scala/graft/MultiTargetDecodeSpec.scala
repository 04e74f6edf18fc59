package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.engine.{Graft, WireDecoder}
import graft.model._

/**
 * parseNearVec decode parity (parse_search_request.go:1338-1507) over a
 * class with one multi-vector (ColBERT) space and one regular space: the
 * unroll matrix, repeated target names with positional weights, the
 * per-target type checks with verbatim error texts, and the hybrid
 * multi-target dense leg.
 */
class MultiTargetDecodeSpec extends SparkSpecBase {

  private lazy val g: Graft = {
    val gg = new Graft(spark)
    gg.register(CollectionSchema("MT", "uuid", Seq(
      Property("name", PropType.Text)),
      vectors = Map("colbert" -> "colbert_vec", "regular" -> "regular_vec")),
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("00000000-0000-0000-0000-000000000001", "a",
          Seq(Seq(0.1f, 0.2f)), Seq(0.1f, 0.2f, 0.3f))), 1),
        StructType(Seq(StructField("uuid", StringType), StructField("name", StringType),
          StructField("colbert_vec", ArrayType(ArrayType(FloatType))),
          StructField("regular_vec", ArrayType(FloatType))))))
    gg
  }

  private def b64(vs: Seq[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(vs.size * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
  private def b64Multi(rows: Seq[Seq[Float]]): String = {
    val bb = java.nio.ByteBuffer.allocate(2 + rows.map(_.size).sum * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(rows.head.size.toShort)
    rows.foreach(_.foreach(bb.putFloat))
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
  private def err(json: String): String =
    intercept[IllegalArgumentException](WireDecoder.search(g, json)).getMessage

  test("a MULTI payload against a regular target unrolls into per-row Single positions") {
    val p = WireDecoder.search(g,
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vectorForTargets": [{"name": "regular", "vectors": [
         |    {"type": "VECTOR_TYPE_MULTI_FP32",
         |     "vectorBytes": "${b64Multi(Seq(Seq(0.1f, 0.2f, 0.3f), Seq(0.4f, 0.5f, 0.6f)))}"}]}],
         |  "targets": {"targetVectors": ["regular"]}}}""".stripMargin)
    val nv = p.nearVector.get
    assert(nv.targetVectors == Seq("regular", "regular"))
    assert(nv.vectors.size == 2 && nv.vectors.forall(!_.isMulti))
    assert(nv.queryFor(1).toSeq == Seq(0.4f, 0.5f, 0.6f))
  }

  test("a MULTI payload against the multi-vector target stays ONE MaxSim query") {
    val p = WireDecoder.search(g,
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vectorForTargets": [{"name": "colbert", "vectors": [
         |    {"type": "VECTOR_TYPE_MULTI_FP32",
         |     "vectorBytes": "${b64Multi(Seq(Seq(0.1f, 0.2f), Seq(0.3f, 0.4f)))}"}]}],
         |  "targets": {"targetVectors": ["colbert"]}}}""".stripMargin)
    // a single multi-vector query rides the dedicated MaxSim leg
    assert(p.nearVector.isEmpty && p.nearMultiVector.isDefined)
    assert(p.nearMultiVector.get.targetVectors == Seq("colbert"))
    assert(p.nearMultiVector.get.vectors.length == 2)
  }

  test("mixed positions: colbert MaxSim entries alongside unrolled regular singles") {
    val p = WireDecoder.search(g,
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vectorForTargets": [
         |    {"name": "regular", "vectors": [
         |      {"type": "VECTOR_TYPE_MULTI_FP32",
         |       "vectorBytes": "${b64Multi(Seq(Seq(0.1f, 0.2f, 0.3f), Seq(0.4f, 0.5f, 0.6f)))}"}]},
         |    {"name": "colbert", "vectors": [
         |      {"type": "VECTOR_TYPE_MULTI_FP32", "vectorBytes": "${b64Multi(Seq(Seq(0.1f, 0.2f)))}"},
         |      {"type": "VECTOR_TYPE_MULTI_FP32", "vectorBytes": "${b64Multi(Seq(Seq(0.3f, 0.4f)))}"}]}],
         |  "targets": {"targetVectors": ["regular", "colbert"]}}}""".stripMargin)
    val nv = p.nearVector.get
    assert(nv.targetVectors == Seq("regular", "regular", "colbert", "colbert"))
    assert(nv.vectors.map(_.isMulti) == Seq(false, false, true, true))
    assert(nv.hasMultiQuery)
  }

  test("legacy repeated targets keep positional weights per occurrence") {
    val p = WireDecoder.search(g,
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vectorForTargets": [
         |    {"name": "regular", "vectorBytes": "${b64(Seq(0.1f, 0.2f, 0.3f))}"},
         |    {"name": "regular", "vectorBytes": "${b64(Seq(0.4f, 0.5f, 0.6f))}"}],
         |  "targets": {"targetVectors": ["regular", "regular"],
         |    "combination": "COMBINATION_METHOD_TYPE_MANUAL",
         |    "weightsForTargets": [
         |      {"target": "regular", "weight": 0.2}, {"target": "regular", "weight": 0.8}]}}}""".stripMargin)
    val nv = p.nearVector.get
    assert(nv.targetVectors == Seq("regular", "regular"))
    assert(nv.combination == TargetCombination.ManualWeights(Seq(0.2, 0.8)))
    assert(nv.queryFor(0).toSeq == Seq(0.1f, 0.2f, 0.3f))
    assert(nv.queryFor(1).toSeq == Seq(0.4f, 0.5f, 0.6f))
  }

  test("top-level payloads type-check per target with the reference texts") {
    assert(err(
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vectors": [{"type": "VECTOR_TYPE_MULTI_FP32",
         |    "vectorBytes": "${b64Multi(Seq(Seq(0.1f, 0.2f)))}"}],
         |  "targets": {"targetVectors": ["regular"]}}}""".stripMargin)
      == "near_vector: provided vector is a multi vector but vector index supports regular vectors")
    assert(err(
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vector": [0.1, 0.2],
         |  "targets": {"targetVectors": ["colbert"]}}}""".stripMargin)
      == "near_vector: provided vector is a regular vector but vector index supports multi vectors")
  }

  test("the new VFT shape dedupes the target list; length mismatches error verbatim") {
    assert(err(
      s"""{"collection": "MT", "limit": 5, "nearVector": {
         |  "vectorForTargets": [
         |    {"name": "regular", "vectors": [{"vectorBytes": "${b64(Seq(0.1f, 0.2f, 0.3f))}"}]},
         |    {"name": "regular", "vectors": [{"vectorBytes": "${b64(Seq(0.4f, 0.5f, 0.6f))}"}]}],
         |  "targets": {"targetVectors": ["regular", "regular"]}}}""".stripMargin)
      == "near_vector: vector for target must have the same lengths as target vectors")
  }

  // --- conditional vector transmission (test/acceptance/search_optimization/
  // search_vector_transmission_test.go, the gRPC arms): reply vectors ride
  // ONLY when the MetadataRequest asks — vector:true → legacy vectorBytes,
  // vectors:[names] → exactly those name-tagged entries, absent → none —
  // orthogonally to property selections, nearVector legs, and cursor pages.
  private lazy val tg: Graft = {
    val gg = new Graft(spark)
    val rows = (1 to 3).map(i => Row(f"00000000-0000-0000-0000-0000000000$i%02d",
      s"doc $i", i.toLong,
      Seq(0.1f * i, 0.2f * i, 0.3f * i), Seq(0.4f * i, 0.5f * i, 0.6f * i)))
    gg.register(CollectionSchema("TransT", "uuid", Seq(
      Property("title", PropType.Text), Property("count", PropType.Int)),
      vectors = Map("title_vector" -> "tv", "desc_vector" -> "dv"),
      defaultVector = Some("title_vector")),
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField("uuid", StringType),
          StructField("title", StringType), StructField("count", LongType),
          StructField("tv", ArrayType(FloatType)),
          StructField("dv", ArrayType(FloatType))))))
    gg
  }
  private def reply(doc: String): org.json4s.JValue = {
    import graft.engine.{ProtoWire, WireEncoder}
    val params = ProtoWire.searchRequest(tg, ProtoWire.write(
      org.json4s.jackson.JsonMethods.parse(doc), "SearchRequest"))
    org.json4s.jackson.JsonMethods.parse(
      WireEncoder.searchReply(tg.get(params), params, took = 0.0))
  }
  private def results(j: org.json4s.JValue): List[org.json4s.JValue] =
    (j \ "results") match {
      case org.json4s.JArray(x) => x
      case _ => Nil
    }

  test("transmission matrix: vectors ride the reply only when metadata asks") {
    import org.json4s._
    val apis = """"uses_123_api": true, "uses_125_api": true"""
    // uuid only → no vector payloads at all
    val r1 = results(reply(
      s"""{"collection": "TransT", "metadata": {"uuid": true}, $apis}"""))
    assert(r1.size == 3)
    assert(r1.forall(r => (r \ "metadata" \ "vectorBytes") == JNothing))
    assert(r1.forall(r => (r \ "metadata" \ "vectors") == JNothing))
    // vector: true → the default space's legacy vectorBytes
    val r2 = results(reply(
      s"""{"collection": "TransT", "metadata": {"uuid": true, "vector": true}, $apis}"""))
    assert(r2.size == 3 && r2.forall(r =>
      (r \ "metadata" \ "vectorBytes").isInstanceOf[JString]))
    // vectors: [title_vector] → exactly that name-tagged entry, no legacy bytes
    val r3 = results(reply(
      s"""{"collection": "TransT",
         |  "metadata": {"uuid": true, "vectors": ["title_vector"]}, $apis}""".stripMargin))
    assert(r3.size == 3)
    r3.foreach { r =>
      assert((r \ "metadata" \ "vectorBytes") == JNothing)
      val names = (r \ "metadata" \ "vectors") match {
        case JArray(es) => es.map(e => (e \ "name").values.toString)
        case _ => Nil
      }
      assert(names == List("title_vector"))
    }
  }

  test("transmission matrix: nearVector legs and property selections stay orthogonal") {
    import org.json4s._
    val nearDoc =
      s"""{"collection": "TransT",
         |  "nearVector": {"vectorBytes": "${b64(Seq(0.1f, 0.2f, 0.3f))}",
         |    "targets": {"targetVectors": ["title_vector"]}},
         |  "properties": {"nonRefProperties": ["title", "count"]},
         |  "metadata": {"uuid": true, "distance": true},
         |  "uses_123_api": true, "uses_125_api": true, "uses_127_api": true}""".stripMargin
    val r4 = results(reply(nearDoc))
    assert(r4.nonEmpty)
    r4.foreach { r =>
      assert((r \ "metadata" \ "distance") != JNothing)
      assert((r \ "metadata" \ "vectorBytes") == JNothing,
        "vector bytes must be empty when not requested")
      assert((r \ "properties" \ "nonRefProperties" \ "title").isInstanceOf[JString])
    }
  }

  test("transmission matrix: cursor pages keep the vector contract") {
    import org.json4s._
    def page(after: String, withVec: Boolean): List[JValue] = results(reply(
      s"""{"collection": "TransT", "after": "$after", "limit": 2,
         |  "metadata": {"uuid": true${if (withVec) """, "vector": true""" else ""}},
         |  "uses_123_api": true, "uses_125_api": true}""".stripMargin))
    val p1 = page("", withVec = true)
    assert(p1.size == 2 &&
      p1.forall(r => (r \ "metadata" \ "vectorBytes").isInstanceOf[JString]))
    val last = (p1.last \ "metadata" \ "id").values.toString
    val p2 = page(last, withVec = true)
    assert(p2.nonEmpty &&
      p2.forall(r => (r \ "metadata" \ "vectorBytes").isInstanceOf[JString]))
    val q1 = page("", withVec = false)
    assert(q1.size == 2 &&
      q1.forall(r => (r \ "metadata" \ "vectorBytes") == JNothing))
  }

  test("hybrid carries a multi-target dense leg whole (denseParams)") {
    val p = WireDecoder.search(g,
      s"""{"collection": "MT", "limit": 5, "hybridSearch": {
         |  "query": "a",
         |  "nearVector": {"vectorForTargets": [
         |    {"name": "regular", "vectorBytes": "${b64(Seq(0.1f, 0.2f, 0.3f))}"},
         |    {"name": "regular", "vectorBytes": "${b64(Seq(0.4f, 0.5f, 0.6f))}"}]},
         |  "targets": {"targetVectors": ["regular", "regular"],
         |    "combination": "COMBINATION_METHOD_TYPE_SUM"}}}""".stripMargin)
    val h = p.hybrid.get
    assert(h.vector.isEmpty && h.denseParams.isDefined)
    assert(h.denseParams.get.targetVectors == Seq("regular", "regular"))
    assert(h.denseParams.get.combination == TargetCombination.Sum)
    // the decoded leg is at Metric.Default: it runs as with the class's
    // metric given (the dense leg alone: the query "a" is a stopword)
    assert(h.denseParams.get.metric == Metric.Default)
    def rows(dense: NearVector): Seq[String] = g.get(p.copy(hybrid = Some(
      h.copy(alpha = 1.0, denseParams = Some(dense))))).collect().map(_.toString).toSeq
    val got = rows(h.denseParams.get)
    assert(got.nonEmpty && got == rows(h.denseParams.get.copy(metric = Metric.Cosine)))
  }
}
