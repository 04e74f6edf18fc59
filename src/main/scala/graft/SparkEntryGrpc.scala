package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.engine.{Graft, ProtoWire, WireDecoder, WireEncoder}
import graft.model.{CollectionSchema, Property, PropType, Tokenization, StopwordConfig, Tenant}

/**
 * q_fixture_grpc_* gates: the core gRPC acceptance suites
 * (test/acceptance/grpc/grpc_search_test.go, grpc_named_vectors_test.go,
 * grpc_mixed_vectors_test.go, filtered_search_test.go) replayed end-to-end
 * through the BINARY transport — every request is hand-assembled protojson,
 * encoded to protobuf bytes by [[ProtoWire.write]], decoded back by the
 * engine's wire layer, served, and (where the suite reads reply fields)
 * re-encoded to SearchReply bytes and parsed back.
 *
 * Documented divergences, mirrored on both sides of each gate:
 *  - contextionary embeddings use the deterministic [[Fixtures.hashEmbedder]]
 *    stand-in (64-dim) over the SAME VectorizerCorpus rule the reference's
 *    object_texts.go defines; dimensionality differs from the real module
 *    (300), so the gates assert vector COUNT/names/byte-equality, which the
 *    suites themselves pin, never raw values.
 *  - filtered_search_test.go's three NotEqual sub-arms share one mutable
 *    request under t.Parallel(), so the reference effectively runs all three
 *    with the LAST value ("AAA A"); the gate replays that effective contract
 *    (625 rows) AND the per-form semantics the searcher actually implements
 *    (single term → 650).
 */
object SparkEntryGrpc {

  import Fixtures.cached
  import Gate.steps

  /** LE fp32 → base64 (byteops.Fp32SliceToBytes). */
  private def b64Fp32(vs: Seq[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(vs.size * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** uint16 dim header + LE fp32 rows (byteops.Fp32SliceOfSlicesToBytes). */
  private def b64Multi(rows: Seq[Seq[Float]]): String = {
    val dim = rows.head.size
    val bb = java.nio.ByteBuffer.allocate(2 + rows.size * dim * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(dim.toShort)
    rows.foreach(_.foreach(bb.putFloat))
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def jStr(s: String) = JString(s)
  private def vectorsEntry(tpe: String, b64: String): JValue =
    JObject(List("type" -> JString(tpe), "vector_bytes" -> JString(b64)))
  private def singleEntry(vs: Seq[Float], tpe: String = "VECTOR_TYPE_SINGLE_FP32"): JValue =
    vectorsEntry(tpe, b64Fp32(vs))
  private def multiEntry(rows: Seq[Seq[Float]]): JValue =
    vectorsEntry("VECTOR_TYPE_MULTI_FP32", b64Multi(rows))
  private def vft(name: String, entries: Seq[JValue]): JValue =
    JObject(List("name" -> JString(name), "vectors" -> JArray(entries.toList)))
  private def vftBytes(name: String, vs: Seq[Float]): JValue =
    JObject(List("name" -> JString(name), "vector_bytes" -> JString(b64Fp32(vs))))
  private def targets(tvs: Seq[String], combination: Option[String] = None,
                      weights: Seq[(String, Double)] = Nil): JValue =
    JObject(List("target_vectors" -> JArray(tvs.toList.map(jStr))) ++
      combination.map(c => "combination" -> JString(c)) ++
      (if (weights.isEmpty) Nil
       else List("weights_for_targets" -> JArray(weights.toList.map { case (t, w) =>
         JObject(List("target" -> JString(t), "weight" -> JDouble(w))) }))))

  // ==========================================================================
  // TestGRPCSearch (grpc_search_test.go) — PlanetsMultiVectorSearch
  // ==========================================================================

  /** The planets sample bed (test/helper/sample-schema/planets/planets.go):
   * 2 objects, 3 named vector spaces — colbert (multi-vector), regular
   * (3-dim), description (vectorized from the description property with
   * vectorizeClassName=false). */
  private def planetsGraft(s: SparkSession): Graft = cached(s, "planets") {
    val earthDesc = "The Earth's surface is predominantly covered by oceans, accounting " +
      "for about 71% of its total area, while continents provide the stage for bustling " +
      "cities, towering mountains, and sprawling forests. Its atmosphere, composed mostly " +
      "of nitrogen and oxygen, protects life from harmful solar radiation and regulates " +
      "the planet's climate, creating the conditions necessary for life to flourish. " +
      "Humans, as the dominant species, have left an indelible mark on Earth, shaping its " +
      "landscapes and ecosystems in profound ways. However, with this influence comes the " +
      "responsibility to steward and preserve our planet for future generations."
    val marsDesc = "Mars, often called the \"Red Planet\" due to its rusty reddish hue, " +
      "is the fourth planet from the Sun in our solar system. It's a world of stark " +
      "contrasts and mysterious allure, captivating the imaginations of scientists, " +
      "explorers, and dreamers alike. With its barren, rocky terrain and thin atmosphere " +
      "primarily composed of carbon dioxide, Mars presents a harsh environment vastly " +
      "different from Earth. Yet, beneath its desolate surface lie tantalizing clues " +
      "about its past, including evidence of ancient rivers, lakes, and even the " +
      "possibility of microbial life."
    val embed = Fixtures.hashEmbedder(64)
    val rows = Seq(
      Row("00000000-0000-0000-0000-000000000001", "Earth", earthDesc,
        Seq(Seq(0.11f, 0.12f), Seq(0.13f, 0.14f), Seq(0.15f, 0.16f)),
        Seq(0.11f, 0.12f, 0.13f), embed(earthDesc.toLowerCase).toSeq),
      Row("00000000-0000-0000-0000-000000000002", "Mars", marsDesc,
        Seq(Seq(0.21f, 0.22f), Seq(0.23f, 0.24f), Seq(0.25f, 0.26f)),
        Seq(0.14f, 0.15f, 0.16f), embed(marsDesc.toLowerCase).toSeq))
    val frame = StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("description", StringType),
      StructField("colbert_vec", ArrayType(ArrayType(FloatType))),
      StructField("regular_vec", ArrayType(FloatType)),
      StructField("description_vec", ArrayType(FloatType))))
    val gg = new Graft(s)
    gg.register(CollectionSchema("PlanetsMultiVectorSearch", "uuid", Seq(
      Property("name", PropType.Text), Property("description", PropType.Text)),
      vectors = Map("colbert" -> "colbert_vec", "regular" -> "regular_vec",
        "description" -> "description_vec")),
      s.createDataFrame(java.util.Arrays.asList(rows: _*), frame))
    gg
  }

  private val planetRegular = Seq(Seq(0.11f, 0.12f, 0.13f), Seq(0.14f, 0.15f, 0.16f))
  private val planetColbert = Seq(
    Seq(Seq(0.11f, 0.12f), Seq(0.13f, 0.14f), Seq(0.15f, 0.16f)),
    Seq(Seq(0.21f, 0.22f), Seq(0.23f, 0.24f), Seq(0.25f, 0.26f)))

  private def grpcSearchGate(s: SparkSession): DataFrame = {
    val gg = planetsGraft(s)
    val descVecs: Seq[Seq[Float]] = gg.collection("PlanetsMultiVectorSearch").df
      .orderBy(col("uuid")).select(col("description_vec")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq

    def serve(fields: List[(String, JValue)]): String = {
      val doc = JObject(List(
        "collection" -> JString("PlanetsMultiVectorSearch"),
        "properties" -> JObject(List("non_ref_properties" -> JArray(List(JString("name"))))),
        "metadata" -> JObject(List("uuid" -> JBool(true))),
        "uses_123_api" -> JBool(true), "uses_125_api" -> JBool(true),
        "uses_127_api" -> JBool(true)) ++ fields)
      val out = try {
        val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
        val names = gg.get(params).select(col("name")).collect().map(_.getString(0))
        s"n=${names.length};names=${names.mkString("|")}"
      } catch { case e: Exception => s"error=${e.getMessage}" }
      out
    }
    def nv(fields: List[(String, JValue)]): List[(String, JValue)] =
      List("near_vector" -> JObject(fields))

    val combos = Seq(
      "avg" -> "COMBINATION_METHOD_TYPE_AVERAGE", "sum" -> "COMBINATION_METHOD_TYPE_SUM",
      "min" -> "COMBINATION_METHOD_TYPE_MIN", "man" -> "COMBINATION_METHOD_TYPE_MANUAL",
      "rel" -> "COMBINATION_METHOD_TYPE_RELATIVE_SCORE")

    val out = Seq.newBuilder[(String, String)]
    // -- vector search -------------------------------------------------------
    out += "v01_legacy_vector" -> serve(nv(List(
      "vector" -> JArray(planetRegular.head.toList.map(f => JDouble(f))),
      "targets" -> targets(Seq("regular")))))
    out += "v02_legacy_bytes" -> serve(nv(List(
      "vector_bytes" -> JString(b64Fp32(planetRegular.head)),
      "targets" -> targets(Seq("regular")))))
    out += "v03_colbert_multi" -> serve(nv(List(
      "vectors" -> JArray(List(multiEntry(planetColbert.head))),
      "targets" -> targets(Seq("colbert")))))
    out += "v04_regular_typed" -> serve(nv(List(
      "vectors" -> JArray(List(singleEntry(planetRegular.head))),
      "targets" -> targets(Seq("regular")))))
    out += "v05_regular_unspecified" -> serve(nv(List(
      "vectors" -> JArray(List(singleEntry(planetRegular.head, "VECTOR_TYPE_UNSPECIFIED"))),
      "targets" -> targets(Seq("regular")))))

    // -- multi vector search -------------------------------------------------
    out += "m01_two_unspecified" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(vft("regular", Seq(
        singleEntry(planetRegular.head, "VECTOR_TYPE_UNSPECIFIED"),
        singleEntry(planetRegular(1), "VECTOR_TYPE_UNSPECIFIED"))))),
      "targets" -> targets(Seq("regular")))))
    out += "m02_only1_regular" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(vft("regular", Seq(singleEntry(planetRegular.head))))),
      "targets" -> targets(Seq("regular")))))
    out += "m03_only1_colbert" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(vft("colbert", Seq(multiEntry(planetColbert.head))))),
      "targets" -> targets(Seq("colbert")))))
    out += "m04_regular_as_multi" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(vft("regular", Seq(multiEntry(planetRegular))))),
      "targets" -> targets(Seq("regular")))))
    out += "m05_colbert_two_multis" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(vft("colbert", Seq(
        multiEntry(planetColbert.head), multiEntry(planetColbert(1)))))),
      "targets" -> targets(Seq("colbert")))))
    out += "m06_regular_and_colbert" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(
        vft("regular", Seq(multiEntry(planetRegular))),
        vft("colbert", Seq(multiEntry(planetColbert.head), multiEntry(planetColbert(1)))))),
      "targets" -> targets(Seq("regular", "colbert")))))
    out += "m07_reg_colbert_desc" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(
        vft("regular", Seq(multiEntry(planetRegular))),
        vft("colbert", Seq(multiEntry(planetColbert.head), multiEntry(planetColbert(1)))),
        vft("description", Seq(multiEntry(descVecs))))),
      "targets" -> targets(Seq("regular", "colbert", "description")))))

    // -- multi vector search with weights ------------------------------------
    combos.foreach { case (key, c) =>
      val ws = if (key == "man" || key == "rel")
        Seq("regular" -> 0.2, "regular" -> 0.8) else Nil
      out += s"w01_legacy_${key}" -> serve(nv(List(
        "vector_for_targets" -> JArray(List(
          vftBytes("regular", planetRegular.head), vftBytes("regular", planetRegular(1)))),
        "targets" -> targets(Seq("regular", "regular"), Some(c), ws))))
    }
    combos.foreach { case (key, c) =>
      val (tvs, ws) = if (key == "man" || key == "rel")
        (Seq("regular", "regular"), Seq("regular" -> 0.2, "regular" -> 0.8))
      else (Seq("regular"), Nil)
      out += s"w02_newshape_${key}" -> serve(nv(List(
        "vector_for_targets" -> JArray(List(vft("regular", Seq(multiEntry(planetRegular))))),
        "targets" -> targets(tvs, Some(c), ws))))
    }
    out += "w03_reg_colbert_manual" -> serve(nv(List(
      "vector_for_targets" -> JArray(List(
        vft("regular", Seq(multiEntry(planetRegular))),
        vft("colbert", Seq(multiEntry(planetColbert.head), multiEntry(planetColbert(1)))))),
      "targets" -> targets(Seq("regular", "regular", "colbert", "colbert"),
        Some("COMBINATION_METHOD_TYPE_MANUAL"),
        Seq("regular" -> 0.2, "regular" -> 0.4, "colbert" -> 0.2, "colbert" -> 0.2)))))
    combos.foreach { case (key, c) =>
      val (tvs, ws) = if (key == "man" || key == "rel")
        (Seq("regular", "regular", "colbert", "description", "description"),
         Seq("regular" -> 0.2, "regular" -> 0.4, "colbert" -> 0.2,
             "description" -> 0.1, "description" -> 0.1))
      else (Seq("regular", "colbert", "description"), Nil)
      out += s"w04_three_${key}" -> serve(nv(List(
        "vector_for_targets" -> JArray(List(
          vft("regular", Seq(multiEntry(planetRegular))),
          vft("colbert", Seq(multiEntry(planetColbert.head))),
          vft("description", Seq(multiEntry(descVecs))))),
        "targets" -> targets(tvs, Some(c), ws))))
    }
    combos.foreach { case (key, c) =>
      val ws = if (key == "man" || key == "rel")
        Seq("regular" -> 0.2, "description" -> 0.8) else Nil
      out += s"w05_reg_desc_${key}" -> serve(nv(List(
        "vector_for_targets" -> JArray(List(
          vft("regular", Seq(multiEntry(Seq(planetRegular.head)))),
          vft("description", Seq(multiEntry(Seq(descVecs(1))))))),
        "targets" -> targets(Seq("regular", "description"), Some(c), ws))))
    }

    // -- hybrid (no alpha on the wire → raw proto3 0 → pure keyword; the
    // dense leg still parses and validates: "Earth" matches both planets'
    // text, "Mars" only Mars's — the suite's 2-vs-1 count contract) --------
    combos.foreach { case (key, c) =>
      val ws = if (key == "man" || key == "rel")
        Seq("regular" -> 0.2, "regular" -> 0.8) else Nil
      out += s"h01_earth_legacy_${key}" -> serve(List(
        "hybrid_search" -> JObject(List(
          "query" -> JString("Earth"),
          "near_vector" -> JObject(List("vector_for_targets" -> JArray(List(
            vftBytes("regular", planetRegular.head), vftBytes("regular", planetRegular(1)))))),
          "targets" -> targets(Seq("regular", "regular"), Some(c), ws)))))
    }
    combos.foreach { case (key, c) =>
      val (tvs, ws) = if (key == "man" || key == "rel")
        (Seq("regular", "regular"), Seq("regular" -> 0.2, "regular" -> 0.8))
      else (Seq("regular"), Nil)
      out += s"h02_mars_newshape_${key}" -> serve(List(
        "hybrid_search" -> JObject(List(
          "query" -> JString("Mars"),
          "near_vector" -> JObject(List("vector_for_targets" -> JArray(List(
            vft("regular", Seq(multiEntry(planetRegular))))))),
          "targets" -> targets(tvs, Some(c), ws)))))
    }
    combos.foreach { case (key, c) =>
      val (tvs, ws) = if (key == "man" || key == "rel")
        (Seq("regular", "regular", "colbert", "description", "description"),
         Seq("regular" -> 0.2, "regular" -> 0.4, "colbert" -> 0.2,
             "description" -> 0.1, "description" -> 0.1))
      else (Seq("regular", "colbert", "description"), Nil)
      out += s"h03_mars_three_${key}" -> serve(List(
        "hybrid_search" -> JObject(List(
          "query" -> JString("Mars"),
          "near_vector" -> JObject(List("vector_for_targets" -> JArray(List(
            vft("regular", Seq(multiEntry(planetRegular))),
            vft("colbert", Seq(multiEntry(planetColbert.head))),
            vft("description", Seq(multiEntry(descVecs))))))),
          "targets" -> targets(tvs, Some(c), ws)))))
    }
    steps(s, out.result())
  }

  // ==========================================================================
  // TestGRPC_NamedVectors / TestGRPC_MixedVectors — Books beds
  // ==========================================================================

  private val bookUuids = Seq(
    "67b79643-cf8b-4b22-b206-6e63dbb4e000", // Dune
    "67b79643-cf8b-4b22-b206-6e63dbb4e001", // Project Hail Mary
    "67b79643-cf8b-4b22-b206-6e63dbb4e002") // The Lord of the Ice Garden

  /** books.BatchObjects() (books.go:306-…): 3 objects with nested meta
   * object and reviews object[] — imported over the BINARY
   * BatchObjectsRequest wire exactly like the suites do. */
  private def booksBatchDoc: JValue = {
    def meta(isbn: String): JValue = JObject(List(
      "prop_name" -> JString("meta"),
      "value" -> JObject(List(
        "non_ref_properties" -> JObject(List("isbn" -> JString(isbn))),
        "object_properties" -> JArray(List(JObject(List(
          "prop_name" -> JString("obj"),
          "value" -> JObject(List("non_ref_properties" ->
            JObject(List("text" -> JString("some text"))))))))),
        "object_array_properties" -> JArray(List(JObject(List(
          "prop_name" -> JString("objs"),
          "values" -> JArray(List(JObject(List("non_ref_properties" ->
            JObject(List("text" -> JString("some text")))))))))))))))
    def reviews(tags: Seq[String]): JValue = JObject(List(
      "prop_name" -> JString("reviews"),
      "values" -> JArray(List(JObject(List(
        "text_array_properties" -> JArray(List(JObject(List(
          "prop_name" -> JString("tags"),
          "values" -> JArray(tags.toList.map(jStr))))))))))))
    def obj(uuid: String, title: String, desc: String, isbn: String,
            tags: Seq[String]): JValue =
      JObject(List(
        "collection" -> JString("Books"), "uuid" -> JString(uuid),
        "properties" -> JObject(List(
          "non_ref_properties" -> JObject(List(
            "title" -> JString(title), "description" -> JString(desc))),
          "object_properties" -> JArray(List(meta(isbn))),
          "object_array_properties" -> JArray(List(reviews(tags)))))))
    JObject(List("objects" -> JArray(List(
      obj(bookUuids(0), "Dune",
        "Dune is a 1965 epic science fiction novel by American author Frank Herbert.",
        "978-0593099322", Seq("sci-fi", "epic")),
      obj(bookUuids(1), "Project Hail Mary",
        "Project Hail Mary is a 2021 science fiction novel by American novelist Andy Weir.",
        "978-0593135204", Seq("sci-fi")),
      obj(bookUuids(2), "The Lord of the Ice Garden",
        "The Lord of the Ice Garden (Polish: Pan Lodowego Ogrodu) is a four-volume science fiction and fantasy novel by Polish writer Jaroslaw Grzedowicz.",
        "978-8374812962", Seq("sci-fi", "fantasy"))))))
  }

  /** Build a Books graft with the given named-vector layout. `spaces` maps
   * space name → (vectorizeClassName, Some(props) | None=all text props).
   * Ingest goes through the binary BatchObjectsRequest wire. */
  private def booksGraft(s: SparkSession,
      spaces: Seq[(String, (Boolean, Option[Seq[String]]))],
      defaultVector: Option[String]): (Graft, Int) =
      cached(s, "books:" + spaces.map(_._1).mkString(",")) {
    val schema = CollectionSchema("Books", "uuid", Seq(
      Property("title", PropType.Text),
      Property("description", PropType.Text),
      Property("tags", PropType.Arr(PropType.Text)),
      Property("meta", PropType.Obj),
      Property("reviews", PropType.Arr(PropType.Obj))),
      vectors = spaces.map { case (n, _) => n -> s"vec_$n" }.toMap,
      defaultVector = defaultVector)
    val frame = StructType(Seq(
      StructField("uuid", StringType),
      StructField("title", StringType),
      StructField("description", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("meta", StructType(Seq(
        StructField("isbn", StringType),
        StructField("obj", StructType(Seq(StructField("text", StringType)))),
        StructField("objs", ArrayType(StructType(Seq(StructField("text", StringType)))))))),
      StructField("reviews", ArrayType(StructType(Seq(
        StructField("tags", ArrayType(StringType))))))))
    val st = new graft.sources.CollectionStore(s,
      Gate.tempDir("books"), schema)
    st.init(s.createDataFrame(java.util.Collections.emptyList[Row](), frame))
    val (objs, errs) = ProtoWire.batchObjectsRequest(
      ProtoWire.write(booksBatchDoc, "BatchObjectsRequest"))
    st.upsert(WireDecoder.batchObjectsFrame(s, st.read().schema, "uuid",
      Map.empty, objs.map(_._2)))
    // the stand-in vectorizer: hash-embed the SAME VectorizerCorpus each
    // text2vec space is configured with (object_texts.go)
    val embedUdf = udf(Fixtures.hashEmbedder(64))
    val allText = Seq("description" -> col("description"),
      "tags" -> col("tags"), "title" -> col("title"))
    val withVecs = spaces.foldLeft(st.read()) { case (d, (n, (vcn, props))) =>
      val pcols = props match {
        case Some(ps) => allText.filter { case (pn, _) => ps.contains(pn) }
        case None => allText
      }
      val corpus = graft.sources.VectorizerCorpus.column("Books", pcols,
        textArrays = Set("tags"),
        cfg = graft.sources.VectorizerCorpus.Config(vectorizeClassName = vcn))
      d.withColumn(s"vec_$n", embedUdf(corpus))
    }
    val gg = new Graft(s).withEmbedder(Fixtures.hashEmbedder(64))
    gg.register(schema, withVecs.cache())
    (gg, errs.size)
  }

  /** One search through the FULL binary loop: request bytes → engine →
   * SearchReply JSON → reply bytes → parsed back; returns (title of first
   * hit, named-vector (name,bytes) entries of the first hit, legacy
   * vector_bytes of the first hit, result/group count). */
  private def binarySearch(gg: Graft, doc: JValue)
      : (String, Seq[(String, String)], String, Int) = {
    val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
    val replyJson = WireEncoder.searchReply(gg.get(params), params, took = 0.0)
    val schema = gg.collection((doc \ "collection").values.toString).schema
    val hints = schema.properties.map(p => p.name -> p.dataType).toMap
    val back = ProtoWire.read(ProtoWire.searchReplyBytes(replyJson, hints), "SearchReply")
    val (first, count) = (back \ "group_by_results") match {
      case JArray(gs) if gs.nonEmpty =>
        (((gs.head \ "objects"): JValue) match {
          case JArray(os) => os.head
          case _ => JNothing
        }, gs.size)
      case _ => (back \ "results") match {
        case JArray(rs) if rs.nonEmpty => (rs.head, rs.size)
        case _ => (JNothing, 0)
      }
    }
    val title = (first \ "properties" \ "non_ref_properties" \ "title") match {
      case JString(t) => t
      case _ => "∅"
    }
    val vecs = (first \ "metadata" \ "vectors") match {
      case JArray(vs) => vs.map(v =>
        ((v \ "name").values.toString, (v \ "vector_bytes").values.toString))
      case JObject(_) => Seq((((first \ "metadata" \ "vectors") \ "name").values.toString,
        ((first \ "metadata" \ "vectors") \ "vector_bytes").values.toString))
      case _ => Nil
    }
    val legacy = (first \ "metadata" \ "vector_bytes") match {
      case JString(b) => b
      case _ => "∅"
    }
    (title, vecs, legacy, count)
  }

  private def grpcNamedVectorsGate(s: SparkSession): DataFrame = {
    val (gg, errs) = booksGraft(s,
      Seq("all" -> (false, None), "title" -> (false, Some(Seq("title"))),
          "description" -> (false, Some(Seq("description")))),
      defaultVector = None)
    val out = Seq.newBuilder[(String, String)]
    out += "00_batch" -> s"errors=$errs;stored=${gg.collection("Books").df.count()}"

    val metaVariants = Seq(
      "all3" -> JObject(List("vector" -> JBool(true))),
      "one" -> JObject(List("vectors" -> JArray(List(JString("all"))))))
    def base(meta: JValue, fields: List[(String, JValue)]): JValue =
      JObject(List("collection" -> JString("Books"), "metadata" -> meta,
        "uses_123_api" -> JBool(true), "uses_125_api" -> JBool(true)) ++ fields)
    val groupBy = "group_by" -> JObject(List(
      "path" -> JArray(List(JString("title"))),
      "number_of_groups" -> JLong(1), "objects_per_group" -> JLong(1)))

    metaVariants.foreach { case (key, meta) =>
      def render(t: (String, Seq[(String, String)], String, Int)): String =
        s"title=${t._1};nvecs=${t._2.size};names=${t._2.map(_._1).sorted.mkString("|")};n=${t._4}"
      out += s"${key}_01_hybrid" -> render(binarySearch(gg, base(meta, List(
        "hybrid_search" -> JObject(List("query" -> JString("Dune"),
          "target_vectors" -> JArray(List(JString("all")))))))))
      out += s"${key}_02_hybrid_group" -> render(binarySearch(gg, base(meta, List(
        groupBy,
        "hybrid_search" -> JObject(List("query" -> JString("Dune"),
          "target_vectors" -> JArray(List(JString("all")))))))))
      out += s"${key}_03_hybrid_neartext_group" -> render(binarySearch(gg, base(meta, List(
        groupBy,
        "hybrid_search" -> JObject(List(
          "alpha" -> JDouble(0.5),
          "near_text" -> JObject(List("query" -> JArray(List(JString("Dune"))))),
          "target_vectors" -> JArray(List(JString("all")))))))))
      out += s"${key}_04_neartext" -> render(binarySearch(gg, base(meta, List(
        "near_text" -> JObject(List("query" -> JArray(List(JString("Dune"))),
          "target_vectors" -> JArray(List(JString("all")))))))))
      out += s"${key}_05_neartext_group" -> render(binarySearch(gg, base(meta, List(
        groupBy,
        "near_text" -> JObject(List("query" -> JArray(List(JString("Dune"))),
          "target_vectors" -> JArray(List(JString("all")))))))))
    }
    steps(s, out.result())
  }

  private def grpcMixedVectorsGate(s: SparkSession): DataFrame = {
    // ClassMixedContextionaryVectorizer (books.go:100-122): a class-level
    // legacy space (vectorizeClassName default true over all props) plus two
    // named spaces; contextionary_all shares the legacy corpus exactly, which
    // the suite pins via byte equality
    val (gg, _) = booksGraft(s,
      Seq("default" -> (true, None), "contextionary_all" -> (true, None),
          "title" -> (false, Some(Seq("title")))),
      defaultVector = Some("default"))
    val out = Seq.newBuilder[(String, String)]

    def base(fields: List[(String, JValue)]): JValue =
      JObject(List("collection" -> JString("Books"),
        "metadata" -> JObject(List("uuid" -> JBool(true), "vector" -> JBool(true))),
        "uses_127_api" -> JBool(true)) ++ fields)

    // search all: every result carries the legacy vector and 2 named spaces;
    // legacy == contextionary_all byte-for-byte (grpc_mixed_vectors_test.go:79-93)
    val (t0, vecs0, legacy0, n0) = binarySearch(gg, base(Nil))
    out += "01_search_all" -> (s"n=$n0;nvecs=${vecs0.size};names=${vecs0.map(_._1).sorted.mkString("|")};" +
      s"legacy_eq_ctx=${vecs0.toMap.get("contextionary_all").contains(legacy0)}")

    Seq("" -> "notgt", "contextionary_all" -> "ctx").foreach { case (tv, key) =>
      def hybridFields(extra: List[(String, JValue)]): List[(String, JValue)] =
        List("hybrid_search" -> JObject(List("query" -> JString("Dune")) ++
          (if (tv.isEmpty) Nil
           else List("targets" -> JObject(List("target_vectors" -> JArray(List(JString(tv))))))) ++
          extra))
      val groupBy = "group_by" -> JObject(List(
        "path" -> JArray(List(JString("title"))),
        "number_of_groups" -> JLong(1), "objects_per_group" -> JLong(1)))

      val (t1, _, _, n1) = binarySearch(gg, base(hybridFields(Nil)))
      out += s"${key}_02_hybrid" -> s"n=$n1;title=$t1"
      val (_, _, _, n2) = binarySearch(gg, base(groupBy :: hybridFields(Nil)))
      out += s"${key}_03_hybrid_group" -> s"groups=$n2"
      val (_, _, _, n3) = binarySearch(gg, base(groupBy :: List(
        "hybrid_search" -> JObject(List(
          "alpha" -> JDouble(0.5),
          "near_text" -> JObject(List("query" -> JArray(List(JString("Dune")))))) ++
          (if (tv.isEmpty) Nil
           else List("targets" -> JObject(List("target_vectors" -> JArray(List(JString(tv)))))))))))
      out += s"${key}_04_hybrid_neartext_group" -> s"groups=$n3"
      val (t4, _, _, _) = binarySearch(gg, base(List(
        "near_text" -> JObject(List("query" -> JArray(List(JString("Dune")))) ++
          (if (tv.isEmpty) Nil
           else List("targets" -> JObject(List("target_vectors" -> JArray(List(JString(tv)))))))))))
      out += s"${key}_05_neartext" -> s"title=$t4"

      // aggregations through the binary AggregateRequest wire
      def agg(search: List[(String, JValue)], top: Boolean = false): String = {
        // the suite requests Text{Count}; the "Dune" topOccurrences pin runs
        // as its own arm with an explicit limit (topOccurences WITHOUT a
        // limit is the reference's TotalTrue quirk, parse_aggregate_request
        // .go:418-425 — wrong aggregator for text)
        val tf: List[(String, JValue)] =
          if (top) List("top_occurences" -> JBool(true), "top_occurences_limit" -> JLong(1))
          else List("count" -> JBool(true))
        val doc = JObject(List(
          "collection" -> JString("Books"), "objects_count" -> JBool(true),
          "aggregations" -> JArray(List(JObject(List(
            "property" -> JString("title"),
            "text" -> JObject(tf)))))) ++ search)
        val params = ProtoWire.aggregateRequest(gg, ProtoWire.write(doc, "AggregateRequest"))
        val df = gg.aggregate(params)
        val row = df.collect().head
        val cols = df.columns.zipWithIndex.toMap
        if (top)
          cols.get("title_topOccurrences").filter(i => !row.isNullAt(i))
            .map(i => "top=" + row.getSeq[Row](i).headOption
              .map(_.getAs[String]("value")).getOrElse("∅")).getOrElse("top=∅")
        else
          "count=" + cols.get("title_count").map(i => row.get(i).toString).getOrElse("?")
      }
      def hybridAgg: List[(String, JValue)] = List(
        "hybrid" -> JObject(List(
          "alpha" -> JDouble(0.5),
          "near_text" -> JObject(List(
            "query" -> JArray(List(JString("dune"))),
            "certainty" -> JDouble(0.7)))) ++
          (if (tv.isEmpty) Nil
           else List("targets" -> JObject(List("target_vectors" -> JArray(List(JString(tv)))))))))
      out += s"${key}_06_agg_simple" -> agg(Nil)
      out += s"${key}_07_agg_hybrid" -> agg(hybridAgg)
      out += s"${key}_08_agg_hybrid_top" -> agg(hybridAgg, top = true)
    }
    steps(s, out.result())
  }

  // ==========================================================================
  // TestGRPC_FilteredSearch (filtered_search_test.go) — Alphabetic bed
  // ==========================================================================

  private def grpcFilteredGate(s: SparkSession): DataFrame = {
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val (gg, errsN) = alphabeticGraft(s)
    val out = Seq.newBuilder[(String, String)]
    out += "01_batch" -> s"errors=$errsN;stored=${gg.collection("Alphabetic").df.count()}"

    def search(value: String, limit: Int, sort: Option[Boolean]): Seq[String] = {
      val doc = JObject(List(
        "collection" -> JString("Alphabetic"),
        "properties" -> JObject(List("non_ref_properties" -> JArray(List(JString("contents"))))),
        "limit" -> JLong(limit),
        "filters" -> JObject(List(
          "operator" -> JString("OPERATOR_NOT_EQUAL"),
          "value_text" -> JString(value),
          "target" -> JObject(List("property" -> JString("contents"))))),
        "uses_123_api" -> JBool(true), "uses_125_api" -> JBool(true)) ++
        sort.map(asc => "sort_by" -> JArray(List(JObject(List(
          "ascending" -> JBool(asc), "path" -> JArray(List(JString("contents")))))))))
      val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
      gg.get(params).select(col("contents")).collect().map(_.getString(0)).toSeq
    }
    runFilteredArms(alpha, search, out)
    steps(s, out.result())
  }

  /** The 676-object alphabet bed is read-only after its batch ingest —
   * session-cached so each timed pass measures the filter arms, not the
   * wire re-import. */
  private def alphabeticGraft(s: SparkSession): (Graft, Int) = cached(s, "alphabetic") {
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val schema = CollectionSchema("Alphabetic", "uuid",
      Seq(Property("contents", PropType.Text, Tokenization.Word)),
      stopwords = StopwordConfig("none"))
    val frame = StructType(Seq(
      StructField("uuid", StringType), StructField("contents", StringType)))
    val st = new graft.sources.CollectionStore(s,
      Gate.tempDir("alpha"), schema)
    st.init(s.createDataFrame(java.util.Collections.emptyList[Row](), frame))
    // 26×26 objects "III J", imported over the binary batch wire like the suite
    val objs = for { i <- 0 until 26; j <- 0 until 26 } yield JObject(List(
      "collection" -> JString("Alphabetic"),
      "uuid" -> JString(f"ab000000-0000-4000-8000-${i * 26 + j}%012d"),
      "properties" -> JObject(List("non_ref_properties" -> JObject(List(
        "contents" -> JString(s"${alpha(i).toString * 3} ${alpha(j)}")))))))
    val (decoded, errs) = ProtoWire.batchObjectsRequest(ProtoWire.write(
      JObject(List("objects" -> JArray(objs.toList))), "BatchObjectsRequest"))
    st.upsert(WireDecoder.batchObjectsFrame(s, st.read().schema, "uuid",
      Map.empty, decoded.map(_._2)))
    val gg = new Graft(s)
    gg.register(schema, st.read().cache())
    (gg, errs.size)
  }

  private def runFilteredArms(alpha: String,
      search: (String, Int, Option[Boolean]) => Seq[String],
      out: scala.collection.mutable.Builder[(String, String), Seq[(String, String)]]): Unit = {

    // the suite's effective NotEqual contract (all three racing sub-arms run
    // the combined "AAA A" value): 26² − 2·26 + 1 rows, none containing
    // either token — replayed for three sample letters
    Seq(0, 12, 25).foreach { i =>
      val c = alpha(i).toString
      val combined = search(s"${c * 3} $c", 676, None)
      out += s"02_${c}_combined" -> (s"n=${combined.size};" +
        s"clean=${combined.forall(v => !v.contains(c * 3) && !v.split(' ').contains(c))}")
      // per-form semantics (searcher.go:869-941): a single term denylists
      // exactly the docs carrying it
      out += s"03_${c}_single" -> s"n=${search(c, 676, None).size}"
      out += s"04_${c}_repeated" -> s"n=${search(c * 3, 676, None).size}"
    }
    // sort + limit arms (ascending / descending 10)
    val asc = search("MMM", 10, Some(true))
    out += "05_sort_asc" -> (s"n=${asc.size};first=${asc.head};last=${asc.last};" +
      s"ordered=${asc == asc.sorted}")
    val desc = search("MMM", 10, Some(false))
    out += "06_sort_desc" -> (s"n=${desc.size};first=${desc.head};last=${desc.last};" +
      s"ordered=${desc == desc.sorted.reverse}")
  }

  // ==========================================================================
  // TestGRPC_Batching (batching_test.go) — the BatchStream frame protocol
  // over the Article/Paragraph bed
  // ==========================================================================

  private def articleStores(s: SparkSession)
      : (Graft, Map[String, graft.sources.CollectionStore]) = {
    import graft.engine.BatchStreamSession
    val aSchema = CollectionSchema("Article", "uuid", Seq(
      Property("title", PropType.Text, Tokenization.Whitespace),
      Property("hasParagraphs", PropType.Ref, refTarget = Some("Paragraph"))))
    val pSchema = CollectionSchema("Paragraph", "uuid", Seq(
      Property("contents", PropType.Text),
      Property("title", PropType.Text, Tokenization.Whitespace)))
    val aFrame = StructType(Seq(
      StructField("uuid", StringType), StructField("title", StringType),
      StructField("hasParagraphs", ArrayType(StringType))))
    val pFrame = StructType(Seq(
      StructField("uuid", StringType), StructField("contents", StringType),
      StructField("title", StringType)))
    val aStore = new graft.sources.CollectionStore(s,
      Gate.tempDir("article"), aSchema)
    aStore.init(s.createDataFrame(java.util.Collections.emptyList[Row](), aFrame))
    val pStore = new graft.sources.CollectionStore(s,
      Gate.tempDir("para"), pSchema)
    pStore.init(s.createDataFrame(java.util.Collections.emptyList[Row](), pFrame))
    val gg = new Graft(s)
    gg.register(aSchema, aStore.read())
    gg.register(pSchema, pStore.read())
    (gg, Map("Article" -> aStore, "Paragraph" -> pStore))
  }

  private def batchObj(cls: String, uuid: String, tenant: Option[String] = None,
                       vector: Option[Seq[Float]] = None): JValue =
    JObject(List("collection" -> JString(cls), "uuid" -> JString(uuid)) ++
      tenant.map(t => "tenant" -> JString(t)) ++
      vector.map(v => "vectors" -> JArray(List(JObject(List(
        "name" -> JString("default"), "vector_bytes" -> JString(b64Fp32(v))))))))

  private def batchRef(name: String, fromCls: String, fromUuid: String,
                       toUuid: String): JValue =
    JObject(List("name" -> JString(name), "from_collection" -> JString(fromCls),
      "from_uuid" -> JString(fromUuid), "to_uuid" -> JString(toUuid)))

  private def streamFrame(body: (String, JValue)): Array[Byte] =
    ProtoWire.write(JObject(List(body)), "BatchStreamRequest")

  private def dataFrame(objs: Seq[JValue], refs: Seq[JValue]): Array[Byte] =
    streamFrame("data" -> JObject(
      (if (objs.isEmpty) Nil
       else List("objects" -> JObject(List("values" -> JArray(objs.toList))))) ++
      (if (refs.isEmpty) Nil
       else List("references" -> JObject(List("values" -> JArray(refs.toList)))))))

  /** Render one reply frame compactly: kind plus the detail lists. */
  private def renderReply(bytes: Array[Byte]): String = {
    val jv = ProtoWire.read(bytes, "BatchStreamReply")
    def list(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.map(_.values.toString)
      case JNothing => Nil
      case o => Seq(o.values.toString)
    }
    Seq("started", "shutting_down", "backoff", "acks", "out_of_memory", "results")
      .collectFirst {
        case k if (jv \ k) != JNothing =>
          val body = jv \ k
          k match {
            case "acks" => s"acks[u=${list(body \ "uuids").size},b=${list(body \ "beacons").size}]"
            case "out_of_memory" => s"oom[u=${list(body \ "uuids").size}]"
            case "backoff" => s"backoff[${(body \ "batch_size").values}]"
            case "results" =>
              def det(e: JValue): String =
                (e \ "uuid") match { case JString(u) => s"u:$u"; case _ => s"b:${(e \ "beacon").values}" }
              val errs = (body \ "errors") match {
                case JArray(xs) => xs.map(e => s"${det(e)}=${(e \ "error").values}")
                case _ => Nil
              }
              val oks = (body \ "successes") match {
                case JArray(xs) => xs.map(det)
                case _ => Nil
              }
              s"results[ok=${oks.mkString("|")};err=${errs.mkString("|")}]"
            case other => other
          }
      }.getOrElse("?")
  }

  private def grpcBatchGate(s: SparkSession): DataFrame = {
    import graft.engine.BatchStreamSession
    val out = Seq.newBuilder[(String, String)]
    def uuidOf(prefix: Int, i: Int): String = f"ac00000$prefix-0000-4000-8000-$i%012d"

    // -- arm 1: objects + references without errors -------------------------
    {
      val (gg, stores) = articleStores(s)
      val sess = new BatchStreamSession(gg, stores)
      val (u0, u1, u2) = (uuidOf(1, 0), uuidOf(1, 1), uuidOf(1, 2))
      val r1 = sess.feed(streamFrame("start" -> JObject(Nil))).map(renderReply)
      val r2 = sess.feed(dataFrame(
        Seq(batchObj("Article", u0), batchObj("Paragraph", u1), batchObj("Paragraph", u2)),
        Seq(batchRef("hasParagraphs", "Article", u0, u1),
            batchRef("hasParagraphs", "Article", u0, u2)))).map(renderReply)
      val r3 = sess.feed(streamFrame("stop" -> JObject(Nil))).map(renderReply)
      out += "a1_01_frames" -> (r1 ++ r2.map(_.replace(u0, "U0").replace(u1, "U1")
        .replace(u2, "U2")) ++ r3).mkString(";")
      val arts = stores("Article").read()
      out += "a1_02_article_refs" -> (s"articles=${arts.count()};" +
        s"paras=${stores("Paragraph").read().count()};" +
        s"has=${arts.select(size(col("hasParagraphs"))).collect().head.getInt(0)}")
    }
    // -- arm 2: per-object tenant error --------------------------------------
    {
      val (gg, stores) = articleStores(s)
      val sess = new BatchStreamSession(gg, stores)
      val us = (0 to 2).map(uuidOf(2, _))
      sess.feed(streamFrame("start" -> JObject(Nil)))
      val rs = sess.feed(dataFrame(Seq(
        batchObj("Article", us(0)),
        batchObj("Article", us(1), tenant = Some("tenant")),
        batchObj("Article", us(2))), Nil)).map(renderReply)
      out += "a2_01_frames" -> rs.map(r => us.zipWithIndex.foldLeft(r) {
        case (acc, (u, i)) => acc.replace(u, s"U$i") }).mkString(";")
      out += "a2_02_stored" -> s"articles=${stores("Article").read().count()}"
    }
    // -- arm 3: per-reference error -------------------------------------------
    {
      val (gg, stores) = articleStores(s)
      val sess = new BatchStreamSession(gg, stores)
      val (u0, u1) = (uuidOf(3, 0), uuidOf(3, 1))
      sess.feed(streamFrame("start" -> JObject(Nil)))
      val rs = sess.feed(dataFrame(
        Seq(batchObj("Article", u0), batchObj("Paragraph", u1)),
        Seq(batchRef("hasParagraphs", "Article", u0, u0),
            batchRef("hasParagraphss", "Article", u0, u1)))).map(renderReply)
      out += "a3_01_frames" -> rs.map(_.replace(u0, "U0").replace(u1, "U1")).mkString(";")
      out += "a3_02_refs" -> ("has=" + stores("Article").read()
        .filter(col("uuid") === u0).select(size(col("hasParagraphs")))
        .collect().head.getInt(0))
    }
    // -- arm 4: scaled frames, then binary aggregate + ref-requested search --
    {
      val (gg, stores) = articleStores(s)
      val sess = new BatchStreamSession(gg, stores)
      sess.feed(streamFrame("start" -> JObject(Nil)))
      val numArticles = 200; val parasPer = 10
      var acks = 0
      (0 until numArticles).grouped(100).foreach { chunk =>
        val objs = Seq.newBuilder[JValue]; val refs = Seq.newBuilder[JValue]
        chunk.foreach { i =>
          val aU = uuidOf(4, i)
          objs += batchObj("Article", aU)
          (0 until parasPer).foreach { j =>
            val pU = uuidOf(5, i * parasPer + j)
            objs += batchObj("Paragraph", pU)
            refs += batchRef("hasParagraphs", "Article", aU, pU)
          }
        }
        val rs = sess.feed(dataFrame(objs.result(), refs.result())).map(renderReply)
        acks += rs.count(_.startsWith("acks"))
      }
      sess.feed(streamFrame("stop" -> JObject(Nil)))
      def aggCount(cls: String): String = {
        val doc = JObject(List("collection" -> JString(cls), "objects_count" -> JBool(true)))
        val df = gg.aggregate(ProtoWire.aggregateRequest(gg, ProtoWire.write(doc, "AggregateRequest")))
        df.collect().head.get(df.columns.indexOf("meta_count")).toString
      }
      out += "a4_01_counts" -> (s"acks=$acks;articles=${aggCount("Article")};" +
        s"paras=${aggCount("Paragraph")}")
      val searchDoc = JObject(List(
        "collection" -> JString("Article"), "limit" -> JLong(numArticles.toLong),
        "properties" -> JObject(List("ref_properties" -> JArray(List(JObject(List(
          "reference_property" -> JString("hasParagraphs"))))))),
        "uses_127_api" -> JBool(true)))
      val params = ProtoWire.searchRequest(gg, ProtoWire.write(searchDoc, "SearchRequest"))
      val page = gg.get(params)
      val sizes = page.select(size(col("hasParagraphs_resolved")).as("n"))
        .groupBy(col("n")).count().collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      out += "a4_02_search_refs" -> (s"rows=${page.count()};" +
        s"all10=${sizes == Map(parasPer -> numArticles.toLong)}")
    }
    // -- arm 4b: the unary BatchReferencesRequest RPC (batch_references_test
    //    .go): with/without to_collection plus a duplicate edge — no errors,
    //    the duplicate dedupes to 2 resolved references ----------------------
    {
      val (gg, stores) = articleStores(s)
      import s.implicits._
      val (u0, u1, u2) = ("00000000-0000-0000-0000-000000000001",
        "00000000-0000-0000-0000-000000000002", "00000000-0000-0000-0000-000000000003")
      stores("Article").upsert(Seq((u0, null: Seq[String], "Article 1"))
        .toDF("uuid", "hasParagraphs", "title"))
      stores("Paragraph").upsert(Seq((u1, "Paragraph 1", null: String),
        (u2, "Paragraph 2", null: String)).toDF("uuid", "contents", "title"))
      val doc = JObject(List("references" -> JArray(List(
        JObject(List("name" -> JString("hasParagraphs"),
          "from_collection" -> JString("Article"), "to_collection" -> JString("Paragraph"),
          "from_uuid" -> JString(u0), "to_uuid" -> JString(u1))),
        batchRef("hasParagraphs", "Article", u0, u2),
        JObject(List("name" -> JString("hasParagraphs"),
          "from_collection" -> JString("Article"), "to_collection" -> JString("Paragraph"),
          "from_uuid" -> JString(u0), "to_uuid" -> JString(u1)))))))
      val back = ProtoWire.read(ProtoWire.write(doc, "BatchReferencesRequest"),
        "BatchReferencesRequest")
      val refs = (back \ "references") match { case JArray(xs) => xs; case o => List(o) }
      var errs = 0
      refs.foreach { r =>
        val cls = (r \ "from_collection").values.toString
        val prop = (r \ "name").values.toString
        if (!stores(cls).schema.property(prop).exists(_.dataType == graft.model.PropType.Ref)) errs += 1
        else stores(cls).addReferences(prop,
          Seq(((r \ "from_uuid").values.toString, (r \ "to_uuid").values.toString))
            .toDF("uuid", "target"))
      }
      val n = stores("Article").read().filter(col("uuid") === u0)
        .select(size(col("hasParagraphs"))).collect().head.getInt(0)
      out += "a4b_unary_refs" -> s"errors=$errs;has=$n"
    }
    // -- arm 5: out-of-memory reply sequence ---------------------------------
    {
      val (gg, stores) = articleStores(s)
      val sess = new BatchStreamSession(gg, stores, memLimitBytes = 64 * 1024)
      sess.feed(streamFrame("start" -> JObject(Nil)))
      val objs = (0 until 100).map(i =>
        batchObj("Article", uuidOf(6, i), vector = Some(Seq.fill(512)(0.5f))))
      val rs = sess.feed(dataFrame(objs, Nil)).map(renderReply)
      out += "a5_01_frames" -> rs.mkString(";")
      out += "a5_02_unapplied" -> s"articles=${stores("Article").read().count()}"
    }
    steps(s, out.result())
  }

  // ==========================================================================
  // TestQueryHybrid* (test/acceptance/mcp/query_hybrid_test.go) — the MCP
  // weaviate-query-hybrid tool over the TestArticle bed
  // ==========================================================================

  private def mcpHybridGate(s: SparkSession): DataFrame = {
    import graft.engine.McpSearch
    val gg = mcpGraft(s)
    runMcpArms(s, gg)
  }

  /** The TestArticle/TestArticleMT beds are read-only after registration —
   * session-cached like the other acceptance beds. */
  private def mcpGraft(s: SparkSession): Graft = cached(s, "mcp") {
    val schema = CollectionSchema("TestArticle", "uuid", Seq(
      Property("title", PropType.Text),
      Property("contents", PropType.Text),
      Property("author", PropType.Text),
      Property("year", PropType.Int),
      Property("status", PropType.Text),
      Property("publishDate", PropType.Date)),
      creationTimeColumn = Some("created"), updateTimeColumn = Some("updated"),
      timestampUnit = "ms")
    def ts(v: String) = java.sql.Timestamp.from(java.time.OffsetDateTime.parse(v).toInstant)
    val bed = Seq(
      ("Machine Learning Basics", "An introduction to machine learning concepts and algorithms", "John Doe", 2020L, "published", "2020-01-15T10:00:00Z"),
      ("Deep Learning Advanced", "Advanced deep learning techniques for neural networks", "Jane Smith", 2022L, "published", "2022-06-20T14:30:00Z"),
      ("Python Programming", "Learn Python programming from scratch", "Bob Johnson", 2019L, "draft", "2019-03-10T08:00:00Z"),
      ("Data Science Guide", "A comprehensive guide to data science and analytics", "Alice Brown", 2023L, "published", "2023-09-05T12:00:00Z"),
      ("Neural Networks Explained", "Understanding neural networks and their applications", "John Doe", 2021L, "published", "2021-11-30T16:45:00Z"),
      ("Reinforcement Learning Guide", "Complete guide to reinforcement learning algorithms and applications", "Jane Smith", 2021L, "published", "2021-03-15T09:00:00Z"))
    val rows = bed.zipWithIndex.map { case ((t, c, a, y, st, d), i) =>
      Row(f"3c9a0000-0000-4000-8000-$i%012d", t, c, a, y, st, ts(d),
        1700000000000L + i, 1700000000000L + i)
    }
    val gg = new Graft(s)
    gg.register(schema, s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("uuid", StringType), StructField("title", StringType),
      StructField("contents", StringType), StructField("author", StringType),
      StructField("year", LongType), StructField("status", StringType),
      StructField("publishDate", TimestampType),
      StructField("created", LongType), StructField("updated", LongType)))))

    val mtSchema = CollectionSchema("TestArticleMT", "uuid", Seq(
      Property("title", PropType.Text), Property("contents", PropType.Text)),
      tenantColumn = Some("tenant"))
    val mtRows = Seq(
      ("Tenant A Article 1", "Machine learning for tenant A", "tenant-a"),
      ("Tenant A Article 2", "Deep learning algorithms", "tenant-a"),
      ("Tenant B Article 1", "Data science basics", "tenant-b")).zipWithIndex.map {
      case ((t, c, tn), i) => Row(f"3c9b0000-0000-4000-8000-$i%012d", t, c, tn)
    }
    gg.register(mtSchema, s.createDataFrame(java.util.Arrays.asList(mtRows: _*),
      StructType(Seq(StructField("uuid", StringType), StructField("title", StringType),
        StructField("contents", StringType), StructField("tenant", StringType)))))
    gg.addTenants("TestArticleMT", Seq(Tenant("tenant-a"), Tenant("tenant-b")))
    gg
  }

  private def runMcpArms(s: SparkSession, gg: Graft): DataFrame = {
    import graft.engine.McpSearch
    val out = Seq.newBuilder[(String, String)]
    def run(json: String): DataFrame = McpSearch.queryHybrid(gg, json)
    def titles(json: String): Seq[String] =
      run(json).select(col("title")).collect().map(_.getString(0)).toSeq

    val t1 = titles("""{"collection_name": "TestArticle", "query": "machine learning", "alpha": 0.0}""")
    out += "m01_pure_bm25" -> s"n=${t1.size};first=${t1.head}"
    out += "m02_limit" -> (s"n2=${titles("""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0, "limit": 2}""").size};" +
      s"n0=${run("""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0, "limit": 0}""").count()}")
    val specific = run("""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0,
      "return_properties": ["title", "author"]}""")
    out += "m03_specific_props" -> s"n=${specific.count()};cols=${specific.columns.sorted.mkString("|")}"
    val allProps = run("""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0}""")
    out += "m04_all_props" -> s"cols=${allProps.columns.sorted.mkString("|")}"
    val meta = run("""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0,
      "return_metadata": ["id", "score", "creationTimeUnix"]}""")
    out += "m05_metadata" -> ("has=" + Seq("_id", "_score", "_creationTimeUnix")
      .filter(meta.columns.contains).mkString("|"))
    val meta2 = run("""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0,
      "return_metadata": ["explainScore", "lastUpdateTimeUnix"]}""")
    out += "m06_metadata2" -> ("has_update=" + meta2.columns.contains("_lastUpdateTimeUnix") +
      ";has_explain=" + meta2.columns.contains(graft.operators.HybridSearch.ExplainCol))
    val t6 = titles("""{"collection_name": "TestArticle", "query": "Python", "alpha": 0.0,
      "target_properties": ["title"]}""")
    out += "m07_target_title" -> s"n=${t6.size};title=${t6.head}"
    def filtered(f: String): DataFrame =
      run(s"""{"collection_name": "TestArticle", "query": "learning", "alpha": 0.0, "filters": $f}""")
    val f1 = filtered("""{"path": ["status"], "operator": "Equal", "valueText": "published"}""")
    out += "m08_filter_status" -> (s"n=${f1.count()};" +
      s"all_published=${f1.select(col("status")).collect().forall(_.getString(0) == "published")}")
    out += "m09_filter_year" -> ("n=" + filtered(
      """{"path": ["year"], "operator": "GreaterThanEqual", "valueInt": 2020}""").count())
    out += "m10_filter_date" -> ("n=" + filtered(
      """{"path": ["publishDate"], "operator": "GreaterThanEqual", "valueDate": "2021-01-01T00:00:00Z"}""").count())
    out += "m11_filter_and" -> ("n=" + filtered(
      """{"operator": "And", "operands": [
        {"path": ["status"], "operator": "Equal", "valueText": "published"},
        {"path": ["year"], "operator": "GreaterThanEqual", "valueInt": 2020}]}""").count())
    val orDf = filtered("""{"operator": "Or", "operands": [
      {"path": ["author"], "operator": "Equal", "valueText": "John Doe"},
      {"path": ["author"], "operator": "Equal", "valueText": "Jane Smith"}]}""")
    out += "m12_filter_or" -> (s"n=${orDf.count()};authors_ok=${orDf.select(col("author"))
      .collect().forall(r => Set("John Doe", "Jane Smith")(r.getString(0)))}")

    // multi-tenant arm (TestQueryHybridWithTenant) — bed registered in mcpGraft
    {
      val ta = McpSearch.queryHybrid(gg, """{"collection_name": "TestArticleMT",
        "query": "learning", "alpha": 0.0, "tenant_name": "tenant-a"}""")
        .select(col("title")).collect().map(_.getString(0))
      out += "m13_tenant" -> s"n=${ta.length};all_a=${ta.forall(_.contains("Tenant A"))}"
    }

    out += "m14_empty_query" -> ("n=" +
      run("""{"collection_name": "TestArticle", "query": "", "alpha": 0.0}""").count())
    out += "m15_no_results" -> ("n=" +
      run("""{"collection_name": "TestArticle", "query": "xyznonexistentquery12345", "alpha": 0.0}""").count())
    out += "m16_unknown_collection" -> (try {
      run("""{"collection_name": "NonExistentCollection123", "query": "test", "alpha": 0.0}""")
      "ok"
    } catch { case e: Exception => s"error=${e.getMessage.take(40)}" })
    // absent alpha → DefaultAlpha 0.75; without a vectorizer the dense leg
    // stays sparse-only and BM25 still returns results (the test's success
    // branch)
    out += "m17_default_alpha" -> ("n=" +
      run("""{"collection_name": "TestArticle", "query": "learning"}""").count())
    out += "m18_tools_list" -> McpSearch.toolDescriptor.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(";")
    steps(s, out.result())
  }

  // ==========================================================================

  // ==========================================================================
  // TestGRPC_Aggregate (grpc_aggregate_test.go) — binary AggregateRequests
  // over the cities sample bed
  // ==========================================================================

  /** Go RFC3339Nano over an int64 NANOSECOND value — including the
   * reference's pre-1677 wraparound: dates below int64-ns range overflow,
   * so cityRights 1135/1283/1400 render as 1719/1867/1984 with the
   * .709551616 artifact (the suite pins these verbatim,
   * grpc_aggregate_test.go:199-202). */
  private def renderNs(ns: Long): String = {
    val whole = Math.floorDiv(ns, 1000000000L)
    val frac = Math.floorMod(ns, 1000000000L)
    val base = java.time.format.DateTimeFormatter.ISO_INSTANT
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(whole)).stripSuffix("Z")
    val f = frac.toString.reverse.padTo(9, '0').reverse.reverse.dropWhile(_ == '0').reverse
    if (f.isEmpty) s"${base}Z" else s"$base.${f}Z"
  }

  /** City twin whose cityRights column is the reference's PHYSICAL form —
   * int64 nanoseconds, wrapping exactly like Go for pre-1677 dates. */
  private def cityNsGraft(s: SparkSession): Graft = cached(s, "cityns") {
    val city = CitiesFixture.graft(s).collection("City").df
    val rows = city.select(col("uuid"), col("name"), col("cityRights"),
      col("timezones")).collect().map { r =>
      val ns: java.lang.Long =
        if (r.isNullAt(2)) null
        else java.lang.Long.valueOf(r.getTimestamp(2).getTime * 1000000L) // wraps like Go int64
      Row(r.getString(0), r.getString(1), ns, r.getSeq[String](3))
    }.toSeq
    val gg = new Graft(s)
    gg.register(CollectionSchema("CityNs", "uuid", Seq(
      Property("name", PropType.Text),
      Property("cityRights", PropType.Date),
      Property("timezones", PropType.Arr(PropType.Text), Tokenization.Whitespace)),
      timestampUnit = "ns"),
      s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("uuid", StringType), StructField("name", StringType),
        StructField("cityRights", LongType),
        StructField("timezones", ArrayType(StringType))))).cache())
    gg
  }

  private def grpcAggGate(s: SparkSession): DataFrame = {
    val gg = CitiesFixture.graft(s)
    val out = Seq.newBuilder[(String, String)]
    def agg(doc: JValue, g: Graft = gg): DataFrame =
      g.aggregate(ProtoWire.aggregateRequest(g, ProtoWire.write(doc, "AggregateRequest")))
    def cell(df: DataFrame, row: Row, name: String): String = {
      val i = df.columns.indexOf(name)
      if (i < 0 || row.isNullAt(i)) "∅" else row.get(i) match {
        case d: Double =>
          if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
        case xs: scala.collection.Seq[_] => xs.map {
          case r: Row => s"${r.getAs[String]("value")}x${r.getAs[Any]("occurs")}"
          case o => o.toString
        }.mkString("|")
        case o => o.toString
      }
    }

    // -- meta counts ---------------------------------------------------------
    Seq("Country" -> 0, "City" -> 1, "Airport" -> 2).foreach { case (cls, i) =>
      val df = agg(JObject(List("collection" -> JString(cls), "objects_count" -> JBool(true))))
      out += s"g0${i + 1}_count_$cls" -> s"count=${cell(df, df.collect().head, "meta_count")}"
    }

    // -- per-type aggregations over City -------------------------------------
    def aggregation(prop: String, kind: String, flags: Seq[String]): JValue =
      JObject(List("collection" -> JString("City"),
        "aggregations" -> JArray(List(JObject(List(
          "property" -> JString(prop),
          kind -> JObject(flags.toList.map(_ -> JBool(true)))))))))
    val num = agg(aggregation("population", "int",
      Seq("count", "type", "mean", "maximum", "minimum", "sum")))
    val nr = num.collect().head
    out += "g04_int" -> Seq("count", "type", "mean", "maximum", "minimum", "sum")
      .map(k => s"$k=${cell(num, nr, s"population_$k")}").mkString(";")
    val txt = agg(aggregation("name", "text", Seq("type", "top_occurences")))
    val tr = txt.collect().head
    out += "g05_text" -> (s"type=${cell(txt, tr, "name_type")};" +
      s"top=${cell(txt, tr, "name_topOccurrences")}")
    val bool = agg(aggregation("isCapital", "boolean",
      Seq("count", "type", "total_true", "total_false", "percentage_true", "percentage_false")))
    val br = bool.collect().head
    out += "g06_boolean" -> Seq("count", "type", "totalTrue", "totalFalse",
      "percentageTrue", "percentageFalse")
      .map(k => s"$k=${cell(bool, br, s"isCapital_$k")}").mkString(";")
    // the date arms run on the ns twin — the int64 wraparound is the
    // reference's own physical behavior for pre-1677 dates
    val dg = cityNsGraft(s)
    val date = agg(JObject(List("collection" -> JString("CityNs"),
      "aggregations" -> JArray(List(JObject(List(
        "property" -> JString("cityRights"),
        "date" -> JObject(List("count" -> JBool(true), "type" -> JBool(true),
          "maximum" -> JBool(true), "median" -> JBool(true),
          "minimum" -> JBool(true), "mode" -> JBool(true))))))))), dg)
    val dr = date.collect().head
    def dcell(name: String): String = {
      val i = date.columns.indexOf(name)
      if (i < 0 || dr.isNullAt(i)) "∅"
      else renderNs(dr.get(i) match {
        case l: Long => l
        case d: Double => math.round(d)
        case o => o.toString.toDouble.round
      })
    }
    out += "g07_date" -> (s"count=${cell(date, dr, "cityRights_count")};" +
      s"max=${dcell("cityRights_maximum")};median=${dcell("cityRights_median")};" +
      s"min=${dcell("cityRights_minimum")};mode=${dcell("cityRights_mode")}")
    val ref = agg(aggregation("inCountry", "reference", Seq("type", "pointing_to")))
    val rr = ref.collect().head
    out += "g08_reference" -> (s"type=${cell(ref, rr, "inCountry_type")};" +
      s"pointingTo=${cell(ref, rr, "inCountry_pointingTo")}")

    // -- filtered multi-aggregation (is not capital) --------------------------
    val filteredDoc = JObject(List("collection" -> JString("City"),
      "objects_count" -> JBool(true),
      "filters" -> JObject(List("operator" -> JString("OPERATOR_EQUAL"),
        "value_boolean" -> JBool(false), "on" -> JArray(List(JString("isCapital"))))),
      "aggregations" -> JArray(List(
        JObject(List("property" -> JString("inCountry"),
          "reference" -> JObject(List("type" -> JBool(true), "pointing_to" -> JBool(true))))),
        JObject(List("property" -> JString("name"),
          "text" -> JObject(List("count" -> JBool(true), "type" -> JBool(true),
            "top_occurences" -> JBool(true))))),
        JObject(List("property" -> JString("population"),
          "int" -> JObject(List("mean" -> JBool(true), "count" -> JBool(true),
            "maximum" -> JBool(true), "minimum" -> JBool(true), "sum" -> JBool(true),
            "type" -> JBool(true), "mode" -> JBool(true)))))))))
    val fd = agg(filteredDoc)
    val fr = fd.collect().head
    out += "g09_filtered" -> (Seq(
      s"refType=${cell(fd, fr, "inCountry_type")}",
      s"pointingTo=${cell(fd, fr, "inCountry_pointingTo")}",
      s"nameTop=${cell(fd, fr, "name_topOccurrences")}",
      s"popCount=${cell(fd, fr, "population_count")}",
      s"popMax=${cell(fd, fr, "population_maximum")}",
      s"popMean=${cell(fd, fr, "population_mean")}",
      s"popMin=${cell(fd, fr, "population_minimum")}",
      s"popMode=${cell(fd, fr, "population_mode")}",
      s"popSum=${cell(fd, fr, "population_sum")}").mkString(";"))

    // -- groupBy cityRights on the ns twin ------------------------------------
    val gby = agg(JObject(List("collection" -> JString("CityNs"),
      "group_by" -> JObject(List("collection" -> JString("CityNs"),
        "property" -> JString("cityRights"))),
      "aggregations" -> JArray(List(
        JObject(List("property" -> JString("cityRights"),
          "date" -> JObject(List("count" -> JBool(true), "median" -> JBool(true))))),
        JObject(List("property" -> JString("timezones"),
          "text" -> JObject(List("count" -> JBool(true), "type" -> JBool(true),
            "top_occurences" -> JBool(true))))),
        JObject(List("property" -> JString("name"),
          "text" -> JObject(List("count" -> JBool(true))))))))), dg)
    val gcols = gby.columns
    gby.collect().filter(r => !r.isNullAt(gcols.indexOf("groupedBy_value"))).sortBy(r =>
      r.get(gcols.indexOf("groupedBy_value")).toString).zipWithIndex.foreach { case (r, i) =>
      def c(n: String) = { val j = gcols.indexOf(n)
        if (j < 0 || r.isNullAt(j)) "∅" else r.get(j) match {
          case xs: scala.collection.Seq[_] => xs.map {
            case row: Row => s"${row.getAs[String]("value")}x${row.getAs[Any]("occurs")}"
            case o => o.toString }.mkString("|")
          case o => o.toString } }
      val keyNs = r.get(gcols.indexOf("groupedBy_value")).toString.toLong
      val medNs = { val j = gcols.indexOf("cityRights_median")
        r.get(j) match { case d: Double => math.round(d); case l: Long => l } }
      out += f"g10_group$i%02d" -> (s"key=${renderNs(keyNs)};" +
        s"n=${c("cityRights_count")};median=${renderNs(medNs)};" +
        s"names=${c("name_count")};tzType=${c("timezones_type")};" +
        s"tzCount=${c("timezones_count")};tzTop=${c("timezones_topOccurrences")}")
    }

    // -- nearText / nearObject / nearVector scoped aggregation ----------------
    val amsVec = gg.collection("City").df
      .filter(col("name") === "Amsterdam").select(col("vector"))
      .collect().head.getSeq[Float](0)
    def searchArm(key: String, leg: (String, JValue)): Unit = {
      val doc = JObject(List("collection" -> JString("City"),
        "objects_count" -> JBool(true),
        "filters" -> JObject(List("operator" -> JString("OPERATOR_EQUAL"),
          "value_boolean" -> JBool(true), "on" -> JArray(List(JString("isCapital"))))),
        leg,
        "aggregations" -> JArray(List(
          JObject(List("property" -> JString("population"),
            "int" -> JObject(List("count" -> JBool(true), "type" -> JBool(true),
              "mean" -> JBool(true), "maximum" -> JBool(true), "minimum" -> JBool(true),
              "sum" -> JBool(true), "mode" -> JBool(true))))),
          JObject(List("property" -> JString("name"),
            "text" -> JObject(List("count" -> JBool(true), "type" -> JBool(true),
              "top_occurences" -> JBool(true)))))))))
      val df = agg(doc)
      val r = df.collect().head
      out += key -> (s"popCount=${cell(df, r, "population_count")};" +
        s"popSum=${cell(df, r, "population_sum")};nameTop=${cell(df, r, "name_topOccurrences")}")
    }
    searchArm("g11_neartext", "near_text" -> JObject(List(
      "query" -> JArray(List(JString("Amsterdam"))), "distance" -> JDouble(0.2))))
    val amsId = gg.collection("City").df.filter(col("name") === "Amsterdam")
      .select(col("uuid")).collect().head.getString(0)
    searchArm("g12_nearobject", "near_object" -> JObject(List(
      "id" -> JString(amsId), "distance" -> JDouble(0.2))))
    searchArm("g13_nearvector", "near_vector" -> JObject(List(
      "vector" -> JArray(amsVec.toList.map(v => JDouble(v.toDouble))),
      "distance" -> JDouble(0.2))))
    steps(s, out.result())
  }

  // ==========================================================================
  // MCP objects_upsert + get_config (test/acceptance/mcp/
  // objects_upsert_test.go 1,056 lines + get_config_test.go)
  // ==========================================================================

  /** The `weaviate-objects-upsert` tool driven through McpCreate onto real
   * CollectionStores (MUTATING — fresh temp roots per run, never
   * session-cached), plus the read tools get-config/tenants-list. Function-
   * level vs per-item error split, tenant gates, property validation texts,
   * the named-vector config check, and the dimension contract. */
  private def mcpUpsertGate(s: SparkSession): DataFrame = {
    import graft.engine.{McpCreate, McpRead}
    val out = Seq.newBuilder[(String, String)]
    var ctr = 0
    def nextId(): String = { ctr += 1; f"0dc00000-0000-4000-8000-$ctr%012d" }
    val gg = new Graft(s)
    val stores = scala.collection.mutable.Map.empty[String, graft.sources.CollectionStore]
    def mkClass(schema: CollectionSchema, extraCols: Seq[StructField],
                seed: Seq[Row] = Nil): Unit = {
      val struct = StructType(StructField("uuid", StringType) +:
        (schema.properties.map(p => StructField(p.name, p.dataType match {
          case PropType.Text => StringType
          case PropType.Int => LongType
          case PropType.Number => DoubleType
          case PropType.Bool => BooleanType
          case PropType.Date => TimestampType
          case PropType.Arr(PropType.Text) => ArrayType(StringType)
          case PropType.Arr(PropType.Int) => ArrayType(LongType)
          case other => throw new IllegalArgumentException(s"$other")
        })) ++ extraCols))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir(s"mcpup-${schema.name}"),
        schema)
      st.init(s.createDataFrame(java.util.Arrays.asList(seed: _*), struct))
      stores(schema.name) = st
      gg.register(schema, st.read())
    }
    mkClass(CollectionSchema("Paragraph", "uuid", Seq(
      Property("contents", PropType.Text), Property("title", PropType.Text)),
      vectors = Map("default" -> "vec"), defaultVector = Some("default")),
      Seq(StructField("vec", ArrayType(FloatType))))
    // a tenant-partitioned store writes no partition files on an EMPTY init
    // (the schemaDefaultsGate precedent), so the MT class seeds one
    // tenant2 row the arms never address
    mkClass(CollectionSchema("ParagraphMT", "uuid", Seq(
      Property("contents", PropType.Text), Property("title", PropType.Text)),
      tenantColumn = Some("tenant")), Seq(StructField("tenant", StringType)),
      seed = Seq(Row("0dc0ffff-0000-4000-8000-000000000000", "seed", "seed", "tenant2")))
    gg.addTenants("ParagraphMT", Seq(Tenant("tenant1"), Tenant("tenant2")))
    mkClass(CollectionSchema("ComplexObject", "uuid", Seq(
      Property("textProp", PropType.Text), Property("intProp", PropType.Int),
      Property("numberProp", PropType.Number), Property("boolProp", PropType.Bool),
      Property("dateProp", PropType.Date),
      Property("textArrayProp", PropType.Arr(PropType.Text)),
      Property("intArrayProp", PropType.Arr(PropType.Int)))), Nil)

    def upsert(json: String): String =
      try McpCreate.upsertObjects(gg, json, stores.get, () => nextId())
        .map(r => if (r.error.nonEmpty) s"err(${r.error})" else r.id)
        .mkString(",")
      catch { case e: Exception => s"throw(${e.getMessage})" }
    def propOf(cls: String, id: String, prop: String,
               tenant: Option[String] = None): String = {
      val df0 = stores(cls).read().filter(col("uuid") === id)
      val df = tenant.map(t => df0.filter(col("tenant") === t)).getOrElse(df0)
      df.select(col(prop)).collect().headOption
        .map(r => if (r.isNullAt(0)) "null" else r.get(0) match {
          case xs: scala.collection.Seq[_] => xs.mkString("[", "+", "]")
          case v => v.toString
        }).getOrElse("absent")
    }
    def o(props: String, extra: String = ""): String = s"""{"properties": {$props}$extra}"""
    def call(cls: String, objects: String*): String =
      s"""{"collection_name": "$cls", "objects": [${objects.mkString(",")}]}"""

    // insert one / multiple (ids 1..4), then verify through the store
    out += "u01_insert_one" -> upsert(call("Paragraph",
      o(""""contents": "Test Article Content", "title": "Test Article"""")))
    out += "u01_verify" -> (propOf("Paragraph", "0dc00000-0000-4000-8000-000000000001", "contents") +
      "|" + propOf("Paragraph", "0dc00000-0000-4000-8000-000000000001", "title"))
    out += "u02_insert_multi" -> upsert(call("Paragraph",
      o(""""contents": "First Article Content", "title": "First Article""""),
      o(""""contents": "Second Article Content", "title": "Second Article""""),
      o(""""contents": "Third Article Content", "title": "Third Article"""")))
    out += "u02_verify" -> propOf("Paragraph", "0dc00000-0000-4000-8000-000000000003", "contents")
    // update via the same uuid (same id comes back, props replaced)
    val exist = "0dc00000-0000-4000-8000-000000000001"
    out += "u03_update" -> upsert(call("Paragraph",
      o(""""contents": "Updated Content", "title": "Updated Title"""", s""", "uuid": "$exist"""")))
    out += "u03_verify" -> propOf("Paragraph", exist, "contents")
    // mixed update + inserts: first keeps the uuid, the rest get fresh ones
    out += "u04_mixed" -> upsert(call("Paragraph",
      o(""""contents": "Updated Existing Content"""", s""", "uuid": "$exist""""),
      o(""""contents": "New Content 1", "title": "New Title 1""""),
      o(""""contents": "New Content 2", "title": "New Title 2"""")))
    // custom vector on the default space
    out += "u05_vector" -> upsert(call("Paragraph",
      o(""""contents": "Article with custom vector", "title": "Vector Test"""",
        """, "vectors": {"default": [0.1, 0.2, 0.3, 0.4, 0.5]}""")))
    out += "u05_verify" -> ("dim=" + {
      val r = stores("Paragraph").read()
        .filter(col("uuid") === "0dc00000-0000-4000-8000-000000000007")
        .select(size(col("vec"))).collect().head.getInt(0)
      r.toString
    })
    // function-level errors: empty batch, malformed uuid
    out += "u06_empty" -> upsert(call("Paragraph"))
    out += "u07_unknown_class" -> upsert(call("NonExistentCollection9999",
      o(""""contents": "Test Content"""")))
    out += "u11_invalid_uuid" -> upsert(call("Paragraph",
      o(""""contents": "Test Content"""", """, "uuid": "not-a-valid-uuid"""")))
    // tenant gates
    out += "u08_tenant" -> upsert(
      s"""{"collection_name": "ParagraphMT", "tenant_name": "tenant1",
          "objects": [${o(""""contents": "Tenant 1 Content", "title": "Tenant 1 Title"""")}]}""")
    out += "u08_verify" -> (
      propOf("ParagraphMT", "0dc00000-0000-4000-8000-000000000008", "contents", Some("tenant1")) +
      "|t2=" + propOf("ParagraphMT", "0dc00000-0000-4000-8000-000000000008", "contents", Some("tenant2")))
    out += "u09_invalid_tenant" -> upsert(
      s"""{"collection_name": "ParagraphMT", "tenant_name": "nonexistent",
          "objects": [${o(""""contents": "Test Content"""")}]}""")
    out += "u10_missing_tenant" -> upsert(call("ParagraphMT", o(""""contents": "Test Content"""")))
    // validation: partial props fine, bad int type per-item, RFC3339 dates
    out += "u12_partial_props" -> upsert(call("Paragraph", o(""""title": "Test Title"""")))
    out += "u13_bad_int" -> upsert(call("ComplexObject",
      o(""""textProp": "Valid Text", "intProp": "not-an-integer"""")))
    out += "u14_dates" -> (upsert(call("ComplexObject",
      o(""""textProp": "Test", "dateProp": "2023-01-15T10:30:00Z""""))) + ";" +
      upsert(call("ComplexObject", o(""""textProp": "Test", "dateProp": "2023-01-15""""))))
    // vector config + dimension contracts
    out += "u15_unconfigured_vectors" -> upsert(call("Paragraph",
      o(""""contents": "Test Content"""",
        """, "vectors": {"text": [0.1, 0.2], "image": [0.3, 0.4]}""")))
    out += "u16_dim_mismatch" -> upsert(call("Paragraph",
      o(""""contents": "Second Object", "title": "Second"""",
        """, "vectors": {"default": [0.1, 0.2, 0.3]}""")))
    // partial batch: valid + bad-type + valid → 2 ok, 1 per-item error
    val p17 = McpCreate.upsertObjects(gg, call("ComplexObject",
      o(""""textProp": "Valid Text 1", "intProp": 42"""),
      o(""""textProp": "Valid Text 2", "intProp": "not-an-integer""""),
      o(""""textProp": "Valid Text 3", "intProp": 100""")), stores.get, () => nextId())
    out += "u17_partial" -> (s"ok=${p17.count(_.error.isEmpty)};" +
      s"fail=${p17.count(_.error.nonEmpty)};fail_idx=${p17.indexWhere(_.error.nonEmpty)}")
    // large batch
    val p18 = McpCreate.upsertObjects(gg, call("Paragraph",
      (0 until 100).map(i => o(s""""contents": "Content $i", "title": "Title $i"""")): _*),
      stores.get, () => nextId())
    out += "u18_large" -> s"n=${p18.size};ok=${p18.count(_.error.isEmpty)}"
    // edge cases: no-op update, arrays, unicode, nulls
    out += "u19_noop" -> upsert(call("Paragraph",
      o(""""contents": "Updated Existing Content"""", s""", "uuid": "$exist"""")))
    out += "u20_arrays" -> upsert(call("ComplexObject",
      o(""""textProp": "Test", "textArrayProp": ["value1", "value2", "value3"], "intArrayProp": [1, 2, 3, 4, 5]""")))
    out += "u20_verify" -> {
      val last = f"0dc00000-0000-4000-8000-$ctr%012d"
      propOf("ComplexObject", last, "textArrayProp") + "|" +
        propOf("ComplexObject", last, "intArrayProp")
    }
    out += "u21_unicode" -> upsert(call("Paragraph",
      o(""""contents": "海賊王に、俺はなる！", "title": "私の夢 🚀"""")))
    out += "u21_verify" -> propOf("Paragraph", f"0dc00000-0000-4000-8000-$ctr%012d", "contents")
    out += "u22_nulls" -> upsert(call("ComplexObject",
      o(""""textProp": "Valid Text", "intProp": null""")))
    out += "u22_verify" -> {
      val last = f"0dc00000-0000-4000-8000-$ctr%012d"
      propOf("ComplexObject", last, "textProp") + "|int=" +
        propOf("ComplexObject", last, "intProp")
    }
    // the read tools: get-config (all + one) and tenants-list
    out += "g01_config_all" -> McpRead.getConfig(gg, None).mkString(",")
    out += "g02_config_one" -> McpRead.getConfig(gg, Some("Paragraph")).mkString(",")
    out += "g03_tenants" -> McpRead.listTenants(gg, "ParagraphMT")
      .sortBy(_._1).map { case (n, st) => s"$n:$st" }.mkString(",")
    steps(s, out.result())
  }

  // ==========================================================================
  // TestGRPC (grpc_test.go) — the suite's base search/CRUD walk
  // ==========================================================================

  /** grpc_test.go (346 lines): Books in its legacy contextionary layout
   * imported over the binary batch wire; the props matrix (nested
   * ObjectPropertiesRequest selections), hybrid/nearText ± groupBy, the
   * implicit nested-object render under uses_127, the Aggregate
   * objects_count, the binary BatchDelete dry-run (gRPC reply semantics:
   * successful counts matched objects even on a dry run,
   * adapters/handlers/grpc/v1/batch_delete.go:70-107 — unlike the REST
   * reply's dry-run zero), and the empty-request rejection. The health
   * check/list arms are server transport, by design out of engine scope. */
  private def grpcBaseGate(s: SparkSession): DataFrame = {
    val (gg, errs) = booksGraft(s, Seq("default" -> (true, None)),
      defaultVector = Some("default"))
    val out = Seq.newBuilder[(String, String)]
    out += "b01_batch" -> s"errors=$errs;stored=${gg.collection("Books").df.count()}"

    val apis = List("uses_123_api" -> JBool(true), "uses_125_api" -> JBool(true))
    def reply(fields: List[(String, JValue)]): JValue = {
      val doc = JObject(List("collection" -> JString("Books")) ++ fields)
      val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
      JsonMethods.parse(WireEncoder.searchReply(gg.get(params), params, took = 0.0))
    }
    def strAt(j: JValue): String = j match { case JString(x) => x; case _ => "∅" }
    // the suite's per-book assertion set: title, meta.isbn, meta.obj.text,
    // meta.objs[0].text, reviews[0].tags
    def renderBook(r: JValue): String = {
      val props = r \ "properties" \ "nonRefProperties"
      val tags = (props \ "reviews") match {
        case JArray(rv) => rv.headOption.map { rev =>
          (rev \ "tags") match {
            case JArray(ts) => ts.map(strAt).mkString("+")
            case _ => "∅"
          }
        }.getOrElse("absent")
        case _ => "absent"
      }
      val objs0 = (props \ "meta" \ "objs") match {
        case JArray(os) => os.headOption.map(o => strAt(o \ "text")).getOrElse("∅")
        case _ => "∅"
      }
      Seq(strAt(props \ "title"), strAt(props \ "meta" \ "isbn"),
        strAt(props \ "meta" \ "obj" \ "text"), objs0, tags).mkString("|")
    }
    val propsReq = "properties" -> JObject(List(
      "non_ref_properties" -> JArray(List(JString("title"))),
      "object_properties" -> JArray(List(
        JObject(List("prop_name" -> JString("meta"),
          "primitive_properties" -> JArray(List(JString("isbn"))),
          "object_properties" -> JArray(List(
            JObject(List("prop_name" -> JString("obj"),
              "primitive_properties" -> JArray(List(JString("text"))))),
            JObject(List("prop_name" -> JString("objs"),
              "primitive_properties" -> JArray(List(JString("text"))))))))),
        JObject(List("prop_name" -> JString("reviews"),
          "primitive_properties" -> JArray(List(JString("tags")))))))))
    val metaUuid = "metadata" -> JObject(List("uuid" -> JBool(true)))
    Seq("b02_search_props" -> (List(propsReq, metaUuid) ++ apis),
        "b03_search_noprops" -> (List(metaUuid) ++ apis)).foreach { case (k, fields) =>
      val rs = (reply(fields) \ "results") match { case JArray(x) => x; case _ => Nil }
      out += k -> (s"n=${rs.size};" + rs.map(renderBook).sorted.mkString(";"))
    }

    def base(fields: List[(String, JValue)]): JValue =
      JObject(List("collection" -> JString("Books"), metaUuid) ++ apis ++ fields)
    val groupBy = "group_by" -> JObject(List(
      "path" -> JArray(List(JString("title"))),
      "number_of_groups" -> JLong(1), "objects_per_group" -> JLong(1)))
    val (t4, _, _, n4) = binarySearch(gg, base(List(
      "hybrid_search" -> JObject(List("query" -> JString("Dune"))))))
    out += "b04_hybrid" -> s"first=$t4;n=$n4"
    val (_, _, _, g5) = binarySearch(gg, base(List(groupBy,
      "hybrid_search" -> JObject(List("query" -> JString("Dune"))))))
    out += "b05_hybrid_group" -> s"groups=$g5"
    val (t6, _, _, _) = binarySearch(gg, base(List(
      "near_text" -> JObject(List("query" -> JArray(List(JString("Dune"))))))))
    out += "b06_neartext" -> s"first=$t6"
    val (_, _, _, g7) = binarySearch(gg, base(List(groupBy,
      "near_text" -> JObject(List("query" -> JArray(List(JString("Dune"))))))))
    out += "b07_neartext_group" -> s"groups=$g7"

    // implicit nested objects: non_ref ["title","meta"] under uses_127 —
    // meta renders whole, the unselected reviews prop stays absent
    val r8 = reply(List(
      "properties" -> JObject(List("non_ref_properties" ->
        JArray(List(JString("title"), JString("meta"))))),
      "near_text" -> JObject(List("query" -> JArray(List(JString("Dune"))))),
      "limit" -> JLong(1), "uses_123_api" -> JBool(true),
      "uses_125_api" -> JBool(true), "uses_127_api" -> JBool(true)))
    val p8 = ((r8 \ "results") match {
      case JArray(x :: _) => x
      case _ => JNothing
    }) \ "properties" \ "nonRefProperties"
    val objs8 = (p8 \ "meta" \ "objs") match {
      case JArray(os) => os.headOption.map(o => strAt(o \ "text")).getOrElse("∅")
      case _ => "∅"
    }
    out += "b08_implicit_nested" -> (s"title=${strAt(p8 \ "title")};" +
      s"isbn=${strAt(p8 \ "meta" \ "isbn")};obj=${strAt(p8 \ "meta" \ "obj" \ "text")};" +
      s"objs0=$objs8;reviews_absent=${(p8 \ "reviews") == JNothing}")

    // Aggregate over the binary wire: objects_count == 3
    val aggDf = gg.aggregate(ProtoWire.aggregateRequest(gg, ProtoWire.write(
      JObject(List("collection" -> JString("Books"), "objects_count" -> JBool(true))),
      "AggregateRequest")))
    val aggRow = aggDf.collect().head
    out += "b09_aggregate" ->
      s"objects_count=${aggRow.get(aggDf.columns.indexOf("meta_count"))}"

    // binary BatchDelete: dryRun+verbose title=Dune — gRPC reply semantics
    // (successful counts the matched objects, uuid as the 16 MarshalBinary
    // bytes); full bytes→engine→bytes loop
    val delReqJson = ProtoWire.read(ProtoWire.write(JObject(List(
      "collection" -> JString("Books"), "dry_run" -> JBool(true),
      "verbose" -> JBool(true),
      "filters" -> JObject(List(
        "operator" -> JString("OPERATOR_EQUAL"),
        "value_text" -> JString("Dune"),
        "target" -> JObject(List("property" -> JString("title"))))))),
      "BatchDeleteRequest"), "BatchDeleteRequest")
    val delParams = WireDecoder.decodeBatchDelete(gg,
      JsonMethods.compact(JsonMethods.render(delReqJson)))
    val booksC = gg.collection("Books")
    val matched = new graft.engine.FilterCompiler(gg.collection)(
      booksC.df, booksC.schema, delParams.where)
      .select(col("uuid")).collect().map(_.getString(0)).sorted.toSeq
    def uuidB64(id: String): String = {
      val u = java.util.UUID.fromString(id)
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    val delReplyDoc = JObject(List(
      "matches" -> JLong(matched.size.toLong),
      "successful" -> JLong(matched.size.toLong), "failed" -> JLong(0L),
      "objects" -> JArray(matched.toList.map(id => JObject(List(
        "uuid" -> JString(uuidB64(id)), "successful" -> JBool(true)))))))
    val delBack = ProtoWire.read(ProtoWire.write(delReplyDoc, "BatchDeleteReply"),
      "BatchDeleteReply")
    val delObjs = (delBack \ "objects") match { case JArray(o) => o; case _ => Nil }
    val duneUuidOk = delObjs.headOption.exists(o =>
      strAt(o \ "uuid") == uuidB64(bookUuids(0)))
    out += "b10_batch_delete" -> (s"matches=${(delBack \ "matches").values};" +
      s"successful=${(delBack \ "successful").values};" +
      s"failed=${delObjs.count(o => (o \ "successful") == JBool(false))};" +
      s"uuid_is_dune=$duneUuidOk")

    // an empty SearchRequest (no collection) must be rejected
    out += "b11_empty_rejected" -> (try {
      gg.get(ProtoWire.searchRequest(gg, ProtoWire.write(JObject(Nil), "SearchRequest")))
      "accepted"
    } catch { case _: Exception => "rejected" })
    steps(s, out.result())
  }

  /** Bench warm-up hook: build every session-cached read-only bed once so
   * timed passes measure the replay arms, not bed registration/ingest. */
  def warmBeds(s: SparkSession): Unit = {
    planetsGraft(s)
    booksGraft(s, Seq("all" -> (false, None), "title" -> (false, Some(Seq("title"))),
      "description" -> (false, Some(Seq("description")))), defaultVector = None)
    booksGraft(s, Seq("default" -> (true, None), "contextionary_all" -> (true, None),
      "title" -> (false, Some(Seq("title")))), defaultVector = Some("default"))
    booksGraft(s, Seq("default" -> (true, None)), defaultVector = Some("default"))
    alphabeticGraft(s)
    mcpGraft(s)
    cityNsGraft(s)
  }

  private[graft] def gates: Seq[Gate] = Seq(
    // mcp/query_hybrid_test.go: the tool's full contract — pure-BM25
    // counts, limit incl. 0, property selection (absent = all), metadata
    // mapping, target properties, the REST-style filter tree (text/int/
    // date/And/Or), tenancy, the empty-query/no-results/unknown-collection
    // arms, DefaultAlpha 0.75 falling back to the sparse leg without a
    // vectorizer, and the tools_list descriptor. m06: hybrid pages
    // carry the fusion's own ExplainScore string.
    Gate("q_fixture_mcp_hybrid",
      """SELECT * FROM (VALUES
        |  ('m01_pure_bm25', 'n=3;first=Machine Learning Basics'),
        |  ('m02_limit', 'n2=2;n0=0'),
        |  ('m03_specific_props', 'n=3;cols=author|title'),
        |  ('m04_all_props', 'cols=_explainScore|_hybrid_score|author|contents|created|publishDate|status|title|updated|uuid|year'),
        |  ('m05_metadata', 'has=_id|_score|_creationTimeUnix'),
        |  ('m06_metadata2', 'has_update=true;has_explain=true'),
        |  ('m07_target_title', 'n=1;title=Python Programming'),
        |  ('m08_filter_status', 'n=3;all_published=true'),
        |  ('m09_filter_year', 'n=3'),
        |  ('m10_filter_date', 'n=2'),
        |  ('m11_filter_and', 'n=3'),
        |  ('m12_filter_or', 'n=3;authors_ok=true'),
        |  ('m13_tenant', 'n=2;all_a=true'),
        |  ('m14_empty_query', 'n=0'),
        |  ('m15_no_results', 'n=0'),
        |  ('m16_unknown_collection', 'error=unknown collection NonExistentCollection'),
        |  ('m17_default_alpha', 'n=3'),
        |  ('m18_tools_list', 'description=Performs hybrid search (vector + keyword) for data in a collection.;destructiveHint=false;idempotentHint=true;name=weaviate-query-hybrid;readOnlyHint=true')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => mcpHybridGate(s)),
    // TestGRPC_Aggregate: every expected value verbatim — meta counts,
    // the int/text/boolean matrices, the DATE aggregation's int64-ns
    // wraparound renders (1135/1283/1400 → 1719/1867/1984 with the
    // .709551616 artifact — the reference's own physical behavior for
    // pre-1677 dates, reproduced by storing the same wrapped int64 ns),
    // cref pointingTo, the filtered multi-aggregation, per-group date/
    // text[] contracts (group KEYS render the wrapped instant where the
    // reference echoes the raw +02:00 input string — documented
    // divergence; counts/medians/topOccurrences are verbatim), and the
    // nearText/nearObject/nearVector scoped arms (only Amsterdam passes
    // the 0.2 radius + isCapital filter)
    Gate("q_fixture_grpc_agg",
      """SELECT * FROM (VALUES
        |  ('g01_count_Country', 'count=2'),
        |  ('g02_count_City', 'count=6'),
        |  ('g03_count_Airport', 'count=4'),
        |  ('g04_int', 'count=5;type=int;mean=1294000;maximum=3470000;minimum=0;sum=6470000'),
        |  ('g05_text', 'type=text;top=Amsterdamx1|Berlinx1|Dusseldorfx1|Missing Islandx1|Rotterdamx1'),
        |  ('g06_boolean', 'count=5;type=boolean;totalTrue=2;totalFalse=3;percentageTrue=0.4;percentageFalse=0.6'),
        |  ('g07_date', 'count=4;max=1984-07-21T21:34:33.709551616Z;median=1926-01-21T09:34:33.709551616Z;min=1719-07-21T21:34:33.709551616Z;mode=1984-07-21T21:34:33.709551616Z'),
        |  ('g08_reference', 'type=cref;pointingTo=Country'),
        |  ('g09_filtered', 'refType=cref;pointingTo=Country;nameTop=Dusseldorfx1|Missing Islandx1|Rotterdamx1;popCount=3;popMax=600000;popMean=400000;popMin=0;popMode=600000;popSum=1200000'),
        |  ('g10_group00', 'key=1867-07-22T21:34:33.709551616Z;n=1;median=1867-07-22T21:34:33.709551616Z;names=1;tzType=text[];tzCount=2;tzTop=CESTx1|CETx1'),
        |  ('g10_group01', 'key=1719-07-21T21:34:33.709551616Z;n=1;median=1719-07-21T21:34:33.709551616Z;names=1;tzType=text[];tzCount=2;tzTop=CESTx1|CETx1'),
        |  ('g10_group02', 'key=1984-07-21T21:34:33.709551616Z;n=2;median=1984-07-21T21:34:33.709551616Z;names=2;tzType=text[];tzCount=4;tzTop=CESTx2|CETx2'),
        |  ('g11_neartext', 'popCount=1;popSum=1800000;nameTop=Amsterdamx1'),
        |  ('g12_nearobject', 'popCount=1;popSum=1800000;nameTop=Amsterdamx1'),
        |  ('g13_nearvector', 'popCount=1;popSum=1800000;nameTop=Amsterdamx1')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcAggGate(s)),
    // TestGRPC_Batching + TestGRPC_OutOfMemoryBatching: the BatchStream
    // frame protocol — Started/Acks/Results sequencing, objects-then-refs
    // success order with uuid/beacon details, the suite's verbatim
    // multi-tenancy and unknown-ref-prop error texts, count preservation at
    // scale through binary Aggregate/Search, and the no-ack
    // Backoff+OutOfMemory sequence on an over-budget frame
    Gate("q_fixture_grpc_batch",
      """SELECT * FROM (VALUES
        |  ('a1_01_frames', 'started;acks[u=3,b=2];results[ok=u:U0|u:U1|u:U2|b:weaviate://localhost/Article/U0/hasParagraphs|b:weaviate://localhost/Article/U0/hasParagraphs;err=];shutting_down'),
        |  ('a1_02_article_refs', 'articles=1;paras=2;has=2'),
        |  ('a2_01_frames', 'acks[u=3,b=0];results[ok=u:U0|u:U2;err=u:U1=class Article has multi-tenancy disabled, but request was with tenant]'),
        |  ('a2_02_stored', 'articles=2'),
        |  ('a3_01_frames', 'acks[u=2,b=2];results[ok=u:U0|u:U1|b:weaviate://localhost/Article/U0/hasParagraphs;err=b:weaviate://localhost/Article/U0/hasParagraphss=property hasParagraphss does not exist for class Article]'),
        |  ('a3_02_refs', 'has=1'),
        |  ('a4_01_counts', 'acks=2;articles=200;paras=2000'),
        |  ('a4_02_search_refs', 'rows=200;all10=true'),
        |  ('a4b_unary_refs', 'errors=0;has=2'),
        |  ('a5_01_frames', 'backoff[500];oom[u=100]'),
        |  ('a5_02_unapplied', 'articles=0')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcBatchGate(s)),
    // TestGRPCSearch: the suite pins result COUNTS per arm (2 planets; the
    // "Mars" hybrids 1); the engine's deterministic orders are pinned too.
    // Colbert/dot arms rank Mars first (larger-magnitude rows win raw
    // MaxSim dot) — the suite never asserts order.
    Gate("q_fixture_grpc_search",
      """SELECT * FROM (VALUES
        |  ('h01_earth_legacy_avg', 'n=2;names=Earth|Mars'),
        |  ('h01_earth_legacy_man', 'n=2;names=Earth|Mars'),
        |  ('h01_earth_legacy_min', 'n=2;names=Earth|Mars'),
        |  ('h01_earth_legacy_rel', 'n=2;names=Earth|Mars'),
        |  ('h01_earth_legacy_sum', 'n=2;names=Earth|Mars'),
        |  ('h02_mars_newshape_avg', 'n=1;names=Mars'),
        |  ('h02_mars_newshape_man', 'n=1;names=Mars'),
        |  ('h02_mars_newshape_min', 'n=1;names=Mars'),
        |  ('h02_mars_newshape_rel', 'n=1;names=Mars'),
        |  ('h02_mars_newshape_sum', 'n=1;names=Mars'),
        |  ('h03_mars_three_avg', 'n=1;names=Mars'),
        |  ('h03_mars_three_man', 'n=1;names=Mars'),
        |  ('h03_mars_three_min', 'n=1;names=Mars'),
        |  ('h03_mars_three_rel', 'n=1;names=Mars'),
        |  ('h03_mars_three_sum', 'n=1;names=Mars'),
        |  ('m01_two_unspecified', 'n=2;names=Earth|Mars'),
        |  ('m02_only1_regular', 'n=2;names=Earth|Mars'),
        |  ('m03_only1_colbert', 'n=2;names=Mars|Earth'),
        |  ('m04_regular_as_multi', 'n=2;names=Earth|Mars'),
        |  ('m05_colbert_two_multis', 'n=2;names=Mars|Earth'),
        |  ('m06_regular_and_colbert', 'n=2;names=Mars|Earth'),
        |  ('m07_reg_colbert_desc', 'n=2;names=Mars|Earth'),
        |  ('v01_legacy_vector', 'n=2;names=Earth|Mars'),
        |  ('v02_legacy_bytes', 'n=2;names=Earth|Mars'),
        |  ('v03_colbert_multi', 'n=2;names=Mars|Earth'),
        |  ('v04_regular_typed', 'n=2;names=Earth|Mars'),
        |  ('v05_regular_unspecified', 'n=2;names=Earth|Mars'),
        |  ('w01_legacy_avg', 'n=2;names=Earth|Mars'),
        |  ('w01_legacy_man', 'n=2;names=Mars|Earth'),
        |  ('w01_legacy_min', 'n=2;names=Earth|Mars'),
        |  ('w01_legacy_rel', 'n=2;names=Mars|Earth'),
        |  ('w01_legacy_sum', 'n=2;names=Earth|Mars'),
        |  ('w02_newshape_avg', 'n=2;names=Earth|Mars'),
        |  ('w02_newshape_man', 'n=2;names=Mars|Earth'),
        |  ('w02_newshape_min', 'n=2;names=Earth|Mars'),
        |  ('w02_newshape_rel', 'n=2;names=Mars|Earth'),
        |  ('w02_newshape_sum', 'n=2;names=Earth|Mars'),
        |  ('w03_reg_colbert_manual', 'n=2;names=Mars|Earth'),
        |  ('w04_three_avg', 'n=2;names=Mars|Earth'),
        |  ('w04_three_man', 'n=2;names=Mars|Earth'),
        |  ('w04_three_min', 'n=2;names=Mars|Earth'),
        |  ('w04_three_rel', 'n=2;names=Mars|Earth'),
        |  ('w04_three_sum', 'n=2;names=Mars|Earth'),
        |  ('w05_reg_desc_avg', 'n=2;names=Mars|Earth'),
        |  ('w05_reg_desc_man', 'n=2;names=Mars|Earth'),
        |  ('w05_reg_desc_min', 'n=2;names=Earth|Mars'),
        |  ('w05_reg_desc_rel', 'n=2;names=Mars|Earth'),
        |  ('w05_reg_desc_sum', 'n=2;names=Mars|Earth')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcSearchGate(s)),
    // grpc_test.go: the 3-book batch import over the binary wire, the
    // nested-props matrix (title/meta.isbn/meta.obj.text/meta.objs[0].text/
    // reviews[0].tags per book — identical with and without an explicit
    // PropertiesRequest), hybrid/nearText first-hit Dune ± 1-group groupBy,
    // the implicit nested-object render (reviews absent when unselected),
    // Aggregate objects_count=3, the binary BatchDelete dry-run with gRPC
    // reply semantics (successful=matches on dry run, the 16-byte uuid),
    // and the empty-request rejection
    Gate("q_fixture_grpc_base",
      """SELECT * FROM (VALUES
        |  ('b01_batch', 'errors=0;stored=3'),
        |  ('b02_search_props', 'n=3;Dune|978-0593099322|some text|some text|sci-fi+epic;Project Hail Mary|978-0593135204|some text|some text|sci-fi;The Lord of the Ice Garden|978-8374812962|some text|some text|sci-fi+fantasy'),
        |  ('b03_search_noprops', 'n=3;Dune|978-0593099322|some text|some text|sci-fi+epic;Project Hail Mary|978-0593135204|some text|some text|sci-fi;The Lord of the Ice Garden|978-8374812962|some text|some text|sci-fi+fantasy'),
        |  ('b04_hybrid', 'first=Dune;n=1'),
        |  ('b05_hybrid_group', 'groups=1'),
        |  ('b06_neartext', 'first=Dune'),
        |  ('b07_neartext_group', 'groups=1'),
        |  ('b08_implicit_nested', 'title=Dune;isbn=978-0593099322;obj=some text;objs0=some text;reviews_absent=true'),
        |  ('b09_aggregate', 'objects_count=3'),
        |  ('b10_batch_delete', 'matches=1;successful=1;failed=0;uuid_is_dune=true'),
        |  ('b11_empty_rejected', 'rejected')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcBaseGate(s)),
    // mcp/objects_upsert_test.go + get_config_test.go: insert/update/mixed
    // batches with deterministic ids, the function-level throws (empty
    // batch, malformed uuid — objects_upsert.go:58,84) vs per-item errors
    // (unknown class batch_add.go:227, tenant gates, property validation
    // texts, the named-vector config check vector_validation.go:60, the
    // dimension contract), partial-batch accounting, the 100-object batch,
    // arrays/unicode/null props, and the read tools (config all/one,
    // tenants-list)
    Gate("q_fixture_mcp_upsert",
      """SELECT * FROM (VALUES
        |  ('g01_config_all', 'ComplexObject,Paragraph,ParagraphMT'),
        |  ('g02_config_one', 'Paragraph'),
        |  ('g03_tenants', 'tenant1:ACTIVE,tenant2:ACTIVE'),
        |  ('u01_insert_one', '0dc00000-0000-4000-8000-000000000001'),
        |  ('u01_verify', 'Test Article Content|Test Article'),
        |  ('u02_insert_multi', '0dc00000-0000-4000-8000-000000000002,0dc00000-0000-4000-8000-000000000003,0dc00000-0000-4000-8000-000000000004'),
        |  ('u02_verify', 'Second Article Content'),
        |  ('u03_update', '0dc00000-0000-4000-8000-000000000001'),
        |  ('u03_verify', 'Updated Content'),
        |  ('u04_mixed', '0dc00000-0000-4000-8000-000000000001,0dc00000-0000-4000-8000-000000000005,0dc00000-0000-4000-8000-000000000006'),
        |  ('u05_vector', '0dc00000-0000-4000-8000-000000000007'),
        |  ('u05_verify', 'dim=5'),
        |  ('u06_empty', 'throw(at least one object is required)'),
        |  ('u07_unknown_class', 'err(class ''NonExistentCollection9999'' not present in schema)'),
        |  ('u08_tenant', '0dc00000-0000-4000-8000-000000000008'),
        |  ('u08_verify', 'Tenant 1 Content|t2=absent'),
        |  ('u09_invalid_tenant', 'err(tenant not found: nonexistent)'),
        |  ('u10_missing_tenant', 'err(class ParagraphMT has multi-tenancy enabled, but request was without tenant)'),
        |  ('u11_invalid_uuid', 'throw(invalid UUID for object)'),
        |  ('u12_partial_props', '0dc00000-0000-4000-8000-000000000009'),
        |  ('u13_bad_int', 'err(invalid object: invalid integer property ''intProp'' on class ''ComplexObject'': requires an integer, the given value is ''"not-an-integer"'')'),
        |  ('u14_dates', '0dc00000-0000-4000-8000-000000000010;err(invalid object: invalid date property ''dateProp'' on class ''ComplexObject'': requires a string with a RFC3339 formatted date, but the given value is ''2023-01-15'')'),
        |  ('u15_unconfigured_vectors', 'err(collection Paragraph does not have configuration for vector text)'),
        |  ('u16_dim_mismatch', 'err(vector lengths don''t match for vector "default": 5 vs 3)'),
        |  ('u17_partial', 'ok=2;fail=1;fail_idx=1'),
        |  ('u18_large', 'n=100;ok=100'),
        |  ('u19_noop', '0dc00000-0000-4000-8000-000000000001'),
        |  ('u20_arrays', '0dc00000-0000-4000-8000-000000000113'),
        |  ('u20_verify', '[value1+value2+value3]|[1+2+3+4+5]'),
        |  ('u21_unicode', '0dc00000-0000-4000-8000-000000000114'),
        |  ('u21_verify', '海賊王に、俺はなる！'),
        |  ('u22_nulls', '0dc00000-0000-4000-8000-000000000115'),
        |  ('u22_verify', 'Valid Text|int=null')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => mcpUpsertGate(s)),
    // TestGRPC_NamedVectors: title=Dune first hit; vector=true serves all 3
    // named spaces, vectors=["all"] exactly one, on plain and grouped pages
    Gate("q_fixture_grpc_vectors",
      """SELECT * FROM (VALUES
        |  ('00_batch', 'errors=0;stored=3'),
        |  ('all3_01_hybrid', 'title=Dune;nvecs=3;names=all|description|title;n=1'),
        |  ('all3_02_hybrid_group', 'title=Dune;nvecs=3;names=all|description|title;n=1'),
        |  ('all3_03_hybrid_neartext_group', 'title=Dune;nvecs=3;names=all|description|title;n=1'),
        |  ('all3_04_neartext', 'title=Dune;nvecs=3;names=all|description|title;n=3'),
        |  ('all3_05_neartext_group', 'title=Dune;nvecs=3;names=all|description|title;n=1'),
        |  ('one_01_hybrid', 'title=Dune;nvecs=1;names=all;n=1'),
        |  ('one_02_hybrid_group', 'title=Dune;nvecs=1;names=all;n=1'),
        |  ('one_03_hybrid_neartext_group', 'title=Dune;nvecs=1;names=all;n=1'),
        |  ('one_04_neartext', 'title=Dune;nvecs=1;names=all;n=3'),
        |  ('one_05_neartext_group', 'title=Dune;nvecs=1;names=all;n=1')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcNamedVectorsGate(s)),
    // TestGRPC_MixedVectors: legacy vector byte-equal to contextionary_all;
    // 2 named spaces; hybrid/nearText/aggregate contracts incl. count 3 / 1
    Gate("q_fixture_grpc_mixed",
      """SELECT * FROM (VALUES
        |  ('01_search_all', 'n=3;nvecs=2;names=contextionary_all|title;legacy_eq_ctx=true'),
        |  ('ctx_02_hybrid', 'n=1;title=Dune'),
        |  ('ctx_03_hybrid_group', 'groups=1'),
        |  ('ctx_04_hybrid_neartext_group', 'groups=1'),
        |  ('ctx_05_neartext', 'title=Dune'),
        |  ('ctx_06_agg_simple', 'count=3'),
        |  ('ctx_07_agg_hybrid', 'count=1'),
        |  ('ctx_08_agg_hybrid_top', 'top=Dune'),
        |  ('notgt_02_hybrid', 'n=1;title=Dune'),
        |  ('notgt_03_hybrid_group', 'groups=1'),
        |  ('notgt_04_hybrid_neartext_group', 'groups=1'),
        |  ('notgt_05_neartext', 'title=Dune'),
        |  ('notgt_06_agg_simple', 'count=3'),
        |  ('notgt_07_agg_hybrid', 'count=1'),
        |  ('notgt_08_agg_hybrid_top', 'top=Dune')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcMixedVectorsGate(s)),
    // TestGRPC_FilteredSearch: the effective NotEqual contract (625 = 26²
    // − 2·26 + 1 for the combined two-token value), single-term denylists
    // (650), and the sort+limit windows
    Gate("q_fixture_grpc_filtered",
      """SELECT * FROM (VALUES
        |  ('01_batch', 'errors=0;stored=676'),
        |  ('02_A_combined', 'n=625;clean=true'),
        |  ('02_M_combined', 'n=625;clean=true'),
        |  ('02_Z_combined', 'n=625;clean=true'),
        |  ('03_A_single', 'n=650'),
        |  ('03_M_single', 'n=650'),
        |  ('03_Z_single', 'n=650'),
        |  ('04_A_repeated', 'n=650'),
        |  ('04_M_repeated', 'n=650'),
        |  ('04_Z_repeated', 'n=650'),
        |  ('05_sort_asc', 'n=10;first=AAA A;last=AAA J;ordered=true'),
        |  ('06_sort_desc', 'n=10;first=ZZZ Z;last=ZZZ Q;ordered=true')
        |) AS t(step, result) ORDER BY step""".stripMargin)((s, _) => grpcFilteredGate(s))
  )

}