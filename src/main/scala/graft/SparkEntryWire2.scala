package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionScope

import graft.engine.{Graft, GraphQL}
import graft.streaming.Ingest

/**
 * Round-13 wire-surface gates: GraphQL operation variables + field aliases
 * (reference executes documents with VariableValues —
 * adapters/handlers/graphql/schema.go:81 — and graphql-go resolves aliases
 * as reply keys), schema UPDATE wire, single-object REST CRUD wire, binary
 * protobuf transport. Registered alongside [[SparkEntryExt]] (new gate
 * families get their own file — the registry split the round-12 verdict
 * asked for).
 */
object SparkEntryWire2 {

  import Gate.{g, okOr, steps, valueOr}

  private[graft] def gates: Seq[Gate] = Seq(

    // the q_wire_gql_get bed re-served through a VARIABLE-driven document
    // with ALIAS'd selections — same where tree, same plan, same oracle
    // (columns keyed by the aliases)
    // identical SQL to q_wire_gql_get, keyed by the alias'd output names
    Gate("q_wire_gql_vars",
      """SELECT l_orderkey AS ok, l_linenumber AS ln FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 30 AND l_shipdate < TIMESTAMP '1995-06-17'
        |ORDER BY ok, ln""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val full = GraphQL.getFull(gg,
        """query Filtered($flag: String!, $qty: Float!, $ship: String, $lim: Int = 1000000) {
          |  Get { Lineitem(
          |    where: {operator: And, operands: [
          |      {operator: Equal, path: ["l_returnflag"], valueText: $flag},
          |      {operator: GreaterThan, path: ["l_quantity"], valueNumber: $qty},
          |      {operator: LessThan, path: ["l_shipdate"], valueDate: $ship}]},
          |    limit: $lim
          |  ) { ok: l_orderkey ln: l_linenumber } } }""".stripMargin,
        """{"flag": "R", "qty": 30.0, "ship": "1995-06-17T00:00:00Z"}""")
      GraphQL.applyAliases(gg.get(full.params), full.aliases)
        .select(col("ok"), col("ln")).orderBy(col("ok"), col("ln"))
    },

    // scripted variable/alias semantics: enum coercion through variables,
    // float-list variables into vector legs, declared defaults, the
    // graphql-go missing/undeclared variable error texts, duplicate aliases
    // of one property, and alias'd aggregate selections
    Gate("q_wire_gql_vars_script",
      """SELECT '01_enum_var_sort' AS step, (
        |  SELECT string_agg(CAST(p_partkey AS VARCHAR), ',' ORDER BY rn)
        |  FROM (SELECT p_partkey, row_number() OVER (ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |        FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 5)) AS result
        |UNION ALL SELECT '02_vector_var', '10:7'
        |UNION ALL SELECT '03_default_used', CAST(
        |  (SELECT least(count(*), 3) FROM region) AS VARCHAR)
        |UNION ALL SELECT '04_required_missing',
        |  'Variable "$lim" of required type "Int!" was not provided.'
        |UNION ALL SELECT '05_undeclared', 'Variable "$lim" is not defined.'
        |UNION ALL SELECT '06_duplicate_aliases', (
        |  SELECT string_agg(r_name || '=' || r_name, ',' ORDER BY r_regionkey)
        |  FROM (SELECT * FROM region ORDER BY r_regionkey LIMIT 2))
        |UNION ALL SELECT '07_agg_alias', (
        |  SELECT CAST(count(o_totalprice) AS VARCHAR) || ':' ||
        |         CAST(round(max(o_totalprice), 2) AS VARCHAR) FROM orders)
        |UNION ALL SELECT '08_where_var', CAST(
        |  (SELECT count(*) FROM orders WHERE o_totalprice > 25000.0) AS VARCHAR)
        |ORDER BY step""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      // enum-valued variable: sort order (string variable coerces to the
      // enum because the declared type is not a built-in scalar)
      out += "01_enum_var_sort" -> valueOr {
        val p = GraphQL.get(gg,
          """query Sorted($o: SortOrder = asc, $lim: Int!) {
            |  Get { Part(sort: [{path: ["p_retailprice"], order: $o}], limit: $lim)
            |    { p_partkey } } }""".stripMargin,
          """{"o": "desc", "lim": 5}""")
        gg.get(p).select(col("p_partkey")).collect().map(_.getLong(0)).mkString(",")
      }
      // float-list variable into a nearVector leg — the standard client shape
      out += "02_vector_var" -> valueOr {
        val vec = Fixtures.anchorVector(gg, 7L)
        val json = vec.mkString("""{"v": [""", ", ", "]}")
        val p = GraphQL.get(gg,
          """query Near($v: [Float]!) {
            |  Get { Embedding(limit: 10, nearVector: {vector: $v})
            |    { vec_id _additional { distance } } } }""".stripMargin, json)
        val page = gg.get(p).select(col("vec_id")).collect().map(_.getLong(0))
        s"${page.length}:${page.head}"
      }
      // declared default used when the variable is absent
      out += "03_default_used" -> valueOr(gg.get(GraphQL.get(gg,
        """query D($lim: Int = 3) { Get { Region(limit: $lim) { r_name } } }""",
        "{}")).count())
      // required variable missing / undeclared variable — graphql-go texts
      out += "04_required_missing" -> okOr(GraphQL.get(gg,
        """query R($lim: Int!) { Get { Region(limit: $lim) { r_name } } }""", "{}"))
      out += "05_undeclared" -> okOr(GraphQL.get(gg,
        """{ Get { Region(limit: $lim) { r_name } } }""", """{"lim": 3}"""))
      // two aliases of one property round-trip as two output columns
      out += "06_duplicate_aliases" -> valueOr {
        val full = GraphQL.getFull(gg,
          """{ Get { Region(limit: 2) { a: r_name b: r_name } } }""")
        val df = GraphQL.applyAliases(gg.get(full.params), full.aliases)
        df.select(col("a"), col("b")).collect()
          .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(",")
      }
      // alias'd aggregate prop: merged aggregators, alias-keyed output cols
      out += "07_agg_alias" -> valueOr {
        val fa = GraphQL.aggregateFull(gg,
          """{ Aggregate { Order {
            |  price: o_totalprice { count }
            |  o_totalprice { maximum }
            |} } }""".stripMargin)
        val df = GraphQL.applyAliases(gg.aggregate(fa.params), fa.aliases)
        val r = df.select(col("price_count"), round(col("o_totalprice_maximum"), 2)).head()
        s"${r.getLong(0)}:${r.getDouble(1)}"
      }
      // object variable straight into `where` (typed substitution inside
      // input objects)
      out += "08_where_var" -> valueOr(gg.get(GraphQL.get(gg,
        """query W($w: GetObjectsOrderWhereInpObj) {
          |  Get { Order(where: $w, limit: 1000000) { o_orderkey } } }""".stripMargin,
        """{"w": {"operator": "GreaterThan", "path": ["o_totalprice"], "valueNumber": 25000.0}}"""))
        .count())
      steps(s, out.toSeq)
    },

    // BINARY protobuf transport: the same SearchRequest a real gRPC client
    // puts on the wire, hand-encoded through ProtoWire's descriptors
    // (grpc/proto/v1/search_get.proto field numbers) and decoded byte-first
    // into the SAME GetParams the protojson path builds — one plan, proven
    // by sharing q_wire_gql_get's oracle; plus a vector_bytes near leg
    // (the fp32-LE encoding clients actually send)
    // binary proto twin of the gRPC-JSON filter query — identical SQL
    Gate("q_wire_proto_bin",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 30 AND l_shipdate < TIMESTAMP '1995-06-17'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      import graft.engine.ProtoWire
      import org.json4s.jackson.JsonMethods
      val gg = g(s, dir)
      val doc = JsonMethods.parse(
        """{"collection": "Lineitem",
          |  "filters": {"operator": "OPERATOR_AND", "filters": [
          |    {"operator": "OPERATOR_EQUAL", "target": {"property": "l_returnflag"}, "value_text": "R"},
          |    {"operator": "OPERATOR_GREATER_THAN", "target": {"property": "l_quantity"}, "value_number": 30.0},
          |    {"operator": "OPERATOR_LESS_THAN", "target": {"property": "l_shipdate"}, "value_text": "1995-06-17T00:00:00Z"}]},
          |  "limit": 1000000,
          |  "properties": {"non_ref_properties": ["l_orderkey", "l_linenumber"]},
          |  "uses_127_api": true}""".stripMargin)
      val bytes = ProtoWire.write(doc, "SearchRequest")
      val params = ProtoWire.searchRequest(gg, bytes)
      gg.get(params).orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // binary near_vector leg with the fp32 vector_bytes payload — twin of
    // q_wire_gql_near's cosine top-10 page around Embedding/7
    // binary vector_bytes near leg: cosine top-10 around Embedding/7
    Gate("q_wire_proto_bin_near",
      s"""WITH ${SparkEntry.sqlQv(7)},
         |d AS (SELECT e.vec_id, ${SparkEntry.sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q),
         |top AS (SELECT vec_id, round(dist, 4) AS dist FROM d
         |        ORDER BY d.dist ASC, vec_id ASC LIMIT 10)
         |SELECT vec_id, dist FROM top ORDER BY dist, vec_id""".stripMargin) { (s, dir) =>
      import graft.engine.ProtoWire
      import org.json4s._
      val gg = g(s, dir)
      val vec = Fixtures.anchorVector(gg, 7L)
      val bb = java.nio.ByteBuffer.allocate(vec.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vec.foreach(bb.putFloat)
      val b64 = java.util.Base64.getEncoder.encodeToString(bb.array())
      val doc = JObject(List(
        "collection" -> JString("Embedding"),
        "limit" -> JLong(10),
        "near_vector" -> JObject(List("vector_bytes" -> JString(b64))),
        "metadata" -> JObject(List("distance" -> JBool(true))),
        "properties" -> JObject(List("non_ref_properties" -> JArray(List(JString("vec_id")))))))
      val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
      gg.get(params).select(col("vec_id"), round(col("_distance"), 4).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    },

    // Named fragment definitions + @skip/@include (GraphQL spec §2.8/§3.13 —
    // the Apollo-codegen document shape): an existing green page re-served
    // through a fragment-factored, directive-gated document, plus the parser's
    // negative contracts (unknown fragment, cycle, unknown directive)
    // fragment-factored document: pages recomputed from the parquet, parser
    // negatives pinned verbatim
    Gate("q_wire_gql_fragments",
      """WITH top AS (
        |  SELECT c_name, c_acctbal, c_mktsegment, c_nationkey FROM customer
        |  WHERE c_acctbal > 9000.0 ORDER BY c_name LIMIT 4),
        |joined AS (
        |  SELECT t.*, n.n_name FROM top t JOIN nation n ON n.n_nationkey = t.c_nationkey)
        |SELECT '01_frag_include' AS step, (
        |  SELECT string_agg(c_name || '/' || printf('%.2f', c_acctbal) || '/' || n_name, ',' ORDER BY c_name)
        |  FROM joined) AS result
        |UNION ALL SELECT '02_frag_all', (
        |  SELECT string_agg(c_name || '/' || printf('%.2f', c_acctbal) || '/' || c_mktsegment || '/' || n_name, ',' ORDER BY c_name)
        |  FROM joined)
        |UNION ALL SELECT '03_frag_skipped', (
        |  SELECT string_agg(c_name || '/' || n_name, ',' ORDER BY c_name) FROM joined)
        |UNION ALL SELECT '04_unknown_fragment', 'Unknown fragment "Nope".'
        |UNION ALL SELECT '05_cycle', 'graphql parse: fragment cycle through "A"'
        |UNION ALL SELECT '06_unknown_directive', 'graphql parse: unknown directive "@deprecated"'
        |UNION ALL SELECT '07_skip_static', 'cols=r_name;rows=2'
        |ORDER BY step""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val doc =
        """query Q($withBal: Boolean!, $skipSeg: Boolean!) {
          |  Get {
          |    Customer(
          |        where: {path: ["c_acctbal"], operator: GreaterThan, valueNumber: 9000.0}
          |        sort: [{path: ["c_name"], order: asc}]
          |        limit: 4) {
          |      ...CustBase
          |      c_acctbal @include(if: $withBal)
          |      c_mktsegment @skip(if: $skipSeg)
          |    }
          |  }
          |}
          |fragment CustBase on Customer {
          |  c_name
          |  ...CustRef
          |}
          |fragment CustRef on Customer {
          |  c_nationkey { ... on Nation { n_name } }
          |}""".stripMargin
      def serve(withBal: Boolean, skipSeg: Boolean): String = {
        val page = gg.get(GraphQL.get(gg, doc,
          s"""{"withBal": $withBal, "skipSeg": $skipSeg}"""))
        page.collect().map { r =>
          def v(c: String): Option[String] =
            if (!page.columns.contains(c)) None
            else Some(String.valueOf(r.get(r.fieldIndex(c))))
          val nation = if (page.columns.contains("c_nationkey_resolved"))
            Some(r.getStruct(r.fieldIndex("c_nationkey_resolved")).getAs[String]("n_name"))
          else None
          (Seq(v("c_name")).flatten ++ v("c_acctbal").map(a =>
            f"${a.toDouble}%.2f") ++ v("c_mktsegment") ++ nation).mkString("/")
        }.mkString(",")
      }
      out += "01_frag_include" -> serve(withBal = true, skipSeg = true)
      out += "02_frag_all" -> serve(withBal = true, skipSeg = false)
      out += "03_frag_skipped" -> serve(withBal = false, skipSeg = true)
      out += "04_unknown_fragment" -> okOr(GraphQL.get(gg,
        "{ Get { Region { ...Nope } } }"))
      out += "05_cycle" -> okOr(GraphQL.get(gg,
        """{ Get { Region { ...A } } }
          |fragment A on Region { ...B }
          |fragment B on Region { ...A }""".stripMargin))
      out += "06_unknown_directive" -> okOr(GraphQL.get(gg,
        """{ Get { Region { r_name @deprecated(reason: "x") } } }"""))
      out += "07_skip_static" -> {
        val page = gg.get(GraphQL.get(gg,
          """{ Get { Region(sort: [{path: ["r_name"], order: asc}], limit: 2)
            |  { r_name @include(if: true) r_comment @skip(if: true) } } }""".stripMargin))
        s"cols=${page.columns.sorted.mkString("|")};rows=${page.count()}"
      }
      steps(s, out.toSeq)
    },

    // Binary AggregateRequest (grpc/proto/v1/aggregate.proto): the grouped
    // number matrix authored as PROTO BYTES through the same descriptors,
    // decoded into the identical AggregateParams as its protojson twin
    // (asserted), then executed — the oracle is real SQL over the parquet
    // binary AggregateRequest: same grouped matrix as q_agg_group_numeric —
    // the oracle recomputes it from the parquet
    Gate("q_wire_proto_agg",
      """SELECT o_orderstatus, count(*) AS meta_count, count(o_totalprice) AS cnt,
        |  round(sum(o_totalprice), 4) AS sum_price, round(avg(o_totalprice), 4) AS mean_price,
        |  round(min(o_totalprice), 4) AS min_price, round(max(o_totalprice), 4) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      import graft.engine.{ProtoWire, WireDecoder}
      import org.json4s.jackson.JsonMethods
      val gg = g(s, dir)
      val json =
        """{"collection": "Order", "objectsCount": true,
          |  "groupBy": {"collection": "Order", "property": "o_orderstatus"},
          |  "aggregations": [{"property": "o_totalprice", "number": {
          |    "count": true, "sum": true, "mean": true, "minimum": true, "maximum": true}}]}""".stripMargin
      val bytes = ProtoWire.write(JsonMethods.parse(json), "AggregateRequest")
      val params = ProtoWire.aggregateRequest(gg, bytes)
      // the byte transport must land on the SAME params as protojson
      require(params == WireDecoder.aggregate(gg, json),
        "binary AggregateRequest decoded differently from its protojson twin")
      gg.aggregate(params)
        .select(
          col("groupedBy_value").as("o_orderstatus"),
          col("meta_count"),
          col("o_totalprice_count").as("cnt"),
          round(col("o_totalprice_sum"), 4).as("sum_price"),
          round(col("o_totalprice_mean"), 4).as("mean_price"),
          round(col("o_totalprice_minimum"), 4).as("min_price"),
          round(col("o_totalprice_maximum"), 4).as("max_price"))
        .orderBy(col("o_orderstatus"))
    },

    // Full binary gRPC round-trip: SearchRequest BYTES → engine →
    // SearchReply BYTES → parsed back and canonically compared against the
    // protojson reply (fp32 reply floats compare at 4 decimals). Plus a
    // binary BatchObjectsRequest decode with the google.protobuf.Struct
    // property payload and the per-index error contract.
    // binary round-trip: reply bytes parse back byte-faithfully (canonical
    // compare), the flat page's first row recomputed from the parquet, the
    // Struct-typed batch decode with its per-index uuid error
    Gate("q_wire_proto_roundtrip",
      """SELECT '01_flat' AS step, 'bytes=true;match=true' AS result
        |UNION ALL SELECT '02_flat_first', (
        |  SELECT '"' || c_name || '"' FROM customer
        |  WHERE c_acctbal > 9000.0 ORDER BY c_name LIMIT 1)
        |UNION ALL SELECT '03_grouped', 'bytes=true;match=true'
        |UNION ALL SELECT '04_batch_decoded',
        |  '0:BinBatch/00000000-0000-0000-0000-0000000000b1{flag=true;n=7.0;name=alpha;ranks=[3|1];score=0.25;tags=[a|b]}'
        |UNION ALL SELECT '05_batch_errors', '1:invalid UUID length: 10'
        |ORDER BY step""".stripMargin) { (s, dir) =>
      import graft.engine.{ProtoWire, WireEncoder}
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val gg = g(s, dir)
      def canonNum(d: Double): JValue = JString(
        BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.stripTrailingZeros.toPlainString)
      def canon(jv: JValue): JValue = jv match {
        // empty repeated fields are absent on the wire (proto3) — drop them
        // from the protojson side too before comparing
        case JObject(fs) => JObject(fs
          .filter { case (_, v) => v != JNull && v != JArray(Nil) }
          .map { case (k, v) => k.toLowerCase.replace("_", "") -> canon(v) }
          .sortBy(_._1))
        case JArray(xs) => JArray(xs.map(canon))
        case JInt(i) => JString(i.toString)
        case JLong(l) => JString(l.toString)
        case JDecimal(d) => canonNum(d.toDouble)
        case JDouble(d) => canonNum(d)
        case JBool(b) => JString(b.toString)
        case other => other
      }
      def roundTrip(doc: JValue): (String, String) = {
        val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
        val replyJson = WireEncoder.searchReply(gg.get(params), params, took = 0.0)
        val bytes = ProtoWire.searchReplyBytes(replyJson)
        val back = ProtoWire.read(bytes, "SearchReply")
        val same = canon(back) == canon(JsonMethods.parse(replyJson))
        (s"bytes=${bytes.length > 0};match=$same",
          JsonMethods.compact(JsonMethods.render(canon(back) \ "results")))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      // flat page: filter + sort + uuid metadata + typed property values
      val (flatOk, flatBody) = roundTrip(JObject(List(
        "collection" -> JString("Customer"),
        "limit" -> JLong(3),
        "filters" -> JObject(List(
          "operator" -> JString("OPERATOR_GREATER_THAN"),
          "on" -> JArray(List(JString("c_acctbal"))),
          "value_number" -> JDouble(9000.0))),
        "sort_by" -> JArray(List(JObject(List(
          "ascending" -> JBool(true), "path" -> JArray(List(JString("c_name"))))))),
        "metadata" -> JObject(List("uuid" -> JBool(true))),
        "properties" -> JObject(List("non_ref_properties" -> JArray(List(
          JString("c_name"), JString("c_acctbal"), JString("c_nationkey"))))))))
      out += "01_flat" -> flatOk
      out += "02_flat_first" -> (JsonMethods.parse(flatBody) match {
        case JArray(results) => results.headOption.map(r =>
          JsonMethods.compact(JsonMethods.render(r \ "properties" \ "nonrefproperties" \ "cname")))
          .getOrElse("none")
        case _ => "none"
      })
      // grouped page: bm25 leg + group_by → GroupByResult encode path
      val (grpOk, _) = roundTrip(JObject(List(
        "collection" -> JString("Document"),
        "limit" -> JLong(10),
        "bm25_search" -> JObject(List("query" -> JString("spark"))),
        "group_by" -> JObject(List(
          "path" -> JArray(List(JString("lang"))),
          "number_of_groups" -> JLong(3), "objects_per_group" -> JLong(2))),
        "metadata" -> JObject(List("score" -> JBool(true))),
        "properties" -> JObject(List("non_ref_properties" -> JArray(List(
          JString("doc_id"), JString("lang"))))))))
      out += "03_grouped" -> grpOk
      // binary BatchObjectsRequest: Struct payload + per-index errors
      val batchDoc = JObject(List("objects" -> JArray(List(
        JObject(List(
          "collection" -> JString("BinBatch"),
          "uuid" -> JString("00000000-0000-0000-0000-0000000000b1"),
          "properties" -> JObject(List(
            "non_ref_properties" -> JObject(List(
              "name" -> JString("alpha"), "n" -> JLong(7),
              "score" -> JDouble(0.25), "flag" -> JBool(true))),
            "text_array_properties" -> JArray(List(JObject(List(
              "prop_name" -> JString("tags"),
              "values" -> JArray(List(JString("a"), JString("b"))))))),
            "int_array_properties" -> JArray(List(JObject(List(
              "prop_name" -> JString("ranks"),
              "values" -> JArray(List(JLong(3), JLong(1))))))))))),
        JObject(List(
          "collection" -> JString("BinBatch"),
          "uuid" -> JString("not-a-uuid"))))))) // per-index error contract
      val (ok, errs) = ProtoWire.batchObjectsRequest(
        ProtoWire.write(batchDoc, "BatchObjectsRequest"))
      out += "04_batch_decoded" -> ok.map { case (i, o) =>
        val props = o.properties.toSeq.sortBy(_._1).map { case (k, v) =>
          s"$k=${v match { case xs: Seq[_] => xs.mkString("[", "|", "]"); case x => x }}"
        }.mkString(";")
        s"$i:${o.collection}/${o.uuid}{$props}"
      }.mkString(",")
      out += "05_batch_errors" -> errs.toSeq.sorted
        .map { case (i, e) => s"$i:$e" }.mkString(",")
      steps(s, out.toSeq)
    },

    // PUT /v1/schema/{class} + POST /v1/schema/{class}/properties wire:
    // the update path's immutable-field rules verbatim
    // (usecases/schema/class.go:459-632, parser.go:275-375) and live arms —
    // a mutable stopword update re-serves a previously-rejected filter, and
    // a wire-decoded added property round-trips through schema evolution
    // schema-update wire: the reference's immutable-field texts verbatim
    // (class.go validateImmutableFields + parser.go ParseClassUpdate)
    Gate("q_wire_schema_update",
      """SELECT * FROM (VALUES
        |  ('01_not_found', 'class "Nope": not found'),
        |  ('02_rename', 'class name is immutable: attempted change from "WireUpd" to "Renamed"'),
        |  ('03_mt_enable', 'enabling multi-tenancy for an existing class is not supported'),
        |  ('04_flag_timestamps', '"indexTimestamp" setting is immutable. Value changed from "false" to "true"'),
        |  ('05_distance', 'validate vector index config: distance is immutable: attempted change from "cosine" to "l2-squared"'),
        |  ('06_prop_type_change', 'property fields other than description cannot be updated through updating the class. Use the add property feature (e.g. "POST /v1/schema/{className}/properties") to add additional properties'),
        |  ('07_prop_added', 'property fields other than description cannot be updated through updating the class. Use the add property feature (e.g. "POST /v1/schema/{className}/properties") to add additional properties'),
        |  ('08_stopword_filter_before', 'invalid search term, only stopwords provided. Stopwords can be configured in class.invertedIndexConfig.stopwords'),
        |  ('09_update_applies', 'none'),
        |  ('10_stopword_filter_after', '1'),
        |  ('11_add_property', 'note:text:field'),
        |  ('12_new_prop_null', '3'),
        |  ('13_add_conflict', 'class "WireUpd": conflict for property "txt": already in use or provided multiple times')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.SchemaWire
      import graft.model._
      val gg = new Graft(s)
      val classJson =
        """{"class": "WireUpd",
          |  "invertedIndexConfig": {"indexNullState": true, "stopwords": {"preset": "en"}},
          |  "vectorConfig": {"wupvec": {"vectorIndexConfig": {"distance": "cosine"}}},
          |  "properties": [
          |    {"name": "txt", "dataType": ["text"], "tokenization": "word"},
          |    {"name": "n", "dataType": ["int"]}]}""".stripMargin
      val schema = SchemaWire.decodeClass(classJson, idColumn = "id")
      val df = Seq(
        (1L, "the", 10L, Array(1.0f, 0.0f)),
        (2L, "quick fox", 20L, Array(0.0f, 1.0f)),
        (3L, "spark joins", 30L, Array(1.0f, 1.0f)))
        .toDF("id", "txt", "n", "wupvec")
      gg.register(schema, df)
      def upd(cls: String, json: String): String =
        okOr {
          val cur = try gg.collection(cls).schema catch {
            case _: Exception => throw new IllegalArgumentException(s"""class "$cls": not found""")
          }
          SchemaWire.decodeClassUpdate(cur, cls, json)
        }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      out += "01_not_found" -> upd("Nope", """{"class": "Nope", "properties": []}""")
      out += "02_rename" -> upd("WireUpd", classJson.replace(""""class": "WireUpd"""",
        """"class": "Renamed""""))
      out += "03_mt_enable" -> upd("WireUpd", classJson.replace(
        """"invertedIndexConfig"""",
        """"multiTenancyConfig": {"enabled": true}, "invertedIndexConfig""""))
      out += "04_flag_timestamps" -> upd("WireUpd", classJson.replace(
        """{"indexNullState"""", """{"indexTimestamps": true, "indexNullState""""))
      out += "05_distance" -> upd("WireUpd",
        classJson.replace(""""distance": "cosine"""", """"distance": "l2-squared""""))
      out += "06_prop_type_change" -> upd("WireUpd",
        classJson.replace(""""name": "n", "dataType": ["int"]""",
          """"name": "n", "dataType": ["number"]"""))
      out += "07_prop_added" -> upd("WireUpd", classJson.replace(
        """{"name": "n", "dataType": ["int"]}]""",
        """{"name": "n", "dataType": ["int"]}, {"name": "extra", "dataType": ["text"]}]"""))
      // live: a word-tokenized Equal on a pure stopword is rejected under
      // preset en, then SERVES after the (mutable) stopword update
      out += "08_stopword_filter_before" -> okOr(gg.get(GetParams("WireUpd",
        where = Some(Where.eqText("txt", "the")), properties = Seq("id"))).count())
      val updatedSchema = SchemaWire.decodeClassUpdate(
        gg.collection("WireUpd").schema, "WireUpd",
        classJson.replace(""""preset": "en"""", """"preset": "none""""))
      gg.register(updatedSchema, df)
      out += "09_update_applies" -> valueOr(gg.collection("WireUpd").schema.stopwords.preset)
      out += "10_stopword_filter_after" -> valueOr(gg.get(GetParams("WireUpd",
        where = Some(Where.eqText("txt", "the")), properties = Seq("id"))).count())
      // add-property wire: decode, evolve, read back typed nulls
      val newProp = SchemaWire.decodeAddProperty(gg.collection("WireUpd").schema,
        """{"name": "note", "dataType": ["text"], "tokenization": "field"}""")
      out += "11_add_property" -> s"${newProp.name}:${newProp.dataType.name}:${newProp.tokenization.name}"
      val evolved = gg.collection("WireUpd")
      gg.register(evolved.schema.copy(properties = evolved.schema.properties :+ newProp),
        evolved.df.withColumn("note", lit(null).cast("string")))
      out += "12_new_prop_null" -> valueOr(gg.get(GetParams("WireUpd",
        where = Some(Where.isNull("note")),
        properties = Seq("id"))).count())
      out += "13_add_conflict" -> okOr(SchemaWire.decodeAddProperty(
        gg.collection("WireUpd").schema, """{"name": "txt", "dataType": ["text"]}"""))
      steps(s, out.toSeq)
    },

    // single-object REST CRUD wire (POST/PUT/PATCH/DELETE /v1/objects):
    // models.Object decode + the validation texts of usecases/objects/
    // {add,update,merge}.go and validation/properties_validation.go, driving
    // a REAL store walk (insert, lowercase-id normalization gh-2647,
    // duplicate-id rejection, PUT full replace vs PATCH merge, delete)
    // single-object CRUD wire: reference texts + live walk outcomes
    Gate("q_wire_object",
      """SELECT * FROM (VALUES
        |  ('01_post', 'ok'),
        |  ('02_post_upper', 'ok'),
        |  ('03_stored_lowercase', '8f5f8e44-d348-459c-88b1-c1a44bb8f8be,9b9cbea5-e87e-4cd0-89af-e2f424fd52d6'),
        |  ('04_post_duplicate', 'id ''8F5F8E44-D348-459C-88B1-C1A44BB8F8BE'' already exists'),
        |  ('05_put_id_immutable', 'invalid update: field ''id'' is immutable'),
        |  ('06_put_replaces', 'ok'),
        |  ('07_after_put', 'Amsterdam2:∅'),
        |  ('08_patch_merges', 'ok'),
        |  ('09_after_patch', 'Berlin:3470000'),
        |  ('10_patch_empty_class', 'empty class'),
        |  ('11_patch_empty_uuid', 'empty uuid'),
        |  ('12_patch_missing_404', 'not found'),
        |  ('13_unknown_prop', 'invalid object: unknown property ''bogus'''),
        |  ('14_bad_date', 'invalid object: invalid date property ''cityRights'' on class ''WireObj'': requires a string with a RFC3339 formatted date, but the given value is ''nope'''),
        |  ('15_bad_uuid_prop', 'invalid object: invalid uuid property ''code'' on class ''WireObj'': requires a string of UUID format, but the given value is ''zz'''),
        |  ('16_not_a_string', 'invalid object: invalid text property ''name'' on class ''WireObj'': not a string, but json.Number'),
        |  ('17_int_conversion', 'invalid object: invalid integer property ''population'' on class ''WireObj'': the JSON number ''1.5'' could not be converted to an int'),
        |  ('18_bad_id', 'invalid UUID length: 5'),
        |  ('19_delete', '1'),
        |  ('20_head_after_delete', 'not found')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      import graft.engine.WireDecoder
      import graft.model._
      val W = WireDecoder
      val schema = CollectionSchema("WireObj", "id", Seq(
        Property("name", PropType.Text),
        Property("population", PropType.Int),
        Property("cityRights", PropType.Date),
        Property("code", PropType.Uuid),
        Property("tags", PropType.Arr(PropType.Text))))
      val sparkSchema = StructType(Seq(
        StructField("id", StringType), StructField("name", StringType),
        StructField("population", LongType), StructField("cityRights", TimestampType),
        StructField("code", StringType), StructField("tags", ArrayType(StringType))))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("objwire"), schema)
      def rowOf(o: W.RestObject): org.apache.spark.sql.DataFrame = {
        val vals = W.restObjectValues(schema, o)
        val row = Row(o.id.orNull, vals.get("name").orNull,
          vals.get("population").map(_.asInstanceOf[Long]).map(Long.box).orNull,
          vals.get("cityRights").orNull, vals.get("code").orNull,
          vals.get("tags").map(_.asInstanceOf[Seq[String]]).orNull)
        s.createDataFrame(java.util.Arrays.asList(row), sparkSchema)
      }
      // partial rows for PATCH: only the columns the body carries
      def patchOf(o: W.RestObject): org.apache.spark.sql.DataFrame = {
        val vals = W.restObjectValues(schema, o)
        val cols = sparkSchema.filter(f => f.name == "id" || vals.contains(f.name))
        val row = Row.fromSeq(cols.map(f =>
          if (f.name == "id") o.id.orNull else vals(f.name)))
        s.createDataFrame(java.util.Arrays.asList(row), StructType(cols))
      }
      def exists(id: String): Boolean =
        !st.read().filter(col("id") === id).isEmpty
      def post(json: String): String = okOr {
        val o = W.decodeRestObject(json)
        // checkIDOrAssignNew (add.go:145-176): quoted id keeps the POSTED case
        o.id.foreach { lid =>
          if (exists(lid))
            throw new IllegalArgumentException(s"id '${o.rawId.get}' already exists")
        }
        st.upsert(rowOf(o))
      }
      val A = "8f5f8e44-d348-459c-88b1-c1a44bb8f8be"
      val B = "9b9cbea5-e87e-4cd0-89af-e2f424fd52d6"
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      st.init(s.createDataFrame(java.util.Collections.emptyList[Row](), sparkSchema))
      out += "01_post" -> post(s"""{"class": "WireObj", "id": "$A",
        |  "properties": {"name": "Amsterdam", "population": 1800000,
        |    "cityRights": "1400-01-01T00:00:00+02:00",
        |    "code": "00000000-0000-0000-0000-000000010000",
        |    "tags": ["x", "y"]}}""".stripMargin)
      // gh-2647: an UPPERCASE id stores lowercase
      out += "02_post_upper" -> post(s"""{"class": "WireObj",
        |  "id": "${B.toUpperCase}", "properties": {"name": "Berlin"}}""".stripMargin)
      out += "03_stored_lowercase" -> valueOr(
        st.read().select(col("id")).orderBy(col("id")).collect()
          .map(_.getString(0)).mkString(","))
      out += "04_post_duplicate" -> post(s"""{"class": "WireObj",
        |  "id": "${A.toUpperCase}", "properties": {"name": "Dup"}}""".stripMargin)
      // PUT: path id must match the body id; full replace nulls omitted props
      out += "05_put_id_immutable" -> okOr {
        val o = W.decodeRestObject(s"""{"class": "WireObj", "id": "$B", "properties": {}}""")
        if (!o.id.contains(A))
          throw new IllegalArgumentException("invalid update: field 'id' is immutable")
      }
      out += "06_put_replaces" -> okOr {
        val o = W.decodeRestObject(s"""{"class": "WireObj", "id": "$A",
          |  "properties": {"name": "Amsterdam2"}}""".stripMargin)
        if (!exists(o.id.get)) throw new IllegalArgumentException("not found")
        st.upsert(rowOf(o))
      }
      out += "07_after_put" -> valueOr {
        val r = st.read().filter(col("id") === A)
          .select(col("name"), col("population")).head()
        s"${r.getString(0)}:${if (r.isNullAt(1)) "∅" else r.getLong(1)}"
      }
      // PATCH: merge keeps unspecified props; missing object is a 404
      out += "08_patch_merges" -> okOr {
        val o = W.decodeRestObject(s"""{"class": "WireObj", "id": "$B",
          |  "properties": {"population": 3470000}}""".stripMargin)
        W.validatePatchInputs(o.collection, o.id.getOrElse(""))
        if (!exists(o.id.get)) throw new IllegalArgumentException("not found")
        st.merge(patchOf(o))
      }
      out += "09_after_patch" -> valueOr {
        val r = st.read().filter(col("id") === B)
          .select(col("name"), col("population")).head()
        s"${r.getString(0)}:${r.getLong(1)}"
      }
      out += "10_patch_empty_class" -> okOr(W.validatePatchInputs("", A))
      out += "11_patch_empty_uuid" -> okOr(W.validatePatchInputs("WireObj", ""))
      out += "12_patch_missing_404" -> okOr {
        val o = W.decodeRestObject(
          """{"class": "WireObj", "id": "00000000-0000-0000-0000-00000000dead",
            |  "properties": {"population": 1}}""".stripMargin)
        if (!exists(o.id.get)) throw new IllegalArgumentException("not found")
      }
      // validation texts
      def vals(json: String): String =
        okOr(W.restObjectValues(schema, W.decodeRestObject(json)))
      out += "13_unknown_prop" -> vals(
        s"""{"class": "WireObj", "id": "$A", "properties": {"bogus": 1}}""")
      out += "14_bad_date" -> vals(
        s"""{"class": "WireObj", "id": "$A", "properties": {"cityRights": "nope"}}""")
      out += "15_bad_uuid_prop" -> vals(
        s"""{"class": "WireObj", "id": "$A", "properties": {"code": "zz"}}""")
      out += "16_not_a_string" -> vals(
        s"""{"class": "WireObj", "id": "$A", "properties": {"name": 5}}""")
      out += "17_int_conversion" -> vals(
        s"""{"class": "WireObj", "id": "$A", "properties": {"population": 1.5}}""")
      out += "18_bad_id" -> okOr(W.decodeRestObject(
        """{"class": "WireObj", "id": "short", "properties": {}}"""))
      // DELETE + HEAD
      out += "19_delete" -> valueOr(st.deleteWhere(
        Where(WhereOp.Equal, Seq("_id"), Some(FilterValue.TextV(B)))))
      out += "20_head_after_delete" -> okOr {
        if (!exists(B)) throw new IllegalArgumentException("not found")
      }
      steps(s, out.toSeq)
    },

    // §2.10 backpressure-shaped ingest: a 10x burst (20 files at once vs the
    // 2-file trigger budget) must drain through BOUNDED micro-batches — the
    // Spark shape of BatchStream's Backoff replies (grpc/proto/v1/
    // batch.proto:22-75: the server slows the sender instead of buffering
    // unboundedly; here maxFilesPerTrigger caps per-trigger work so executor
    // memory stays flat no matter how deep the backlog). The dedup arm
    // proves the STATE bound: 1000 burst rows with 100 distinct keys hold
    // exactly 100 state rows under dropDuplicatesWithinWatermark.
    // backpressure: 20 files through a 2-file trigger = 10 bounded batches
    // of <= 100 rows; 1000 rows drain; dedup keeps exactly the 100 keys
    // with a 100-row state ceiling
    Gate("q_stream_backpressure",
      """SELECT * FROM (VALUES
        |  ('01_batches', '10'),
        |  ('02_max_batch_rows', '100'),
        |  ('03_drained', '1000'),
        |  ('04_dedup_rows', '100'),
        |  ('05_max_state_rows', '100')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val base = Gate.tempDir("bp")
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("key", LongType),
        StructField("ts", TimestampType)))
      // the burst: 20 files of 50 rows each, dropped BEFORE the stream
      // starts. The file set is deterministic fixture I/O, so it is built
      // once per session (the replayDir memo pattern) — the timed work is
      // the two stream drains, not 20 tiny write jobs
      val inDir = SparkEntryExt.replayDir(s, "bp", "-") { d =>
        (0 until 20).foreach { fileNo =>
          val rows = (0 until 50).map { r =>
            val id = fileNo * 50L + r
            (id, id % 100, new java.sql.Timestamp(1706659200000L + id))
          }
          SparkEntryExt.dumpReplayFile(rows.toDF("id", "key", "ts"), d,
            f"$fileNo%02d.parquet")
        }
      }
      val q = Ingest.fileIngest(s, inDir, s"$base/out", schema,
        s"$base/ckpt", maxFilesPerTrigger = 2)
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val drained = s.read.parquet(s"$base/out").count()
      // dedup arm: same burst through the watermark-bounded dedup. State
      // partitions sized to the state (100 keys), not the session's batch
      // shuffle width — every micro-batch pays one state-store task per
      // partition, and the count is fixed at first start
      val q2 = Ingest.dedupIngest(
        SessionScope.cloned(s, "spark.sql.shuffle.partitions" -> "4"),
        inDir, s"$base/out2", schema, s"$base/ckpt2", keyCols = Seq("key"),
        tsCol = "ts", watermark = "10 minutes", maxFilesPerTrigger = 2)
      q2.awaitTermination()
      val p2 = q2.recentProgress
      val maxState = p2.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val deduped = s.read.parquet(s"$base/out2").count()
      steps(s, Seq(
        "01_batches" -> progress.length.toString,
        "02_max_batch_rows" -> progress.map(_.numInputRows).max.toString,
        "03_drained" -> drained.toString,
        "04_dedup_rows" -> deduped.toString,
        "05_max_state_rows" -> maxState.toString))
    }
  )

  // ==========================================================================
  // oracles
  // ==========================================================================

}
