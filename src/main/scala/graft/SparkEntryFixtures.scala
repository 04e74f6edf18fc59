package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Graft, GraphQL}

/**
 * q_fixture_* gates: the reference's OWN acceptance GraphQL documents
 * (test/acceptance/graphql_resolvers/local_get_test.go, *_with_filter,
 * *_with_sort, *_with_geo_range_filter, local_aggregate_test.go and the
 * aggregate matrix) replayed verbatim against the [[CitiesFixture]] rebuild
 * of its sample data. Each oracle is a VALUES table of the REFERENCE-AUTHORED
 * expected outputs (the exact name orders, stat sets and error texts its Go
 * tests assert) — the strongest available "matches weaviate" evidence short
 * of a running server.
 *
 * The bed is self-contained (12 objects), so the scale-factor dir is unused;
 * pages are ≤ 6 rows and the driver-side string assembly is bounded by that.
 *
 * Documented divergences from the reference suite, mirrored in both sides of
 * each gate: (a) the embedding space is CitiesFixture's deterministic
 * stand-in (sets/ranks under every replayed threshold match the acceptance
 * assertions by construction — see the angle plan there); (b) documents that
 * need classes outside the cities schema (Person refs, ArrayClass, Pizza
 * stopwords, CursorClass, custom-vector classes) are covered by the
 * operator's own synthetic gates instead (q_ref_count, q_filter_isnull_len,
 * q_bm25_stopwords, q_cursor, …).
 */
object SparkEntryFixtures {

  import Gate.{okOr, steps}

  private def cg(s: SparkSession): Graft = CitiesFixture.graft(s)

  /** One Get document → the name column joined "a,b,∅" in returned order. */
  private def namesCsv(g: Graft, doc: String): String =
    g.get(GraphQL.get(g, doc)).select(col("name")).collect()
      .map(r => if (r.isNullAt(0)) "∅" else r.getString(0)).mkString(",")

  /** Compact numeric render: round(4) then strip trailing zeros; null = ∅. */
  private def fmt(a: Any): String = a match {
    case null => "∅"
    case d: java.lang.Double =>
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
    case l: java.lang.Long => l.toString
    case other => other.toString
  }

  /** The boost suite's Song bed (boost_test.go): 100 songs with formulaic
   * likes/dates/4-d trig vectors. Read-only after registration →
   * session-cached (same pattern as CitiesFixture). */
  private def songVecOf(i: Int): Seq[Float] = Seq(
    (math.sin(i * 0.7) * 0.5).toFloat, (math.cos(i * 1.3) * 0.5).toFloat,
    (math.sin(i * 2.1 + 1.0) * 0.5).toFloat, (math.cos(i * 0.3 + 2.0) * 0.5).toFloat)
  private[graft] def songGraft(s: SparkSession): Graft = Fixtures.cached(s, "songs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.model.{CollectionSchema, Property, PropType, Tokenization}
    val gg = new Graft(s)
    val baseMs = java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli
    gg.register(CollectionSchema("Song", "uuid", Seq(
      Property("name", PropType.Text, Tokenization.Word),
      Property("likes", PropType.Number),
      Property("date_published", PropType.Date)),
      vectors = Map("default" -> "vector"), defaultVector = Some("default")),
      s.createDataFrame(java.util.Arrays.asList((0 until 100).map { i =>
        val likes = ((i * 7 + 13) % 100 * 10).toDouble
        val dayOffset = (i * 3 + 5) % 200
        Row(f"77000000-0000-4000-8000-$i%012d", f"Song $i%03d", likes,
          new java.sql.Timestamp(baseMs - dayOffset * 24L * 3600 * 1000),
          songVecOf(i))
      }: _*), StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), StructField("likes", DoubleType),
        StructField("date_published", TimestampType),
        StructField("vector", ArrayType(FloatType))))).cache())
    gg
  }

  // ==========================================================================
  // queries
  // ==========================================================================

  private[graft] def gates: Seq[Gate] = Seq(

    // local_get_test.go: uuid-ordered listing/paging + cref relations
    Gate("q_fixture_get", values(Seq(
      "01_all" -> "Rotterdam,Dusseldorf,Missing Island,∅,Amsterdam,Berlin",
      "02_limit" -> "Rotterdam,Dusseldorf",
      "03_offset_limit" -> "Missing Island,∅",
      "04_offset" -> "Missing Island,∅,Amsterdam,Berlin",
      "05_offset_limit_beyond" -> "Berlin",
      "06_offset_beyond" -> "",
      "07_relations" -> ("Rotterdam>[Netherlands],Dusseldorf>[Germany]," +
        "Missing Island>∅,∅>∅,Amsterdam>[Netherlands],Berlin>[Germany]")))) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      out += "01_all" -> namesCsv(g, "{ Get { City { name } } }")
      out += "02_limit" -> namesCsv(g, "{  Get { City(limit: 2) { name } } }")
      out += "03_offset_limit" -> namesCsv(g, "{  Get { City(offset: 2 limit: 2) { name } } }")
      out += "04_offset" -> namesCsv(g, "{  Get { City(offset: 2) { name } } }")
      out += "05_offset_limit_beyond" -> namesCsv(g, "{  Get { City(offset: 5 limit: 10) { name } } }")
      out += "06_offset_beyond" -> namesCsv(g, "{  Get { City(offset: 6) { name } } }")
      out += "07_relations" -> {
        g.get(GraphQL.get(g,
          "{ Get { City { name, inCountry { ... on Country { name } } } } }"))
          .select(col("name"), expr("transform(inCountry_resolved, x -> x.name)"))
          .collect().map { r =>
            val n = if (r.isNullAt(0)) "∅" else r.getString(0)
            val c = if (r.isNullAt(1)) "∅" else r.getSeq[String](1).mkString("[", "|", "]")
            s"$n>$c"
          }.mkString(",")
      }
      steps(s, out.result())
    },

    // local_get_with_sort_test.go:38-581 — every simple + complex sort case,
    // each also re-run with the suite's limit-4 variant
    Gate("q_fixture_sort", values(Seq(
      "01_name_asc_full" -> "∅,Amsterdam,Berlin,Dusseldorf,Missing Island,Rotterdam",
      "01_name_asc_lim4" -> "∅,Amsterdam,Berlin,Dusseldorf",
      "02_name_desc_full" -> "Rotterdam,Missing Island,Dusseldorf,Berlin,Amsterdam,∅",
      "02_name_desc_lim4" -> "Rotterdam,Missing Island,Dusseldorf,Berlin",
      "03_pop_asc_full" -> "∅,Missing Island,Rotterdam,Dusseldorf,Amsterdam,Berlin",
      "03_pop_asc_lim4" -> "∅,Missing Island,Rotterdam,Dusseldorf",
      "04_pop_desc_full" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf,Missing Island,∅",
      "04_pop_desc_lim4" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf",
      "05_cap_asc_full" -> "∅,Rotterdam,Dusseldorf,Missing Island,Amsterdam,Berlin",
      "05_cap_asc_lim4" -> "∅,Rotterdam,Dusseldorf,Missing Island",
      "06_cap_desc_full" -> "Amsterdam,Berlin,Rotterdam,Dusseldorf,Missing Island,∅",
      "06_cap_desc_lim4" -> "Amsterdam,Berlin,Rotterdam,Dusseldorf",
      "07_area_asc_full" -> "Missing Island,∅,Dusseldorf,Rotterdam,Amsterdam,Berlin",
      "07_area_asc_lim4" -> "Missing Island,∅,Dusseldorf,Rotterdam",
      "08_area_desc_full" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf,Missing Island,∅",
      "08_area_desc_lim4" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf",
      "09_rights_asc_full" -> "Missing Island,∅,Dusseldorf,Rotterdam,Amsterdam,Berlin",
      "09_rights_asc_lim4" -> "Missing Island,∅,Dusseldorf,Rotterdam",
      "10_rights_desc_full" -> "Amsterdam,Berlin,Rotterdam,Dusseldorf,Missing Island,∅",
      "10_rights_desc_lim4" -> "Amsterdam,Berlin,Rotterdam,Dusseldorf",
      "11_tz_asc_full" -> "Missing Island,∅,Rotterdam,Dusseldorf,Amsterdam,Berlin",
      "11_tz_asc_lim4" -> "Missing Island,∅,Rotterdam,Dusseldorf",
      "12_tz_desc_full" -> "Rotterdam,Dusseldorf,Amsterdam,Berlin,Missing Island,∅",
      "12_tz_desc_lim4" -> "Rotterdam,Dusseldorf,Amsterdam,Berlin",
      "13_museums_asc_full" -> "Missing Island,∅,Berlin,Rotterdam,Dusseldorf,Amsterdam",
      "13_museums_asc_lim4" -> "Missing Island,∅,Berlin,Rotterdam",
      "14_museums_desc_full" -> "Amsterdam,Dusseldorf,Rotterdam,Berlin,Missing Island,∅",
      "14_museums_desc_lim4" -> "Amsterdam,Dusseldorf,Rotterdam,Berlin",
      "15_history_asc_full" -> "Missing Island,∅,Amsterdam,Rotterdam,Berlin,Dusseldorf",
      "15_history_asc_lim4" -> "Missing Island,∅,Amsterdam,Rotterdam",
      "16_history_desc_full" -> "Dusseldorf,Berlin,Rotterdam,Amsterdam,Missing Island,∅",
      "16_history_desc_lim4" -> "Dusseldorf,Berlin,Rotterdam,Amsterdam",
      "17_phone_asc_full" -> "Missing Island,∅,Rotterdam,Dusseldorf,Berlin,Amsterdam",
      "17_phone_asc_lim4" -> "Missing Island,∅,Rotterdam,Dusseldorf",
      "18_phone_desc_full" -> "Amsterdam,Berlin,Dusseldorf,Rotterdam,Missing Island,∅",
      "18_phone_desc_lim4" -> "Amsterdam,Berlin,Dusseldorf,Rotterdam",
      "19_loc_asc_full" -> "Rotterdam,∅,Berlin,Missing Island,Amsterdam,Dusseldorf",
      "19_loc_asc_lim4" -> "Rotterdam,∅,Berlin,Missing Island",
      "20_loc_desc_full" -> "Dusseldorf,Amsterdam,Missing Island,Rotterdam,∅,Berlin",
      "20_loc_desc_lim4" -> "Dusseldorf,Amsterdam,Missing Island,Rotterdam",
      "21_pop_name_asc_full" -> "∅,Missing Island,Dusseldorf,Rotterdam,Amsterdam,Berlin",
      "21_pop_name_asc_lim4" -> "∅,Missing Island,Dusseldorf,Rotterdam",
      "22_pop_asc_name_desc_full" -> "∅,Missing Island,Rotterdam,Dusseldorf,Amsterdam,Berlin",
      "22_pop_asc_name_desc_lim4" -> "∅,Missing Island,Rotterdam,Dusseldorf",
      "23_name_asc_pop_desc_full" -> "∅,Amsterdam,Berlin,Dusseldorf,Missing Island,Rotterdam",
      "23_name_asc_pop_desc_lim4" -> "∅,Amsterdam,Berlin,Dusseldorf",
      "24_pop_name_desc_full" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf,Missing Island,∅",
      "24_pop_name_desc_lim4" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf",
      "25_phone_pop_name_asc_full" -> "∅,Missing Island,Rotterdam,Dusseldorf,Berlin,Amsterdam",
      "25_phone_pop_name_asc_lim4" -> "∅,Missing Island,Rotterdam,Dusseldorf",
      "26_cap_asc_name_asc_full" -> "∅,Dusseldorf,Missing Island,Rotterdam,Amsterdam,Berlin",
      "26_cap_asc_name_asc_lim4" -> "∅,Dusseldorf,Missing Island,Rotterdam",
      "27_cap_asc_name_desc_full" -> "∅,Rotterdam,Missing Island,Dusseldorf,Berlin,Amsterdam",
      "27_cap_asc_name_desc_lim4" -> "∅,Rotterdam,Missing Island,Dusseldorf",
      "28_cap_desc_name_asc_full" -> "Amsterdam,Berlin,Dusseldorf,Missing Island,Rotterdam,∅",
      "28_cap_desc_name_asc_lim4" -> "Amsterdam,Berlin,Dusseldorf,Missing Island",
      "29_cap_desc_name_desc_full" -> "Berlin,Amsterdam,Rotterdam,Missing Island,Dusseldorf,∅",
      "29_cap_desc_name_desc_lim4" -> "Berlin,Amsterdam,Rotterdam,Missing Island",
      "30_cap_asc_pop_desc_name_asc_full" -> "∅,Dusseldorf,Rotterdam,Missing Island,Berlin,Amsterdam",
      "30_cap_asc_pop_desc_name_asc_lim4" -> "∅,Dusseldorf,Rotterdam,Missing Island",
      "31_cap_desc_pop_desc_name_desc_full" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf,Missing Island,∅",
      "31_cap_desc_pop_desc_name_desc_lim4" -> "Berlin,Amsterdam,Rotterdam,Dusseldorf",
      "32_cap_tz_rights_name_asc_full" -> "∅,Missing Island,Dusseldorf,Rotterdam,Amsterdam,Berlin",
      "32_cap_tz_rights_name_asc_lim4" -> "∅,Missing Island,Dusseldorf,Rotterdam",
      "33_cap_desc_tz_rights_asc_name_desc_full" -> "Berlin,Amsterdam,Missing Island,Dusseldorf,Rotterdam,∅",
      "33_cap_desc_tz_rights_asc_name_desc_lim4" -> "Berlin,Amsterdam,Missing Island,Dusseldorf",
      "34_sort_where_loc_asc" -> "Missing Island,Dusseldorf",
      "35_sort_where_loc_desc" -> "Dusseldorf,Missing Island",
      "36_sort_where_nonexistent" -> ""))) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      def simple(step: String, prop: String, order: String): Unit = {
        out += s"${step}_full" -> namesCsv(g,
          s"""{ Get { City(sort: [{path: ["$prop"] order: $order}]) { name } } }""")
        out += s"${step}_lim4" -> namesCsv(g,
          s"""{ Get { City(limit: 4 sort: [{path: ["$prop"] order: $order}]) { name } } }""")
      }
      simple("01_name_asc", "name", "asc"); simple("02_name_desc", "name", "desc")
      simple("03_pop_asc", "population", "asc"); simple("04_pop_desc", "population", "desc")
      simple("05_cap_asc", "isCapital", "asc"); simple("06_cap_desc", "isCapital", "desc")
      simple("07_area_asc", "cityArea", "asc"); simple("08_area_desc", "cityArea", "desc")
      simple("09_rights_asc", "cityRights", "asc"); simple("10_rights_desc", "cityRights", "desc")
      simple("11_tz_asc", "timezones", "asc"); simple("12_tz_desc", "timezones", "desc")
      simple("13_museums_asc", "museums", "asc"); simple("14_museums_desc", "museums", "desc")
      simple("15_history_asc", "history", "asc"); simple("16_history_desc", "history", "desc")
      simple("17_phone_asc", "phoneNumber", "asc"); simple("18_phone_desc", "phoneNumber", "desc")
      simple("19_loc_asc", "location", "asc"); simple("20_loc_desc", "location", "desc")
      def complex(step: String, sort: String): Unit = {
        out += s"${step}_full" -> namesCsv(g, s"{ Get { City(sort: [$sort]) { name } } }")
        out += s"${step}_lim4" -> namesCsv(g, s"{ Get { City(limit: 4 sort: [$sort]) { name } } }")
      }
      def k(p: String, o: String) = s"""{path:["$p"] order:$o}"""
      complex("21_pop_name_asc", s"${k("population", "asc")},${k("name", "asc")}")
      complex("22_pop_asc_name_desc", s"${k("population", "asc")},${k("name", "desc")}")
      complex("23_name_asc_pop_desc", s"${k("name", "asc")},${k("population", "desc")}")
      complex("24_pop_name_desc", s"${k("population", "desc")},${k("name", "desc")}")
      complex("25_phone_pop_name_asc",
        s"${k("phoneNumber", "asc")},${k("population", "asc")},${k("name", "asc")}")
      complex("26_cap_asc_name_asc", s"${k("isCapital", "asc")},${k("name", "asc")}")
      complex("27_cap_asc_name_desc", s"${k("isCapital", "asc")},${k("name", "desc")}")
      complex("28_cap_desc_name_asc", s"${k("isCapital", "desc")},${k("name", "asc")}")
      complex("29_cap_desc_name_desc", s"${k("isCapital", "desc")},${k("name", "desc")}")
      complex("30_cap_asc_pop_desc_name_asc",
        s"${k("isCapital", "asc")},${k("population", "desc")},${k("name", "asc")}")
      complex("31_cap_desc_pop_desc_name_desc",
        s"${k("isCapital", "desc")},${k("population", "desc")},${k("name", "desc")}")
      complex("32_cap_tz_rights_name_asc",
        s"${k("isCapital", "asc")},${k("timezones", "asc")},${k("cityRights", "asc")},${k("name", "asc")}")
      complex("33_cap_desc_tz_rights_asc_name_desc",
        s"${k("isCapital", "desc")},${k("timezones", "asc")},${k("cityRights", "asc")},${k("name", "desc")}")
      // sort + where on the id alias (sort_test.go:583-658)
      out += "34_sort_where_loc_asc" -> namesCsv(g,
        """{ Get { City(sort: [{path: ["location"] order: asc}]
          |  where: {operator: Or, operands: [
          |    {valueText: "6ffb03f8-a853-4ec5-a5d8-302e45aaaf13", path: ["id"], operator: Equal},
          |    {valueText: "823abeca-eef3-41c7-b587-7a6977b08003", path: ["id"], operator: Equal}]}
          |) { name } } }""".stripMargin)
      out += "35_sort_where_loc_desc" -> namesCsv(g,
        """{ Get { City(sort: [{path: ["location"] order: desc}]
          |  where: {operator: Or, operands: [
          |    {valueText: "6ffb03f8-a853-4ec5-a5d8-302e45aaaf13", path: ["id"], operator: Equal},
          |    {valueText: "823abeca-eef3-41c7-b587-7a6977b08003", path: ["id"], operator: Equal}]}
          |) { name } } }""".stripMargin)
      out += "36_sort_where_nonexistent" -> namesCsv(g,
        """{ Get { City(sort: [{path: ["location"] order: asc}]
          |  where: {valueText: "non-existent-uuid", path: ["id"], operator: Equal}) { name } } }""".stripMargin)
      steps(s, out.result())
    },

    // local_get_with_sort_test.go:660-1134 — sort combined with nearText
    // radii/certainties, with and without limits and where
    Gate("q_fixture_sort_near", values(Seq(
      "01_dist_name_asc" -> "∅,Amsterdam,Berlin,Dusseldorf,Rotterdam",
      "02_dist_name_desc" -> "Rotterdam,Dusseldorf,Berlin,Amsterdam,∅",
      "03_dist_pop_asc" -> "∅,Dusseldorf,Rotterdam,Amsterdam,Berlin",
      "04_dist_pop_desc" -> "Berlin,Amsterdam,Dusseldorf,Rotterdam,∅",
      "05_cert_name_asc" -> "∅,Amsterdam,Berlin,Dusseldorf,Rotterdam",
      "06_cert_name_desc" -> "Rotterdam,Dusseldorf,Berlin,Amsterdam,∅",
      "07_cert_pop_asc" -> "∅,Dusseldorf,Rotterdam,Amsterdam,Berlin",
      "08_cert_pop_desc" -> "Berlin,Amsterdam,Dusseldorf,Rotterdam,∅",
      "09_dist_lim2_name_asc" -> "Amsterdam,Berlin",
      "10_dist_lim2_name_desc" -> "Berlin,Amsterdam",
      "11_dist_lim2_pop_asc" -> "Amsterdam,Berlin",
      "12_cert_lim2_pop_desc" -> "Berlin,Amsterdam",
      "13_where_dist_name_asc" -> "Amsterdam,Berlin",
      "14_where_dist_name_desc" -> "Berlin,Amsterdam",
      "15_where_cert_pop_asc" -> "Amsterdam,Berlin",
      "16_where_cert_pop_desc" -> "Berlin,Amsterdam"))) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      def near(step: String, argName: String, argVal: String, sort: String,
               extra: String = ""): Unit =
        out += step -> namesCsv(g,
          s"""{ Get { City(nearText: {concepts: ["Berlin"] $argName: $argVal}
             |  sort: [$sort] $extra) { name } } }""".stripMargin)
      def k(p: String, o: String) = s"""{path:["$p"] order:$o}"""
      near("01_dist_name_asc", "distance", "0.6", k("name", "asc"))
      near("02_dist_name_desc", "distance", "0.6", k("name", "desc"))
      near("03_dist_pop_asc", "distance", "0.6", k("population", "asc"))
      near("04_dist_pop_desc", "distance", "0.6", k("population", "desc"))
      near("05_cert_name_asc", "certainty", "0.7", k("name", "asc"))
      near("06_cert_name_desc", "certainty", "0.7", k("name", "desc"))
      near("07_cert_pop_asc", "certainty", "0.7", k("population", "asc"))
      near("08_cert_pop_desc", "certainty", "0.7", k("population", "desc"))
      // limit 2 bounds the SEARCH page (top-2 by distance) BEFORE sorting
      near("09_dist_lim2_name_asc", "distance", "0.6", k("name", "asc"), "limit: 2")
      near("10_dist_lim2_name_desc", "distance", "0.6", k("name", "desc"), "limit: 2")
      near("11_dist_lim2_pop_asc", "distance", "0.6", k("population", "asc"), "limit: 2")
      near("12_cert_lim2_pop_desc", "certainty", "0.7", k("population", "desc"), "limit: 2")
      def whereNear(step: String, argName: String, argVal: String, sort: String): Unit =
        out += step -> namesCsv(g,
          s"""{ Get { City(
             |  where: {valueBoolean: true, operator: Equal, path: ["isCapital"]}
             |  nearText: {concepts: ["Amsterdam"] $argName: $argVal}
             |  sort: [$sort] limit: 2) { name } } }""".stripMargin)
      whereNear("13_where_dist_name_asc", "distance", "0.6", k("name", "asc"))
      whereNear("14_where_dist_name_desc", "distance", "0.6", k("name", "desc"))
      whereNear("15_where_cert_pop_asc", "certainty", "0.7", k("population", "asc"))
      whereNear("16_where_cert_pop_desc", "certainty", "0.7", k("population", "desc"))
      steps(s, out.result())
    },

    // local_get_with_filter_test.go — the cities-schema filter journeys
    Gate("q_fixture_filter", values(Seq(
      "01_control" -> "10000,30000,40000,20000",
      "02_neartext_len" -> "Amsterdam,Berlin,Dusseldorf,Missing Island,Rotterdam",
      "03_neartext_isnull" -> "∅",
      "04_ref_2hop" -> "40000",
      "05_phone_via_ref" -> "+31 1234567|31|1234567",
      "06_uuid_ranges" -> "20000",
      "07_filter_by_id" -> "+31 1234567|31|1234567",
      "08_isnull_true" -> "Missing Island,∅",
      "09_isnull_false" -> "Rotterdam,Dusseldorf,Amsterdam,Berlin",
      "10_creation_ms_text" -> "4770bb19-20fd-406e-ac64-9dac54c27a0f",
      "11_creation_date_gte" -> "4"))) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      def codes(doc: String): String =
        g.get(GraphQL.get(g, doc)).select(col("code")).collect()
          .map(_.getString(0)).mkString(",")
      out += "01_control" -> codes("{ Get { Airport { code } } }")
      // the Go test asserts the COUNT only (its order is the module
      // vectorizer's rank) — compare the sorted page, order-insensitive
      out += "02_neartext_len" -> namesCsv(g,
        """{ Get { City (nearText: {concepts: ["hi"], distance: 0.9},
          |  where: {path: "len(name)" operator: GreaterThanEqual valueInt: 0}) { name } } }""".stripMargin)
        .split(',').sorted.mkString(",")
      out += "03_neartext_isnull" -> namesCsv(g,
        """{ Get { City (nearText: {concepts: ["hi"], distance: 0.9},
          |  where: {path: "name" operator: IsNull valueBoolean: true}) { name } } }""".stripMargin)
      out += "04_ref_2hop" -> codes(
        """{ Get { Airport(where:{operator:And operands: [
          |  {operator: GreaterThan, valueInt: 600000, path:["inCity", "City", "population"]},
          |  {operator: Equal, valueText:"Germany", path:["inCity", "City", "inCountry", "Country", "name"]}]})
          |  { code } } }""".stripMargin)
      def phone(doc: String): String =
        g.get(GraphQL.get(g, doc))
          .select(col("phone.internationalFormatted"), col("phone.countryCode"),
            col("phone.nationalFormatted")).collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getString(2)}").mkString(",")
      out += "05_phone_via_ref" -> phone(
        """{ Get { Airport(where:{valueText:"Amsterdam", operator:Equal,
          |  path:["inCity", "City", "name"]}) { phone } } }""".stripMargin)
      out += "06_uuid_ranges" -> codes(
        """{ Get { Airport(where:{operator:And operands: [
          |  {operator: GreaterThan, valueText: "00000000-0000-0000-0000-000000010000", path:["airportId"]},
          |  {operator: LessThan, valueText: "00000000-0000-0000-0000-000000030000", path:["airportId"]},
          |  {operator: NotEqual, valueText: "00000000-0000-0000-0000-000000040000", path:["airportId"]}]})
          |  { code airportId } } }""".stripMargin)
      out += "07_filter_by_id" -> phone(
        """{ Get { Airport(where:{valueText:"4770bb19-20fd-406e-ac64-9dac54c27a0f",
          |  operator:Equal, path:["id"]}) { phone } } }""".stripMargin)
      out += "08_isnull_true" -> namesCsv(g,
        """{ Get { City(where:{valueBoolean: true, operator:IsNull, path:["history"]}) { name } } }""")
      out += "09_isnull_false" -> namesCsv(g,
        """{ Get { City(where:{valueBoolean: false, operator:IsNull, path:["history"]}) { name } } }""")
      // timestamp metadata filters in the reference's ms unit
      // (filter_test.go:517-652, self-referential there; deterministic here)
      val ms = CitiesFixture.createdMs(CitiesFixture.Airport1)
      out += "10_creation_ms_text" -> {
        g.get(GraphQL.get(g,
          s"""{ Get { Airport(where: {path: ["_creationTimeUnix"] operator: Equal
             |  valueText: "$ms"}) { _additional { id } } } }""".stripMargin))
          .select(col("_id")).collect().map(_.getString(0)).mkString(",")
      }
      out += "11_creation_date_gte" -> {
        val date = java.time.Instant.ofEpochMilli(CitiesFixture.CreatedBase).toString
        g.get(GraphQL.get(g,
          s"""{ Get { Airport(where: {path: ["_creationTimeUnix"] operator: GreaterThanEqual
             |  valueDate: "$date"}) { _additional { id } } } }""".stripMargin)).count().toString
      }
      steps(s, out.result())
    },

    // local_get_with_geo_range_filter_test.go — incl. the gh-825 (0,0) case;
    // lat/lon render as the reference's float32 values
    Gate("q_fixture_geo", values(Seq(
      "01_100km_dusseldorf" -> "Dusseldorf@51.225555,6.782778",
      "02_200km_dusseldorf" -> "Dusseldorf@51.225555,6.782778;Amsterdam@52.36667,4.9",
      "03_null_island" -> "Missing Island@0.0,0.0"))) { (s, _) =>
      val g = cg(s)
      def geo(lat: String, lon: String, meters: Int): String =
        cgGeo(g, lat, lon, meters)
      steps(s, Seq(
        "01_100km_dusseldorf" -> geo("51.225556", "6.782778", 100000),
        "02_200km_dusseldorf" -> geo("51.225556", "6.782778", 200000),
        "03_null_island" -> geo("0", "0", 20)))
    },

    // broken sort clauses + unknown class + aggregate search-bound errors —
    // verbatim reference texts (sort_test.go:1136-1219,
    // local_aggregate_with_expected_failures.go)
    Gate("q_fixture_errors", values(Seq(
      "01_empty_path" -> ("invalid 'sort' parameter: sort parameter at position 0: " +
        "path parameter cannot be empty"),
      "02_empty_prop" -> ("invalid 'sort' parameter: sort parameter at position 0: " +
        "no such prop with name '' found in class 'City' in the schema. " +
        "Check your schema files for which properties in this class are available"),
      "03_ref_path" -> ("invalid 'sort' parameter: sort parameter at position 0: " +
        "sorting by reference not supported, path must have exactly one argument"),
      "04_unknown_class" -> """Cannot query field "NonExistentClass" on type "GetObjectsObj".""",
      "05_unknown_prop" -> ("invalid 'sort' parameter: sort parameter at position 0: " +
        "no such prop with name 'nonexistentproperty' found in class 'City' in the schema. " +
        "Check your schema files for which properties in this class are available"),
      "06_ref_prop" -> ("invalid 'sort' parameter: sort parameter at position 0: " +
        "sorting by reference not supported, " +
        "property \"inCountry\" is a ref prop to the class \"Country\""),
      "07_agg_near_unbounded" -> "must provide certainty or objectLimit with vector search",
      "08_agg_objectlimit_no_near" -> "objectLimit can only be used with a near<Media> or hybrid filter"))) { (s, _) =>
      val g = cg(s)
      def getErr(doc: String): String = okOr(g.get(GraphQL.get(g, doc)))
      steps(s, Seq(
        "01_empty_path" -> getErr("""{ Get { City(sort:[{path:[] order:asc}]) { name } } }"""),
        "02_empty_prop" -> getErr("""{ Get { City(sort:[{path:[""] order:asc}]) { name } } }"""),
        "03_ref_path" -> getErr("""{ Get { City(sort:[{path:["ref","prop"] order:asc}]) { name } } }"""),
        "04_unknown_class" -> okOr(GraphQL.get(g,
          """{ Get { NonExistentClass(sort:[{path:["property"] order:asc}]) { name } } }""")),
        "05_unknown_prop" -> getErr(
          """{ Get { City(sort:[{path:["nonexistentproperty"] order:asc}]) { name } } }"""),
        "06_ref_prop" -> getErr("""{ Get { City(sort:[{path:["inCountry"] order:asc}]) { name } } }"""),
        "07_agg_near_unbounded" -> okOr(g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { City(nearObject: {id: "${CitiesFixture.Berlin}"})
             |  { meta { count } } } }""".stripMargin))),
        "08_agg_objectlimit_no_near" -> okOr(GraphQL.aggregate(g,
          "{ Aggregate { City(objectLimit: 1) { meta { count } } } }"))))
    },

    // the aggregate matrix, City class, no groupBy
    // (local_aggregate_matrix_no_groupby_test.go:195-290 × setup:893-1060)
    Gate("q_fixture_agg", values(Seq(
      "a01_without_filters" -> AggAll,
      "a02_where_like_all" -> AggAll,
      "a03_where_iscapital" -> AggWithData,
      "a04_where_like_nullisland" -> AggWithoutData,
      "a05_where_like_nonexistent" -> AggNoResults,
      "a06_nearobj_cert01" -> AggAll,
      "a07_nearobj_cert081" -> AggWithData,
      "a08_nearobj_null_cert09" -> AggWithoutData,
      "a09_where_all_nearobj_cert01" -> AggAll,
      "a10_where_cap_nearobj_cert081" -> AggWithData,
      "a11_where_null_nearobj_null_cert09" -> AggWithoutData,
      "a12_where_none_nearobj_cert01" -> AggNoResults,
      "a13_topocc_name" -> ("Amsterdam=1,Berlin=1,Dusseldorf=1,Missing Island=1,Rotterdam=1"),
      "a14_topocc_museums" -> ("German Historical Museum=1,Museum Boijmans Van Beuningen=1," +
        "Onomato=1,Rijksmuseum=1,Schiffahrt Museum=1")))) { (s, _) =>
      val g = cg(s)
      def arm(filters: String): String = {
        val row = g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { City($filters) {
             |  meta { count }
             |  population { count maximum minimum mode sum median mean }
             |  cityArea { count maximum minimum mode sum median mean }
             |  isCapital { count totalFalse totalTrue percentageFalse percentageTrue }
             |  name { count }
             |  museums { count }
             |  timezones { count }
             |  history { count }
             |  cityRights { count }
             |  inCountry { pointingTo }
             |} } }""".stripMargin))
          .selectExpr(
            "meta_count",
            "population_count", "CAST(population_maximum AS DOUBLE)",
            "CAST(population_minimum AS DOUBLE)", "CAST(population_mode AS DOUBLE)",
            "CAST(population_sum AS DOUBLE)", "population_median", "population_mean",
            "cityArea_count", "cityArea_maximum", "cityArea_minimum", "cityArea_mode",
            "cityArea_sum", "cityArea_median", "cityArea_mean",
            "isCapital_count", "CAST(isCapital_totalFalse AS DOUBLE)",
            "CAST(isCapital_totalTrue AS DOUBLE)",
            "isCapital_percentageFalse", "isCapital_percentageTrue",
            "name_count", "museums_count", "timezones_count", "history_count",
            "cityRights_count", "inCountry_pointingTo")
          .collect().head
        val f = (0 until row.length).map(i => fmt(row.get(i)))
        s"meta=${f(0)};pop=${f.slice(1, 8).mkString("/")};area=${f.slice(8, 15).mkString("/")};" +
          s"cap=${f.slice(15, 20).mkString("/")};name=${f(20)};museums=${f(21)};" +
          s"tz=${f(22)};history=${f(23)};rights=${f(24)};pointing=${f(25)}"
      }
      val berlin = CitiesFixture.Berlin
      val nullIsland = CitiesFixture.NullIsland
      val missingId = "00000000-0000-0000-0000-000000000000"
      def topOcc(prop: String): String =
        g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { City { $prop { topOccurrences { value occurs } } } } }"""))
          .select(explode(col(s"${prop}_topOccurrences")).as("t"))
          .select(col("t.value"), col("t.occurs"))
          .collect().map(r => s"${r.get(0)}=${r.get(1)}").sorted.mkString(",")
      steps(s, Seq(
        "a01_without_filters" -> arm(""),
        "a02_where_like_all" -> arm("""where: {operator: Like path: ["id"] valueText: "*"}"""),
        "a03_where_iscapital" -> arm(
          """where: {operator: Equal, path: ["isCapital"], valueBoolean: true}"""),
        "a04_where_like_nullisland" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "$nullIsland"}"""),
        "a05_where_like_nonexistent" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "$missingId"}"""),
        "a06_nearobj_cert01" -> arm(s"""nearObject: {id: "$berlin" certainty: 0.1}"""),
        "a07_nearobj_cert081" -> arm(s"""nearObject: {id: "$berlin" certainty: 0.81}"""),
        "a08_nearobj_null_cert09" -> arm(s"""nearObject: {id: "$nullIsland" certainty: 0.9}"""),
        "a09_where_all_nearobj_cert01" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "*"}
             |nearObject: {id: "$berlin" certainty: 0.1}""".stripMargin),
        "a10_where_cap_nearobj_cert081" -> arm(
          s"""where: {operator: Equal, path: ["isCapital"], valueBoolean: true}
             |nearObject: {id: "$berlin" certainty: 0.81}""".stripMargin),
        "a11_where_null_nearobj_null_cert09" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "$nullIsland"}
             |nearObject: {id: "$nullIsland" certainty: 0.9}""".stripMargin),
        "a12_where_none_nearobj_cert01" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "$missingId"}
             |nearObject: {id: "$berlin" certainty: 0.1}""".stripMargin),
        "a13_topocc_name" -> topOcc("name"),
        "a14_topocc_museums" -> topOcc("museums")))
    },

    // the aggregate matrix, City class, groupBy cityArea
    // (local_aggregate_matrix_groupby_test.go:943-1070)
    Gate("q_fixture_agg_group", values(Seq(
      "g01_217.22" -> "meta=1;pop=600000;museums=3;name=1",
      "g01_319.35" -> "meta=1;pop=600000;museums=3;name=1",
      "g01_891.95" -> "meta=1;pop=1800000;museums=2;name=1",
      "g01_891.96" -> "meta=1;pop=3470000;museums=1;name=1",
      "g02_891.95" -> "meta=1;pop=1800000;museums=2;name=1",
      "g02_891.96" -> "meta=1;pop=3470000;museums=1;name=1",
      "g03_891.95" -> "meta=1;pop=1800000;museums=2;name=1",
      "g03_891.96" -> "meta=1;pop=3470000;museums=1;name=1"))) { (s, _) =>
      val g = cg(s)
      def arm(tag: String, filters: String): Seq[(String, String)] =
        g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { City($filters groupBy: ["cityArea"]) {
             |  groupedBy { value }
             |  meta { count }
             |  population { sum }
             |  museums { count }
             |  name { count }
             |} } }""".stripMargin))
          .selectExpr("CAST(groupedBy_value AS DOUBLE)", "meta_count",
            "CAST(population_sum AS DOUBLE)", "museums_count", "name_count")
          .collect().toSeq.map { r =>
            s"${tag}_${fmt(r.get(0))}" ->
              s"meta=${fmt(r.get(1))};pop=${fmt(r.get(2))};museums=${fmt(r.get(3))};name=${fmt(r.get(4))}"
          }
      steps(s, arm("g01", "") ++
        arm("g02", """where: {operator: Equal, path: ["isCapital"], valueBoolean: true}""") ++
        arm("g03", s"""nearObject: {id: "${CitiesFixture.Berlin}" certainty: 0.81}"""))
    },

    // groupBy + bm25 over the CompanyGroup bed
    // (local_get_with_group_by_test.go groupByBm25): group order by best
    // BM25 rank, in-group hits in rank order, pinned ids verbatim —
    // zero-score objects form no hit, so the google-only city set still
    // yields exactly three groups
    // groupBy+bm25: the acceptance-pinned group order and hit ids
    Gate("q_fixture_group_bm25",
      """SELECT * FROM (VALUES
        |  ('01_group', 'berlin;hits=177fec91-1292-4928-8f53-f0ff49c76900|1343f51d-7e05-4084-bd66-d504db3b6bec'),
        |  ('02_group', 'dusseldorf;hits=1fa3b21e-ca4f-4db7-a432-7fc6a23c534d|1b2cfdba-d4ba-4cf8-abda-e719ef35ac33'),
        |  ('03_group', 'amsterdam;hits=171d2b4c-3da1-4684-9c5e-aabd2a4f2998|1c2e21fc-46fe-4999-b41c-a800595129af|1f75ed97-39dd-4294-bff7-ecabd7923062')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val page = g.get(GraphQL.get(g,
        """{ Get { CompanyGroup(
          |    bm25: {query: "Inc Apple Microsoft"}
          |    groupBy: {path: ["city"] groups: 4 objectsPerGroup: 10})
          |  { name city _additional { id group { groupedBy { value } count } } } } }""".stripMargin))
      val rows = page.select(col("group_index").cast("long"),
        col("group_hit_rank").cast("long"), col("group_value"), col("_id")).collect()
      steps(s, rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (idx, hits) =>
        val ordered = hits.sortBy(_.getLong(1)).map(_.getString(3)).mkString("|")
        s"0${idx}_group" -> s"${hits.head.getString(2)};hits=$ordered"
      })
    },

    // the shadowed-uuid suite (local_get_shadow_test.go + setup
    // addTestDataNearObjectSearch): the same uuids live in two classes —
    // Get/Aggregate nearObject resolve the anchor from the QUERIED class
    // (certainty 0.98 returns only itself), while Explore fans across both
    // classes and returns both shadows of the anchor id
    // shadow suite: the reference-asserted pages/beacons
    Gate("q_fixture_shadow",
      """SELECT * FROM (VALUES
        |  ('01_get', 'Mount Everest'),
        |  ('02_aggregate', '1'),
        |  ('03_explore_same', 'weaviate://localhost/NearObjectSearch/aa44bbee-ca5f-4db7-a412-5fc6a2300011,weaviate://localhost/NearObjectSearchShadow/aa44bbee-ca5f-4db7-a412-5fc6a2300011'),
        |  ('04_explore_diff', 'weaviate://localhost/NearObjectSearch/aa44bbee-ca5f-4db7-a412-5fc6a2300001,weaviate://localhost/NearObjectSearchShadow/aa44bbee-ca5f-4db7-a412-5fc6a2300001')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val anchor1 = "aa44bbee-ca5f-4db7-a412-5fc6a2300001"
      val same = "aa44bbee-ca5f-4db7-a412-5fc6a2300011"
      val out = Seq.newBuilder[(String, String)]
      out += "01_get" -> g.get(GraphQL.get(g,
        s"""{ Get { NearObjectSearch(nearObject: {id: "$anchor1" certainty: 0.98})
           |  { name } } }""".stripMargin))
        .select(col("name")).collect().map(_.getString(0)).mkString(",")
      out += "02_aggregate" -> g.aggregate(GraphQL.aggregate(g,
        s"""{ Aggregate { NearObjectSearch(nearObject: {id: "$anchor1" certainty: 0.98})
           |  { meta { count } } } }""".stripMargin))
        .collect().head.getLong(0).toString
      def explore(id: String): String = {
        val e = GraphQL.explore(
          s"""{ Explore(nearObject: {id: "$id" certainty: 0.98}) { beacon } }""")
        g.exploreObject(Seq("NearObjectSearch", "NearObjectSearchShadow"),
          e.nearObject.get, limit = e.limit, offset = e.offset)
          .select(col("class_name"), col("beacon_id")).collect()
          .map(r => s"weaviate://localhost/${r.getString(0)}/${r.getString(1)}")
          .sorted.mkString(",")
      }
      out += "03_explore_same" -> explore(same)
      out += "04_explore_diff" -> explore(anchor1)
      steps(s, out.result())
    },

    // TestMultipleRefTypeIssues (multi_reftype_bug_test.go — the regression
    // suite for weaviate issue #1410): ONE cref property whose dataType
    // lists TWO target classes. Schema decoded THROUGH THE SCHEMA WIRE
    // (multi-entry dataType), data stores the test's SHORT beacons verbatim
    // (`weaviate://localhost/<uuid>` — no class segment, so resolution is
    // the cross-class uuid lookup). Target uuids are the test's own
    // (multi_reftype_bug_test.go:37-38); source uuids are engine-assigned
    // (the test auto-generates them) and rows render SORTED BY NAME because
    // the Go test asserts with ElementsMatch (order-insensitive).
    // multi-class cref regression (issue #1410): the reference-asserted
    // pages of multi_reftype_bug_test.go:150-501, rows sorted by name
    // (the Go test compares with ElementsMatch)
    Gate("q_fixture_multiref",
      """SELECT * FROM (VALUES
        |  ('01_norefs', 'source with ref to One,source with ref to Two,source with ref to both,source without refs'),
        |  ('02_one', 'source with ref to One>[target a],source with ref to Two>∅,source with ref to both>[target a],source without refs>∅'),
        |  ('03_one_id', 'source with ref to One>[target a@155c5914-6594-4cde-b3ab-f8570b561965],source with ref to Two>∅,source with ref to both>[target a@155c5914-6594-4cde-b3ab-f8570b561965],source without refs>∅'),
        |  ('04_two', 'source with ref to One>∅,source with ref to Two>[target b],source with ref to both>[target b],source without refs>∅'),
        |  ('05_two_id', 'source with ref to One>∅,source with ref to Two>[target b@ebf85a07-6b34-4e3b-b7c5-077f904fc955],source with ref to both>[target b@ebf85a07-6b34-4e3b-b7c5-077f904fc955],source without refs>∅'),
        |  ('06_both', 'source with ref to One>[target a],source with ref to Two>[target b],source with ref to both>[target a|target b],source without refs>∅'),
        |  ('07_both_id', 'source with ref to One>[target a@155c5914-6594-4cde-b3ab-f8570b561965],source with ref to Two>[target b@ebf85a07-6b34-4e3b-b7c5-077f904fc955],source with ref to both>[target a@155c5914-6594-4cde-b3ab-f8570b561965|target b@ebf85a07-6b34-4e3b-b7c5-077f904fc955],source without refs>∅')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.sources.SchemaWire
      val targetOneId = "155c5914-6594-4cde-b3ab-f8570b561965"
      val targetTwoId = "ebf85a07-6b34-4e3b-b7c5-077f904fc955"
      def beacon(id: String) = s"weaviate://localhost/$id"
      val known = Set("MultiRefTypeBugTargetOne", "MultiRefTypeBugTargetTwo",
        "MultiRefTypeBugSource")
      val gg = new Graft(s)
      val targetType = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType)))
      def target(cls: String, id: String, name: String): Unit =
        gg.register(SchemaWire.decodeClass(
          s"""{"class": "$cls", "properties": [
             |  {"name": "name", "dataType": ["text"]}]}""".stripMargin,
          idColumn = "uuid", knownClasses = known),
          s.createDataFrame(java.util.Arrays.asList(Seq(Row(id, name)): _*), targetType))
      target("MultiRefTypeBugTargetOne", targetOneId, "target a")
      target("MultiRefTypeBugTargetTwo", targetTwoId, "target b")
      val sourceType = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType),
        StructField("toTargets", ArrayType(StringType))))
      gg.register(SchemaWire.decodeClass(
        """{"class": "MultiRefTypeBugSource", "properties": [
          |  {"name": "name", "dataType": ["text"]},
          |  {"name": "toTargets", "dataType": ["MultiRefTypeBugTargetOne",
          |   "MultiRefTypeBugTargetTwo"]}]}""".stripMargin,
        idColumn = "uuid", knownClasses = known),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("00000000-0000-0000-0000-00000000b001", "source without refs", null),
          Row("00000000-0000-0000-0000-00000000b002", "source with ref to One",
            Seq(beacon(targetOneId))),
          Row("00000000-0000-0000-0000-00000000b003", "source with ref to Two",
            Seq(beacon(targetTwoId))),
          Row("00000000-0000-0000-0000-00000000b004", "source with ref to both",
            Seq(beacon(targetOneId), beacon(targetTwoId)))): _*), sourceType))
      // name>[resolved|…] rows sorted by name; withIds appends @id per hit
      def run(doc: String, withIds: Boolean): String =
        gg.get(GraphQL.get(gg, doc)).orderBy(col("name"))
          .select(col("name"), col("toTargets_resolved")).collect().map { r =>
            val hits =
              if (r.isNullAt(1)) "∅"
              else r.getSeq[Row](1).map { h =>
                val n = h.getAs[String]("name")
                if (withIds) s"$n@${h.getAs[String]("_refid")}" else n
              }.mkString("[", "|", "]")
            s"${r.getString(0)}>$hits"
          }.mkString(",")
      val out = Seq.newBuilder[(String, String)]
      out += "01_norefs" -> gg.get(GraphQL.get(gg,
        "{ Get { MultiRefTypeBugSource { name } } }"))
        .orderBy(col("name")).collect().map(_.getString(0)).mkString(",")
      def frag(cls: String, id: Boolean) =
        s"... on $cls { name${if (id) " _additional { id }" else ""} }"
      out += "02_one" -> run(
        s"""{ Get { MultiRefTypeBugSource { name toTargets {
           |  ${frag("MultiRefTypeBugTargetOne", false)} } } } }""".stripMargin, false)
      out += "03_one_id" -> run(
        s"""{ Get { MultiRefTypeBugSource { name toTargets {
           |  ${frag("MultiRefTypeBugTargetOne", true)} } } } }""".stripMargin, true)
      out += "04_two" -> run(
        s"""{ Get { MultiRefTypeBugSource { name toTargets {
           |  ${frag("MultiRefTypeBugTargetTwo", false)} } } } }""".stripMargin, false)
      out += "05_two_id" -> run(
        s"""{ Get { MultiRefTypeBugSource { name toTargets {
           |  ${frag("MultiRefTypeBugTargetTwo", true)} } } } }""".stripMargin, true)
      out += "06_both" -> run(
        s"""{ Get { MultiRefTypeBugSource { name toTargets {
           |  ${frag("MultiRefTypeBugTargetOne", false)}
           |  ${frag("MultiRefTypeBugTargetTwo", false)} } } } }""".stripMargin, false)
      out += "07_both_id" -> run(
        s"""{ Get { MultiRefTypeBugSource { name toTargets {
           |  ${frag("MultiRefTypeBugTargetOne", true)}
           |  ${frag("MultiRefTypeBugTargetTwo", true)} } } } }""".stripMargin, true)
      steps(s, out.result())
    },

    // getWithHybridSearch (local_get_hybrid_search_test.go): the hybrid
    // acceptance arms over the Airport/Company beds. The suite's appleVec
    // (contextionary v("Apple Inc.")) is replayed as the bed's Apple-Inc.
    // stand-in vector (CitiesFixture.appleVec); membership assertions
    // (assert.Contains) render as name-sorted pages. The _additional.vector
    // arm asserts non-empty vectors per row (the stand-in space is 3-dim
    // where contextionary is 300 — the count contract is what replays).
    // hybrid acceptance arms (local_get_hybrid_search_test.go): the
    // reference-asserted pages/counts — top-2 membership for the Apple arms,
    // full-corpus counts for the unbounded ones, all four airports with
    // their cities for the with-references arm
    Gate("q_fixture_hybrid",
      """SELECT * FROM (VALUES
        |  ('01_alpha0_bm25', '10000'),
        |  ('02_limit_vector', 'Apple,Apple Inc.'),
        |  ('03_limit_novector', 'Apple,Apple Inc.'),
        |  ('04_all_vector', '9'),
        |  ('05_all_novector', '9'),
        |  ('06_additional_vector', 'rows=9;vecs=9'),
        |  ('07_refs', '10000>[Amsterdam],20000>[Rotterdam],30000>[Dusseldorf],40000>[Berlin]')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val vecLit = CitiesFixture.appleVec.mkString("[", ", ", "]")
      def names(doc: String): Array[String] =
        g.get(GraphQL.get(g, doc)).select(col("name")).collect().map(_.getString(0))
      val out = Seq.newBuilder[(String, String)]
      out += "01_alpha0_bm25" -> g.get(GraphQL.get(g,
        """{ Get { Airport(hybrid: {alpha: 0 query: "10000"}) { code } } }"""))
        .select(col("code")).collect().map(_.getString(0)).mkString(",")
      out += "02_limit_vector" -> names(
        s"""{ Get { Company(limit: 2 hybrid: {query: "Apple" alpha: 0.5
           |  vector: $vecLit}) { name } } }""".stripMargin).sorted.mkString(",")
      out += "03_limit_novector" -> names(
        """{ Get { Company(limit: 2 hybrid: {query: "Apple" alpha: 0.5}) { name } } }""")
        .sorted.mkString(",")
      out += "04_all_vector" -> names(
        s"""{ Get { Company(hybrid: {query: "Apple" alpha: 0.5
           |  vector: $vecLit}) { name } } }""".stripMargin).length.toString
      out += "05_all_novector" -> names(
        """{ Get { Company(hybrid: {query: "Apple" alpha: 0.5}) { name } } }""").length.toString
      out += "06_additional_vector" -> {
        val rows = g.get(GraphQL.get(g,
          """{ Get { Company(hybrid: {query: "Apple" alpha: 0.5}) { _additional { vector } } } }"""))
          .select(col("_vector")).collect()
        s"rows=${rows.length};vecs=${rows.count(r => !r.isNullAt(0) && r.getSeq[Float](0).nonEmpty)}"
      }
      out += "07_refs" -> g.get(GraphQL.get(g,
        """{ Get { Airport(hybrid: {alpha: 0.5 query: "1000"})
          |  { code inCity { ... on City { name } } } } }""".stripMargin))
        .select(col("code"), expr("transform(inCity_resolved, x -> x.name)"))
        .collect().map(r => s"${r.getString(0)}>${r.getSeq[String](1).mkString("[", "|", "]")}")
        .sorted.mkString(",")
      steps(s, out.result())
    },

    // hybridSearchGroupByArrayTests (hybrid_group_by_array_test.go): hybrid
    // + groupBy over text[] properties, the suite's own 4-document bed with
    // its verbatim uuids/tags/categories. Stand-in vectors unit(i*10) — the
    // replayed assertions (group membership + counts after objectsPerGroup)
    // are rank-independent, rendered value-sorted.
    // hybrid groupBy over text[] (hybrid_group_by_array_test.go): every tag
    // forms a group (objects join EVERY element's group), red=2, vehicle=3,
    // and objectsPerGroup: 1 caps the red group at one hit
    Gate("q_fixture_hybrid_group",
      """SELECT * FROM (VALUES
        |  ('01_tags_vehicle', 'blue=1,emergency=1,garden=1,green=1,red=2,sports=1,tool=1,vehicle=3,water=1'),
        |  ('02_categories_automotive', 'automotive=2,emergency=1,garden=1,luxury=1,nautical=1,recreation=1,tools=1'),
        |  ('03_objects_per_group_1', 'blue=1,emergency=1,garden=1,green=1,red=1,sports=1,tool=1,vehicle=1,water=1')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.sources.SchemaWire
      val gg = new Graft(s).withEmbedder(CitiesFixture.embedder)
      val schemaType = StructType(Seq(StructField("uuid", StringType),
        StructField("title", StringType), StructField("tags", ArrayType(StringType)),
        StructField("categories", ArrayType(StringType)),
        StructField("content", StringType), StructField("vector", ArrayType(FloatType))))
      def unit(deg: Double): Seq[Float] = CitiesFixture.unitSeq(deg)
      gg.register(SchemaWire.decodeClass(
        """{"class": "HybridGroupByArrayTest", "properties": [
          |  {"name": "title", "dataType": ["text"]},
          |  {"name": "tags", "dataType": ["text[]"]},
          |  {"name": "categories", "dataType": ["text[]"]},
          |  {"name": "content", "dataType": ["text"]}]}""".stripMargin,
        idColumn = "uuid").copy(
          vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("00000000-0000-0000-0000-000000000001", "Red Sports Car",
            Seq("red", "vehicle", "sports"), Seq("automotive", "luxury"),
            "A beautiful red sports car with excellent performance.", unit(0.0)),
          Row("00000000-0000-0000-0000-000000000002", "Blue Ocean Boat",
            Seq("blue", "vehicle", "water"), Seq("nautical", "recreation"),
            "A sleek blue boat designed for ocean adventures.", unit(10.0)),
          Row("00000000-0000-0000-0000-000000000003", "Red Fire Truck",
            Seq("red", "vehicle", "emergency"), Seq("automotive", "emergency"),
            "A red emergency vehicle used by firefighters.", unit(20.0)),
          Row("00000000-0000-0000-0000-000000000004", "Green Garden Tool",
            Seq("green", "tool", "garden"), Seq("tools", "garden"),
            "A green tool perfect for gardening activities.", unit(30.0))): _*), schemaType))
      def groups(doc: String): String = {
        val rows = gg.get(GraphQL.get(gg, doc))
          .select(col("group_value"), col("group_hit_rank")).collect()
        rows.groupBy(_.getString(0)).toSeq
          .map { case (v, hits) => s"$v=${hits.length}" }.sorted.mkString(",")
      }
      val out = Seq.newBuilder[(String, String)]
      out += "01_tags_vehicle" -> groups(
        """{ Get { HybridGroupByArrayTest(
          |    hybrid: {query: "vehicle" alpha: 0.5}
          |    groupBy: {path: ["tags"] groups: 10 objectsPerGroup: 5})
          |  { title _additional { group { groupedBy { value } count hits { _additional { id } } } } } } }""".stripMargin)
      out += "02_categories_automotive" -> groups(
        """{ Get { HybridGroupByArrayTest(
          |    hybrid: {query: "automotive" alpha: 0.7}
          |    groupBy: {path: ["categories"] groups: 10 objectsPerGroup: 5})
          |  { title _additional { group { groupedBy { value } count hits { _additional { id } } } } } } }""".stripMargin)
      out += "03_objects_per_group_1" -> groups(
        """{ Get { HybridGroupByArrayTest(
          |    hybrid: {query: "red" alpha: 0.5}
          |    groupBy: {path: ["tags"] groups: 10 objectsPerGroup: 1})
          |  { _additional { group { groupedBy { value } count hits { _additional { id } } } } } } }""".stripMargin)
      steps(s, out.result())
    },

    // aggregationWithHybridSearch (local_aggregate_hybrid_search_test.go):
    // hybrid-scoped aggregation over the Company bed — topOccurrences under
    // objectLimit, groupBy with a sparse-only leg, nearText subsearches
    // (plain / with moves), and the nearText+nearVector conflict error.
    // hybrid aggregation (local_aggregate_hybrid_search_test.go): the 5
    // topOccurrences values (count ties broken value-asc), the 3 sparse-only
    // Google groups, 9 groups under each nearText subsearch, and the
    // nearText+nearVector conflict rejection
    Gate("q_fixture_hybrid_agg",
      """SELECT * FROM (VALUES
        |  ('01_topoccurrences', 'Apple|Apple Inc.|Apple Incorporated|Google|Google Inc.'),
        |  ('02_group_sparse', 'Google,Google Inc.,Google Incorporated'),
        |  ('03_group_neartext', '9'),
        |  ('04_group_moves', '9'),
        |  ('05_conflict', 'failed to extract hybrid params: hybrid search cannot have both nearText and nearVector parameters')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      out += "01_topoccurrences" -> {
        val r = g.aggregate(GraphQL.aggregate(g,
          """{ Aggregate { Company(objectLimit: 30 hybrid: {alpha: 0.5 query: "Apple"})
            |  { name { topOccurrences { value } } } } }""".stripMargin)).collect()
        r.head.getSeq[org.apache.spark.sql.Row](r.head.fieldIndex("name_topOccurrences"))
          .map(_.getAs[String]("value")).mkString("|")
      }
      def groupedNames(doc: String): Seq[String] = {
        val df = g.aggregate(GraphQL.aggregate(g, doc))
        df.collect().map { r =>
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("name_topOccurrences"))
            .map(_.getAs[String]("value")).mkString("/")
        }.toSeq
      }
      out += "02_group_sparse" -> groupedNames(
        """{ Aggregate { Company(objectLimit: 30 groupBy: "name"
          |    hybrid: {alpha: 0 query: "Google"})
          |  { name { topOccurrences { value } } } } }""".stripMargin)
        .sorted.mkString(",")
      out += "03_group_neartext" -> groupedNames(
        """{ Aggregate { Company(objectLimit: 30 groupBy: "name"
          |    hybrid: {alpha: 0.5 query: "" searches: {nearText: {concepts: ["Google"]}}})
          |  { name { topOccurrences { value } } } } }""".stripMargin)
        .length.toString
      out += "04_group_moves" -> groupedNames(
        """{ Aggregate { Company(objectLimit: 30 groupBy: "name"
          |    hybrid: {alpha: 0.5 query: "" searches: {nearText: {
          |      concepts: ["Google"] certainty: 0.4
          |      moveTo: {concepts: ["positive"] force: 0.5}
          |      moveAwayFrom: {concepts: ["epic"] force: 0.25}}}})
          |  { name { topOccurrences { value } } } } }""".stripMargin)
        .length.toString
      out += "05_conflict" -> okOr(groupedNames(
        """{ Aggregate { Company(objectLimit: 30 groupBy: "name"
          |    hybrid: {alpha: 0.5 query: "" searches: {
          |      nearText: {concepts: ["Google"] certainty: 0.4
          |        moveTo: {concepts: ["positive"] force: 0.5}
          |        moveAwayFrom: {concepts: ["epic"] force: 0.25}}
          |      nearVector: {vector: [0.1, 0.2, 0.3]}}})
          |  { name { topOccurrences { value } } } } }""".stripMargin))
      steps(s, out.result())
    },

    // gettingObjectsWithAdditionalProps (local_get_with_additional_test.go):
    // the `_additional` resolver matrix over Company/City — vector validity,
    // the EXACT interpretation concepts (vectorizeClassName: false, word-
    // tokenized corpus), nearestNeighbors non-emptiness, featureProjection
    // dimensions, and vector/timestamps on RESOLVED REFERENCES.
    // _additional resolver matrix (local_get_with_additional_test.go): the
    // interpretation concepts verbatim (ElementsMatch → name-sorted), the
    // validity counts of the vector/neighbors/featureProjection arms, and
    // non-null metadata on resolved references
    Gate("q_fixture_additional",
      """SELECT * FROM (VALUES
        |  ('01_vector', 'rows=9;ok=9'),
        |  ('02_interpretation', 'Apple Inc.>apple|inc,Apple Incorporated>apple|incorporated,Apple>apple,Google Inc.>google|inc,Google Incorporated>google|incorporated,Google>google,Microsoft Inc.>microsoft|inc,Microsoft Incorporated>microsoft|incorporated,Microsoft>microsoft'),
        |  ('03_neighbors', 'rows=9;ok=9'),
        |  ('04_feature_projection', 'rows=9;dims3=9'),
        |  ('05_ref_vector', 'Amsterdam>ok,Berlin>ok,Dusseldorf>ok,Missing Island>∅,Rotterdam>ok,∅>∅'),
        |  ('06_ref_times', 'Amsterdam>ok/ok,Berlin>ok/ok,Dusseldorf>ok/ok,Missing Island>∅,Rotterdam>ok/ok,∅>∅')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      out += "01_vector" -> {
        val rows = g.get(GraphQL.get(g,
          "{ Get { Company { _additional { vector } name } } }"))
          .select(col("_vector")).collect()
        val ok = rows.count { r =>
          !r.isNullAt(0) && r.getSeq[Float](0).nonEmpty &&
            math.abs(r.getSeq[Float](0).head) <= 1.0f
        }
        s"rows=${rows.length};ok=$ok"
      }
      out += "02_interpretation" -> g.get(GraphQL.get(g,
        "{ Get { Company { _additional { interpretation { source { concept } } } name } } }"))
        .select(col("name"), expr("transform(_interpretation, x -> x.concept)"))
        .collect().map(r => s"${r.getString(0)}>${r.getSeq[String](1).mkString("|")}")
        .sorted.mkString(",")
      out += "03_neighbors" -> {
        val rows = g.get(GraphQL.get(g,
          """{ Get { Company(nearText: {concepts: ["Apple"]})
            |  { _additional { nearestNeighbors { neighbors { concept distance } } } name } } }""".stripMargin))
          .select(expr("transform(_nearestNeighbors, x -> x.concept)")).collect()
        val ok = rows.count(r => !r.isNullAt(0) &&
          r.getSeq[String](0).nonEmpty && r.getSeq[String](0).forall(_.nonEmpty))
        s"rows=${rows.length};ok=$ok"
      }
      out += "04_feature_projection" -> {
        val rows = g.get(GraphQL.get(g,
          "{ Get { Company { _additional { featureProjection(dimensions: 3) { vector } } name } } }"))
          .select(col("_featureProjection")).collect()
        val ok = rows.count(r => !r.isNullAt(0) && r.getSeq[Float](0).length == 3)
        s"rows=${rows.length};dims3=$ok"
      }
      def refArm(doc: String, fields: Seq[String]): String =
        g.get(GraphQL.get(g, doc))
          .select(col("name"), col("inCountry_resolved")).collect().map { r =>
            val v =
              if (r.isNullAt(1)) "∅"
              else r.getSeq[org.apache.spark.sql.Row](1).map { h =>
                fields.map(f => if (h.isNullAt(h.fieldIndex(f))) "∅" else "ok").mkString("/")
              }.mkString("|")
            s"${if (r.isNullAt(0)) "∅" else r.getString(0)}>$v"
          }.sorted.mkString(",")
      out += "05_ref_vector" -> refArm(
        """{ Get { City { name _additional { vector }
          |  inCountry { ... on Country { _additional { vector } } } } } }""".stripMargin,
        Seq("_refvector"))
      out += "06_ref_times" -> refArm(
        """{ Get { City { name inCountry { ... on Country
          |  { _additional { creationTimeUnix lastUpdateTimeUnix } } } } } }""".stripMargin,
        Seq("_refcreated", "_refupdated"))
      steps(s, out.result())
    },

    // getsWithExpectedFailures + aggregatesWithExpectedFailures +
    // exploreWithExpectedFailures: the reference's NEGATIVE expectations —
    // exact error texts for certainty on non-cosine classes, unscoped
    // vector-leg aggregations (checked BEFORE the object lookup), bare
    // objectLimit, and Explore across mixed distance metrics.
    // expected-failure suites (local_get_with_expected_failures.go,
    // local_aggregate_with_expected_failures.go incl. explore): the
    // reference's exact negative texts
    Gate("q_fixture_failures",
      """SELECT * FROM (VALUES
        |  ('01_get_certainty_l2', 'can''t compute and return certainty when vector index is configured with l2-squared distance'),
        |  ('02_get_certainty_dot', 'can''t compute and return certainty when vector index is configured with dot distance'),
        |  ('03_agg_nearvector', 'must provide certainty or objectLimit with vector search'),
        |  ('04_agg_nearobject', 'must provide certainty or objectLimit with vector search'),
        |  ('05_agg_neartext', 'must provide certainty or objectLimit with vector search'),
        |  ('06_agg_nearvector_where', 'must provide certainty or objectLimit with vector search'),
        |  ('07_agg_nearobject_where', 'must provide certainty or objectLimit with vector search'),
        |  ('08_agg_neartext_where', 'must provide certainty or objectLimit with vector search'),
        |  ('09_agg_objectlimit_bare', 'objectLimit can only be used with a near<Media> or hybrid filter'),
        |  ('10_explore_mixed_metrics', 'vector search across classes not possible: found different distance metrics: class ''L2DistanceClass'' uses distance metric ''l2-squared'', class ''CosineClassA'' uses distance metric ''cosine''')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.model.{Property, PropType, Tokenization}
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      // fresh graft per distance class: register() mutates, the shared bed
      // must stay untouched
      def distGraft(metric: String): Graft = {
        val gg = new Graft(s).withEmbedder(CitiesFixture.embedder)
        val m = metric match {
          case "l2-squared" => graft.model.Metric.L2Squared
          case "dot" => graft.model.Metric.Dot
        }
        val cls = if (metric == "dot") "DotDistanceClass" else "L2DistanceClass"
        gg.register(graft.model.CollectionSchema(cls, "uuid", Seq(
          Property("name", PropType.Text, Tokenization.Whitespace)),
          vectors = Map("default" -> "vector"), defaultVector = Some("default"),
          vectorMetrics = Map("default" -> m)),
          s.createDataFrame(java.util.Arrays.asList(Seq(
            Row("00000000-0000-0000-0000-0000000000f1", "thing",
              Seq(1.0f, 0.0f, 0.0f))): _*),
            StructType(Seq(StructField("uuid", StringType),
              StructField("name", StringType),
              StructField("vector", ArrayType(FloatType))))))
        gg
      }
      out += "01_get_certainty_l2" -> okOr {
        val gg = distGraft("l2-squared")
        gg.get(GraphQL.get(gg,
          """{ Get { L2DistanceClass(nearVector: {vector: [1, 1, 1], certainty: 0.8}) { name } } }"""))
          .collect()
      }
      out += "02_get_certainty_dot" -> okOr {
        val gg = distGraft("dot")
        gg.get(GraphQL.get(gg,
          """{ Get { DotDistanceClass(nearVector: {vector: [1, 1, 1], certainty: 0.8}) { name } } }"""))
          .collect()
      }
      def agg(doc: String): String = okOr(g.aggregate(GraphQL.aggregate(g, doc)).collect())
      out += "03_agg_nearvector" -> agg(
        """{ Aggregate { Company(nearVector: {vector: [1, 0, 0]})
          |  { meta { count } name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      // the uuid exists NOWHERE — the scope check must fire before lookup
      out += "04_agg_nearobject" -> agg(
        """{ Aggregate { City(nearObject: {id: "9b9cbea5-e87e-4cd0-89af-e2f424fd52d6"})
          |  { meta { count } name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      out += "05_agg_neartext" -> agg(
        """{ Aggregate { City(nearText: {concepts: ["Amsterdam"]})
          |  { meta { count } name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      out += "06_agg_nearvector_where" -> agg(
        """{ Aggregate { Company(
          |    where: {valueText: "Mercedes", operator: Equal, path: ["name"]}
          |    nearVector: {vector: [1, 0, 0]})
          |  { meta { count } name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      out += "07_agg_nearobject_where" -> agg(
        """{ Aggregate { City(
          |    where: {valueBoolean: true, operator: Equal, path: ["isCapital"]}
          |    nearObject: {id: "9b9cbea5-e87e-4cd0-89af-e2f424fd52d6"})
          |  { meta { count } isCapital { count percentageFalse percentageTrue totalFalse totalTrue type }
          |    population { mean count maximum minimum sum type }
          |    inCountry { pointingTo type }
          |    name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      out += "08_agg_neartext_where" -> agg(
        """{ Aggregate { City(
          |    where: {valueBoolean: true, operator: Equal, path: ["isCapital"]}
          |    nearText: {concepts: ["Amsterdam"]})
          |  { meta { count } isCapital { count percentageFalse percentageTrue totalFalse totalTrue type }
          |    population { mean count maximum minimum sum type }
          |    inCountry { pointingTo type }
          |    name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      out += "09_agg_objectlimit_bare" -> agg(
        """{ Aggregate { Company(objectLimit: 1)
          |  { meta { count } name { topOccurrences { occurs value } type count } } } }""".stripMargin)
      // Explore across one l2-squared + two cosine classes: the verbatim
      // mixed-metric rejection, classes in probe order
      out += "10_explore_mixed_metrics" -> okOr {
        val gg = distGraft("l2-squared")
        gg.register(graft.model.CollectionSchema("CosineClassA", "uuid", Seq(
          Property("name", PropType.Text)),
          vectors = Map("default" -> "vector"), defaultVector = Some("default")),
          s.createDataFrame(java.util.Arrays.asList(Seq(
            Row("00000000-0000-0000-0000-0000000000f2", "a", Seq(0.0f, 1.0f, 0.0f))): _*),
            StructType(Seq(StructField("uuid", StringType),
              StructField("name", StringType),
              StructField("vector", ArrayType(FloatType))))))
        graft.operators.Explore(gg, Seq("L2DistanceClass", "CosineClassA"),
          Array(1.0f, 1.0f, 1.0f), graft.model.Metric.Cosine).collect()
      }
      steps(s, out.result())
    },

    // TestGQLGetTenantObjects (+ _MissingTenant) from
    // test/acceptance/multi_tenancy/gql_get_tenant_objects_test.go, plus the
    // create/duplicate/idempotent lifecycle arms of
    // create_delete_update_tenants_test.go: tenant-scoped Get across every
    // search leg, the shared-uuid-across-tenants bed VERBATIM (uuids from
    // the Go test), and the missing-tenant explorer error text.
    // multi-tenancy journey: tenant-scoped pages/counts + the reference's
    // missing-tenant explorer text and lifecycle error texts verbatim
    Gate("q_fixture_tenants",
      """SELECT * FROM (VALUES
        |  ('01_objects', '0927a1e0-398e-4e76-91fb-04a7a8f0405c@Tenant1>Tenant1/meat,831ae1d0-f441-44b1-bb2a-46548048e26f@Tenant1>Tenant1/bananas,6f3363e0-c0a0-4618-bf1f-b6cad9cdff59@Tenant1>Tenant1/kiwi,6f3363e0-c0a0-4618-bf1f-b6cad9cdff59@otherTenant>Tenant1/kiwi'),
        |  ('02_get', '0927a1e0-398e-4e76-91fb-04a7a8f0405c,6f3363e0-c0a0-4618-bf1f-b6cad9cdff59,831ae1d0-f441-44b1-bb2a-46548048e26f'),
        |  ('03_nearobject', '3'),
        |  ('04_neartext', '3'),
        |  ('05_bm25', 'n=1;6f3363e0-c0a0-4618-bf1f-b6cad9cdff59'),
        |  ('06_hybrid', 'n=1;kiwi'),
        |  ('07_missing_tenant', 'explorer: list class: search: object search at index multitenantclass: class MultiTenantClass has multi-tenancy enabled, but request was without tenant'),
        |  ('08_list', 'Tenant1=Active,Tenant2=Active,Tenant3=Active'),
        |  ('09_duplicate_in_batch', 'tenant name DoubleTenant existed multiple times'),
        |  ('10_recreate_idempotent', 'ok'),
        |  ('11_frozen_on_create', 'invalid activity status ''FROZEN'' for tenant "tenant"'),
        |  ('12_deactivated', 'tenant not active: Tenant1'),
        |  ('13_reactivated', 'ok')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.model.{CollectionSchema, Property, PropType, Tenant, TenantStatus}
      val gg = new Graft(s).withEmbedder(CitiesFixture.embedder)
      def unit(deg: Double): Seq[Float] = CitiesFixture.unitSeq(deg)
      val id1 = "0927a1e0-398e-4e76-91fb-04a7a8f0405c"
      val id2 = "831ae1d0-f441-44b1-bb2a-46548048e26f"
      val id3 = "6f3363e0-c0a0-4618-bf1f-b6cad9cdff59"
      val mtType = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), StructField("text", StringType),
        StructField("tenant", StringType), StructField("vector", ArrayType(FloatType))))
      gg.register(CollectionSchema("MultiTenantClass", "uuid", Seq(
        Property("name", PropType.Text), Property("text", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default"),
        tenantColumn = Some("tenant")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row(id1, "Tenant1", "meat", "Tenant1", unit(0.0)),
          Row(id2, "Tenant1", "bananas", "Tenant1", unit(20.0)),
          Row(id3, "Tenant1", "kiwi", "Tenant1", unit(40.0)),
          Row(id3, "Tenant1", "kiwi", "otherTenant", unit(40.0))): _*), mtType))
      gg.addTenants("MultiTenantClass",
        Seq(Tenant("Tenant1"), Tenant("otherTenant")))
      val out = Seq.newBuilder[(String, String)]
      out += "01_objects" -> Seq(
        (id1, "Tenant1"), (id2, "Tenant1"), (id3, "Tenant1"), (id3, "otherTenant"))
        .map { case (id, t) =>
          val r = gg.get(GraphQL.get(gg,
            s"""{ Get { MultiTenantClass(tenant: "$t"
               |  where: {path: ["id"] operator: Equal valueText: "$id"})
               |  { name text } } }""".stripMargin)).collect().head
          s"$id@$t>${r.getString(0)}/${r.getString(1)}"
        }.mkString(",")
      def ids(doc: String): Seq[String] =
        gg.get(GraphQL.get(gg, doc)).select(col("_id")).collect().map(_.getString(0)).toSeq
      out += "02_get" -> ids(
        """{ Get { MultiTenantClass(tenant: "Tenant1") { _additional { id } } } }""")
        .sorted.mkString(",")
      out += "03_nearobject" -> ids(
        s"""{ Get { MultiTenantClass(nearObject: {id: "$id1"} tenant: "Tenant1")
           |  { _additional { id } } } }""".stripMargin).length.toString
      out += "04_neartext" -> ids(
        s"""{ Get { MultiTenantClass(nearText: {concepts: "apple",
           |    moveTo: {concepts: ["fruit"], force: 0.1},
           |    moveAwayFrom: {objects: [{id: "$id1"}], force: 0.1}}
           |  tenant: "Tenant1") { _additional { id } } } }""".stripMargin).length.toString
      out += "05_bm25" -> {
        val r = ids(
          """{ Get { MultiTenantClass(bm25: {query: "kiwi"} tenant: "Tenant1")
            |  { _additional { id } } } }""".stripMargin)
        s"n=${r.length};${r.mkString(",")}"
      }
      out += "06_hybrid" -> {
        val page = gg.get(GraphQL.get(gg,
          """{ Get { MultiTenantClass(hybrid: {query: "kiwi", alpha: 0.1}
            |  tenant: "Tenant1" autocut: 1) { text _additional { id } } } }""".stripMargin))
          .select(col("text")).collect().map(_.getString(0))
        s"n=${page.length};${page.mkString(",")}"
      }
      out += "07_missing_tenant" -> okOr(gg.get(GraphQL.get(gg,
        "{ Get { MultiTenantClass { _additional { id } } } }")).collect())
      // lifecycle arms (create_delete_update_tenants_test.go) on a fresh class
      val lcType = StructType(Seq(StructField("uuid", StringType),
        StructField("name", StringType), StructField("tenant", StringType)))
      gg.register(CollectionSchema("TenantLifecycle", "uuid", Seq(
        Property("name", PropType.Text)), tenantColumn = Some("tenant")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("00000000-0000-0000-0000-0000000000c1", "x", "Tenant1")): _*), lcType))
      gg.addTenants("TenantLifecycle",
        Seq(Tenant("Tenant1"), Tenant("Tenant2"), Tenant("Tenant3")))
      out += "08_list" -> gg.tenants("TenantLifecycle")
        .map(t => s"${t.name}=${t.activityStatus}").mkString(",")
      out += "09_duplicate_in_batch" -> okOr(gg.addTenants("TenantLifecycle",
        Seq(Tenant("DoubleTenant"), Tenant("DoubleTenant"))))
      out += "10_recreate_idempotent" -> okOr(gg.addTenants("TenantLifecycle",
        Seq(Tenant("Tenant1"))))
      out += "11_frozen_on_create" -> okOr(gg.addTenants("TenantLifecycle",
        Seq(Tenant("tenant", TenantStatus.Offloaded))))
      def scoped(): String = okOr(gg.get(GraphQL.get(gg,
        """{ Get { TenantLifecycle(tenant: "Tenant1") { name } } }""")).collect())
      gg.updateTenant("TenantLifecycle", "Tenant1", TenantStatus.Inactive)
      out += "12_deactivated" -> scoped()
      gg.updateTenant("TenantLifecycle", "Tenant1", TenantStatus.Active)
      out += "13_reactivated" -> scoped()
      steps(s, out.result())
    },

    // Test_Batch (test/acceptance/batch_request_endpoints/): the batch
    // journey (batch objects → batch crefs long-from/short-to → GraphQL
    // verify) and the batch-delete journey (dry-run by ref-path and by prop
    // with the Matches/Successful/Failed tallies, then the real deletes) —
    // all through the wire decoders against real stores. Object uuids are
    // engine-chosen (the Go suite random-generates them).
    // batch endpoints journeys: the reference-asserted tallies — error-free
    // imports, 3 refs per source, Matches/Successful/Failed under dry-run
    // vs real deletes, and untouched-data verifications between them
    Gate("q_fixture_batch",
      """SELECT * FROM (VALUES
        |  ('01_batch_create', 'errors=0;sources=10;targets=3'),
        |  ('02_batch_refs', 'errors=0;applied=30;dropped=0'),
        |  ('03_gql_verify', 'items=10;with3refs=10'),
        |  ('04_dryrun_by_ref', 'matches=20;successful=0;failed=0;objects=20'),
        |  ('05_dryrun_untouched', 'targets=20'),
        |  ('06_dryrun_by_prop', 'matches=20;successful=0;failed=0;objects=20'),
        |  ('07_dryrun_prop_untouched', 'sources=20'),
        |  ('08_delete_by_ref', 'matches=20;successful=20;failed=0;objects=20'),
        |  ('09_ref_deleted', 'targets=0'),
        |  ('10_delete_by_prop', 'matches=20;successful=20;failed=0;objects=20'),
        |  ('11_prop_deleted', 'sources=0;journey_sources=10')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import org.json4s.jackson.JsonMethods
      import graft.model.{CollectionSchema, Property, PropType, Tokenization}
      val W = graft.engine.WireDecoder
      val E = graft.engine.WireEncoder
      def su(i: Int) = f"10000000-0000-4000-8000-${i}%012d"   // journey sources
      def tu(i: Int) = f"20000000-0000-4000-8000-${i}%012d"   // journey targets
      def du(i: Int) = f"30000000-0000-4000-8000-${i}%012d"   // delete-bed sources
      def dt(i: Int) = f"40000000-0000-4000-8000-${i}%012d"   // delete-bed targets
      def store(schema: CollectionSchema, frame: StructType) = {
        val st = new graft.sources.CollectionStore(s,
          Gate.tempDir(s"bulk-${schema.name}"), schema)
        st.init(s.createDataFrame(java.util.Collections.emptyList[Row](), frame))
        st
      }
      val bulkSt = store(CollectionSchema("BulkTest", "uuid", Seq(
        Property("name", PropType.Text, Tokenization.Whitespace))),
        StructType(Seq(StructField("uuid", StringType), StructField("name", StringType))))
      val srcSt = store(CollectionSchema("BulkTestSource", "uuid", Seq(
        Property("name", PropType.Text, Tokenization.Whitespace),
        Property("ref", PropType.Ref, refTarget = Some("BulkTest")))),
        StructType(Seq(StructField("uuid", StringType), StructField("name", StringType),
          StructField("ref", ArrayType(StringType)))))
      val tgtSt = store(CollectionSchema("BulkTestTarget", "uuid", Seq(
        Property("intProp", PropType.Int),
        Property("fromSource", PropType.Ref, refTarget = Some("BulkTestSource")))),
        StructType(Seq(StructField("uuid", StringType), StructField("intProp", LongType),
          StructField("fromSource", ArrayType(StringType)))))
      val stores = Map("BulkTest" -> bulkSt, "BulkTestSource" -> srcSt,
        "BulkTestTarget" -> tgtSt)
      def applyBatch(json: String): Map[Int, String] = {
        val (objs, errs) = W.decodeBatchObjects(json)
        objs.map(_._2).groupBy(_.collection).foreach { case (cls, os) =>
          val st = stores(cls)
          st.upsert(W.batchObjectsFrame(s, st.read().schema, "uuid", Map.empty, os))
        }
        errs
      }
      def obj(cls: String, id: String, props: String) =
        s"""{"collection": "$cls", "uuid": "$id", "properties": {"nonRefProperties": {$props}}}"""
      val out = Seq.newBuilder[(String, String)]
      // ---- batch journey (batch_journey_test.go) ----
      val errs1 = applyBatch((
        (0 until 10).map(i => obj("BulkTestSource", su(i), s""""name": "source$i"""")) ++
        (0 until 3).map(i => obj("BulkTest", tu(i), s""""name": "target$i""""))
      ).mkString("""{"objects": [""", ",", "]}"))
      out += "01_batch_create" -> (s"errors=${errs1.size};" +
        s"sources=${srcSt.read().count()};targets=${bulkSt.read().count()}")
      val refsJson = (for { i <- 0 until 10; j <- 0 until 3 } yield
        s"""{"from": "weaviate://localhost/BulkTestSource/${su(i)}/ref",
           |"to": "weaviate://localhost/${tu(j)}"}""".stripMargin).mkString("[", ",", "]")
      val (edges, refErrs) = W.decodeBatchReferences(refsJson)
      val (applied, dropped) = srcSt.addReferences("ref",
        s.createDataFrame(java.util.Arrays.asList(
          edges.map { case (_, e) => Row(e.fromId, e.toId) }: _*),
          StructType(Seq(StructField("uuid", StringType), StructField("target", StringType)))))
      out += "02_batch_refs" -> s"errors=${refErrs.size};applied=$applied;dropped=$dropped"
      def engine(): Graft = {
        val eng = new Graft(s)
        stores.foreach { case (_, st) => eng.register(st.schema, st.read()) }
        eng
      }
      out += "03_gql_verify" -> {
        val page = engine().get(GraphQL.get(engine(),
          "{ Get { BulkTestSource { ref { ... on BulkTest { name } } } } }"))
        val rows = page.select(col("ref_resolved")).collect()
        s"items=${rows.length};with3refs=${rows.count(r => !r.isNullAt(0) && r.getSeq[Row](0).size == 3)}"
      }
      // ---- batch delete journey (batch_delete_test.go) ----
      applyBatch((
        (0 until 20).map(i => obj("BulkTestSource", du(i), """"name": "equal-this-name"""")) ++
        (0 until 20).map(i => obj("BulkTestTarget", dt(i), s""""intProp": $i"""))
      ).mkString("""{"objects": [""", ",", "]}"))
      val (delEdges, _) = W.decodeBatchReferences(
        (0 until 20).map(i =>
          s"""{"from": "weaviate://localhost/BulkTestTarget/${dt(i)}/fromSource",
             |"to": "weaviate://localhost/BulkTestSource/${du(i)}"}""".stripMargin)
          .mkString("[", ",", "]"))
      tgtSt.addReferences("fromSource",
        s.createDataFrame(java.util.Arrays.asList(
          delEdges.map { case (_, e) => Row(e.fromId, e.toId) }: _*),
          StructType(Seq(StructField("uuid", StringType), StructField("target", StringType)))))
      def batchDelete(cls: String, filters: String, dryRun: Boolean): String = {
        val eng = engine()
        val st = stores(cls)
        val p = W.decodeBatchDelete(eng,
          s"""{"collection": "$cls", "dryRun": $dryRun, "verbose": true, "filters": $filters}""")
        val matchedIds = new graft.engine.FilterCompiler(eng.collection)(
          st.read(), st.schema, p.where)
          .select(col("uuid")).collect().map(_.getString(0)).sorted.toSeq
        val n = st.deleteWhere(p.where, resolve = eng.collection, dryRun = p.dryRun)
        val reply = JsonMethods.parse(E.batchDeleteReply(n, matchedIds, p.verbose, p.dryRun))
        val objs = (reply \ "objects").asInstanceOf[org.json4s.JArray].arr
        s"matches=${(reply \ "matches").values};successful=${(reply \ "successful").values};" +
          s"failed=${(reply \ "failed").values};objects=${objs.size}"
      }
      val refFilter =
        """{"operator": "OPERATOR_EQUAL", "on": ["fromSource", "BulkTestSource", "name"],
          |"valueText": "equal-this-name"}""".stripMargin
      val propFilter =
        """{"operator": "OPERATOR_EQUAL", "on": ["name"], "valueText": "equal-this-name"}"""
      def countByRef(): Long = engine().get(GraphQL.get(engine(),
        """{ Get { BulkTestTarget(where: {operator: Equal
          |  path: ["fromSource", "BulkTestSource", "name"]
          |  valueText: "equal-this-name"}) { intProp } } }""".stripMargin)).count()
      def countByProp(): Long = engine().get(GraphQL.get(engine(),
        """{ Get { BulkTestSource(where: {operator: Equal path: ["name"]
          |  valueText: "equal-this-name"}) { name } } }""".stripMargin)).count()
      out += "04_dryrun_by_ref" -> batchDelete("BulkTestTarget", refFilter, dryRun = true)
      out += "05_dryrun_untouched" -> s"targets=${countByRef()}"
      out += "06_dryrun_by_prop" -> batchDelete("BulkTestSource", propFilter, dryRun = true)
      out += "07_dryrun_prop_untouched" -> s"sources=${countByProp()}"
      out += "08_delete_by_ref" -> batchDelete("BulkTestTarget", refFilter, dryRun = false)
      out += "09_ref_deleted" -> s"targets=${countByRef()}"
      out += "10_delete_by_prop" -> batchDelete("BulkTestSource", propFilter, dryRun = false)
      out += "11_prop_deleted" -> s"sources=${countByProp()};journey_sources=${srcSt.read().count()}"
      steps(s, out.result())
    },

    // gettingObjectsWithNearFields (+ MultiShard arms) from
    // local_get_with_unlimited_vector_search_test.go: the
    // LimitFlagSearchByDist contract — a nearX threshold with NO (or a
    // negative) limit searches UNLIMITED (the radius bounds the page, not
    // the default limit), an explicit limit bounds it, a tight radius
    // returns fewer than the default. The reference bed is 500 random
    // notes; the stand-in pins 500 DETERMINISTIC vectors (60 clustered
    // within 6° of the anchor, 440 spread 40°–180°) so every count contract
    // (>100 / <100 / ==limit) resolves to an exact pinned number. The
    // anchor uuid is the suite's own (ransomNoteAnchorID).
    // unlimited-vector-search contracts: thresholds without a positive
    // limit run unlimited (384/199 > the 100 default the suite pins),
    // explicit limits bound (10/13/5), tight radii stay under it (60),
    // multi-shard twins return all 3
    Gate("q_fixture_unlimited",
      """SELECT * FROM (VALUES
        |  ('01_nv_nolimit_dist', '384'), ('02_nv_nolimit_cert', '384'),
        |  ('03_nv_neglimit_dist', '199'), ('04_nv_neglimit_cert', '384'),
        |  ('05_nv_limit10_dist', '10'), ('06_nv_limit10_cert', '10'),
        |  ('07_nv_tight_dist', '60'), ('08_nv_tight_cert', '60'),
        |  ('09_no_nolimit_dist', '384'), ('10_no_nolimit_cert', '384'),
        |  ('11_no_neglimit_dist', '199'), ('12_no_neglimit_cert', '384'),
        |  ('13_no_limit13_dist', '13'), ('14_no_limit13_cert', '13'),
        |  ('15_no_tight_dist', '60'), ('16_no_tight_cert', '60'),
        |  ('17_nt_nolimit_dist', '384'), ('18_nt_nolimit_cert', '384'),
        |  ('19_nt_neglimit_dist', '384'), ('20_nt_neglimit_cert', '384'),
        |  ('21_nt_limit5_dist', '5'), ('22_nt_limit5_cert', '5'),
        |  ('23_nt_tight_dist', '60'), ('24_nt_tight_cert', '60'),
        |  ('25_ms_dist', '3'), ('26_ms_cert', '3')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.model.{CollectionSchema, Property, PropType}
      def unit(deg: Double): Seq[Float] = CitiesFixture.unitSeq(deg)
      val gg = new Graft(s).withEmbedder {
        val m = Map("abcd" -> 0.0, "multi shard" -> 90.0)
        t => unit(m.getOrElse(t, 70.0)).toArray
      }
      val anchorId = "11111111-1111-4111-8111-111111111111"
      def angleOf(i: Int): Double =
        if (i < 60) i * 0.1 else 40.0 + (i - 60) * 140.0 / 439.0
      val noteType = StructType(Seq(StructField("uuid", StringType),
        StructField("contents", StringType), StructField("vector", ArrayType(FloatType))))
      gg.register(CollectionSchema("RansomNote", "uuid", Seq(
        Property("contents", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList((0 until 500).map { i =>
          val id = if (i == 0) anchorId else f"22222222-0000-4000-8000-$i%012d"
          Row(id, s"note-$i", unit(angleOf(i)))
        }: _*), noteType))
      gg.register(CollectionSchema("MultiShard", "uuid", Seq(
        Property("name", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList((0 until 3).map { i =>
          Row(f"33333333-0000-4000-8000-$i%012d", s"shard-$i", unit(88.0 + i * 2))
        }: _*), noteType.copy(fields = noteType.fields.updated(1,
          StructField("name", StringType)))))
      val anchorVec = unit(0.0).mkString("[", ", ", "]")
      def n(doc: String): String =
        gg.get(GraphQL.get(gg, doc)).count().toString
      def arm(cls: String, leg: String, limit: Option[Int]): String =
        n(s"""{ Get { $cls(${limit.map(l => s"limit: $l ").getOrElse("")}$leg)
             |  { _additional { vector } } } }""".stripMargin)
      val out = Seq.newBuilder[(String, String)]
      // nearVector
      out += "01_nv_nolimit_dist" -> arm("RansomNote",
        s"nearVector: {distance: 1.8 vector: $anchorVec}", None)
      out += "02_nv_nolimit_cert" -> arm("RansomNote",
        s"nearVector: {certainty: 0.1 vector: $anchorVec}", None)
      out += "03_nv_neglimit_dist" -> arm("RansomNote",
        s"nearVector: {distance: 0.9 vector: $anchorVec}", Some(-1))
      out += "04_nv_neglimit_cert" -> arm("RansomNote",
        s"nearVector: {certainty: 0.1 vector: $anchorVec}", Some(-1))
      out += "05_nv_limit10_dist" -> arm("RansomNote",
        s"nearVector: {distance: 0.9 vector: $anchorVec}", Some(10))
      out += "06_nv_limit10_cert" -> arm("RansomNote",
        s"nearVector: {certainty: 0.1 vector: $anchorVec}", Some(10))
      out += "07_nv_tight_dist" -> arm("RansomNote",
        s"nearVector: {distance: 0.01 vector: $anchorVec}", None)
      out += "08_nv_tight_cert" -> arm("RansomNote",
        s"nearVector: {certainty: 0.99 vector: $anchorVec}", None)
      // nearObject (anchored on the pinned note)
      out += "09_no_nolimit_dist" -> arm("RansomNote",
        s"""nearObject: {distance: 1.8 id: "$anchorId"}""", None)
      out += "10_no_nolimit_cert" -> arm("RansomNote",
        s"""nearObject: {certainty: 0.1 id: "$anchorId"}""", None)
      out += "11_no_neglimit_dist" -> arm("RansomNote",
        s"""nearObject: {distance: 0.9 id: "$anchorId"}""", Some(-1))
      out += "12_no_neglimit_cert" -> arm("RansomNote",
        s"""nearObject: {certainty: 0.1 id: "$anchorId"}""", Some(-1))
      out += "13_no_limit13_dist" -> arm("RansomNote",
        s"""nearObject: {distance: 0.9 id: "$anchorId"}""", Some(13))
      out += "14_no_limit13_cert" -> arm("RansomNote",
        s"""nearObject: {certainty: 0.1 id: "$anchorId"}""", Some(13))
      out += "15_no_tight_dist" -> arm("RansomNote",
        s"""nearObject: {distance: 0.01 id: "$anchorId"}""", None)
      out += "16_no_tight_cert" -> arm("RansomNote",
        s"""nearObject: {certainty: 0.99 id: "$anchorId"}""", None)
      // nearText
      out += "17_nt_nolimit_dist" -> arm("RansomNote",
        """nearText: {distance: 1.8 concepts: ["abcd"]}""", None)
      out += "18_nt_nolimit_cert" -> arm("RansomNote",
        """nearText: {certainty: 0.1 concepts: ["abcd"]}""", None)
      out += "19_nt_neglimit_dist" -> arm("RansomNote",
        """nearText: {distance: 1.8 concepts: ["abcd"]}""", Some(-1))
      out += "20_nt_neglimit_cert" -> arm("RansomNote",
        """nearText: {certainty: 0.1 concepts: ["abcd"]}""", Some(-1))
      out += "21_nt_limit5_dist" -> arm("RansomNote",
        """nearText: {distance: 0.9 concepts: ["abcd"]}""", Some(5))
      out += "22_nt_limit5_cert" -> arm("RansomNote",
        """nearText: {certainty: 0.1 concepts: ["abcd"]}""", Some(5))
      out += "23_nt_tight_dist" -> arm("RansomNote",
        """nearText: {distance: 0.2 concepts: ["abcd"]}""", None)
      out += "24_nt_tight_cert" -> arm("RansomNote",
        """nearText: {certainty: 0.9 concepts: ["abcd"]}""", None)
      // multi-shard twins (3 objects, all inside the radius)
      out += "25_ms_dist" -> arm("MultiShard",
        """nearText: {distance: 0.9 concepts: ["multi shard"]}""", None)
      out += "26_ms_cert" -> arm("MultiShard",
        """nearText: {certainty: 0.1 concepts: ["multi shard"]}""", None)
      steps(s, out.result())
    },

    // gettingObjectsWithCustomVectors + exploreObjectsWithCustomVectors
    // (local_get_with_custom_vectors_test.go): client-supplied vectors,
    // uuids and vectors VERBATIM from setup_test.go:443-445/665-697 — the
    // exact id order through Get and the exact beacons through Explore
    // (the reference runs these after deleting every other class, so the
    // bed has only CustomVectorClass)
    // custom vectors: the reference-asserted EXACT orders
    // (local_get_with_custom_vectors_test.go expected lists)
    Gate("q_fixture_cvc",
      """SELECT * FROM (VALUES
        |  ('01_get', '1ffeb3e1-1258-4c2a-afc3-55543f6c44b8,df22e5c4-5d17-49f9-a71d-f392a82bc086,c28a039a-d509-4c2e-940a-8b109e5bebf4'),
        |  ('02_explore', 'weaviate://localhost/CustomVectorClass/1ffeb3e1-1258-4c2a-afc3-55543f6c44b8,weaviate://localhost/CustomVectorClass/df22e5c4-5d17-49f9-a71d-f392a82bc086,weaviate://localhost/CustomVectorClass/c28a039a-d509-4c2e-940a-8b109e5bebf4')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.model.{CollectionSchema, Property, PropType, Metric}
      val gg = new Graft(s)
      gg.register(CollectionSchema("CustomVectorClass", "uuid", Seq(
        Property("name", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("1ffeb3e1-1258-4c2a-afc3-55543f6c44b8", "Ford", Seq(1.1f, 1.1f, 1.1f)),
          Row("df22e5c4-5d17-49f9-a71d-f392a82bc086", "Tesla", Seq(1.1f, 1.1f, 0.1f)),
          Row("c28a039a-d509-4c2e-940a-8b109e5bebf4", "Mercedes", Seq(1.1f, 0f, 0f))): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("name", StringType), StructField("vector", ArrayType(FloatType))))))
      val out = Seq.newBuilder[(String, String)]
      out += "01_get" -> gg.get(GraphQL.get(gg,
        "{ Get { CustomVectorClass(nearVector: {vector: [1, 1, 1]}) { _additional { id } } } }"))
        .select(col("_id")).collect().map(_.getString(0)).mkString(",")
      out += "02_explore" -> {
        val e = GraphQL.explore("{ Explore(nearVector: {vector: [1, 1, 1]}) { beacon } }")
        graft.operators.Explore(gg, Seq("CustomVectorClass"),
          e.nearVector.get.vector, Metric.Cosine, e.limit, e.offset)
          .collect().map(r =>
            s"weaviate://localhost/${r.getString(0)}/${r.getString(1)}").mkString(",")
      }
      steps(s, out.result())
    },

    // gqlResultsOrder + gqlMalformedRequest
    // (batch_request_endpoints/graphql_test.go): POST /v1/graphql/batch —
    // per-query replies IN ORDER with graphql-go's location-annotated
    // Syntax Error text verbatim, the 422 non-map-variables rejection, and
    // an engine-honest happy-path batch the Go TODO never added
    // graphql batch endpoint: graphql-go's syntax texts (DuckDB e''
    // literals carry the embedded newlines), the 422 rejection, a happy path
    Gate("q_fixture_gql_batch",
      """SELECT * FROM (VALUES
        |  ('01_order_first', e'Syntax Error GraphQL request (1:1) Unexpected Name "testQuery"\n\n1: testQuery\n   ^\n'),
        |  ('02_order_second', e'Syntax Error GraphQL request (1:1) Unexpected Name "testQuery2"\n\n1: testQuery2\n   ^\n'),
        |  ('03_malformed_first', '422: expected map[string]interface{}, received [1 2 3]'),
        |  ('04_malformed_second', '422: expected map[string]interface{}, received [1 2 3]'),
        |  ('05_happy_batch', 'rows=3,rows=1')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val out = Seq.newBuilder[(String, String)]
      def errs(json: String): Seq[String] =
        GraphQL.batchWire(g, json).map {
          case Left(e) => e
          case Right(df) => s"rows=${df.count()}"
        }
      val order = errs(
        """[{"operationName": "testQuery", "query": "testQuery"},
          |  {"operationName": "testQuery2", "query": "testQuery2"}]""".stripMargin)
      out += "01_order_first" -> order.head
      out += "02_order_second" -> order(1)
      val malformed = errs(
        """[{"operationName": "testQuery", "query": "testQuery", "variables": [1, 2, 3]},
          |  {"operationName": "testQuery2", "query": "testQuery2", "variables": [1, 2, 3]}]""".stripMargin)
      out += "03_malformed_first" -> malformed.head
      out += "04_malformed_second" -> malformed(1)
      out += "05_happy_batch" -> errs(
        """[{"query": "{ Get { City(limit: 3) { name } } }"},
          |  {"query": "{ Aggregate { Country { meta { count } } } }"}]""".stripMargin)
        .mkString(",")
      steps(s, out.result())
    },

    // test/acceptance/vector_distances (Test_GraphQL): every distance
    // metric's acceptance arms with the suite's VERBATIM beds and expected
    // distances — cosine (Get + Explore twins, certainty bands), dot
    // (negative distances, zero vector, the nothing-matches cut), l2 /
    // manhattan / hamming (certainty-on-non-cosine rejections, radius
    // cuts), and the two-class L2 Explore with its exact (class, distance)
    // merge order. The suite compares with InDelta 0.01; the replay pins
    // the engine's exact 4-dp renders.
    // vector-distances acceptance: the per-metric expected distances
    // verbatim (the suite asserts InDelta 0.01; these are the engine's
    // exact 4-dp renders of the same values)
    Gate("q_fixture_distances",
      """SELECT * FROM (VALUES
        |  ('c01_plain', '0|0|0.0715|2'),
        |  ('c02_cert0', '0/1|0/1|0.0715/0.9642|2/0'),
        |  ('c03_cert095', '0/1|0/1|0.0715/0.9642'),
        |  ('c04_cert097', '0/1|0/1'),
        |  ('c05_cert1', '0/1|0/1'),
        |  ('c06_dist2', '0|0|0.0715|2'),
        |  ('c07_dist199', '0|0|0.0715'),
        |  ('c08_dist008', '0|0|0.0715'),
        |  ('c09_dist001', '0|0'),
        |  ('c10_explore_cert0', '0|0|0.0715|2'),
        |  ('c11_explore_cert095', '0|0|0.0715'),
        |  ('c12_explore_dist199', '0|0|0.0715'),
        |  ('c13_explore_dist001', '0|0'),
        |  ('d01_plain', '-50|-12|0|50'),
        |  ('d02_cert_rejected', 'can''t compute and return certainty when vector index is configured with dot distance'),
        |  ('d03_dist50', '-50|-12|0|50'),
        |  ('d04_dist30', '-50|-12|0'),
        |  ('d05_dist0', '-50|-12|0'),
        |  ('d06_dist_neg40', '-50'),
        |  ('d07_dist_neg60_empty', ''),
        |  ('h01_plain', '0|1|2'),
        |  ('h02_cert_rejected', 'can''t compute and return certainty when vector index is configured with hamming distance'),
        |  ('h03_dist365', '0|1|2'),
        |  ('h04_dist15', '0|1'),
        |  ('h05_dist05', '0'),
        |  ('h06_dist0', '0'),
        |  ('l01_plain', '0|50|365'),
        |  ('l02_cert_rejected', 'can''t compute and return certainty when vector index is configured with l2-squared distance'),
        |  ('l03_cert_prop_rejected', 'can''t compute and return certainty when vector index is configured with l2-squared distance'),
        |  ('l04_dist365', '0|50|365'),
        |  ('l05_dist364', '0|50'),
        |  ('l06_dist49', '0'),
        |  ('l07_dist0', '0'),
        |  ('m01_plain', '0|12|33'),
        |  ('m02_cert_rejected', 'can''t compute and return certainty when vector index is configured with manhattan distance'),
        |  ('m03_dist365', '0|12|33'),
        |  ('m04_dist30', '0|12'),
        |  ('m05_dist10', '0'),
        |  ('m06_dist0', '0'),
        |  ('x01_explore_l2', 'L2Squared_Class_2/12|L2Squared_Class_2/27|L2Squared_Class/50|L2Squared_Class/147|L2Squared_Class/365'),
        |  ('x02_explore_cert_rejected', 'can''t compute and return certainty when vector index is configured with l2-squared distance')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.model.{CollectionSchema, Property, PropType, Metric}
      def mkGraft(classes: (String, Metric, Seq[Seq[Float]])*): Graft = {
        val gg = new Graft(s)
        classes.foreach { case (name, m, vecs) =>
          gg.register(CollectionSchema(name, "uuid", Seq(
            Property("name", PropType.Text, graft.model.Tokenization.Whitespace)),
            vectors = Map("default" -> "vector"), defaultVector = Some("default"),
            vectorMetrics = Map("default" -> m)),
            s.createDataFrame(java.util.Arrays.asList(vecs.zipWithIndex.map {
              case (v, i) => Row(f"55000000-0000-4000-8000-$i%012d", s"object_${i + 1}", v)
            }: _*), StructType(Seq(StructField("uuid", StringType),
              StructField("name", StringType), StructField("vector", ArrayType(FloatType))))))
        }
        gg
      }
      val gAll = mkGraft(
        ("Cosine_Class", Metric.Cosine,
          Seq(Seq(0.7f, 0.3f), Seq(1.4f, 0.6f), Seq(-0.7f, -0.3f), Seq(1f, 1f))),
        ("Dot_Class", Metric.Dot,
          Seq(Seq(3f, 4f, 5f), Seq(1f, 1f, 1f), Seq(0f, 0f, 0f), Seq(-3f, -4f, -5f))),
        ("L2Squared_Class", Metric.L2Squared,
          Seq(Seq(10f, 11f, 12f), Seq(13f, 15f, 17f), Seq(0f, 0f, 0f))),
        ("Manhattan_Class", Metric.Manhattan,
          Seq(Seq(10f, 11f, 12f), Seq(13f, 15f, 17f), Seq(0f, 0f, 0f))),
        ("Hamming_Class", Metric.Hamming,
          Seq(Seq(10f, 10f, 10f), Seq(10f, 10f, 12f), Seq(10f, 11f, 12f))))
      def dists(doc: String): String = okOr2 {
        gAll.get(GraphQL.get(gAll, doc))
          .select(col("_distance")).collect().map(r => fmt(r.get(0))).mkString("|")
      }
      def okOr2(body: => String): String =
        try body catch { case e: Throwable => e.getMessage }
      def distCert(doc: String): String = okOr2 {
        gAll.get(GraphQL.get(gAll, doc))
          .select(col("_distance"), col("_certainty")).collect()
          .map(r => s"${fmt(r.get(0))}/${fmt(r.get(1))}").mkString("|")
      }
      val out = Seq.newBuilder[(String, String)]
      // ---- cosine (Get; the Explore twins run on a cosine-only graft) ----
      def cosGet(args: String, withCert: Boolean = false): String =
        (if (withCert) distCert _ else dists _)(
          s"""{ Get { Cosine_Class(nearVector: {$args vector: [0.7, 0.3]})
             |  { name _additional { distance${if (withCert) " certainty" else ""} } } } }""".stripMargin)
      out += "c01_plain" -> cosGet("")
      out += "c02_cert0" -> cosGet("certainty: 0", withCert = true)
      out += "c03_cert095" -> cosGet("certainty: 0.95", withCert = true)
      out += "c04_cert097" -> cosGet("certainty: 0.97", withCert = true)
      out += "c05_cert1" -> cosGet("certainty: 1", withCert = true)
      out += "c06_dist2" -> cosGet("distance: 2,")
      out += "c07_dist199" -> cosGet("distance: 1.99,")
      out += "c08_dist008" -> cosGet("distance: 0.08,")
      out += "c09_dist001" -> cosGet("distance: 0.01,")
      val gCos = mkGraft(("Cosine_Class", Metric.Cosine,
        Seq(Seq(0.7f, 0.3f), Seq(1.4f, 0.6f), Seq(-0.7f, -0.3f), Seq(1f, 1f))))
      def cosExplore(certainty: Option[Double], distance: Option[Double]): String = okOr2 {
        graft.operators.Explore(gCos, Seq("Cosine_Class"), Array(0.7f, 0.3f),
          Metric.Cosine, limit = 20, certainty = certainty, distance = distance)
          .select(col("distance")).collect().map(r => fmt(r.get(0))).mkString("|")
      }
      out += "c10_explore_cert0" -> cosExplore(Some(0.0), None)
      out += "c11_explore_cert095" -> cosExplore(Some(0.95), None)
      out += "c12_explore_dist199" -> cosExplore(None, Some(1.99))
      out += "c13_explore_dist001" -> cosExplore(None, Some(0.01))
      // ---- dot ----
      def dotGet(args: String): String = dists(
        s"""{ Get { Dot_Class(nearVector: {$args vector: [3, 4, 5]})
           |  { name _additional { distance } } } }""".stripMargin)
      out += "d01_plain" -> dotGet("")
      out += "d02_cert_rejected" -> dotGet("certainty: 0.7,")
      out += "d03_dist50" -> dotGet("distance: 50,")
      out += "d04_dist30" -> dotGet("distance: 30,")
      out += "d05_dist0" -> dotGet("distance: 0,")
      out += "d06_dist_neg40" -> dotGet("distance: -40,")
      out += "d07_dist_neg60_empty" -> dotGet("distance: -60,")
      // ---- l2-squared ----
      def l2Get(args: String, cls: String = "L2Squared_Class"): String = dists(
        s"""{ Get { $cls(nearVector: {$args vector: [10, 11, 12]})
           |  { name _additional { distance } } } }""".stripMargin)
      out += "l01_plain" -> l2Get("")
      out += "l02_cert_rejected" -> l2Get("certainty: 0.3,")
      out += "l03_cert_prop_rejected" -> okOr2(dists(
        """{ Get { L2Squared_Class(nearVector: {distance: 0.3, vector: [10, 11, 12]})
          |  { name _additional { certainty } } } }""".stripMargin))
      out += "l04_dist365" -> l2Get("distance: 365,")
      out += "l05_dist364" -> l2Get("distance: 364,")
      out += "l06_dist49" -> l2Get("distance: 49,")
      out += "l07_dist0" -> l2Get("distance: 0,")
      // ---- manhattan ----
      out += "m01_plain" -> l2Get("", cls = "Manhattan_Class")
      out += "m02_cert_rejected" -> l2Get("certainty: 0.3,", cls = "Manhattan_Class")
      out += "m03_dist365" -> l2Get("distance: 365,", cls = "Manhattan_Class")
      out += "m04_dist30" -> l2Get("distance: 30,", cls = "Manhattan_Class")
      out += "m05_dist10" -> l2Get("distance: 10,", cls = "Manhattan_Class")
      out += "m06_dist0" -> l2Get("distance: 0,", cls = "Manhattan_Class")
      // ---- hamming ----
      def hamGet(args: String): String = dists(
        s"""{ Get { Hamming_Class(nearVector: {$args vector: [10, 10, 10]})
           |  { name _additional { distance } } } }""".stripMargin)
      out += "h01_plain" -> hamGet("")
      out += "h02_cert_rejected" -> hamGet("certainty: 0.3,")
      out += "h03_dist365" -> hamGet("distance: 365,")
      out += "h04_dist15" -> hamGet("distance: 1.5,")
      out += "h05_dist05" -> hamGet("distance: 0.5,")
      out += "h06_dist0" -> hamGet("distance: 0,")
      // ---- two-class L2 Explore (explore_test.go) ----
      val gL2 = mkGraft(
        ("L2Squared_Class", Metric.L2Squared,
          Seq(Seq(10f, 11f, 12f), Seq(13f, 15f, 17f), Seq(0f, 0f, 0f))),
        ("L2Squared_Class_2", Metric.L2Squared,
          Seq(Seq(6f, 7f, 8f), Seq(1f, 2f, 3f))))
      out += "x01_explore_l2" -> okOr2 {
        graft.operators.Explore(gL2, Seq("L2Squared_Class", "L2Squared_Class_2"),
          Array(3f, 4f, 5f), Metric.L2Squared, limit = 20, distance = Some(365))
          .select(col("class_name"), col("distance")).collect()
          .map(r => s"${r.getString(0)}/${fmt(r.get(1))}").mkString("|")
      }
      out += "x02_explore_cert_rejected" -> okOr2 {
        graft.operators.Explore(gL2, Seq("L2Squared_Class", "L2Squared_Class_2"),
          Array(3f, 4f, 5f), Metric.L2Squared, limit = 20, certainty = Some(0.4))
          .count().toString
      }
      steps(s, out.result())
    },

    // TestHybridDiversitySelection (test/acceptance/hybrid_diversity/):
    // hybrid MMR as a POST-FUSION pass, driven through the BINARY gRPC
    // SearchRequest (Hybrid.selection field 14 + alpha_param/use_alpha_param
    // + fp32 vector_bytes — the suite's exact wire shape): balance=1 must
    // match the plain baseline, balance=0 must reorder for diversity while
    // keeping the most-relevant seed. The suite's clustered vectors
    // verbatim; ids render as the doc texts (the Go bed random-generates
    // uuids).
    // hybrid MMR diversity via binary gRPC: balance=1 = baseline, balance=0
    // reorders within the relevance window keeping the seed (the window =
    // the request limit, explorer.go:280-330 — picking a1 then the
    // farther-from-a1 a3 is the reference's own selection math)
    Gate("q_fixture_hybrid_mmr",
      """SELECT * FROM (VALUES
        |  ('01_baseline', 'doc a1,doc a2,doc a3'),
        |  ('02_balance1_matches', 'doc a1,doc a2,doc a3;same=true'),
        |  ('03_balance0_diverse', 'doc a1,doc a3,doc a2;differs=true;keeps_seed=true')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import org.json4s._
      import graft.engine.ProtoWire
      import graft.model.{CollectionSchema, Property, PropType}
      val gg = new Graft(s)
      val clusters = Seq(
        "a1" -> Seq(1.0f, 0.0f, 0.0f), "a2" -> Seq(0.99f, 0.01f, 0.0f),
        "a3" -> Seq(0.98f, 0.02f, 0.0f), "b1" -> Seq(0.0f, 1.0f, 0.0f),
        "b2" -> Seq(0.0f, 0.99f, 0.01f), "c1" -> Seq(0.0f, 0.0f, 1.0f))
      gg.register(CollectionSchema("DiversityDoc", "uuid", Seq(
        Property("text", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList(clusters.zipWithIndex.map {
          case ((n, v), i) => Row(f"66000000-0000-4000-8000-$i%012d", s"doc $n", v)
        }: _*), StructType(Seq(StructField("uuid", StringType),
          StructField("text", StringType), StructField("vector", ArrayType(FloatType))))))
      val qbytes = {
        val bb = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Seq(1.0f, 0.0f, 0.0f).foreach(bb.putFloat)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
      def req(sel: Option[(Int, Double)]): JValue = JObject(List(
        "collection" -> JString("DiversityDoc"),
        "limit" -> JLong(3),
        "metadata" -> JObject(List("uuid" -> JBool(true), "score" -> JBool(true))),
        "hybrid_search" -> JObject(List(
          "query" -> JString("doc"),
          "properties" -> JArray(List(JString("text"))),
          "alpha_param" -> JDouble(1.0),
          "use_alpha_param" -> JBool(true),
          "near_vector" -> JObject(List("vector_bytes" -> JString(qbytes)))) ++
          sel.map { case (lim, bal) => "selection" -> JObject(List(
            "mmr" -> JObject(List("limit" -> JLong(lim), "balance" -> JDouble(bal))))) }),
        "uses_127_api" -> JBool(true)))
      def serve(sel: Option[(Int, Double)]): Seq[String] = {
        val params = ProtoWire.searchRequest(gg,
          ProtoWire.write(req(sel), "SearchRequest"))
        gg.get(params).select(col("text")).collect().map(_.getString(0)).toSeq
      }
      val baseline = serve(None)
      val balance1 = serve(Some((3, 1.0)))
      val balance0 = serve(Some((3, 0.0)))
      val out = Seq.newBuilder[(String, String)]
      out += "01_baseline" -> baseline.mkString(",")
      out += "02_balance1_matches" -> s"${balance1.mkString(",")};same=${balance1 == baseline}"
      out += "03_balance0_diverse" -> (s"${balance0.mkString(",")};" +
        s"differs=${balance0 != balance1};keeps_seed=${balance0.contains(baseline.head)}")
      steps(s, out.result())
    },

    // TestBoost (test/acceptance/boost/boost_test.go): the boost
    // post-scoring pipeline driven END TO END through BINARY SearchRequests
    // (Boost field 62 — filter/time_decay/numeric-free/property_value
    // condition oneofs, per-condition weights, depth). The Song bed is the
    // suite's own deterministic formulas (100 objects; likes = (i*7+13)%100
    // *10, dates spread 200 days back from 2025-01-01, 4-d trig vectors).
    // Orders render as song names; the suite's ordering/equality contracts
    // render as booleans. (The hybrid arms leave alpha unset — the binary
    // legacy path's raw proto3 default 0, pure keyword, exactly like the
    // reference runs them; the pinned counts/differs contracts hold either
    // way.) The Song bed is read-only after registration, so it is
    // session-cached like the other acceptance beds — in-suite passes time
    // the 30 replay arms, not a fresh store build.
    // boost acceptance: the suite's ordering/equality contracts plus the
    // engine's deterministic boosted orders over the formula bed (origin-now
    // decay at this bed's ages underflows to a flat boost → primary order,
    // exactly the reference a year past the bed date)
    Gate("q_fixture_boost",
      """SELECT * FROM (VALUES
        |  ('b01_nv_base', 'Song 000,Song 063,Song 009,Song 072,Song 048,Song 087,Song 024,Song 039,Song 030,Song 004'),
        |  ('b02_no_base', '10'),
        |  ('b03_filter_likes', 'Song 063,Song 009,Song 024,Song 039,Song 006,Song 049,Song 054,Song 093,Song 010,Song 081'),
        |  ('b04_filter_likes_and_date', 'Song 009,Song 006,Song 010,Song 081,Song 067,Song 069,Song 078,Song 068,Song 082,Song 066'),
        |  ('b05_pv_none', 'Song 069,Song 054,Song 039,Song 024,Song 068,Song 025,Song 009,Song 096,Song 083,Song 082'),
        |  ('b06_pv_log1p', 'Song 009,Song 024,Song 039,Song 063,Song 054,Song 069,Song 048,Song 096,Song 010,Song 081'),
        |  ('b07_pv_sqrt', 'Song 024,Song 069,Song 039,Song 009,Song 054,Song 096,Song 025,Song 068,Song 010,Song 067'),
        |  ('b08_log1p_vs_none_differs', 'true'),
        |  ('b09_decay_exp', 'Song 000,Song 066,Song 065,Song 067,Song 001,Song 068,Song 069,Song 004,Song 003,Song 072'),
        |  ('b10_decay_gauss', 'Song 000,Song 067,Song 066,Song 001,Song 068,Song 069,Song 065,Song 003,Song 004,Song 002'),
        |  ('b11_decay_linear', 'Song 000,Song 066,Song 067,Song 065,Song 001,Song 068,Song 069,Song 004,Song 003,Song 072'),
        |  ('b12_decay_origin_now', 'Song 000,Song 063,Song 009,Song 072,Song 048,Song 087,Song 024,Song 039,Song 030,Song 004'),
        |  ('b13_tight_vs_wide_differs', 'true'),
        |  ('b14_decay_value_differs', 'true'),
        |  ('b15_curves_differ', 'true'),
        |  ('b16_blend_filter_decay', 'Song 009,Song 067,Song 066,Song 069,Song 068,Song 006,Song 024,Song 063,Song 010,Song 078'),
        |  ('b17_blend_pv_decay', 'Song 000,Song 067,Song 066,Song 068,Song 069,Song 001,Song 009,Song 063,Song 004,Song 024'),
        |  ('b18_weight_differs', 'true'),
        |  ('b19_depth1_equals_base', 'true'),
        |  ('b20_depth_large_promotes', 'true'),
        |  ('b21_negative_weight', '10'),
        |  ('h01_hybrid_base', '10'),
        |  ('h02_hybrid_filter_differs', 'true'),
        |  ('h03_hybrid_pv', '10'),
        |  ('h04_hybrid_decay', '10'),
        |  ('h05_hybrid_weight0_noop', 'true'),
        |  ('p01_page_through_nv', 'true'),
        |  ('p02_page_through_hybrid', 'true'),
        |  ('p03_page_through_bm25', 'true'),
        |  ('p04_boost_reorders_offset', 'true')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      import graft.engine.ProtoWire
      val gg = songGraft(s)
      def vecOf(i: Int): Seq[Float] = songVecOf(i)
      val qbytes = {
        val bb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vecOf(0).foreach(bb.putFloat)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
      val nearVec = JObject(List("vectors" -> JArray(List(JObject(List(
        "vector_bytes" -> JString(qbytes),
        "type" -> JString("VECTOR_TYPE_SINGLE_FP32")))))))
      def fLikes(gt: Double) = JObject(List(
        "operator" -> JString("OPERATOR_GREATER_THAN"),
        "value_number" -> JDouble(gt),
        "target" -> JObject(List("property" -> JString("likes")))))
      def timeDecay(origin: String, scale: String, curve: String,
                    dv: Option[Double] = None) = JObject(List(
        "property" -> JString("date_published"),
        "scale" -> JString(scale), "curve" -> JString(curve)) ++
        (if (origin.nonEmpty) List("origin" -> JString(origin)) else Nil) ++
        dv.map(v => "decay_value" -> JDouble(v)))
      def pv(modifier: String) = JObject(List("property" -> JString("likes")) ++
        (if (modifier.nonEmpty) List("modifier" -> JString(modifier)) else Nil))
      def cond(kind: String, body: JValue, w: Double) =
        JObject(List(kind -> body, "weight" -> JDouble(w)))
      def boost(w: Double, conds: Seq[JValue], depth: Option[Int] = None) =
        JObject(List("conditions" -> JArray(conds.toList), "weight" -> JDouble(w)) ++
          depth.map(d => "depth" -> JLong(d)))
      def serve(leg: (String, JValue), limit: Int, b: Option[JValue],
                offset: Int = 0): Seq[String] = {
        val doc = JObject(List(
          "collection" -> JString("Song"), "limit" -> JLong(limit),
          "metadata" -> JObject(List("uuid" -> JBool(true), "score" -> JBool(true))),
          leg, "uses_127_api" -> JBool(true)) ++
          (if (offset > 0) List("offset" -> JLong(offset)) else Nil) ++
          b.map("boost" -> _))
        val params = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
        gg.get(params).select(col("name")).collect().map(_.getString(0)).toSeq
      }
      val nv = "near_vector" -> nearVec
      val hybrid = "hybrid_search" -> JObject(List(
        "query" -> JString("Song"), "properties" -> JArray(List(JString("name"))),
        "near_vector" -> nearVec))
      val out = Seq.newBuilder[(String, String)]
      val base10 = serve(nv, 10, None)
      out += "b01_nv_base" -> base10.mkString(",")
      val firstUuid = {
        val doc = JObject(List("collection" -> JString("Song"), "limit" -> JLong(1),
          "metadata" -> JObject(List("uuid" -> JBool(true))), nv,
          "uses_127_api" -> JBool(true)))
        val p = ProtoWire.searchRequest(gg, ProtoWire.write(doc, "SearchRequest"))
        gg.get(p).select(col("_id")).collect().head.getString(0)
      }
      out += "b02_no_base" -> serve("near_object" -> JObject(List(
        "id" -> JString(firstUuid))), 10, None).length.toString
      out += "b03_filter_likes" -> serve(nv, 10,
        Some(boost(0.8, Seq(cond("filter", fLikes(500), 1.0))))).mkString(",")
      out += "b04_filter_likes_and_date" -> serve(nv, 10, Some(boost(0.9, Seq(
        cond("filter", fLikes(500), 2.0),
        cond("filter", JObject(List(
          "operator" -> JString("OPERATOR_GREATER_THAN"),
          "value_text" -> JString("2024-11-01T00:00:00Z"),
          "target" -> JObject(List("property" -> JString("date_published"))))), 1.0)))))
        .mkString(",")
      val pvNone = serve(nv, 10, Some(boost(0.7, Seq(cond("property_value", pv(""), 1.0)))))
      val pvLog = serve(nv, 10, Some(boost(0.7, Seq(cond("property_value",
        pv("PROPERTY_VALUE_MODIFIER_LOG1P"), 1.0)))))
      val pvSqrt = serve(nv, 10, Some(boost(0.7, Seq(cond("property_value",
        pv("PROPERTY_VALUE_MODIFIER_SQRT"), 1.0)))))
      out += "b05_pv_none" -> pvNone.mkString(",")
      out += "b06_pv_log1p" -> pvLog.mkString(",")
      out += "b07_pv_sqrt" -> pvSqrt.mkString(",")
      out += "b08_log1p_vs_none_differs" -> {
        val n = serve(nv, 10, Some(boost(0.5, Seq(cond("property_value", pv(""), 1.0)))))
        val l = serve(nv, 10, Some(boost(0.5, Seq(cond("property_value",
          pv("PROPERTY_VALUE_MODIFIER_LOG1P"), 1.0)))))
        (n != l).toString
      }
      val origin = "2025-01-01T00:00:00Z"
      out += "b09_decay_exp" -> serve(nv, 10, Some(boost(0.8, Seq(
        cond("time_decay", timeDecay(origin, "30d", "DECAY_CURVE_EXPONENTIAL"), 1.0))))).mkString(",")
      out += "b10_decay_gauss" -> serve(nv, 10, Some(boost(0.8, Seq(
        cond("time_decay", timeDecay(origin, "30d", "DECAY_CURVE_GAUSS"), 1.0))))).mkString(",")
      out += "b11_decay_linear" -> serve(nv, 10, Some(boost(0.8, Seq(
        cond("time_decay", timeDecay(origin, "30d", "DECAY_CURVE_LINEAR"), 1.0))))).mkString(",")
      out += "b12_decay_origin_now" -> serve(nv, 10, Some(boost(0.8, Seq(
        cond("time_decay", timeDecay("", "60d", "DECAY_CURVE_EXPONENTIAL"), 1.0))))).mkString(",")
      def decayOrder(scale: String, dv: Option[Double] = None,
                     curve: String = "DECAY_CURVE_EXPONENTIAL"): Seq[String] =
        serve(nv, 10, Some(boost(0.5, Seq(cond("time_decay",
          timeDecay(origin, scale, curve, dv), 1.0)))))
      out += "b13_tight_vs_wide_differs" ->
        (decayOrder("7d") != decayOrder("180d")).toString
      out += "b14_decay_value_differs" ->
        (decayOrder("30d", Some(0.1)) != decayOrder("30d", Some(0.9))).toString
      out += "b15_curves_differ" ->
        (decayOrder("30d") != decayOrder("30d", curve = "DECAY_CURVE_LINEAR")).toString
      out += "b16_blend_filter_decay" -> serve(nv, 10, Some(boost(0.7, Seq(
        cond("filter", fLikes(500), 3.0),
        cond("time_decay", timeDecay(origin, "30d", "DECAY_CURVE_EXPONENTIAL"), 1.0)))))
        .mkString(",")
      out += "b17_blend_pv_decay" -> serve(nv, 10, Some(boost(0.6, Seq(
        cond("property_value", pv("PROPERTY_VALUE_MODIFIER_LOG1P"), 2.0),
        cond("time_decay", timeDecay(origin, "14d", "DECAY_CURVE_GAUSS"), 1.5)))))
        .mkString(",")
      out += "b18_weight_differs" -> {
        def order(w: Double) = serve(nv, 10, Some(boost(w,
          Seq(cond("property_value", pv(""), 1.0)))))
        (order(0.3) != order(1.0)).toString
      }
      val likes800 = Seq(cond("filter", fLikes(800), 1.0))
      val depth1 = serve(nv, 1, Some(boost(1.0, likes800, depth = Some(1))))
      val depthBig = serve(nv, 1, Some(boost(1.0, likes800, depth = Some(50))))
      out += "b19_depth1_equals_base" -> (depth1.head == base10.head).toString
      out += "b20_depth_large_promotes" -> (depthBig.head != base10.head).toString
      out += "b21_negative_weight" -> serve(nv, 10, Some(boost(0.8, Seq(
        cond("property_value", pv(""), 2.0),
        cond("time_decay", timeDecay(origin, "30d", "DECAY_CURVE_EXPONENTIAL"), -0.5)))))
        .length.toString
      val hybridBase = serve(hybrid, 10, None)
      out += "h01_hybrid_base" -> hybridBase.length.toString
      val hybridBoosted = serve(hybrid, 10,
        Some(boost(0.8, Seq(cond("filter", fLikes(500), 1.0)))))
      out += "h02_hybrid_filter_differs" -> (hybridBoosted != hybridBase).toString
      out += "h03_hybrid_pv" -> serve(hybrid, 10, Some(boost(0.7, Seq(
        cond("property_value", pv("PROPERTY_VALUE_MODIFIER_LOG1P"), 1.0))))).length.toString
      out += "h04_hybrid_decay" -> serve(hybrid, 10, Some(boost(0.6, Seq(
        cond("time_decay", timeDecay(origin, "30d", "DECAY_CURVE_EXPONENTIAL"), 1.0)))))
        .length.toString
      out += "h05_hybrid_weight0_noop" -> (serve(hybrid, 10,
        Some(boost(0.0, Seq(cond("filter", fLikes(500), 1.0))))) == hybridBase).toString
      // pagination consistency: boosted pages concatenate to the boosted order
      def pages(leg: (String, JValue), b: JValue): Boolean = {
        val all = serve(leg, 30, Some(b))
        val paged = (0 until 3).flatMap(p => serve(leg, 10, Some(b), offset = p * 10))
        all == paged
      }
      val pvBoost = boost(0.8, Seq(cond("property_value", pv(""), 1.0)))
      out += "p01_page_through_nv" -> pages(nv, pvBoost).toString
      out += "p02_page_through_hybrid" -> pages(hybrid, pvBoost).toString
      out += "p03_page_through_bm25" -> pages("bm25_search" -> JObject(List(
        "query" -> JString("Song"), "properties" -> JArray(List(JString("name"))))),
        pvBoost).toString
      out += "p04_boost_reorders_offset" -> {
        val unboosted = serve(nv, 10, None, offset = 10)
        val boosted = serve(nv, 10, Some(pvBoost), offset = 10)
        (unboosted != boosted).toString
      }
      steps(s, out.result())
    },

    // TestRESTSearchNearText (test/acceptance/rest_search/near_text_test.go):
    // the experimental POST /v1/search/{collection}/near-text wire — the
    // envelope contract (id on the envelope, camelCase metadata keys,
    // metadata omitted when unpopulated, a user property named "metadata"
    // under properties, references as arrays, nested object maps) and the
    // full error-status matrix (404/422/400) with the suite's verbatim
    // uuids. Stand-in vectors angle the two movies so "spaceship galaxy"
    // ranks movie1 first.
    // REST search endpoint: the envelope/status contracts verbatim
    Gate("q_fixture_rest_search",
      """SELECT * FROM (VALUES
        |  ('01_happy', 'status=200;n=2;first_id=aa44bbee-ca5f-4db7-a412-5fc6a2300002;first_title=spaceship galaxy adventure;props=title;asc=true;took=true'),
        |  ('02_metadata_keys', 'status=200;keys=certainty|creationTime|distance|lastUpdateTime'),
        |  ('03_id_always', 'status=200;id=aa44bbee-ca5f-4db7-a412-5fc6a2300002;no_metadata=true'),
        |  ('04_id_not_metadata', 'status=422;msg_has_key=true;shaped=true'),
        |  ('05_metadata_prop', 'status=200;prop=user data;dist=true;id=aa44bbee-ca5f-4db7-a412-5fc6a2300002'),
        |  ('06_where', 'status=200;n=1;title=cooking dinner recipes'),
        |  ('07_no_index_422', 'status=422;has_flag=true'),
        |  ('08_references', 'status=200;not_in_props=true;ref_name=famous writer'),
        |  ('09_refs_omitted', 'status=200;no_refs=true'),
        |  ('10_nested_object', 'status=200;summary=a journey through space;duration=120'),
        |  ('11_no_vectorizer_422', 'status=422;has_word=true'),
        |  ('12_unknown_404', '404'),
        |  ('13_mt_statuses', 'ok=200/1;ghost=404;missing=422;non_mt=422'),
        |  ('14_certainty_non_cosine', 'status=422;has_word=true'),
        |  ('15_unknown_prop_400', 'status=400;has_text=true'),
        |  ('16_absent_query_422', 'status=422;has_word=true;shaped=true')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      import graft.engine.RestSearch
      import graft.model.{CollectionSchema, Property, PropType, Metric, Tenant}
      def unit(deg: Double): Seq[Float] = CitiesFixture.unitSeq(deg)
      val gg = new Graft(s).withEmbedder {
        val m = Map("spaceship galaxy" -> 0.0, "spaceship" -> 0.0,
          "travel" -> 90.0, "sunflowers" -> 45.0, "anything" -> 20.0)
        t => unit(m.getOrElse(t, 70.0)).toArray
      }
      val authorId = "aa44bbee-ca5f-4db7-a412-5fc6a2300001"
      val movie1 = "aa44bbee-ca5f-4db7-a412-5fc6a2300002"
      val movie2 = "aa44bbee-ca5f-4db7-a412-5fc6a2300003"
      gg.register(CollectionSchema("Author", "uuid", Seq(
        Property("name", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row(authorId, "famous writer", unit(30.0))): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("name", StringType), StructField("vector", ArrayType(FloatType))))))
      val detailsType = StructType(Seq(
        StructField("duration", LongType), StructField("summary", StringType)))
      gg.register(CollectionSchema("Movie", "uuid", Seq(
        Property("title", PropType.Text),
        Property("year", PropType.Int),
        Property("rating", PropType.Int, indexFilterable = false, indexSearchable = false),
        Property("metadata", PropType.Text),
        Property("details", PropType.Obj),
        Property("hasAuthor", PropType.Ref, refTarget = Some("Author"))),
        vectors = Map("default" -> "vector"), defaultVector = Some("default"),
        creationTimeColumn = Some("created"), updateTimeColumn = Some("created"),
        timestampUnit = "ms"),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row(movie1, "spaceship galaxy adventure", 2021L, 5L, "user data",
            Row(120L, "a journey through space"), Seq(authorId), unit(5.0), 1700000001000L),
          Row(movie2, "cooking dinner recipes", 1999L, 3L, "more user data",
            null, null, unit(60.0), 1700000002000L)): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("title", StringType), StructField("year", LongType),
            StructField("rating", LongType), StructField("metadata", StringType),
            StructField("details", detailsType),
            StructField("hasAuthor", ArrayType(StringType)),
            StructField("vector", ArrayType(FloatType)),
            StructField("created", LongType)))))
      // vectorizer "none" — no vector column at all
      gg.register(CollectionSchema("Notes", "uuid", Seq(
        Property("title", PropType.Text))),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("aa44bbee-ca5f-4db7-a412-5fc6a2300009", "x")): _*),
          StructType(Seq(StructField("uuid", StringType), StructField("title", StringType)))))
      gg.register(CollectionSchema("Painting", "uuid", Seq(
        Property("title", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default"),
        vectorMetrics = Map("default" -> Metric.L2Squared)),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("aa44bbee-ca5f-4db7-a412-5fc6a2300005", "sunflowers", unit(45.0))): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("title", StringType), StructField("vector", ArrayType(FloatType))))))
      gg.register(CollectionSchema("Journal", "uuid", Seq(
        Property("title", PropType.Text)),
        vectors = Map("default" -> "vector"), defaultVector = Some("default"),
        tenantColumn = Some("tenant")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("aa44bbee-ca5f-4db7-a412-5fc6a2300004", "travel diary", "tenantA", unit(88.0))): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("title", StringType), StructField("tenant", StringType),
            StructField("vector", ArrayType(FloatType))))))
      gg.addTenants("Journal", Seq(Tenant("tenantA")))
      def post(cls: String, body: String): (Int, JValue) = {
        val (status, out) = RestSearch.nearText(gg, cls, body)
        (status, JsonMethods.parse(out))
      }
      def errMsg(out: JValue): String =
        (out \ "error") (0) \ "message" match { case JString(m) => m; case o => o.toString }
      val out = Seq.newBuilder[(String, String)]
      // happy path
      val (s1, o1) = post("Movie",
        """{"query": ["spaceship galaxy"], "returnProperties": ["title"],
          |"returnMetadata": ["distance"]}""".stripMargin)
      val hits1 = (o1 \ "results").asInstanceOf[JArray].arr
      out += "01_happy" -> {
        val first = hits1.head
        val props = (first \ "properties").asInstanceOf[JObject].obj.map(_._1).sorted
        val dists = hits1.map(h => (h \ "metadata" \ "distance") match {
          case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => -1.0 })
        s"status=$s1;n=${hits1.size};first_id=${(first \ "id").values};" +
          s"first_title=${(first \ "properties" \ "title").values};" +
          s"props=${props.mkString("|")};asc=${dists == dists.sorted};" +
          s"took=${(o1 \ "tookMs") != JNothing}"
      }
      out += "02_metadata_keys" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnMetadata":
            |["distance", "certainty", "score", "explainScore", "creationTime", "lastUpdateTime"]}""".stripMargin)
        val md = ((o \ "results") (0) \ "metadata").asInstanceOf[JObject].obj.map(_._1).sorted
        s"status=$st;keys=${md.mkString("|")}"
      }
      out += "03_id_always" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnProperties": ["title"]}""")
        val first = (o \ "results") (0)
        s"status=$st;id=${(first \ "id").values};no_metadata=${(first \ "metadata") == JNothing}"
      }
      out += "04_id_not_metadata" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnMetadata": ["id"]}""")
        s"status=$st;msg_has_key=${errMsg(o).contains("returnMetadata")};shaped=${(o \ "error") != JNothing}"
      }
      out += "05_metadata_prop" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnMetadata": ["distance"]}""")
        val first = (o \ "results") (0)
        s"status=$st;prop=${(first \ "properties" \ "metadata").values};" +
          s"dist=${(first \ "metadata" \ "distance") != JNothing};id=${(first \ "id").values}"
      }
      out += "06_where" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnProperties": ["title"],
            |"where": {"path": ["year"], "operator": "LessThan", "valueInt": 2000}}""".stripMargin)
        val hits = (o \ "results").asInstanceOf[JArray].arr
        s"status=$st;n=${hits.size};title=${(hits.head \ "properties" \ "title").values}"
      }
      out += "07_no_index_422" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"],
            |"where": {"path": ["rating"], "operator": "GreaterThan", "valueInt": 3}}""".stripMargin)
        s"status=$st;has_flag=${errMsg(o).contains("indexFilterable")}"
      }
      out += "08_references" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnProperties": ["title", "hasAuthor.name"]}""")
        val first = (o \ "results") (0)
        val refName = ((first \ "references" \ "hasAuthor") (0) \ "name").values
        s"status=$st;not_in_props=${(first \ "properties" \ "hasAuthor") == JNothing};" +
          s"ref_name=$refName" + (if (st != 200) s";err=${errMsg(o)}" else "")
      }
      out += "09_refs_omitted" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnProperties": ["title"]}""")
        s"status=$st;no_refs=${((o \ "results") (0) \ "references") == JNothing}"
      }
      out += "10_nested_object" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship galaxy"], "returnProperties": ["details"]}""")
        val d = (o \ "results") (0) \ "properties" \ "details"
        s"status=$st;summary=${(d \ "summary").values};duration=${(d \ "duration").values}"
      }
      out += "11_no_vectorizer_422" -> {
        val (st, o) = post("Notes", """{"query": ["anything"]}""")
        s"status=$st;has_word=${errMsg(o).contains("vectorizer")}"
      }
      out += "12_unknown_404" -> post("Ghosts", """{"query": ["anything"]}""")._1.toString
      out += "13_mt_statuses" -> {
        val ok = post("Journal", """{"query": ["travel"], "tenant": "tenantA"}""")
        val ghost = post("Journal", """{"query": ["travel"], "tenant": "ghostTenant"}""")._1
        val missing = post("Journal", """{"query": ["travel"]}""")._1
        val nonMt = post("Movie", """{"query": ["spaceship"], "tenant": "tenantA"}""")._1
        s"ok=${ok._1}/${(ok._2 \ "results").asInstanceOf[JArray].arr.size};" +
          s"ghost=$ghost;missing=$missing;non_mt=$nonMt"
      }
      out += "14_certainty_non_cosine" -> {
        val (st, o) = post("Painting", """{"query": ["sunflowers"], "certainty": 0.7}""")
        s"status=$st;has_word=${errMsg(o).contains("certainty")}"
      }
      out += "15_unknown_prop_400" -> {
        val (st, o) = post("Movie",
          """{"query": ["spaceship"], "returnProperties": ["nonexistent"]}""")
        s"status=$st;has_text=${errMsg(o).contains("no such prop")}"
      }
      out += "16_absent_query_422" -> {
        val (st, o) = post("Movie", """{"limit": 1}""")
        s"status=$st;has_word=${errMsg(o).contains("query")};shaped=${(o \ "error") != JNothing}"
      }
      steps(s, out.result())
    },

    // testAliasesAPI (test/acceptance/aliases/aliases_api_test.go): the full
    // alias lifecycle journey over the suite's Books/Document/Passage beds
    // (book uuids verbatim) — create ×8 with the first-letter-uppercase
    // transform, case-insensitive get/replace/delete, the clashing-name
    // rejections with their exact texts, alias-resolved object reads and
    // GraphQL Get/Aggregate, tenant MUTATIONS failing via alias while reads
    // resolve, and schema update via alias failing.
    // alias lifecycle journey: counts, case-canonical lookups, the clash
    // texts verbatim, alias-resolved reads, alias-rejected mutations
    Gate("q_fixture_aliases",
      """SELECT * FROM (VALUES
        |  ('01_created', '8'),
        |  ('02_get', 'RestBookAlias>Books'),
        |  ('03_get_case', 'RestBookAlias'),
        |  ('04_get_missing', '0'),
        |  ('05_replace', 'Document'),
        |  ('06_replace_case', 'Passage'),
        |  ('07_replace_missing', 'replace alias: alias AliasThatDoesntExist does not exist'),
        |  ('08_replace_bad_target', 'replace alias: class ErrorCollection does not exist'),
        |  ('09_update_with_class_name', 'replace alias: alias Document does not exist'),
        |  ('10_delete', '7'),
        |  ('11_delete_case', '0'),
        |  ('12_delete_missing', 'alias RestAliasThatWillBeReplaced not found'),
        |  ('13_clash_class_name', 'create alias: class Books already exists'),
        |  ('14_clash_alias_name', 'create alias: RestBookAlias, alias already exists'),
        |  ('15_class_shadows_alias', 'alias name RestBookAlias already exists'),
        |  ('16_create_bad_target', 'create alias: NonExistingAlias, class not found, NonExistingCollection'),
        |  ('17_object_via_alias', 'n=1;title=Dune'),
        |  ('18_gql_get_via_alias', 'n=3;all_filled=true'),
        |  ('19_gql_neartext_via_alias', '3'),
        |  ('20_gql_aggregate_via_alias', '3'),
        |  ('21_tenant_create_via_alias', 'class MultiTenantAlias not found'),
        |  ('22_tenant_update_via_alias', 'class MultiTenantAlias not found'),
        |  ('23_tenant_delete_via_alias', 'class MultiTenantAlias not found'),
        |  ('24_tenant_read_via_alias', 'Tenant2'),
        |  ('25_schema_update_via_alias', 'property fields other than description cannot be updated through updating the class. Use the add property feature (e.g. "POST /v1/schema/{className}/properties") to add additional properties')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.model.{CollectionSchema, Property, PropType, Tenant}
      val gg = new Graft(s).withEmbedder(CitiesFixture.embedder)
      def unit(deg: Double): Seq[Float] = CitiesFixture.unitSeq(deg)
      val Dune = "67b79643-cf8b-4b22-b206-6e63dbb4e000"
      val Hail = "67b79643-cf8b-4b22-b206-6e63dbb4e001"
      val Ice = "67b79643-cf8b-4b22-b206-6e63dbb4e002"
      gg.register(CollectionSchema("Books", "uuid", Seq(
        Property("title", PropType.Text),
        Property("description", PropType.Text),
        Property("tags", PropType.Arr(PropType.Text))),
        vectors = Map("default" -> "vector"), defaultVector = Some("default")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row(Dune, "Dune",
            "Dune is a 1965 epic science fiction novel by American author Frank Herbert.",
            null, unit(0.0)),
          Row(Hail, "Project Hail Mary",
            "Project Hail Mary is a 2021 science fiction novel by American novelist Andy Weir.",
            null, unit(30.0)),
          Row(Ice, "The Lord of the Ice Garden",
            "The Lord of the Ice Garden (Polish: Pan Lodowego Ogrodu) is a four-volume science fiction and fantasy novel by Polish writer Jaroslaw Grzedowicz.",
            Seq("three", "three", "three"), unit(60.0))): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("title", StringType), StructField("description", StringType),
            StructField("tags", ArrayType(StringType)),
            StructField("vector", ArrayType(FloatType))))))
      val simpleType = StructType(Seq(StructField("uuid", StringType),
        StructField("text", StringType)))
      Seq("Document", "Passage").zipWithIndex.foreach { case (n, i) =>
        gg.register(CollectionSchema(n, "uuid", Seq(Property("text", PropType.Text))),
          s.createDataFrame(java.util.Arrays.asList(Seq(
            Row(f"88000000-0000-4000-8000-$i%012d", s"$n body")): _*), simpleType))
      }
      val out = Seq.newBuilder[(String, String)]
      Seq("RestBookAlias" -> "Books", "RestDocumentAlias" -> "Document",
        "RestPassageAlias" -> "Document", "RestPassageAlias1" -> "Passage",
        "RestPassageAlias2" -> "Passage", "RestPassageAlias3" -> "Passage",
        "RestAliasThatWillBeReplaced" -> "Passage",
        "restAliasThatCreated" -> "Passage") // case-transforms on create
        .foreach { case (a, c) => gg.createAlias(a, c) }
      def countRest(): Int =
        gg.listAliases(None).count(_._1.startsWith("Rest"))
      out += "01_created" -> countRest().toString
      out += "02_get" -> gg.listAliases(None).filter(_._1 == "RestBookAlias")
        .map { case (a, c) => s"$a>$c" }.mkString
      // case-insensitive GET: the handler canonicalizes the lookup name
      // (UppercaseClassName), the registry stores canonical names
      out += "03_get_case" -> gg.listAliases(None)
        .filter(_._1 == "restBookAlias".capitalize).map(_._1).mkString
      out += "04_get_missing" ->
        gg.listAliases(None).count(_._1 == "AliasThatDoesntExist").toString
      def target(a: String): String =
        gg.listAliases(None).collectFirst { case (`a`, c) => c }.getOrElse("∅")
      gg.updateAlias("RestAliasThatWillBeReplaced", "Document")
      out += "05_replace" -> target("RestAliasThatWillBeReplaced")
      gg.updateAlias("restAliasThatWillBeReplaced", "Passage") // lower first
      out += "06_replace_case" -> target("RestAliasThatWillBeReplaced")
      out += "07_replace_missing" -> okOr(gg.updateAlias("AliasThatDoesntExist", "Document"))
      out += "08_replace_bad_target" -> okOr(
        gg.updateAlias("RestAliasThatWillBeReplaced", "ErrorCollection"))
      out += "09_update_with_class_name" -> okOr(gg.updateAlias("Document", "Passage"))
      gg.deleteAlias("RestAliasThatWillBeReplaced")
      out += "10_delete" -> countRest().toString
      gg.deleteAlias("restAliasThatCreated") // lower first letter
      out += "11_delete_case" -> gg.listAliases(None)
        .count(_._1 == "RestAliasThatCreated").toString
      out += "12_delete_missing" -> okOr(gg.deleteAlias("RestAliasThatWillBeReplaced"))
      out += "13_clash_class_name" -> okOr(gg.createAlias("Books", "Passage"))
      out += "14_clash_alias_name" -> okOr(gg.createAlias("RestBookAlias", "Passage"))
      out += "15_class_shadows_alias" -> okOr(gg.register(
        CollectionSchema("RestBookAlias", "uuid", Seq(Property("title", PropType.Text))),
        s.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(Seq(StructField("uuid", StringType), StructField("title", StringType))))))
      out += "16_create_bad_target" -> okOr(
        gg.createAlias("NonExistingAlias", "NonExistingCollection"))
      out += "17_object_via_alias" -> {
        val byAlias = gg.get(GraphQL.get(gg,
          s"""{ Get { RestBookAlias(where: {path: ["id"] operator: Equal
             |  valueText: "$Dune"}) { title } } }""".stripMargin)).collect()
        s"n=${byAlias.length};title=${byAlias.head.getString(0)}"
      }
      out += "18_gql_get_via_alias" -> {
        val rows = gg.get(GraphQL.get(gg,
          """{ Get { RestBookAlias { title description _additional { id } } } }"""))
          .collect()
        s"n=${rows.length};all_filled=${rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))}"
      }
      out += "19_gql_neartext_via_alias" -> gg.get(GraphQL.get(gg,
        """{ Get { RestBookAlias(nearText: {concepts: "Dune"}) { title } } }"""))
        .count().toString
      out += "20_gql_aggregate_via_alias" -> gg.aggregate(GraphQL.aggregate(gg,
        """{ Aggregate { RestBookAlias { meta { count } } } }"""))
        .collect().head.getLong(0).toString
      // tenant ops via alias (reference: mutations fail, reads resolve)
      gg.register(CollectionSchema("MultiTenantClass", "uuid", Seq(
        Property("name", PropType.Text)), tenantColumn = Some("tenant")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("88000000-0000-4000-8000-0000000000ff", "x", "Tenant2")): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("name", StringType), StructField("tenant", StringType)))))
      gg.createAlias("MultiTenantAlias", "MultiTenantClass")
      out += "21_tenant_create_via_alias" -> okOr(
        gg.addTenants("MultiTenantAlias", Seq(Tenant("Tenant1"))))
      gg.addTenants("MultiTenantClass", Seq(Tenant("Tenant2")))
      out += "22_tenant_update_via_alias" -> okOr(
        gg.updateTenant("MultiTenantAlias", "Tenant2", graft.model.TenantStatus.Inactive))
      out += "23_tenant_delete_via_alias" -> okOr(
        gg.deleteTenants("MultiTenantAlias", Seq("Tenant2")))
      out += "24_tenant_read_via_alias" -> gg.tenants("MultiTenantAlias")
        .map(_.name).mkString(",")
      out += "25_schema_update_via_alias" -> okOr {
        graft.sources.SchemaWire.decodeClassUpdate(
          gg.collection("RestBookAlias").schema, "RestBookAlias",
          """{"class": "RestBookAlias", "properties": [
            |  {"name": "newProperty", "dataType": ["int"]}]}""".stripMargin)
      }
      steps(s, out.result())
    },

    // TestGRPC_ListValueReturn (test/acceptance/grpc/list_value_return_
    // test.go): every typed LIST kind over the FULL binary round-trip —
    // a binary BatchObjectsRequest carrying text/uuid/date arrays as
    // TextArrayProperties, f64LE number bytes, int/bool arrays and a nested
    // ObjectArrayProperties payload is decoded, stored, searched back with
    // a binary SearchRequest (ObjectPropertiesRequest selection), and the
    // binary SearchReply's RAW Value oneof kinds are verified byte-level:
    // uuid[]→uuid_values, date[]→date_values, int[]→int_values(i64LE),
    // number[]→number_values(f64LE), object[]→object_values.
    // typed gRPC list kinds: the raw Value oneof tags per property plus the
    // round-tripped values (the suite's GetTextValues/GetIntValues/...
    // accessors ARE these kind tags)
    Gate("q_fixture_grpc_lists",
      """SELECT * FROM (VALUES
        |  ('01_batch', 'errors=0;stored=1'),
        |  ('02_kinds', 'texts=list:text_values,ints=list:int_values,bools=list:bool_values,numbers=list:number_values,uuids=list:uuid_values,dates=list:date_values,objects=list:object_values'),
        |  ('03_texts', 'text1|text2'),
        |  ('04_ints', '1|2'),
        |  ('05_bools', 'true|false'),
        |  ('06_numbers', '1.1|2.2'),
        |  ('07_uuids', '99000000-0000-4000-8000-000000000001|99000000-0000-4000-8000-000000000002'),
        |  ('08_dates', '2020-01-01T00:00:00Z'),
        |  ('09_objects', 'text1|text2')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      import graft.engine.{ProtoWire, WireDecoder, WireEncoder}
      import graft.model.{CollectionSchema, Property, PropType}
      val uuid1 = "99000000-0000-4000-8000-000000000001"
      val uuid2 = "99000000-0000-4000-8000-000000000002"
      val objId = "99000000-0000-4000-8000-0000000000aa"
      val schema = CollectionSchema("ListValueReturn", "uuid", Seq(
        Property("texts", PropType.Arr(PropType.Text)),
        Property("ints", PropType.Arr(PropType.Int)),
        Property("bools", PropType.Arr(PropType.Bool)),
        Property("numbers", PropType.Arr(PropType.Number)),
        Property("uuids", PropType.Arr(PropType.Uuid)),
        Property("dates", PropType.Arr(PropType.Date)),
        Property("objects", PropType.Arr(PropType.Obj))))
      val frame = StructType(Seq(
        StructField("uuid", StringType),
        StructField("texts", ArrayType(StringType)),
        StructField("ints", ArrayType(LongType)),
        StructField("bools", ArrayType(BooleanType)),
        StructField("numbers", ArrayType(DoubleType)),
        StructField("uuids", ArrayType(StringType)),
        StructField("dates", ArrayType(TimestampType)),
        StructField("objects", ArrayType(StructType(Seq(
          StructField("texts", ArrayType(StringType))))))))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("lvr"), schema)
      st.init(s.createDataFrame(java.util.Collections.emptyList[Row](), frame))
      val numBytes = {
        val bb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Seq(1.1, 2.2).foreach(bb.putDouble)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
      def tap(name: String, vals: Seq[String]) = JObject(List(
        "prop_name" -> JString(name),
        "values" -> JArray(vals.toList.map(JString(_)))))
      val batchDoc = JObject(List("objects" -> JArray(List(JObject(List(
        "collection" -> JString("ListValueReturn"),
        "uuid" -> JString(objId),
        "properties" -> JObject(List(
          "text_array_properties" -> JArray(List(
            tap("texts", Seq("text1", "text2")),
            tap("uuids", Seq(uuid1, uuid2)),
            tap("dates", Seq("2020-01-01T00:00:00Z")))),
          "int_array_properties" -> JArray(List(JObject(List(
            "prop_name" -> JString("ints"),
            "values" -> JArray(List(JLong(1), JLong(2))))))),
          "boolean_array_properties" -> JArray(List(JObject(List(
            "prop_name" -> JString("bools"),
            "values" -> JArray(List(JBool(true), JBool(false))))))),
          "number_array_properties" -> JArray(List(JObject(List(
            "prop_name" -> JString("numbers"),
            "values_bytes" -> JString(numBytes))))),
          "object_array_properties" -> JArray(List(JObject(List(
            "prop_name" -> JString("objects"),
            "values" -> JArray(List(JObject(List(
              "text_array_properties" -> JArray(List(
                tap("texts", Seq("text1", "text2"))))))))))))))))))))
      val (objs, errs) = ProtoWire.batchObjectsRequest(
        ProtoWire.write(batchDoc, "BatchObjectsRequest"))
      st.upsert(WireDecoder.batchObjectsFrame(s, st.read().schema, "uuid",
        Map.empty, objs.map(_._2)))
      val gg = new Graft(s)
      gg.register(schema, st.read())
      val out = Seq.newBuilder[(String, String)]
      out += "01_batch" -> s"errors=${errs.size};stored=${st.read().count()}"
      val searchDoc = JObject(List(
        "collection" -> JString("ListValueReturn"),
        "properties" -> JObject(List(
          "non_ref_properties" -> JArray(List("texts", "ints", "bools",
            "numbers", "uuids", "dates").map(JString(_))),
          "object_properties" -> JArray(List(JObject(List(
            "prop_name" -> JString("objects"),
            "primitive_properties" -> JArray(List(JString("texts"))))))))),
        "uses_123_api" -> JBool(true), "uses_125_api" -> JBool(true)))
      val params = ProtoWire.searchRequest(gg,
        ProtoWire.write(searchDoc, "SearchRequest"))
      val replyJson = WireEncoder.searchReply(gg.get(params), params, took = 0.0)
      val hints = schema.properties.map(p => p.name -> p.dataType).toMap
      val replyBytes = ProtoWire.searchReplyBytes(replyJson, hints)
      val kinds = ProtoWire.propertyKinds(replyBytes)
      out += "02_kinds" -> Seq("texts", "ints", "bools", "numbers", "uuids",
        "dates", "objects").map(k => s"$k=${kinds.getOrElse(k, "?")}").mkString(",")
      // parse the bytes back and verify the VALUES round-trip
      val back = ProtoWire.read(replyBytes, "SearchReply")
      val props = (back \ "results") (0) \ "properties" \ "non_ref_properties"
      def arrOf(name: String): String = (props \ name) match {
        case JArray(xs) => xs.map(_.values).mkString("|")
        case o => o.toString
      }
      out += "03_texts" -> arrOf("texts")
      out += "04_ints" -> arrOf("ints")
      out += "05_bools" -> arrOf("bools")
      out += "06_numbers" -> arrOf("numbers")
      out += "07_uuids" -> arrOf("uuids")
      out += "08_dates" -> arrOf("dates")
      out += "09_objects" -> ((props \ "objects") (0) \ "texts" match {
        case JArray(xs) => xs.map(_.values).mkString("|")
        case o => o.toString
      })
      steps(s, out.result())
    },

    // TestGRPCTenantsGet (test/acceptance/grpc/tenants_test.go): the binary
    // TenantsGet round-trip — all tenants (HOT statuses), selection by
    // names IN ORDER, the set-but-empty names error, and the unknown-name
    // empty reply.
    // binary TenantsGet: all/by-names/empty-error/unknown-empty contracts
    Gate("q_fixture_grpc_tenants",
      """SELECT * FROM (VALUES
        |  ('01_all', 'Tenant1=TENANT_ACTIVITY_STATUS_HOT,Tenant2=TENANT_ACTIVITY_STATUS_HOT,Tenant3=TENANT_ACTIVITY_STATUS_HOT'),
        |  ('02_by_names', 'Tenant1=TENANT_ACTIVITY_STATUS_HOT,Tenant3=TENANT_ACTIVITY_STATUS_HOT'),
        |  ('03_names_empty_error', 'error: tenant names must not be empty when the names parameter is set'),
        |  ('04_unknown_empty', '')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import org.json4s._
      import graft.engine.ProtoWire
      import graft.model.{CollectionSchema, Property, PropType, Tenant}
      val gg = new Graft(s)
      gg.register(CollectionSchema("GRPCTenantsGet", "uuid", Seq(
        Property("name", PropType.Text)), tenantColumn = Some("tenant")),
        s.createDataFrame(java.util.Arrays.asList(Seq(
          Row("aa000000-0000-4000-8000-000000000001", "x", "Tenant1")): _*),
          StructType(Seq(StructField("uuid", StringType),
            StructField("name", StringType), StructField("tenant", StringType)))))
      gg.addTenants("GRPCTenantsGet",
        Seq(Tenant("Tenant1"), Tenant("Tenant2"), Tenant("Tenant3")))
      def req(names: Option[List[String]]): JValue = JObject(List(
        "collection" -> JString("GRPCTenantsGet")) ++
        names.map(ns => "names" -> JObject(
          if (ns.isEmpty) Nil else List("values" -> JArray(ns.map(JString(_)))))))
      def call(names: Option[List[String]]): String =
        try {
          val reply = ProtoWire.read(ProtoWire.tenantsGet(gg,
            ProtoWire.write(req(names), "TenantsGetRequest")), "TenantsGetReply")
          (reply \ "tenants") match {
            case JArray(ts) => ts.map(t =>
              s"${(t \ "name").values}=${(t \ "activity_status").values}").mkString(",")
            case _ => "" // empty reply
          }
        } catch { case e: Throwable => s"error: ${e.getMessage}" }
      val out = Seq.newBuilder[(String, String)]
      out += "01_all" -> call(None)
      out += "02_by_names" -> call(Some(List("Tenant1", "Tenant3")))
      out += "03_names_empty_error" -> call(Some(Nil))
      out += "04_unknown_empty" -> call(Some(List("NonExistentTenant")))
      steps(s, out.result())
    },

    // Test_UnindexedProperty (unindexed_property_test.go): a class created
    // THROUGH THE SCHEMA WIRE with indexFilterable/indexSearchable false on
    // one prop — filtering the indexed prop serves, filtering the hidden
    // prop is impossible (the reference's query errors)
    // unindexed-property journey: indexed filter serves, hidden prop errors
    Gate("q_fixture_unindexed",
      """SELECT * FROM (VALUES
        |  ('01_indexed_filter', 'elephant/zebra'),
        |  ('02_hidden_filter_rejected', 'Filtering by property ''hiddenName'' requires inverted index. Is `indexFilterable` option of property ''hiddenName'' enabled? Set it to `true` or leave empty')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import graft.sources.SchemaWire
      val gg = new Graft(s)
      val schema = SchemaWire.decodeClass(
        """{"class": "NoIndexTestClass", "properties": [
          |  {"name": "name", "dataType": ["text"], "tokenization": "whitespace",
          |   "indexFilterable": true, "indexSearchable": true},
          |  {"name": "hiddenName", "dataType": ["text"], "tokenization": "whitespace",
          |   "indexFilterable": false, "indexSearchable": false}]}""".stripMargin,
        idColumn = "uuid")
      gg.register(schema, s.createDataFrame(java.util.Arrays.asList(Seq(
        Row("f5ffb60f-4c13-4d07-a395-829b2396c7b9", "elephant", "zebra")): _*),
        StructType(Seq(StructField("uuid", StringType),
          StructField("name", StringType), StructField("hiddenName", StringType)))))
      def q(prop: String, v: String): String = okOr {
        gg.get(GraphQL.get(gg,
          s"""{ Get { NoIndexTestClass(where: {operator: Equal, valueText: "$v",
             |  path: ["$prop"]}) { name hiddenName } } }""".stripMargin))
          .collect().map(r => s"${r.getString(0)}/${r.getString(1)}").mkString(",")
      }
      def live(prop: String, v: String): String =
        gg.get(GraphQL.get(gg,
          s"""{ Get { NoIndexTestClass(where: {operator: Equal, valueText: "$v",
             |  path: ["$prop"]}) { name hiddenName } } }""".stripMargin))
          .collect().map(r => s"${r.getString(0)}/${r.getString(1)}").mkString(",")
      steps(s, Seq(
        "01_indexed_filter" -> live("name", "elephant"),
        "02_hidden_filter_rejected" -> q("hiddenName", "zebra")))
    },

    // the cursor api journey (local_get_cursor_test.go): full keyset walks
    // page by page plus every "cursor api: invalid 'after' parameter"
    // error text verbatim
    // cursor api: the walks' id pages + verbatim validation texts
    Gate("q_fixture_cursor",
      """SELECT * FROM (VALUES
        |  ('01_walk_from_start', '001,002,003,004,005,006,007'),
        |  ('02_walk_after_id4', '005,006,007'),
        |  ('03_offset', 'cursor api: invalid ''after'' parameter: offset cannot be set with after and limit parameters'),
        |  ('04_nearobject', 'cursor api: invalid ''after'' parameter: other params cannot be set with after and limit parameters'),
        |  ('05_nearvector', 'cursor api: invalid ''after'' parameter: other params cannot be set with after and limit parameters'),
        |  ('06_hybrid', 'cursor api: invalid ''after'' parameter: other params cannot be set with after and limit parameters'),
        |  ('07_bm25', 'cursor api: invalid ''after'' parameter: other params cannot be set with after and limit parameters'),
        |  ('08_sort', 'cursor api: invalid ''after'' parameter: sort cannot be set with after and limit parameters'),
        |  ('09_where', 'cursor api: invalid ''after'' parameter: where cannot be set with after and limit parameters'),
        |  ('10_multi', 'cursor api: invalid ''after'' parameter: other params cannot be set with after and limit parameters'),
        |  ('11_no_limit', 'cursor api: invalid ''after'' parameter: limit parameter must be set')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      def walk(afterStart: String, limit: scala.Int): String = {
        val ids = Seq.newBuilder[String]
        var after = afterStart
        var done = false
        while (!done) {
          val page = g.get(GraphQL.get(g,
            s"""{ Get { CursorClass(after: "$after", limit: $limit)
               |  { _additional { id } } } }""".stripMargin))
            .select(col("_id")).collect().map(_.getString(0))
          if (page.isEmpty) done = true
          else { ids ++= page; after = page.last }
        }
        ids.result().map(_.takeRight(3)).mkString(",")
      }
      def err(args: String): String = okOr(g.get(GraphQL.get(g,
        s"""{ Get { CursorClass($args) { name } } }""")))
      val id1 = "00000000-0000-0000-0000-000000000001"
      steps(s, Seq(
        "01_walk_from_start" -> walk("", 2),
        "02_walk_after_id4" -> walk("00000000-0000-0000-0000-000000000004", 1),
        "03_offset" -> err("""limit: 1 after: "" offset: 1"""),
        "04_nearobject" -> err(s"""limit: 1 after: "" nearObject: {id: "$id1"}"""),
        "05_nearvector" -> err("""limit: 1 after: "" nearVector: {vector: [0.1, 0.2]}"""),
        "06_hybrid" -> err("""limit: 1 after: "" hybrid: {query: "cursor api"}"""),
        "07_bm25" -> err("""limit: 1 after: "" bm25: {query: "cursor api"}"""),
        "08_sort" -> err("""limit: 1 after: "" sort: {path: "name"}"""),
        "09_where" -> err("""limit: 1 after: "" where: {path: "id" operator: Like valueText: "*"}"""),
        "10_multi" -> err("""limit: 1 after: "" bm25: {query: "cursor api"} hybrid: {query: "cursor api"} offset: 1"""),
        "11_no_limit" -> err("""after: "00000000-0000-0000-0000-000000000000"""")))
    },

    // the ArrayClass aggregate matrix (matrix_no_groupby_test.go:21-90 x
    // setup:626-790): array-prop count/min/max/mode/sum/median/mean,
    // boolean-array tallies and text-array topOccurrences across the four
    // data shapes (all / with-data / without-data / none), scoped by id-Like
    // wildcards and nearObject certainty bands
    // ArrayClass/DuplicatesClass matrix: the reference-asserted stat sets
    // (booleanArray/textArray/numberArray/intArray/dateArray expectations,
    // matrix_no_groupby_test.go:26-130), floats at the repo's round-4
    Gate("q_fixture_agg_arrays",
      """SELECT * FROM (VALUES
        |  ('a01_without', 'meta=7;bool=10/4/6/0.4/0.6;texts=10;top=Alpha=4,Bravo=3,Charlie=2,Delta=1;nums=10/4/1/1/20/2/2;ints=10/104/101/101/1020/102/102;dates=10'),
        |  ('a02_where_all', 'meta=7;bool=10/4/6/0.4/0.6;texts=10;top=Alpha=4,Bravo=3,Charlie=2,Delta=1;nums=10/4/1/1/20/2/2;ints=10/104/101/101/1020/102/102;dates=10'),
        |  ('a03_where_withdata', 'meta=2;bool=7/2/5/0.2857/0.7143;texts=7;top=Alpha=2,Bravo=2,Charlie=2,Delta=1;nums=7/4/1/1/16/2/2.2857;ints=7/104/101/101/716/102/102.2857;dates=7'),
        |  ('a04_where_withoutdata', 'meta=3;bool=0/∅/∅/∅/∅;texts=0;top=;nums=0/∅/∅/∅/∅/∅/∅;ints=0/∅/∅/∅/∅/∅/∅;dates=0'),
        |  ('a05_where_none', 'meta=0;bool=0/∅/∅/∅/∅;texts=0;top=;nums=0/∅/∅/∅/∅/∅/∅;ints=0/∅/∅/∅/∅/∅/∅;dates=0'),
        |  ('a06_near_all', 'meta=7;bool=10/4/6/0.4/0.6;texts=10;top=Alpha=4,Bravo=3,Charlie=2,Delta=1;nums=10/4/1/1/20/2/2;ints=10/104/101/101/1020/102/102;dates=10'),
        |  ('a07_near_withdata', 'meta=2;bool=7/2/5/0.2857/0.7143;texts=7;top=Alpha=2,Bravo=2,Charlie=2,Delta=1;nums=7/4/1/1/16/2/2.2857;ints=7/104/101/101/716/102/102.2857;dates=7'),
        |  ('a08_near_withoutdata', 'meta=3;bool=0/∅/∅/∅/∅;texts=0;top=;nums=0/∅/∅/∅/∅/∅/∅;ints=0/∅/∅/∅/∅/∅/∅;dates=0'),
        |  ('a09_where_near_all', 'meta=7;bool=10/4/6/0.4/0.6;texts=10;top=Alpha=4,Bravo=3,Charlie=2,Delta=1;nums=10/4/1/1/20/2/2;ints=10/104/101/101/1020/102/102;dates=10'),
        |  ('a10_where_near_withdata', 'meta=2;bool=7/2/5/0.2857/0.7143;texts=7;top=Alpha=2,Bravo=2,Charlie=2,Delta=1;nums=7/4/1/1/16/2/2.2857;ints=7/104/101/101/716/102/102.2857;dates=7'),
        |  ('a11_where_near_withoutdata', 'meta=3;bool=0/∅/∅/∅/∅;texts=0;top=;nums=0/∅/∅/∅/∅/∅/∅;ints=0/∅/∅/∅/∅/∅/∅;dates=0'),
        |  ('a12_where_near_none', 'meta=0;bool=0/∅/∅/∅/∅;texts=0;top=;nums=0/∅/∅/∅/∅/∅/∅;ints=0/∅/∅/∅/∅/∅/∅;dates=0'),
        |  ('d01_without', 'meta=3;bool=9/3/6/0.3333/0.6667;texts=9;top=Alpha=6,Bravo=3;nums=9/2/1/1/12/1/1.3333;ints=9/102/101/101/912/101/101.3333;dates=9'),
        |  ('d02_where_all', 'meta=3;bool=9/3/6/0.3333/0.6667;texts=9;top=Alpha=6,Bravo=3;nums=9/2/1/1/12/1/1.3333;ints=9/102/101/101/912/101/101.3333;dates=9'),
        |  ('d03_where_some', 'meta=1;bool=4/1/3/0.25/0.75;texts=4;top=Alpha=3,Bravo=1;nums=4/2/1/1/5/1/1.25;ints=4/102/101/101/405/101/101.25;dates=4'),
        |  ('d04_where_none', 'meta=0;bool=0/∅/∅/∅/∅;texts=0;top=;nums=0/∅/∅/∅/∅/∅/∅;ints=0/∅/∅/∅/∅/∅/∅;dates=0')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      def arm(cls: String, filters: String): String = {
        val row = g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { $cls($filters) {
             |  meta { count }
             |  booleans { count totalFalse totalTrue percentageFalse percentageTrue }
             |  texts { count topOccurrences { value occurs } }
             |  numbers { count maximum minimum mode sum median mean }
             |  ints { count maximum minimum mode sum median mean }
             |  dates { count }
             |} } }""".stripMargin))
          .selectExpr("meta_count",
            "booleans_count", "CAST(booleans_totalFalse AS DOUBLE)",
            "CAST(booleans_totalTrue AS DOUBLE)",
            "booleans_percentageFalse", "booleans_percentageTrue",
            "texts_count",
            "transform(texts_topOccurrences, t -> concat(t.value, '=', CAST(t.occurs AS STRING)))",
            "numbers_count", "numbers_maximum", "numbers_minimum",
            "CAST(numbers_mode AS DOUBLE)", "numbers_sum", "numbers_median", "numbers_mean",
            "ints_count", "CAST(ints_maximum AS DOUBLE)", "CAST(ints_minimum AS DOUBLE)",
            "CAST(ints_mode AS DOUBLE)", "CAST(ints_sum AS DOUBLE)",
            "ints_median", "ints_mean",
            "dates_count")
          .collect().head
        def f(i: scala.Int): String = fmt(row.get(i))
        val top = if (row.isNullAt(7)) ""
          else row.getSeq[String](7).mkString(",")
        s"meta=${f(0)};bool=${(1 to 5).map(f).mkString("/")};texts=${f(6)};top=$top;" +
          s"nums=${(8 to 14).map(f).mkString("/")};ints=${(15 to 21).map(f).mkString("/")};" +
          s"dates=${f(22)}"
      }
      val id1 = "cfa3b21e-ca5f-4db7-a412-5fc6a23c534a"
      val id5 = "cfa3b21e-ca5f-4db7-a412-5fc6a23c536a"
      val none = "cfa3b21e-ca5f-4db7-a412-ffffffffffff"
      def a(filters: String) = arm("ArrayClass", filters)
      steps(s, Seq(
        "a01_without" -> a(""),
        "a02_where_all" -> a("""where: {operator: Like path: ["id"] valueText: "*"}"""),
        "a03_where_withdata" -> a(
          s"""where: {operator: Like path: ["id"] valueText: "${id1.dropRight(1)}?"}"""),
        "a04_where_withoutdata" -> a(
          s"""where: {operator: Like path: ["id"] valueText: "${id5.dropRight(1)}?"}"""),
        "a05_where_none" -> a(s"""where: {operator: Like path: ["id"] valueText: "$none"}"""),
        "a06_near_all" -> a(s"""nearObject: {id: "$id1" certainty: 0.7}"""),
        "a07_near_withdata" -> a(s"""nearObject: {id: "$id1" certainty: 0.97}"""),
        "a08_near_withoutdata" -> a(s"""nearObject: {id: "$id5" certainty: 1}"""),
        "a09_where_near_all" -> a(
          s"""where: {operator: Like path: ["id"] valueText: "*"}
             |nearObject: {id: "$id1" certainty: 0.7}""".stripMargin),
        "a10_where_near_withdata" -> a(
          s"""where: {operator: Like path: ["id"] valueText: "${id1.dropRight(1)}?"}
             |nearObject: {id: "$id1" certainty: 0.97}""".stripMargin),
        "a11_where_near_withoutdata" -> a(
          s"""where: {operator: Like path: ["id"] valueText: "${id5.dropRight(1)}?"}
             |nearObject: {id: "$id5" certainty: 1}""".stripMargin),
        "a12_where_near_none" -> a(
          s"""where: {operator: Like path: ["id"] valueText: "$none"}
             |nearObject: {id: "$id1" certainty: 0.8}""".stripMargin),
        // DuplicatesClass (matrix_no_groupby_test.go:92-130): the
        // duplicate-heavy element multisets
        "d01_without" -> arm("DuplicatesClass", ""),
        "d02_where_all" -> arm("DuplicatesClass",
          """where: {operator: Like path: ["id"] valueText: "*"}"""),
        "d03_where_some" -> arm("DuplicatesClass",
          """where: {operator: Like path: ["id"] valueText: "a8076f34-ec16-4333-a963-00c89c5ba001"}"""),
        "d04_where_none" -> arm("DuplicatesClass",
          s"""where: {operator: Like path: ["id"] valueText: "$none"}""")))
    },

    // ClassWithoutProperties matrix (matrix_no_groupby_test.go:132-193):
    // meta-only aggregation over a property-less class
    // ClassWithoutProperties matrix: meta-only counts
    Gate("q_fixture_agg_noprops",
      """SELECT * FROM (VALUES
        |  ('n01_without', '2'),
        |  ('n02_where_all', '2'),
        |  ('n03_where_some', '1'),
        |  ('n04_where_none', '0'),
        |  ('n05_near_all', '2'),
        |  ('n06_where_near_all', '2'),
        |  ('n07_where_near_some', '1'),
        |  ('n08_where_near_none', '0')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      def arm(filters: String): String =
        g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { ClassWithoutProperties($filters) { meta { count } } } }"""))
          .collect().head.getLong(0).toString
      val id1 = "dfa3b21e-ca5f-4db7-a412-5fc6a23c5301"
      val none = "cfa3b21e-ca5f-4db7-a412-ffffffffffff"
      steps(s, Seq(
        "n01_without" -> arm(""),
        "n02_where_all" -> arm("""where: {operator: Like path: ["id"] valueText: "*"}"""),
        "n03_where_some" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "${id1.dropRight(1)}?"}"""),
        "n04_where_none" -> arm(s"""where: {operator: Like path: ["id"] valueText: "$none"}"""),
        "n05_near_all" -> arm(s"""nearObject: {id: "$id1" certainty: 0.1}"""),
        "n06_where_near_all" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "*"}
             |nearObject: {id: "$id1" certainty: 0.1}""".stripMargin),
        "n07_where_near_some" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "${id1.dropRight(1)}?"}
             |nearObject: {id: "$id1" certainty: 1}""".stripMargin),
        "n08_where_near_none" -> arm(
          s"""where: {operator: Like path: ["id"] valueText: "$none"}
             |nearObject: {id: "$id1" certainty: 0.1}""".stripMargin)))
    },

    // the Person-bed filter journeys (local_get_with_filter_test.go:258-436):
    // ref-count filters on livesIn (gh-1101) and FIELD-tokenization Equal on
    // scalar + array text props (gh-1821)
    // Person-bed filter journeys: reference-asserted member sets
    Gate("q_fixture_persons",
      """SELECT * FROM (VALUES
        |  ('01_refcount_eq0', 'Alice'),
        |  ('02_refcount_eq1', 'Bob'),
        |  ('03_refcount_gte2', 'John,Petra'),
        |  ('04_prof_partial', ''),
        |  ('05_prof_bob', 'Bob'),
        |  ('06_prof_john', 'John'),
        |  ('07_prof_petra', 'Petra'),
        |  ('08_about_partial', ''),
        |  ('09_about_john', 'John'),
        |  ('10_about_two', 'Bob,John'),
        |  ('11_about_petra', 'Petra')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      def names(where: String): String =
        g.get(GraphQL.get(g, s"{ Get { Person(where: $where) { name } } }"))
          .select(col("name")).collect().map(_.getString(0)).sorted.mkString(",")
      steps(s, Seq(
        "01_refcount_eq0" -> names("""{valueInt: 0 operator: Equal, path: ["livesIn"]}"""),
        "02_refcount_eq1" -> names("""{valueInt: 1 operator: Equal, path: ["livesIn"]}"""),
        "03_refcount_gte2" -> names("""{valueInt: 2 operator: GreaterThanEqual, path: ["livesIn"]}"""),
        "04_prof_partial" -> names("""{valueText: "Quality" operator: Equal, path: ["profession"]}"""),
        "05_prof_bob" -> names("""{valueText: "Mechanical Engineer" operator: Equal, path: ["profession"]}"""),
        "06_prof_john" -> names("""{valueText: "Senior Mechanical Engineer" operator: Equal, path: ["profession"]}"""),
        "07_prof_petra" -> names("""{valueText: "Quality Assurance Manager" operator: Equal, path: ["profession"]}"""),
        "08_about_partial" -> names("""{valueText: "swimming" operator: Equal, path: ["about"]}"""),
        "09_about_john" -> names("""{valueText: "hates swimming" operator: Equal, path: ["about"]}"""),
        "10_about_two" -> names("""{valueText: "loves travelling" operator: Equal, path: ["about"]}"""),
        "11_about_petra" -> names("""{valueText: "likes cooking for family" operator: Equal, path: ["about"]}""")))
    },

    // the legacy group{merge|closest} journeys over the Company bed
    // (local_get_with_grouping_test.go). Merged-name member ORDER follows
    // this engine's stable uuid page order — the reference itself documents
    // its member order as internal-docID-dependent (gh-1958 note in the
    // test), asserting set equality only.
    // legacy grouping over the Company bed; member order = the engine's
    // stable uuid page order (the reference documents its own order as
    // internal-docID-dependent, gh-1958 test note)
    Gate("q_fixture_group_legacy",
      """SELECT * FROM (VALUES
        |  ('01_control', 'Apple,Apple Inc.,Apple Incorporated,Google,Google Inc.,Google Incorporated,Microsoft,Microsoft Inc.,Microsoft Incorporated'),
        |  ('02_merge_force1_rows', '1'),
        |  ('03_merge_force1_name', 'Apple Inc. (Google Incorporated, Google Inc., Microsoft Incorporated, Apple, Apple Incorporated, Google, Microsoft Inc., Microsoft)'),
        |  ('04_merge_force1_cities', 'Amsterdam,Berlin,Dusseldorf'),
        |  ('05_merge_force0_rows', '9'),
        |  ('06_merge_force0_ms_cities', 'Microsoft Inc.=1,Microsoft Incorporated=2,Microsoft=1'),
        |  ('07_closest_force01_rows', '3'),
        |  ('08_closest_neartext_rows', '1'),
        |  ('09_merge_where_name', 'Apple Inc. (Google Incorporated, Google Inc., Microsoft Incorporated, Apple, Apple Incorporated, Google, Microsoft Inc., Microsoft)')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      import graft.operators.MergeGrouper
      def grouped(doc: String, force: Double, strategy: MergeGrouper.Strategy) = {
        val full = GraphQL.getFull(g, doc)
        val pool = g.get(full.params.copy(
          additional = full.params.additional + "vector",
          resolveRefs = Nil, properties = Seq("name", "inCity")))
        MergeGrouper.group(pool, "_vector", force, strategy)
      }
      val out = Seq.newBuilder[(String, String)]
      out += "01_control" -> cg(s).get(GraphQL.get(g, "{ Get { Company { name } } }"))
        .select(col("name")).collect().map(_.getString(0)).sorted.mkString(",")
      val merged = grouped(
        "{ Get { Company(group: {type: merge, force: 1.0}) { name inCity { ... on City {name} } } } }",
        1.0, MergeGrouper.Merge).collect()
      out += "02_merge_force1_rows" -> merged.length.toString
      out += "03_merge_force1_name" -> merged.head.getString(merged.head.fieldIndex("name"))
      out += "04_merge_force1_cities" -> {
        val cities = merged.head.getSeq[String](merged.head.fieldIndex("inCity"))
        cities.map(cid => CitiesFixture.cityName(cid)).sorted.mkString(",")
      }
      val unmerged = grouped(
        "{ Get { Company(group: {type: merge, force: 0.0}) { name inCity { ... on City {name} } } } }",
        0.0, MergeGrouper.Merge).collect()
      out += "05_merge_force0_rows" -> unmerged.length.toString
      out += "06_merge_force0_ms_cities" -> unmerged
        .filter(r => r.getString(r.fieldIndex("name")).startsWith("Microsoft"))
        .map(r => s"${r.getString(r.fieldIndex("name"))}=" +
          Option(r.getSeq[String](r.fieldIndex("inCity"))).map(_.size).getOrElse(0))
        .sorted.mkString(",")
      out += "07_closest_force01_rows" -> grouped(
        "{ Get { Company(group: {type: closest, force: 0.1}) { name } } }",
        0.1, MergeGrouper.Closest).count().toString
      // nearText Apple + closest force 1.0 → exactly one representative
      out += "08_closest_neartext_rows" -> {
        val full = GraphQL.getFull(g,
          """{ Get { Company(nearText: {concepts: "Apple"}, group: {type: closest, force: 1.0}) { name } } }""")
        val pool = g.get(full.params.copy(additional = full.params.additional + "vector"))
        MergeGrouper.group(pool, "_vector", 1.0, MergeGrouper.Closest).count().toString
      }
      // gh-1958: an all-matching where filter yields the SAME merged set
      out += "09_merge_where_name" -> {
        val full = GraphQL.getFull(g,
          """{ Get { Company(group: {type: merge force: 1.0}
            |  where: {path: ["id"] operator: Like valueText: "*"}) { name } } }""".stripMargin)
        val pool = g.get(full.params.copy(additional = full.params.additional + "vector"))
        val m = MergeGrouper.group(pool, "_vector", 1.0, MergeGrouper.Merge).collect()
        m.head.getString(m.head.fieldIndex("name"))
      }
      steps(s, out.result())
    },

    // modern groupBy: people by livesIn beacon (local_get_with_group_by_
    // test.go:25-120) — group order by search rank around the Bob anchor,
    // the empty-ref person in the nil ("") group, beacon-rendered values
    // people-by-city groupBy: the acceptance group order/beacons/hit sets
    Gate("q_fixture_group_by",
      """SELECT * FROM (VALUES
        |  ('01_group', 'weaviate://localhost/City/8f5f8e44-d348-459c-88b1-c1a44bb8f8be;count=3;hits=15d222c9-8c36-464b-bedb-113faa1c1e4c|3ef44474-b5e5-455d-91dc-d917b5b76165|8615585a-2960-482d-b19d-8bee98ade52c'),
        |  ('02_group', 'weaviate://localhost/City/9b9cbea5-e87e-4cd0-89af-e2f424fd52d6;count=2;hits=15d222c9-8c36-464b-bedb-113faa1c1e4c|3ef44474-b5e5-455d-91dc-d917b5b76165'),
        |  ('03_group', ';count=1;hits=5d0fa6ee-21c4-4b46-a735-f0208717837d'),
        |  ('04_group', 'weaviate://localhost/City/6ffb03f8-a853-4ec5-a5d8-302e45aaaf13;count=1;hits=15d222c9-8c36-464b-bedb-113faa1c1e4c')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      val g = cg(s)
      val page = g.get(GraphQL.get(g,
        s"""{ Get { Person(
           |    nearObject: {id: "${CitiesFixture.Bob}"}
           |    groupBy: {path: ["livesIn"] groups: 4 objectsPerGroup: 10})
           |  { _additional { id group { groupedBy { value } count hits { _additional { id } } } } } } }""".stripMargin))
      val rows = page.select(col("group_index").cast("long"),
        col("group_value"), col("_id")).collect()
      val byGroup = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      steps(s, byGroup.map { case (idx, hits) =>
        val beacon = Option(hits.head.getString(1))
          .map(v => s"weaviate://localhost/City/$v").getOrElse("")
        val ids = hits.map(_.getString(2)).sorted.mkString("|")
        s"0${idx}_group" -> s"$beacon;count=${hits.length};hits=$ids"
      })
    },

    // aggregatesOnDateFields (local_aggregate_test.go:1441-1627): the
    // HasDateField bed VERBATIM — ten RFC3339 NANOSECOND timestamps
    // (setup_test.go:921-944); min/max/median/mode must render the
    // reference's trim-trailing-zeros RFC3339Nano strings, incl. the
    // half-interval even-count median "…06.1449075Z". Dates aggregate as
    // ns integers like the reference (aggregator/date.go parses to int64
    // ns); the bed stores ns OFFSETS from a base instant so the even-count
    // median mean stays exactly representable through the double-typed
    // median, and the render adds the base back.
    // aggregatesOnDateFields: the reference's expected RFC3339Nano strings
    Gate("q_fixture_agg_dates",
      """SELECT * FROM (VALUES
        |  ('01_no_group', 'count=10;min=2022-06-16T22:18:59.640162Z;max=2022-06-16T22:19:11.837473Z;median=2022-06-16T22:19:06.1449075Z'),
        |  ('02_#1', 'count=1;min=2022-06-16T22:18:59.640162Z;max=2022-06-16T22:18:59.640162Z;median=2022-06-16T22:18:59.640162Z;mode=2022-06-16T22:18:59.640162Z'),
        |  ('02_#10', 'count=1;min=2022-06-16T22:19:11.837473Z;max=2022-06-16T22:19:11.837473Z;median=2022-06-16T22:19:11.837473Z;mode=2022-06-16T22:19:11.837473Z'),
        |  ('02_#2', 'count=1;min=2022-06-16T22:19:01.495967Z;max=2022-06-16T22:19:01.495967Z;median=2022-06-16T22:19:01.495967Z;mode=2022-06-16T22:19:01.495967Z'),
        |  ('02_#3', 'count=1;min=2022-06-16T22:19:03.495596Z;max=2022-06-16T22:19:03.495596Z;median=2022-06-16T22:19:03.495596Z;mode=2022-06-16T22:19:03.495596Z'),
        |  ('02_#4', 'count=1;min=2022-06-16T22:19:04.3828349Z;max=2022-06-16T22:19:04.3828349Z;median=2022-06-16T22:19:04.3828349Z;mode=2022-06-16T22:19:04.3828349Z'),
        |  ('02_#5', 'count=1;min=2022-06-16T22:19:05.894857Z;max=2022-06-16T22:19:05.894857Z;median=2022-06-16T22:19:05.894857Z;mode=2022-06-16T22:19:05.894857Z'),
        |  ('02_#6', 'count=1;min=2022-06-16T22:19:06.394958Z;max=2022-06-16T22:19:06.394958Z;median=2022-06-16T22:19:06.394958Z;mode=2022-06-16T22:19:06.394958Z'),
        |  ('02_#7', 'count=1;min=2022-06-16T22:19:07.589828Z;max=2022-06-16T22:19:07.589828Z;median=2022-06-16T22:19:07.589828Z;mode=2022-06-16T22:19:07.589828Z'),
        |  ('02_#8', 'count=1;min=2022-06-16T22:19:08.112395Z;max=2022-06-16T22:19:08.112395Z;median=2022-06-16T22:19:08.112395Z;mode=2022-06-16T22:19:08.112395Z'),
        |  ('02_#9', 'count=1;min=2022-06-16T22:19:10.339493Z;max=2022-06-16T22:19:10.339493Z;median=2022-06-16T22:19:10.339493Z;mode=2022-06-16T22:19:10.339493Z'),
        |  ('03_hello!', 'count=10;min=2022-06-16T22:18:59.640162Z;max=2022-06-16T22:19:11.837473Z;median=2022-06-16T22:19:06.1449075Z')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      import graft.model._
      val timestamps = Seq(
        "2022-06-16T22:18:59.640162Z", "2022-06-16T22:19:01.495967Z",
        "2022-06-16T22:19:03.495596Z", "2022-06-16T22:19:04.3828349Z",
        "2022-06-16T22:19:05.894857Z", "2022-06-16T22:19:06.394958Z",
        "2022-06-16T22:19:07.589828Z", "2022-06-16T22:19:08.112395Z",
        "2022-06-16T22:19:10.339493Z", "2022-06-16T22:19:11.837473Z")
      val base = java.time.Instant.parse("2022-06-16T22:18:00Z")
      val baseNs = base.getEpochSecond * 1000000000L
      def offsetNs(ts: String): Long = {
        val i = java.time.Instant.parse(ts)
        (i.getEpochSecond * 1000000000L + i.getNano) - baseNs
      }
      // Go time.RFC3339Nano: fraction with trailing zeros removed
      def render(offset: Double): String = {
        val ns = baseNs + math.round(offset)
        val i = java.time.Instant.ofEpochSecond(ns / 1000000000L, ns % 1000000000L)
        val whole = java.time.format.DateTimeFormatter.ISO_INSTANT
          .withZone(java.time.ZoneOffset.UTC)
          .format(i.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
          .stripSuffix("Z")
        val frac = (ns % 1000000000L).toString.reverse.padTo(9, '0').reverse
          .reverse.dropWhile(_ == '0').reverse
        if (frac.isEmpty) s"${whole}Z" else s"$whole.${frac}Z"
      }
      val gg = new Graft(s)
      val rows = timestamps.zipWithIndex.map { case (ts, i) =>
        Row((i + 1).toLong, s"#${i + 1}", "hello!", offsetNs(ts))
      }
      gg.register(graft.model.CollectionSchema("HasDateField", "id", Seq(
        Property("unique", PropType.Text, Tokenization.Field),
        Property("identical", PropType.Text, Tokenization.Field),
        Property("timestamp", PropType.Date))),
        s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
          StructField("id", LongType), StructField("unique", StringType),
          StructField("identical", StringType), StructField("timestamp", LongType)))))
      def stats(filters: String, withMode: Boolean): Seq[(String, Row)] = {
        val sel = if (withMode) "count minimum maximum median mode"
                  else "count minimum maximum median"
        val df = gg.aggregate(GraphQL.aggregate(gg,
          s"""{ Aggregate { HasDateField $filters { timestamp { $sel } } } }"""))
        val keyed = if (df.columns.contains("groupedBy_value"))
          df.select(col("groupedBy_value").cast("string") +:
            df.columns.filter(_ != "groupedBy_value").map(col): _*)
        else df.select(lit("") +: df.columns.map(col): _*)
        keyed.collect().toSeq.map(r => (r.getString(0), r))
      }
      def fmt(r: Row, grouped: Boolean, withMode: Boolean): String = {
        val off = if (grouped) 1 else 1 // stats start after the key column
        val metaOff = if (grouped) 1 else 0 // grouped rows carry meta_count first
        val c = r.getLong(off + metaOff)
        val minV = render(r.get(off + metaOff + 1).toString.toDouble)
        val maxV = render(r.get(off + metaOff + 2).toString.toDouble)
        val med = render(r.getDouble(off + metaOff + 3))
        val m = if (withMode) ";mode=" + render(r.get(off + metaOff + 4).toString.toDouble) else ""
        s"count=$c;min=$minV;max=$maxV;median=$med$m"
      }
      val out = Seq.newBuilder[(String, String)]
      stats("", withMode = false).foreach { case (_, r) =>
        out += "01_no_group" -> fmt(r, grouped = false, withMode = false)
      }
      stats("""(groupBy: "unique")""", withMode = true).foreach { case (k, r) =>
        out += s"02_$k" -> fmt(r, grouped = true, withMode = true)
      }
      stats("""(groupBy: "identical")""", withMode = false).foreach { case (k, r) =>
        out += s"03_$k" -> fmt(r, grouped = true, withMode = false)
      }
      steps(s, out.result())
    },

    // localMeta with where + nearText/nearObject radii
    // (local_aggregate_test.go:48-487, both distance and certainty forms)
    Gate("q_fixture_agg_near", values(Seq(
      "n01_neartext_ams_dist" -> ("meta=1;cap=1/0/1/0/1;" +
        "pop=1/1800000/1800000/1800000/1800000;top=Amsterdam=1;pointing=Country"),
      "n02_neartext_ams_cert" -> ("meta=1;cap=1/0/1/0/1;" +
        "pop=1/1800000/1800000/1800000/1800000;top=Amsterdam=1;pointing=Country"),
      "n03_nearobj_ber_dist" -> ("meta=1;cap=1/0/1/0/1;" +
        "pop=1/3470000/3470000/3470000/3470000;top=Berlin=1;pointing=Country"),
      "n04_nearobj_ber_cert" -> ("meta=1;cap=1/0/1/0/1;" +
        "pop=1/3470000/3470000/3470000/3470000;top=Berlin=1;pointing=Country")))) { (s, _) =>
      val g = cg(s)
      def arm(filters: String): String = {
        val row = g.aggregate(GraphQL.aggregate(g,
          s"""{ Aggregate { City(
             |  where: {valueBoolean: true, operator: Equal, path: ["isCapital"]}
             |  $filters) {
             |  meta { count }
             |  isCapital { count totalFalse totalTrue percentageFalse percentageTrue }
             |  population { count maximum minimum sum mean }
             |  name { topOccurrences(limit: 5) { value occurs } }
             |  inCountry { pointingTo }
             |} } }""".stripMargin))
          .selectExpr("meta_count",
            "isCapital_count", "CAST(isCapital_totalFalse AS DOUBLE)",
            "CAST(isCapital_totalTrue AS DOUBLE)",
            "isCapital_percentageFalse", "isCapital_percentageTrue",
            "population_count", "CAST(population_maximum AS DOUBLE)",
            "CAST(population_minimum AS DOUBLE)", "CAST(population_sum AS DOUBLE)",
            "population_mean",
            "transform(name_topOccurrences, t -> concat(t.value, '=', CAST(t.occurs AS STRING)))",
            "inCountry_pointingTo")
          .collect().head
        val tops = row.getSeq[String](11).sorted.mkString(",")
        s"meta=${fmt(row.get(0))};cap=${(1 to 5).map(i => fmt(row.get(i))).mkString("/")};" +
          s"pop=${(6 to 10).map(i => fmt(row.get(i))).mkString("/")};" +
          s"top=$tops;pointing=${fmt(row.get(12))}"
      }
      val berlin = CitiesFixture.Berlin
      steps(s, Seq(
        "n01_neartext_ams_dist" -> arm("""nearText: {concepts: ["Amsterdam"] distance: 0.2}"""),
        "n02_neartext_ams_cert" -> arm("""nearText: {concepts: ["Amsterdam"] certainty: 0.9}"""),
        "n03_nearobj_ber_dist" -> arm(s"""nearObject: {id: "$berlin" distance: 0.2}"""),
        "n04_nearobj_ber_cert" -> arm(s"""nearObject: {id: "$berlin" certainty: 0.9}""")))
    }
  )

  private def cgGeo(g: Graft, lat: String, lon: String, meters: Int): String =
    g.get(GraphQL.get(g,
      s"""{ Get { City(where:{operator: WithinGeoRange path: ["location"]
         |  valueGeoRange: { geoCoordinates: {latitude: $lat, longitude: $lon}
         |                   distance: { max: $meters } }}) { name location } } }""".stripMargin))
      .select(col("name"), col("location.lat"), col("location.lon")).collect()
      .map(r => s"${r.getString(0)}@${r.getFloat(1)},${r.getFloat(2)}").mkString(";")

  // ==========================================================================
  // oracles — VALUES tables of the reference-authored expected outputs
  // ==========================================================================

  private def values(rows: Seq[(String, String)]): String =
    rows.map { case (k, v) => s"  ('$k', '${v.replace("'", "''")}')" }
      .mkString("SELECT * FROM (VALUES\n", ",\n", "\n) AS t(step, result) ORDER BY step")

  // the reference's expected aggregate stat sets (matrix_no_groupby:200-248)
  private val AggAll =
    "meta=6;pop=5/3470000/0/600000/6470000/600000/1294000;" +
    "area=4/891.96/217.22/217.22/2320.48/605.65/580.12;" +
    "cap=5/3/2/0.6/0.4;name=5;museums=9;tz=8;history=4;rights=4;pointing=Country"
  private val AggWithData =
    "meta=2;pop=2/3470000/1800000/1800000/5270000/2635000/2635000;" +
    "area=2/891.96/891.95/891.95/1783.91/891.955/891.955;" +
    "cap=2/0/2/0/1;name=2;museums=3;tz=4;history=2;rights=2;pointing=Country"
  private val AggWithoutData =
    "meta=1;pop=0/∅/∅/∅/∅/∅/∅;area=0/∅/∅/∅/∅/∅/∅;" +
    "cap=0/∅/∅/∅/∅;name=0;museums=0;tz=0;history=0;rights=0;pointing=Country"
  private val AggNoResults =
    "meta=0;pop=0/∅/∅/∅/∅/∅/∅;area=0/∅/∅/∅/∅/∅/∅;" +
    "cap=0/∅/∅/∅/∅;name=0;museums=0;tz=0;history=0;rights=0;pointing=Country"

}
