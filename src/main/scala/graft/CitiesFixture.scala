package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Graft
import graft.model._
import graft.operators.Contextionary

/**
 * The reference's own acceptance bed, rebuilt object-for-object: the
 * Country / City / Airport sample schema with the exact UUIDs and property
 * values the reference's GraphQL acceptance suite loads
 * (test/helper/sample-schema/cities/cities.go:35-435 — 2 countries, 6
 * cities incl. "Missing Island" (sparse props) and the all-null city, 4
 * airports with phoneNumbers and uuid-typed airportIds).
 *
 * The q_fixture_* gates replay the suite's own GraphQL documents
 * (test/acceptance/graphql_resolvers/local_get_test.go, *_with_filter,
 * *_with_sort, *_with_geo_range_filter, local_aggregate_test.go,
 * local_aggregate_matrix_*) against this bed and hash-match the
 * reference-authored expected results.
 *
 * One documented divergence: the reference vectorizes city names through
 * text2vec-contextionary (a module this container cannot run); here every
 * object carries an explicit 2-d unit vector and nearText concepts resolve
 * through a fixed concept→vector table, ANGLED so every distance/certainty
 * threshold in the replayed documents selects exactly the set the reference
 * asserts (derivation below). The *sets and thresholds* are the reference's;
 * only the embedding space is a deterministic stand-in.
 *
 * Vector plan (unit vectors; in-plane points given as degrees on the unit
 * circle, cosine distance between in-plane points = 1 - cos Δ):
 *   cities:   Berlin 0, Amsterdam 42, Dusseldorf 55, Rotterdam 63,
 *             Missing Island 140 — all in-plane;
 *             null-island OUT of plane at (0.6·cos40°, 0.6·sin40°, 0.8),
 *             so its cosine to any in-plane point x° is 0.6·cos(x−40°):
 *             ≥ 0.4 to the "Berlin" concept (inside its 0.6 radius) while
 *             ≤ 0.6 to every city (outside every 0.2/0.38 band)
 *   concepts: "Berlin" 15, "Amsterdam" 50, "hi" 70
 * which yields exactly the acceptance sets and ranks:
 *   - nearText "Berlin" distance 0.6 / certainty 0.7 (Δ ≤ 66.4°):
 *     all but Missing Island, ranked Berlin(0.034) < Amsterdam(0.109) <
 *     Dusseldorf(0.234) < Rotterdam(0.331) < null(0.456) — the limit-2
 *     page is {Berlin, Amsterdam} and population ties break Dusseldorf
 *     before Rotterdam, as the acceptance sorts pin
 *     (local_get_with_sort_test.go:660-1134)
 *   - nearText "Amsterdam" distance 0.2 / certainty 0.9 (Δ ≤ 36.9°) +
 *     isCapital: Amsterdam only (local_aggregate_test.go:48-267)
 *   - nearText "Amsterdam" distance 0.6 + isCapital: {Amsterdam, Berlin}
 *     (local_get_with_sort_test.go:978-1134)
 *   - nearText "hi" distance 0.9 (Δ ≤ 84.3°): all six
 *     (local_get_with_filter_test.go:56-104)
 *   - nearObject Berlin distance 0.2 / certainty 0.9 (d ≤ 0.2): Berlin
 *     only (local_aggregate_test.go:269-487)
 *   - nearObject Berlin certainty 0.81 (d ≤ 0.38): {Berlin, Amsterdam}
 *     (local_aggregate_matrix_setup_test.go:966-976 "results with data")
 *   - nearObject Berlin certainty 0.1 (d ≤ 1.8): all six ("all results";
 *     Missing Island at Δ140° has d = 1.766)
 *   - nearObject null-island certainty 0.9: itself only — every city's
 *     cosine to it is ≤ 0.6 ("results without data")
 */
object CitiesFixture {

  // UUIDs verbatim (cities.go:35-47)
  val Netherlands   = "67b79643-cf8b-4b22-b206-6e63dbb4e57a"
  val Germany       = "561eea29-b733-4079-b50b-cfabd78190b7"
  val Amsterdam     = "8f5f8e44-d348-459c-88b1-c1a44bb8f8be"
  val Rotterdam     = "660db307-a163-41d2-8182-560782cd018f"
  val Berlin        = "9b9cbea5-e87e-4cd0-89af-e2f424fd52d6"
  val Dusseldorf    = "6ffb03f8-a853-4ec5-a5d8-302e45aaaf13"
  val MissingIsland = "823abeca-eef3-41c7-b587-7a6977b08003"
  val NullIsland    = "823abeca-eef3-41c7-b587-7a6977b08067"
  val Airport1      = "4770bb19-20fd-406e-ac64-9dac54c27a0f"
  val Airport2      = "cad6ab9b-5bb9-4388-a933-a5bdfd23db37"
  val Airport3      = "55a4dbbb-e2af-4b2a-901d-98146d1eeca7"
  val Airport4      = "62d15920-b546-4844-bc87-3ae33268fab5"

  // Person bed (setup_test.go:515-560) and Company bed (setup_test.go:464-503),
  // uuids verbatim — the ref-count / field-tokenization filter journeys and
  // the grouping suites run on these
  val Alice = "5d0fa6ee-21c4-4b46-a735-f0208717837d"
  val Bob   = "8615585a-2960-482d-b19d-8bee98ade52c"
  val John  = "3ef44474-b5e5-455d-91dc-d917b5b76165"
  val Petra = "15d222c9-8c36-464b-bedb-113faa1c1e4c"
  val Microsoft1 = "cfa3b21e-ca4f-4db7-a432-7fc6a23c534d"
  val Microsoft2 = "8f75ed97-39dd-4294-bff7-ecabd7923062"
  val Microsoft3 = "f343f51d-7e05-4084-bd66-d504db3b6bec"
  val Apple1     = "477fec91-1292-4928-8f53-f0ff49c76900"
  val Apple2     = "bb2cfdba-d4ba-4cf8-abda-e719ef35ac33"
  val Apple3     = "b71d2b4c-3da1-4684-9c5e-aabd2a4f2998"
  val Google1    = "8c2e21fc-46fe-4999-b41c-a800595129af"
  val Google2    = "62b969c6-f184-4be0-8c40-7470af417cfc"
  val Google3    = "c7829929-2037-4420-acbc-a433269feb93"

  // history texts verbatim (cities.go:50-53); long — stored once here and
  // reused by the oracle builders
  val HistoryAmsterdam: String = "Due to its geographical location in what used to be wet peatland, the founding of Amsterdam is of a younger age than the founding of other urban centers in the Low Countries. However, in and around the area of what later became Amsterdam, local farmers settled as early as three millennia ago. They lived along the prehistoric IJ river and upstream of its tributary Amstel. The prehistoric IJ was a shallow and quiet stream in peatland behind beach ridges. This secluded area could grow there into an important local settlement center, especially in the late Bronze Age, the Iron Age and the Roman Age. Neolithic and Roman artefacts have also been found downstream of this area, in the prehistoric Amstel bedding under Amsterdam's Damrak and Rokin, such as shards of Bell Beaker culture pottery (2200-2000 BC) and a granite grinding stone (2700-2750 BC).[27][28] But the location of these artefacts around the river banks of the Amstel probably point to a presence of a modest semi-permanent or seasonal settlement of the previous mentioned local farmers. A permanent settlement would not have been possible, since the river mouth and the banks of the Amstel in this period in time were too wet for permanent habitation"
  val HistoryRotterdam: String = "On 7 July 1340, Count Willem IV of Holland granted city rights to Rotterdam, whose population then was only a few thousand.[14] Around the year 1350, a shipping canal (the Rotterdamse Schie) was completed, which provided Rotterdam access to the larger towns in the north, allowing it to become a local trans-shipment centre between the Netherlands, England and Germany, and to urbanize"
  val HistoryBerlin: String = "The earliest evidence of settlements in the area of today's Berlin are remnants of a house foundation dated to 1174, found in excavations in Berlin Mitte,[27] and a wooden beam dated from approximately 1192.[28] The first written records of towns in the area of present-day Berlin date from the late 12th century. Spandau is first mentioned in 1197 and Köpenick in 1209, although these areas did not join Berlin until 1920.[29] The central part of Berlin can be traced back to two towns. Cölln on the Fischerinsel is first mentioned in a 1237 document, and Berlin, across the Spree in what is now called the Nikolaiviertel, is referenced in a document from 1244.[28] 1237 is considered the founding date of the city.[30] The two towns over time formed close economic and social ties, and profited from the staple right on the two important trade routes Via Imperii and from Bruges to Novgorod.[12] In 1307, they formed an alliance with a common external policy, their internal administrations still being separated"
  val HistoryDusseldorf: String = "The first written mention of Düsseldorf (then called Dusseldorp in the local Low Rhenish dialect) dates back to 1135. Under Emperor Friedrich Barbarossa the small town of Kaiserswerth to the north of Düsseldorf became a well-fortified outpost, where soldiers kept a watchful eye on every movement on the Rhine. Kaiserswerth eventually became a suburb of Düsseldorf in 1929. In 1186, Düsseldorf came under the rule of the Counts of Berg. 14 August 1288 is one of the most important dates in the history of Düsseldorf. On this day the sovereign Count Adolf VIII of Berg granted the village on the banks of the Düssel town privileges. Before this, a bloody struggle for power had taken place between the Archbishop of Cologne and the count of Berg, culminating in the Battle of Worringen"
  val Histories = Map(Amsterdam -> HistoryAmsterdam, Rotterdam -> HistoryRotterdam,
    Berlin -> HistoryBerlin, Dusseldorf -> HistoryDusseldorf)

  /** uuid → city name (oracle/presentation helper). */
  val CityNames: Map[String, String] = Map(
    Amsterdam -> "Amsterdam", Rotterdam -> "Rotterdam", Berlin -> "Berlin",
    Dusseldorf -> "Dusseldorf", MissingIsland -> "Missing Island")
  def cityName(uuid: String): String = CityNames.getOrElse(uuid, uuid)

  /** THE shared angular embedding plan for every acceptance bed: a 3-d
   * unit vector at `deg` in the xy-plane. All stand-in embedding spaces
   * (cities/companies, hybrid's appleVec, the diversity/boost suites'
   * angled anchors) derive from this one function so an anchor move shows
   * up in CitiesFixtureSpec's angle assertions instead of drifting
   * per-suite. */
  def unit(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f)
  }

  /** [[unit]] as a Seq — the shape createDataFrame rows carry. */
  def unitSeq(deg: Double): Seq[Float] = unit(deg).toSeq

  private val nullIslandVec: Array[Float] = {
    val r = math.toRadians(40.0)
    Array((0.6 * math.cos(r)).toFloat, (0.6 * math.sin(r)).toFloat, 0.8f)
  }

  private val cityAngle: Map[String, Double] = Map(
    Berlin -> 0.0, Amsterdam -> 42.0, Dusseldorf -> 55.0, Rotterdam -> 63.0,
    MissingIsland -> 140.0)

  private def cityVec(uuid: String): Array[Float] =
    if (uuid == NullIsland) nullIslandVec else unit(cityAngle(uuid))

  /** Concept → vector table (the stand-in vectorizer). Unknown concepts land
   * at the corpus center so radius-less nearText still ranks every object.
   * "Apple" sits just off the Apple-Inc. anchor (60°) so the hybrid
   * acceptance arms rank Apple Inc. > Apple Incorporated > Apple on the
   * vector leg — the contextionary's v("Apple") relation the replayed
   * local_get_hybrid_search_test.go top-2 assertions depend on. */
  val embedder: String => Array[Float] = {
    val concepts = Map(
      "Berlin" -> 15.0, "Amsterdam" -> 50.0, "hi" -> 70.0, "Apple" -> 60.4)
    t => unit(concepts.getOrElse(t, 70.0))
  }

  /** The bed's stand-in for the acceptance suite's `appleVec` (the
   * contextionary representation of "Apple Inc." —
   * local_get_hybrid_search_test.go:26): the Apple-Inc. object vector. */
  def appleVec: Array[Float] = unit(60.0)

  /** mustParseYear (cities.go:444-451): `<year>-01-01T00:00:00+02:00`. */
  def year(y: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.OffsetDateTime
      .parse(f"$y%04d-01-01T00:00:00+02:00").toInstant)

  /** Deterministic creation/update timestamps, epoch MILLISECONDS (the
   * reference's object-metadata unit): base + per-object offset. */
  val CreatedBase = 1700000000000L
  def createdMs(uuid: String): Long = CreatedBase + (uuid.hashCode & 0xffff)

  private val phoneType = StructType(Seq(
    StructField("input", StringType), StructField("internationalFormatted", StringType),
    StructField("countryCode", LongType), StructField("national", LongType),
    StructField("nationalFormatted", StringType), StructField("valid", BooleanType),
    StructField("defaultCountry", StringType)))

  private def phoneRow(input: String): Row = {
    val p = Phone.parse(input)
    Row(p.input, p.internationalFormatted, p.countryCode, p.national,
      p.nationalFormatted, p.valid, p.defaultCountry)
  }

  private val geoType = StructType(Seq(
    StructField("lat", FloatType), StructField("lon", FloatType)))

  // one Graft per session, all three classes registered
  def graft(spark: SparkSession): Graft = Fixtures.cached(spark, "cities")(build(spark))

  /** Stand-in contextionary vocabulary for `_additional { nearestNeighbors }`
   * (the acceptance arm asserts each hit gets ≥1 non-empty-concept
   * neighbors — validateNeighbors in local_get_with_additional_test.go).
   * Words sit at the same angles as the beds they describe. */
  val conceptVocab: Contextionary.Vocab = Seq(
    ("microsoft", unit(2.0)), ("apple", unit(62.0)), ("google", unit(122.0)),
    ("berlin", unit(15.0)), ("amsterdam", unit(50.0)), ("city", unit(40.0)),
    ("$internal", unit(0.0))) // '$'-marker: dropped from every surface

  private def build(spark: SparkSession): Graft = {
    import PropType._
    val g = new Graft(spark).withEmbedder(embedder).withConcepts(conceptVocab)

    // ----- Country ---------------------------------------------------------
    val countrySchema = StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("vector", ArrayType(FloatType)), StructField("created", LongType)))
    val countries = spark.createDataFrame(
      java.util.Arrays.asList(Seq(
        Row(Netherlands, "Netherlands", unit(30.0).toSeq, createdMs(Netherlands)),
        Row(Germany, "Germany", unit(35.0).toSeq, createdMs(Germany))): _*),
      countrySchema)
    g.register(CollectionSchema("Country", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace)),
      vectors = Map("default" -> "vector"), defaultVector = Some("default"),
      creationTimeColumn = Some("created"), updateTimeColumn = Some("created"),
      timestampUnit = "ms"), countries)

    // ----- City ------------------------------------------------------------
    val citySchema = StructType(Seq(
      StructField("uuid", StringType),
      StructField("name", StringType),
      StructField("population", LongType),
      StructField("location", geoType),
      StructField("isCapital", BooleanType),
      StructField("cityArea", DoubleType),
      StructField("cityRights", TimestampType),
      StructField("timezones", ArrayType(StringType)),
      StructField("museums", ArrayType(StringType)),
      StructField("history", StringType),
      StructField("phoneNumber", phoneType),
      StructField("inCountry", ArrayType(StringType)),
      StructField("vector", ArrayType(FloatType)),
      StructField("created", LongType)))
    def city(uuid: String, name: String, population: java.lang.Long,
             location: Row, isCapital: java.lang.Boolean,
             cityArea: java.lang.Double, cityRights: java.sql.Timestamp,
             timezones: Seq[String], museums: Seq[String], history: String,
             phone: Row, inCountry: Seq[String]): Row =
      Row(uuid, name, population, location, isCapital, cityArea, cityRights,
        timezones, museums, history, phone, inCountry,
        cityVec(uuid).toSeq, createdMs(uuid))
    // geo stored as float32 pairs — the reference's GeoCoordinates are
    // float32, and the acceptance suite asserts the float32-rounded render
    // ("51.225555", local_get_with_geo_range_filter_test.go:49)
    val cities = spark.createDataFrame(java.util.Arrays.asList(Seq(
      city(Amsterdam, "Amsterdam", 1800000L, Row(52.366667f, 4.9f), true,
        891.95, year(1400), Seq("CET", "CEST"),
        Seq("Stedelijk Museum", "Rijksmuseum"), HistoryAmsterdam,
        phoneRow("+311000004"), Seq(Netherlands)),
      city(Rotterdam, "Rotterdam", 600000L, null, false,
        319.35, year(1283), Seq("CET", "CEST"),
        Seq("Museum Boijmans Van Beuningen", "Wereldmuseum",
          "Witte de With Center for Contemporary Art"), HistoryRotterdam,
        phoneRow("+311000000"), Seq(Netherlands)),
      city(Berlin, "Berlin", 3470000L, null, true,
        891.96, year(1400), Seq("CET", "CEST"),
        Seq("German Historical Museum"), HistoryBerlin,
        phoneRow("+311000002"), Seq(Germany)),
      city(Dusseldorf, "Dusseldorf", 600000L, Row(51.225556f, 6.782778f), false,
        217.22, year(1135), Seq("CET", "CEST"),
        Seq("Schlossturm", "Schiffahrt Museum", "Onomato"), HistoryDusseldorf,
        phoneRow("+311000001"), Seq(Germany)),
      city(MissingIsland, "Missing Island", 0L, Row(0.0f, 0.0f), false,
        null, null, null, null, null, null, null),
      city(NullIsland, null, null, null, null,
        null, null, null, null, null, null, null)): _*), citySchema)
    g.register(CollectionSchema("City", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace),
      Property("inCountry", Ref, refTarget = Some("Country")),
      Property("population", Int),
      Property("location", Geo),
      Property("isCapital", Bool),
      Property("cityArea", Number),
      Property("cityRights", Date),
      Property("timezones", Arr(Text), Tokenization.Whitespace),
      Property("museums", Arr(Text)),
      Property("history", Text),
      Property("phoneNumber", Phone)),
      vectors = Map("default" -> "vector"), defaultVector = Some("default"),
      creationTimeColumn = Some("created"), updateTimeColumn = Some("created"),
      timestampUnit = "ms",
      // cities.go:87 — IndexNullState, IndexPropertyLength, IndexTimestamps
      invertedIndex = InvertedIndexConfig(
        indexTimestamps = true, indexNullState = true,
        indexPropertyLength = true)), cities)

    // ----- Airport ---------------------------------------------------------
    val airportSchema = StructType(Seq(
      StructField("uuid", StringType), StructField("code", StringType),
      StructField("phone", phoneType), StructField("airportId", StringType),
      StructField("inCity", ArrayType(StringType)),
      StructField("vector", ArrayType(FloatType)), StructField("created", LongType)))
    def airport(uuid: String, code: String, phone: Row, airportId: String,
                city: String, deg: Double): Row =
      Row(uuid, code, phone, airportId, Seq(city), unit(deg).toSeq, createdMs(uuid))
    val airports = spark.createDataFrame(java.util.Arrays.asList(Seq(
      airport(Airport1, "10000", phoneRow("+311234567"),
        "00000000-0000-0000-0000-000000010000", Amsterdam, 40.0),
      airport(Airport2, "20000", null,
        "00000000-0000-0000-0000-000000020000", Rotterdam, 50.0),
      airport(Airport3, "30000", null,
        "00000000-0000-0000-0000-000000030000", Dusseldorf, 60.0),
      airport(Airport4, "40000", null,
        "00000000-0000-0000-0000-000000040000", Berlin, 10.0)): _*), airportSchema)
    g.register(CollectionSchema("Airport", "uuid", Seq(
      Property("code", Text, Tokenization.Whitespace),
      Property("phone", Phone),
      Property("inCity", Ref, refTarget = Some("City")),
      Property("airportId", Uuid)),
      vectors = Map("default" -> "vector"), defaultVector = Some("default"),
      creationTimeColumn = Some("created"), updateTimeColumn = Some("created"),
      timestampUnit = "ms",
      // cities.go:201-207 — stopword preset en, IndexTimestamps
      invertedIndex = InvertedIndexConfig(indexTimestamps = true)), airports)

    // ----- Person ----------------------------------------------------------
    // vector ranks around the Bob anchor drive the people-by-city groupBy
    // order (John < Alice < Petra in distance to Bob — the acceptance group
    // order [Amsterdam, Berlin, "", Dusseldorf] needs exactly that)
    val personSchema = StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("profession", StringType),
      StructField("about", ArrayType(StringType)),
      StructField("livesIn", ArrayType(StringType)),
      StructField("vector", ArrayType(FloatType))))
    val persons = spark.createDataFrame(java.util.Arrays.asList(Seq(
      Row(Alice, "Alice", "Quality Control Analyst",
        Seq("loves travelling very much"), Seq.empty[String], unit(37.0).toSeq),
      Row(Bob, "Bob", "Mechanical Engineer",
        Seq("loves travelling", "hates cooking"), Seq(Amsterdam), unit(0.0).toSeq),
      Row(John, "John", "Senior Mechanical Engineer",
        Seq("hates swimming", "likes cooking", "loves travelling"),
        Seq(Amsterdam, Berlin), unit(26.0).toSeq),
      Row(Petra, "Petra", "Quality Assurance Manager",
        Seq("likes swimming", "likes cooking for family"),
        Seq(Amsterdam, Berlin, Dusseldorf), unit(46.0).toSeq)): _*), personSchema)
    g.register(CollectionSchema("Person", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace),
      Property("profession", Text, Tokenization.Field),
      Property("about", Arr(Text), Tokenization.Field),
      Property("livesIn", Ref, refTarget = Some("City"))),
      vectors = Map("default" -> "vector"), defaultVector = Some("default")), persons)

    // ----- Company ---------------------------------------------------------
    // three name-brand vector clusters (the contextionary groups
    // Microsoft*/Apple*/Google* names tightly) so legacy group{merge|closest}
    // force thresholds behave like the acceptance run
    val companySchema = StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("inCity", ArrayType(StringType)),
      StructField("vector", ArrayType(FloatType))))
    def company(uuid: String, name: String, cities: Seq[String], deg: Double): Row =
      Row(uuid, name, cities, unit(deg).toSeq)
    val companies = spark.createDataFrame(java.util.Arrays.asList(Seq(
      company(Microsoft1, "Microsoft Inc.", Seq(Dusseldorf), 0.0),
      company(Microsoft2, "Microsoft Incorporated", Seq(Dusseldorf, Amsterdam), 2.0),
      company(Microsoft3, "Microsoft", Seq(Berlin), 4.0),
      company(Apple1, "Apple Inc.", Nil, 60.0),
      company(Apple2, "Apple Incorporated", Nil, 62.0),
      company(Apple3, "Apple", Nil, 64.0),
      company(Google1, "Google Inc.", Nil, 120.0),
      company(Google2, "Google Incorporated", Nil, 122.0),
      company(Google3, "Google", Nil, 124.0)): _*), companySchema)
    g.register(CollectionSchema("Company", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace),
      Property("inCity", Ref, refTarget = Some("City"))),
      vectors = Map("default" -> "vector"), defaultVector = Some("default"),
      // setup_test.go:222-231 — moduleConfig vectorizeClassName: false (the
      // interpretation arm's expected concepts carry no "company" token)
      vectorizeClassName = false), companies)

    // ----- ArrayClass / DuplicatesClass / ClassWithoutProperties ------------
    // the aggregate-matrix beds (local_aggregate_matrix_setup_test.go:24-330,
    // 484-530) — array-prop aggregation across data/no-data/empty shapes.
    // Vector plan: 4el 0°, 3el 10° (inside the anchor's 0.97-certainty band,
    // Δ ≤ 19.9°), 2el 25°, 1el 30° (outside it), and the three no-data
    // objects at an IDENTICAL 40° (the certainty-1 "results without data"
    // probe from the 0el anchor matches exactly the shared vector)
    def nsOf(ts: String): Long = {
      val i = java.time.Instant.parse(ts)
      i.getEpochSecond * 1000000000L + i.getNano
    }
    val arraySchema = StructType(Seq(
      StructField("uuid", StringType),
      StructField("texts", ArrayType(StringType)),
      StructField("numbers", ArrayType(DoubleType)),
      StructField("ints", ArrayType(LongType)),
      StructField("booleans", ArrayType(BooleanType)),
      StructField("dates", ArrayType(LongType)),
      StructField("vector", ArrayType(FloatType))))
    def dateEls(n: Int): Seq[Long] = Seq(
      "2021-06-01T22:18:59.640162Z", "2022-06-02T22:18:59.640162Z",
      "2023-06-03T22:18:59.640162Z", "2024-06-04T22:18:59.640162Z")
      .take(n).map(nsOf)
    def arrRow(uuid: String, n: Int, deg: Double): Row = Row(uuid,
      Seq("Alpha", "Bravo", "Charlie", "Delta").take(n),
      (1 to n).map(_.toDouble), (1 to n).map(i => 100L + i),
      Seq(true, true, true, false).takeRight(n), dateEls(n),
      unit(deg).toSeq)
    val arrayRows = Seq(
      arrRow("cfa3b21e-ca5f-4db7-a412-5fc6a23c534a", 4, 0.0),
      arrRow("cfa3b21e-ca5f-4db7-a412-5fc6a23c534b", 3, 10.0),
      arrRow("cfa3b21e-ca5f-4db7-a412-5fc6a23c535a", 2, 25.0),
      arrRow("cfa3b21e-ca5f-4db7-a412-5fc6a23c535b", 1, 30.0),
      Row("cfa3b21e-ca5f-4db7-a412-5fc6a23c536a", Seq.empty[String],
        Seq.empty[Double], Seq.empty[Long], Seq.empty[Boolean], Seq.empty[Long],
        unit(40.0).toSeq),
      Row("cfa3b21e-ca5f-4db7-a412-5fc6a23c536b", null, null, null, null, null,
        unit(40.0).toSeq),
      Row("cfa3b21e-ca5f-4db7-a412-5fc6a23c536c", null, null, null, null, null,
        unit(40.0).toSeq))
    def arrayProps: Seq[Property] = Seq(
      Property("texts", Arr(Text), Tokenization.Whitespace),
      Property("numbers", Arr(Number)),
      Property("ints", Arr(Int)),
      Property("booleans", Arr(Bool)),
      Property("dates", Arr(Date)))
    g.register(CollectionSchema("ArrayClass", "uuid", arrayProps,
      vectors = Map("default" -> "vector"), defaultVector = Some("default")),
      spark.createDataFrame(java.util.Arrays.asList(arrayRows: _*), arraySchema))

    def dupRow(uuid: String, n: Int, deg: Double): Row = {
      // n+1 elements: n-1 copies of the first value + one second value
      Row(uuid,
        Seq.fill(n)("Alpha") :+ "Bravo",
        Seq.fill(n)(1.0) :+ 2.0, Seq.fill(n)(101L) :+ 102L,
        Seq.fill(n)(true) :+ false,
        (Seq.fill(n)(nsOf("2021-06-01T22:18:59.640162Z")) :+
          nsOf("2022-06-02T22:18:59.640162Z")),
        unit(deg).toSeq)
    }
    val dupRows = Seq(
      dupRow("a8076f34-ec16-4333-a963-00c89c5ba001", 3, 80.0),
      dupRow("a8076f34-ec16-4333-a963-00c89c5ba002", 2, 82.0),
      dupRow("a8076f34-ec16-4333-a963-00c89c5ba003", 1, 84.0))
    g.register(CollectionSchema("DuplicatesClass", "uuid", arrayProps,
      vectors = Map("default" -> "vector"), defaultVector = Some("default")),
      spark.createDataFrame(java.util.Arrays.asList(dupRows: _*), arraySchema))

    // ----- CompanyGroup (setup_test.go:577-630) ------------------------------
    // the TestGroupBy bed: word-tokenized names, a field-tokenized city key
    val cgRows = Seq(
      ("1fa3b21e-ca4f-4db7-a432-7fc6a23c534d", "Microsoft Inc.", "dusseldorf"),
      ("1f75ed97-39dd-4294-bff7-ecabd7923062", "Microsoft Incorporated", "amsterdam"),
      ("1343f51d-7e05-4084-bd66-d504db3b6bec", "Microsoft", "berlin"),
      ("177fec91-1292-4928-8f53-f0ff49c76900", "Apple Inc.", "berlin"),
      ("1b2cfdba-d4ba-4cf8-abda-e719ef35ac33", "Apple Incorporated", "dusseldorf"),
      ("171d2b4c-3da1-4684-9c5e-aabd2a4f2998", "Apple", "amsterdam"),
      ("1c2e21fc-46fe-4999-b41c-a800595129af", "Google Inc.", "amsterdam"),
      ("12b969c6-f184-4be0-8c40-7470af417cfc", "Google Incorporated", "berlin"),
      ("17829929-2037-4420-acbc-a433269feb93", "Google", "dusseldorf"))
      .map { case (id, n, c) => Row(id, n, c) }
    g.register(CollectionSchema("CompanyGroup", "uuid", Seq(
      Property("name", Text, Tokenization.Word),
      Property("city", Text, Tokenization.Field))),
      spark.createDataFrame(java.util.Arrays.asList(cgRows: _*),
        StructType(Seq(StructField("uuid", StringType),
          StructField("name", StringType), StructField("city", StringType)))))

    // ----- NearObjectSearch + shadow (setup_test.go addTestDataNearObjectSearch)
    // the SAME uuids in two classes; shadow vectors sit 10 deg from their
    // counterparts (inside the 0.98-certainty band, d <= 0.04) while
    // same-class neighbours sit 30 deg apart (outside it) — the shadow
    // suite's pins: Get/Aggregate nearObject anchor from the QUERIED class
    // returns only itself; Explore returns both shadows of the anchor id
    val shadowIds = (1 to 5).map(i => f"aa44bbee-ca5f-4db7-a412-5fc6a23${i}%05d")
    val shadowNames = Seq("Mount Everest", "Amsterdam is a cool city",
      "Football is a game where people run after ball",
      "Berlin is Germany's capital city", "London is a cool city")
    val sameId = "aa44bbee-ca5f-4db7-a412-5fc6a2300011"
    val nosSchema = StructType(Seq(
      StructField("uuid", StringType), StructField("name", StringType),
      StructField("vector", ArrayType(FloatType))))
    def nosRows(shadow: Boolean): Seq[Row] =
      shadowIds.zipWithIndex.map { case (id, i) =>
        Row(id,
          if (shadow) s"altered contents of: ${shadowNames(i)}" else shadowNames(i),
          unit(i * 30.0 + (if (shadow) 10.0 else 0.0)).toSeq)
      } :+ Row(sameId, "the same content goes here just for explore tests",
        unit(150.0).toSeq)
    g.register(CollectionSchema("NearObjectSearch", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace)),
      vectors = Map("default" -> "vector"), defaultVector = Some("default")),
      spark.createDataFrame(java.util.Arrays.asList(nosRows(false): _*), nosSchema))
    g.register(CollectionSchema("NearObjectSearchShadow", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace)),
      vectors = Map("default" -> "vector"), defaultVector = Some("default")),
      spark.createDataFrame(java.util.Arrays.asList(nosRows(true): _*), nosSchema))

    // ----- CursorClass (setup_test.go:870-919) ------------------------------
    val cursorNames = Seq(
      "Mount Everest", "Amsterdam is a cool city",
      "Football is a game where people run after ball",
      "Berlin is Germany's capital city", "London is a cool city",
      "Wroclaw is a really cool city", "Brisbane is a city in Australia")
    val cursorRows = cursorNames.zipWithIndex.map { case (n, i) =>
      Row(f"00000000-0000-0000-0000-${i + 1}%012d", n)
    }
    g.register(CollectionSchema("CursorClass", "uuid", Seq(
      Property("name", Text, Tokenization.Whitespace))),
      spark.createDataFrame(java.util.Arrays.asList(cursorRows: _*),
        StructType(Seq(StructField("uuid", StringType), StructField("name", StringType)))))

    val noPropsSchema = StructType(Seq(
      StructField("uuid", StringType), StructField("vector", ArrayType(FloatType))))
    g.register(CollectionSchema("ClassWithoutProperties", "uuid", Nil,
      vectors = Map("default" -> "vector"), defaultVector = Some("default")),
      spark.createDataFrame(java.util.Arrays.asList(Seq(
        Row("dfa3b21e-ca5f-4db7-a412-5fc6a23c5301", unit(100.0).toSeq),
        Row("dfa3b21e-ca5f-4db7-a412-5fc6a23c5311", unit(103.0).toSeq)): _*),
        noPropsSchema))

    g
  }
}
