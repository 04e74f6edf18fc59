package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model._
import graft.sources.{AutoSchema, CollectionStore, PhoneNumbers}
import graft.streaming.Ingest

class StoreAndStreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshStore(): CollectionStore = {
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("Item", "id", Seq(
      Property("name", PropType.Text, Tokenization.Field),
      Property("qty", PropType.Int),
      Property("ts", PropType.Date)))
    new CollectionStore(spark, dir, schema)
  }

  test("upsert: insert new + overwrite existing by id") {
    val st = freshStore()
    st.init(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "qty"))
    st.upsert(Seq((2L, "b2", 21L), (3L, "c", 30L)).toDF("id", "name", "qty"))
    val out = st.read().orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
    assert(st.version == 1)
  }

  test("merge patches only provided columns") {
    val st = freshStore()
    st.init(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "qty"))
    st.merge(Seq((1L, 99L)).toDF("id", "qty"))
    val out = st.read().orderBy($"id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "a", 99L), (2L, "b", 20L)))
  }

  test("merge collapses duplicate patch ids (primary-key invariant holds)") {
    val st = freshStore()
    st.init(Seq((1L, "a", 10L)).toDF("id", "name", "qty"))
    st.merge(Seq((1L, 98L), (1L, 99L)).toDF("id", "qty"))
    val out = st.read().collect()
    assert(out.length == 1, s"duplicate primary keys: ${out.toSeq}")
  }

  test("TTL expiry keeps rows with a null timestamp (never silently deleted)") {
    val st = freshStore()
    val now = java.time.Instant.parse("2024-06-01T00:00:00Z")
    val old = java.sql.Timestamp.from(now.minusSeconds(7200))
    st.init(Seq((1L, Some(old)), (2L, None)).toDF("id", "ts"))
    val n = st.expireTtl("ts", ttlSeconds = 3600, nowEpochSeconds = now.getEpochSecond)
    assert(n == 1)
    assert(st.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("addProperty honors the READONLY gate") {
    val st = freshStore()
    st.init(Seq((1L, "a", 10L)).toDF("id", "name", "qty"))
    st.setReadOnly(Some("maintenance"))
    val e = intercept[IllegalStateException] {
      st.addProperty(Property("extra", PropType.Int))
    }
    assert(e.getMessage.contains("read-only"))
    assert(st.version == 0)
  }

  test("write-path vectorizer: PUT fills missing vectors, explicit vector wins, PATCH re-vectorizes") {
    val embed: String => Array[Float] = s => Array(s.length.toFloat, 1f)
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("V", "id", Seq(
      Property("name", PropType.Text, Tokenization.Field)),
      vectors = Map("default" -> "vec"), defaultVector = Some("default"))
    val st = new CollectionStore(spark, dir, schema).withVectorizer("name", "vec", embed)

    // init without a vector column → module computes it
    st.init(Seq((1L, "abc"), (2L, "de")).toDF("id", "name"))
    val v0 = st.read().orderBy($"id").collect().map(_.getSeq[Float](2).toSeq)
    assert(v0.toSeq === Seq(Seq(3f, 1f), Seq(2f, 1f)))

    // upsert: explicit vector wins (weaviate skips the module then);
    // null vector → module fills
    st.upsert(Seq((3L, "wxyz", Some(Seq(9f, 9f))), (4L, "hello", None))
      .toDF("id", "name", "vec"))
    val v1 = st.read().filter($"id" >= 3L).orderBy($"id").collect()
      .map(_.getSeq[Float](2).toSeq)
    assert(v1.toSeq === Seq(Seq(9f, 9f), Seq(5f, 1f)))

    // PATCH that changes the vectorized text recomputes the stale vector,
    // only for the patched rows
    st.merge(Seq((1L, "abcdef")).toDF("id", "name"))
    val v2 = st.read().orderBy($"id").collect().map(_.getSeq[Float](2).toSeq)
    assert(v2.head === Seq(6f, 1f))   // re-vectorized
    assert(v2(1) === Seq(2f, 1f))     // untouched row keeps its vector

    // PATCH carrying BOTH columns decides per-row: a row with text but a null
    // vector re-vectorizes; a row that brought its own vector keeps it
    st.merge(Seq(
      (2L, "defghi", Option.empty[Seq[Float]]),   // text-only → re-vectorize
      (4L, "zz", Some(Seq(7f, 7f)))               // explicit vector wins
    ).toDF("id", "name", "vec"))
    val v3 = st.read().orderBy($"id").collect().map(_.getSeq[Float](2).toSeq)
    assert(v3(1) === Seq(6f, 1f), "text-changed row must re-vectorize")
    assert(v3(3) === Seq(7f, 7f), "explicit patch vector must win")
  }

  test("write-path vectorizer null-guards the module client (null text → null vector)") {
    val embed: String => Array[Float] = s => Array(s.length.toFloat)
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("V", "id", Seq(
      Property("name", PropType.Text, Tokenization.Field)),
      vectors = Map("default" -> "vec"), defaultVector = Some("default"))
    val st = new CollectionStore(spark, dir, schema).withVectorizer("name", "vec", embed)
    st.init(Seq((1L, "abc"), (2L, null.asInstanceOf[String])).toDF("id", "name"))
    val rows = st.read().orderBy($"id").collect()
    assert(rows(0).getSeq[Float](2) === Seq(3f))
    assert(rows(1).isNullAt(2), "null text must yield a null vector, not an NPE")
  }

  test("deleteWhere honors dryRun and filters") {
    val st = freshStore()
    st.init(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "name", "qty"))
    val dry = st.deleteWhere(Where.gtInt("qty", 15L), dryRun = true)
    assert(dry == 2 && st.read().count() == 3)
    val n = st.deleteWhere(Where.gtInt("qty", 15L))
    assert(n == 2 && st.read().count() == 1)
  }

  test("addReferences appends set-wise, dedupes, creates lists, reports drops") {
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("Doc", "id", Seq(
      Property("name", PropType.Text, Tokenization.Field),
      Property("rel", PropType.Ref, refTarget = Some("Doc"))))
    val st = new CollectionStore(spark, dir, schema)
    st.init(Seq(
      (1L, "a", Some(Seq(10L))),
      (2L, "b", Some(Seq.empty[Long])),
      (3L, "c", Option.empty[Seq[Long]])).toDF("id", "name", "rel"))
    val (applied, dropped) = st.addReferences("rel", Seq(
      (1L, 10L), // duplicate edge → set-wise no-op
      (1L, 11L), // append
      (3L, 12L), // first edge onto a null list
      (99L, 13L) // unknown source → dropped, reported
    ).toDF("id", "target"))
    assert(applied == 3 && dropped == 1)
    val out = st.read().orderBy($"id").collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Long](2)).map(_.sorted).orNull))
    assert(out.toSeq == Seq((1L, Seq(10L, 11L)), (2L, Seq.empty[Long]), (3L, Seq(12L))))
    assert(st.read().count() == 3) // no rows invented for unknown sources
  }

  test("deleteReferences drops all occurrences; replaceReferences swaps lists; null target clears") {
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("Doc", "id", Seq(
      Property("rel", PropType.Ref, refTarget = Some("Doc"))))
    val st = new CollectionStore(spark, dir, schema)
    st.init(Seq(
      (1L, Some(Seq(10L, 11L))),
      (2L, Some(Seq(20L))),
      (3L, Some(Seq(30L, 31L))),
      (4L, Option.empty[Seq[Long]])).toDF("id", "rel"))
    val (dApplied, dDropped) = st.deleteReferences("rel", Seq(
      (1L, 10L),  // present → removed
      (2L, 20L),  // only edge → list EMPTIES (stays [], not null)
      (4L, 5L),   // null list → no-op
      (99L, 1L)   // unknown source → dropped
    ).toDF("id", "target"))
    assert(dApplied == 3 && dDropped == 1)
    val (rApplied, _) = st.replaceReferences("rel", Seq(
      (3L, Some(77L)),
      (3L, Some(77L)),          // in-batch dup — set collapse
      (1L, Option.empty[Long])  // clearing PUT: null target → []
    ).toDF("id", "target"))
    assert(rApplied == 3)
    val out = st.read().orderBy($"id").collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Long](1)).map(_.sorted).orNull))
    assert(out.toSeq == Seq((1L, Seq.empty[Long]), (2L, Seq.empty[Long]),
      (3L, Seq(77L)), (4L, null)))
  }

  test("addReferences rejects scalar-FK ref columns") {
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("Doc", "id", Seq(
      Property("rel", PropType.Ref, refTarget = Some("Doc"))))
    val st = new CollectionStore(spark, dir, schema)
    st.init(Seq((1L, 10L)).toDF("id", "rel"))
    assertThrows[IllegalArgumentException] {
      st.addReferences("rel", Seq((1L, 11L)).toDF("id", "target"))
    }
  }

  test("addProperty evolves the schema; existing rows read typed null / default") {
    val st = freshStore()
    st.init(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "qty"))
    val st2 = st.addProperty(Property("score", PropType.Number))
    assert(st2.schema.property("score").exists(_.dataType == PropType.Number))
    val rows = st2.read().orderBy($"id").collect()
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("score"))))
    assert(st2.read().schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val st3 = st2.addProperty(Property("tag", PropType.Text), Some(lit("seed")))
    assert(st3.read().select($"tag").as[String].collect().forall(_ == "seed"))
    // the un-evolved handle still serves, and duplicate names are rejected
    assert(st.schema.property("score").isEmpty)
    assertThrows[IllegalArgumentException](st3.addProperty(Property("tag", PropType.Text)))
  }

  test("BM25 stats cache: store mutation evicts and refreshes corpus stats") {
    import graft.operators.Bm25Search
    Bm25Search.invalidateStats()
    val dir = Files.createTempDirectory("graft-store").toString
    val schema = CollectionSchema("Bm25Life", "id", Seq(
      Property("text", PropType.Text, Tokenization.Word)))
    val st = new CollectionStore(spark, dir, schema)
    st.init(Seq((1L, "spark joins data"), (2L, "stream of data")).toDF("id", "text"))

    val s1 = Bm25Search.score(st.collection, Bm25("data", Seq("text")))
      .select($"id", col(Bm25Search.ScoreCol)).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Bm25Search.cachedStatsKeys.count(_._1 == "Bm25Life") == 1)

    // mutation writes a new version → old stats must be evicted
    st.upsert(Seq((3L, "more data rows"), (4L, "data data data")).toDF("id", "text"))
    assert(Bm25Search.cachedStatsKeys.count(_._1 == "Bm25Life") == 0,
      "stale stats survived the store mutation")

    // re-query sees fresh stats: 'data' now matches 4 of 4 docs → different idf
    val s2 = Bm25Search.score(st.collection, Bm25("data", Seq("text")))
      .select($"id", col(Bm25Search.ScoreCol)).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s2.size == 4)
    assert(math.abs(s1(1L) - s2(1L)) > 1e-9, "idf did not refresh after mutation")
    assert(Bm25Search.cachedStatsKeys.count(_._1 == "Bm25Life") == 1)
  }

  test("TTL expiry removes aged rows") {
    val st = freshStore()
    val now = java.time.Instant.parse("2024-06-01T00:00:00Z")
    val old = java.sql.Timestamp.from(now.minusSeconds(7200))
    val fresh = java.sql.Timestamp.from(now.minusSeconds(60))
    st.init(Seq((1L, old), (2L, fresh)).toDF("id", "ts"))
    val n = st.expireTtl("ts", ttlSeconds = 3600, nowEpochSeconds = now.getEpochSecond)
    assert(n == 1)
    assert(st.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("Ingest.ttlCleanup rewrites the table - expired rows leave storage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    val nowMs = System.currentTimeMillis()
    Seq(
      (1L, new java.sql.Timestamp(nowMs - 7200000L)), // 2h old
      (2L, new java.sql.Timestamp(nowMs - 60000L))    // 1min old
    ).toDF("id", "ts").write.mode("overwrite").parquet(dir)
    val n = graft.streaming.Ingest.ttlCleanup(spark, dir, "ts", ttlSeconds = 3600)
    assert(n == 1)
    val left = spark.read.parquet(dir).collect().map(_.getLong(0)).toSeq
    assert(left == Seq(2L), s"table still holds $left")
  }

  test("windowedCounts works without a value column (counts only)") {
    val base = 3600000L
    val ev = Seq((1L, "a"), (2L, "a"), (3L, "b")).map { case (i, k) =>
      (new java.sql.Timestamp(base + i * 1000), k)
    }.toDF("ts", "key")
    val out = graft.streaming.Ingest.windowedCounts(
        ev, "ts", "key", "1 minute", "0 seconds", valueCol = None)
      .select($"key", $"n").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  test("streaming file ingest drains a directory with backpressure") {
    val in = Files.createTempDirectory("graft-in").toString
    val out = Files.createTempDirectory("graft-out").toString
    val cp = Files.createTempDirectory("graft-cp").toString
    val batch = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    batch.write.mode("append").parquet(in)
    val q = Ingest.fileIngest(spark, in, out, batch.schema, cp, maxFilesPerTrigger = 1)
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    assert(got.count() == 3)
    assert(got.columns.contains("_ingested_at"))
  }

  test("streaming dedup ingest drops duplicate keys within the watermark") {
    val in = Files.createTempDirectory("graft-din").toString
    val out = Files.createTempDirectory("graft-dout").toString
    val cp = Files.createTempDirectory("graft-dcp").toString
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    // duplicate ids 2 and 3 arrive across separate files (micro-batches)
    val b1 = Seq((1L, "a", ts(0)), (2L, "b", ts(1)), (3L, "c", ts(2))).toDF("id", "v", "ts")
    val b2 = Seq((2L, "b-dup", ts(3)), (3L, "c-dup", ts(4)), (4L, "d", ts(5))).toDF("id", "v", "ts")
    b1.write.mode("append").parquet(in)
    b2.write.mode("append").parquet(in)
    val q = Ingest.dedupIngest(spark, in, out, b1.schema, cp,
      keyCols = Seq("id"), tsCol = "ts", watermark = "1 hour", maxFilesPerTrigger = 1)
    q.awaitTermination(60000)
    val got = spark.read.parquet(out).select($"id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L), s"expected one row per id, got ${got.mkString(",")}")
  }

  test("streaming windowed aggregation with watermark (memory sink)") {
    val ev = Fixtures.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
    // batch-execute the streaming plan shape for determinism
    val agg = Ingest.windowedCounts(ev, "ts", "event_type", "1 hour", "10 minutes")
    assert(agg.count() > 0)
  }

  test("auto-schema inference maps Spark types to property types") {
    val df = Seq((1L, "t", 2.5, true, Seq(1.0f, 2.0f))).toDF("id", "name", "score", "ok", "emb")
    val s = AutoSchema.infer("Auto", df, "id", Map("default" -> "emb"))
    assert(s.property("name").get.dataType == PropType.Text)
    assert(s.property("score").get.dataType == PropType.Number)
    assert(s.property("ok").get.dataType == PropType.Bool)
    assert(s.property("emb").isEmpty) // vectors are not properties
    assert(s.vectorColumn(None) == "emb")
  }

  test("phoneNumber normalization: intl prefix, national+defaultCountry, invalid shapes") {
    val df = Seq(
      (1L, "+49 30 123456", Option.empty[String]),  // international, DE prefix
      (2L, "030 123456", Some("de")),               // national + defaultCountry
      (3L, "030 123456", Option.empty[String]),     // national w/o country → invalid
      (4L, "+999 1234", Option.empty[String]),      // unknown calling code → invalid
      (5L, "+1 41", Option.empty[String])           // too short → invalid
    ).toDF("id", "num", "dc")
    val got = df.select($"id", PhoneNumbers.normalize($"num", $"dc").as("p"))
      .select($"id", $"p.countryCode", $"p.national",
        $"p.internationalFormatted", $"p.valid")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(3), r.getBoolean(4))).toMap
    assert(got(1L) == ((49L, "+49 30123456", true)))
    assert(got(2L) == ((49L, "+49 030123456", true)))
    assert(got(3L) == ((-1L, null, false)))
    assert(got(4L) == ((-1L, null, false)))
    assert(got(5L) == ((1L, null, false))) // code parsed, number still invalid
    // longest-prefix wins: +4930… must parse as 49 (DE), never 4-anything
    val de = df.filter($"id" === 1L)
      .select(PhoneNumbers.normalize($"num", $"dc").getField("national"))
      .head().getLong(0)
    assert(de == 30123456L)
  }

  test("READONLY shard status rejects writes with the reference error; READY restores") {
    val root = Files.createTempDirectory("graft-ro").toString
    val st = new CollectionStore(spark, root,
      CollectionSchema("RO", "id", Seq(Property("v", PropType.Int))))
    st.init(Seq((1L, 10L)).toDF("id", "v"))
    assert(st.status == "READY")
    st.setReadOnly()
    assert(st.status == "READONLY")
    val e = intercept[IllegalStateException] { st.upsert(Seq((2L, 20L)).toDF("id", "v")) }
    assert(e.getMessage == "store is read-only")
    st.setReadOnly(Some("resharding"))
    val e2 = intercept[IllegalStateException] { st.deleteWhere(Where.eqInt("v", 10L)) }
    assert(e2.getMessage == "store is read-only due to: resharding")
    // reads keep serving while read-only
    assert(st.read().count() == 1)
    st.setReady()
    st.upsert(Seq((2L, 20L)).toDF("id", "v"))
    assert(st.read().count() == 2)
  }

  test("vectorizer corpus assembly: class name, prop order, prefixes, arrays, fallback") {
    import graft.sources.VectorizerCorpus
    import graft.sources.VectorizerCorpus.Config
    assert(VectorizerCorpus.camelSplit("camelCaseABCDef") == "camel Case ABC Def")
    assert(VectorizerCorpus.camelSplit("GL11Version") == "GL 11 Version")
    val df = Seq(
      (1L, "Hello World", "En", Seq("TagOne", "tagTwo")),
      (2L, null.asInstanceOf[String], null.asInstanceOf[String], Seq.empty[String]))
      .toDF("id", "body", "lang", "tags")
    val cfg = Config(vectorizeClassName = true,
      vectorizePropertyName = Set("tags"), skip = Set("lang"))
    val got = df.select($"id",
      VectorizerCorpus.column("BlogPost",
        Seq("body" -> $"body", "lang" -> $"lang", "tags" -> $"tags"),
        textArrays = Set("tags"), cfg = cfg).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // props sorted: body, lang(skipped), tags; tags prefix per ELEMENT
    assert(got(1L) == "blog post hello world tags tagone tags tagtwo")
    // null body + empty tags → class name only (no fallback needed, class is in)
    assert(got(2L) == "blog post")
    // with class name off and nothing else, the corpus falls back to it
    val fb = df.filter($"id" === 2L).select(
      VectorizerCorpus.column("BlogPost", Seq("body" -> $"body"),
        cfg = Config(vectorizeClassName = false)).as("c"))
      .head().getString(0)
    assert(fb == "blog post")
  }

  test("write-path validation report: date/uuid/geo/phone violations; clean rows silent") {
    val bed = Seq(
      (1L, "2024-01-02T03:04:05Z", "c56a4180-65aa-42ec-a945-5fd21dec0538", 45.0, 90.0, "+49 30 123456"),
      (2L, "yesterday", "nope", 91.0, -200.0, "12"))
      .toDF("id", "d", "u", "lat", "lon", "ph")
      .withColumn("geo", struct($"lat".as("lat"), $"lon".as("lon")))
      .drop("lat", "lon")
    val schema = CollectionSchema("V", "id", Seq(
      Property("d", PropType.Date), Property("u", PropType.Uuid),
      Property("geo", PropType.Geo), Property("ph", PropType.Phone)))
    val got = graft.sources.Validation.report(bed, schema)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(!got.exists(_._1 == 1L), s"clean row flagged: $got")
    val errs = got.filter(_._1 == 2L).map(e => e._2 -> e._3).toMap
    assert(errs.keySet == Set("d", "u", "geo", "ph") &&
      got.count(_._2 == "geo") == 2) // lat AND lon both out of range
    assert(errs("d").contains("RFC3339") && errs("d").contains("'yesterday'"))
    assert(errs("u").contains("UUID format"))
    assert(errs("ph") == "invalid phone number: '12'")
    assert(got.exists(e => e._2 == "geo" && e._3 == "invalid latitude: must be between -90 and 90, got 91.0"))
    assert(got.exists(e => e._2 == "geo" && e._3.startsWith("invalid longitude") && e._3.endsWith("-200.0")))
  }

  test("value-based auto-schema: RFC3339→date, uuid→uuid, mixtures and nil→text") {
    val df = Seq(
      (1L, "2024-01-02T03:04:05Z", "c56a4180-65aa-42ec-a945-5fd21dec0538", "hello", "2024-01-02T03:04:05Z", Option.empty[String], 7L),
      (2L, "2024-06-07T08:09:10+02:00", "C56A418065AA42ECA9455FD21DEC0538", "world", "plain text", Option.empty[String], 8L),
      (3L, "2024-12-31T23:59:59.123Z", "urn:uuid:c56a4180-65aa-42ec-a945-5fd21dec0538", "2024-01-02T03:04:05Z", "2024-01-02T03:04:05Z", Option.empty[String], 9L)
    ).toDF("id", "d", "u", "t", "mix", "empty", "n")
    val got = AutoSchema.valueDtypes(df, "id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "d" -> "date",      // every value parses RFC3339 (offset, fraction forms)
      "u" -> "uuid",      // canonical + raw-32 + urn forms all accepted
      "t" -> "text",      // date-shaped MINORITY does not flip the column
      "mix" -> "text",    // date/text mixture → text (array-merge rule)
      "empty" -> "text",  // nil fallback
      "n" -> "int"))
    val schema = AutoSchema.inferFromValues("Auto", df, "id")
    assert(schema.property("d").get.dataType == PropType.Date)
    assert(schema.property("u").get.dataType == PropType.Uuid)
    assert(schema.property("n").get.dataType == PropType.Int)
  }
}
