package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionScope

import graft.engine.{Collection, Graft}
import graft.model._

/**
 * Maps the driver's TPC-H-ish testdata (/root/testdata/sf*, see TESTDATA.md)
 * onto weaviate-style collections so every SURVEY §2 operator has a
 * deterministic test bed (FIXTURES.md §6):
 *  - `orders.o_custkey` / `customer.c_nationkey` / `nation.n_regionkey` play
 *    cross-references (beacon → target class),
 *  - `embeddings.embedding` is the named vector ("default"; "rev" is a second
 *    named vector for multi-target search),
 *  - `documents.text` is the BM25 corpus; `docvec` joins documents+embeddings
 *    into one collection with both text and a vector (hybrid search bed),
 *  - `customer.geo` is a deterministic synthetic geoCoordinates struct,
 *  - `documents.maybe_src` is a deterministic nullable column (IsNull bed).
 */
object Fixtures {

  def spark(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine serves hundreds of DISTINCT query shapes per session; the
      // default whole-stage-codegen class cache (100 entries) thrashes and
      // recompiles (Janino) the same operators every pass — pure driver CPU
      // and GC garbage. Sized for the full declared-query surface (static
      // conf: set at build time).
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // the UI is off, but the in-memory status store still retains
      // per-job/stage/task rows for EVERY job — a 274-query bench session
      // runs thousands of jobs, and the retained history is driver-heap
      // ballast that GC walks for the whole session. Keep a short window.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "20000")
      .config("spark.sql.ui.retainedExecutions", "100")
      // committer v2 (below) is only task-commit-safe without re-attempted
      // tasks; speculation is off by default — pinned so a deployment can't
      // flip it without revisiting the committer choice
      .config("spark.speculation", "false")
      // zstd for everything the engine writes (guide §6: smaller than snappy
      // at similar read speed; at 100 TB the store/postings/index layouts are
      // the dominant bytes).
      .config("spark.sql.parquet.compression.codec", "zstd")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the engine's global-window fusions are DOCUMENTED bounded (top-k pools,
    // BoundedWindow.scala proof) — WindowExec's per-execution "No Partition
    // Defined" warning is noise at our scale and flooded the r16 driver log
    // (the rc=124 tail was 100% this line). Scoped to that one logger.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // FileOutputCommitter algorithm 2: task output moves to the final
    // directory at task commit instead of a second sequential job-side
    // rename pass — measured ~25-30% off the store-mutation journey gates
    // (each write paid the extra rename round). Safe here by construction:
    // the store's `_latest` pointer flips only after the write job succeeds,
    // so a failed job's partial v<N+1> files are never visible to readers
    // (the versioned copy-on-write gives back the atomicity v1 exists for),
    // and the streaming sink tracks files through its own manifest protocol.
    // CLUSTER CAVEAT: the job-level argument does not cover non-atomic TASK
    // commit — with task retries or speculation a re-attempted task can leave
    // duplicate part files in v<N+1> while the job still succeeds (why v2 is
    // deprecated in Hadoop 3.x). Local mode has maxFailures=1 and speculation
    // pinned off below; a cluster deployment must either keep speculation off
    // and accept the retry risk, or revert to v1 (one conf, no code change).
    s.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    // no _SUCCESS markers: nothing in the engine or its tooling reads them
    // (store visibility is the `_latest` pointer flip; streaming sinks use
    // their manifest log) — one less file create per version write, and
    // journey gates write hundreds of versions per bench pass
    s.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    s
  }

  /** The one memo for session-bound fixtures: engines, beds and index side
   * tables. Keyed by (session, key): a hit across sessions (or across a
   * stopped-and-recreated one) would hand out DataFrames bound to another
   * session. The map lock is held only to install a key's holder; the build
   * runs under that holder's lazy-val monitor, so concurrent first calls
   * build once, different keys build concurrently, and a build may itself
   * call `cached` for another key. A build that throws caches nothing: the
   * next call for its key runs it again. */
  def cached[T](s: SparkSession, key: String)(build: => T): T =
    memo.synchronized(memo.getOrElseUpdate((s, key), new Memo(build))).value.asInstanceOf[T]

  private final class Memo(build: => Any) { lazy val value: Any = build }
  private val memo = scala.collection.mutable.Map.empty[(SparkSession, String), Memo]

  def graft(spark: SparkSession, dir: String): Graft = cached(spark, s"graft:$dir")(build(spark, dir))

  /** JSON string literal: escapes backslash, quote, and ALL control chars
   * (<0x20) — a tab/CR/FF in an error message or builder-authored SQL would
   * otherwise make the driver's json.load fail and zero a round's artifact.
   * Shared by Verify (oracle dump + _errors.json) and Bench (error maps). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Per-collection fault isolation (round-9 lesson #3): one broken driver
   * parquet must degrade ONLY the queries that touch its collection, not
   * zero the whole registry. A failed block logs loudly and skips its
   * registration — Graft.collection then throws a clear "unknown collection"
   * for exactly the affected queries, and Verify records them as err rows. */
  private def reg(what: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable =>
        System.err.println(s"[fixtures] SKIPPING $what: ${e.getMessage}")
    }

  private def build(spark: SparkSession, dir: String): Graft = {
    import PropType._
    // the driver's declared queries include full-collection filter scans at
    // any SF, so the harness raises the results cap (a deployment config,
    // like the reference's QUERY_MAXIMUM_RESULTS env); the engine default
    // stays 10000 and is spec-pinned
    val g = new Graft(spark).withEmbedder(hashEmbedder(64))
      .withSpellchecker(spellFix)
      .withConcepts(conceptVocab)
      .withQueryMaximumResults(scala.Int.MaxValue)

    reg("Region")(g.register(CollectionSchema("Region", "r_regionkey", Seq(
      Property("r_name", Text))), t(spark, dir, "region")))

    reg("Nation")(g.register(CollectionSchema("Nation", "n_nationkey", Seq(
      Property("n_name", Text),
      Property("n_regionkey", Ref, refTarget = Some("Region")))), t(spark, dir, "nation")))

    // deterministic synthetic geo coordinates derived from the key
    lazy val customer = t(spark, dir, "customer")
      .withColumn("geo", struct(
        (((col("c_custkey") * 7) % 17000) / 100.0 - 85.0).as("lat"),
        (((col("c_custkey") * 13) % 35000) / 100.0 - 175.0).as("lon")))
    reg("Customer")(g.register(CollectionSchema("Customer", "c_custkey", Seq(
      Property("c_name", Text),
      Property("c_nationkey", Ref, refTarget = Some("Nation")),
      Property("c_acctbal", Number),
      Property("c_mktsegment", Text, Tokenization.Field),
      Property("geo", Geo))), customer))

    reg("Supplier")(g.register(CollectionSchema("Supplier", "s_suppkey", Seq(
      Property("s_name", Text),
      Property("s_nationkey", Ref, refTarget = Some("Nation")),
      Property("s_acctbal", Number))), t(spark, dir, "supplier")))

    reg("Part")(g.register(CollectionSchema("Part", "p_partkey", Seq(
      Property("p_name", Text),
      Property("p_brand", Text, Tokenization.Field),
      Property("p_type", Text, Tokenization.Field),
      Property("p_size", Int),
      Property("p_retailprice", Number))), t(spark, dir, "part")))

    reg("Order")(g.register(CollectionSchema("Order", "o_orderkey", Seq(
      Property("o_custkey", Ref, refTarget = Some("Customer")),
      Property("o_orderstatus", Text, Tokenization.Field),
      Property("o_totalprice", Number),
      Property("o_orderdate", Date),
      Property("o_orderpriority", Text, Tokenization.Field))), t(spark, dir, "orders")))

    // surrogate unique id (l_orderkey, l_linenumber) → single orderable key
    lazy val lineitem = t(spark, dir, "lineitem")
      .withColumn("l_id", col("l_orderkey") * 10 + col("l_linenumber"))
      .withColumn("is_high", col("l_quantity") > 25.0)
    reg("Lineitem")(g.register(CollectionSchema("Lineitem", "l_id", Seq(
      Property("l_orderkey", Ref, refTarget = Some("Order")),
      Property("l_partkey", Ref, refTarget = Some("Part")),
      Property("l_suppkey", Ref, refTarget = Some("Supplier")),
      Property("l_linenumber", Int),
      Property("l_quantity", Number),
      Property("l_extendedprice", Number),
      Property("l_discount", Number),
      Property("l_tax", Number),
      Property("l_returnflag", Text, Tokenization.Field),
      Property("l_linestatus", Text, Tokenization.Field),
      Property("l_shipdate", Date),
      Property("is_high", Bool))), lineitem))

    // deterministic nullable column for IsNull coverage; deterministic
    // object[] column (1-3 {k,v} structs per doc) for nested-array filters
    lazy val documents = t(spark, dir, "documents")
      .withColumn("maybe_src",
        when(col("source") === "src13", lit(null).cast("string")).otherwise(col("source")))
      .withColumn("tags", expr(
        "transform(sequence(0, CAST(doc_id % 3 AS INT)), i -> " +
        "named_struct('k', concat('t', CAST((doc_id + i) % 5 AS STRING)), " +
        "'v', (doc_id * (i + 1)) % 100))"))
      // multi-edge cref bed (beacon list, Document → Document): 1-3 links,
      // every 10th doc has none (null) — exercises ref-count + array-ref filters
      .withColumn("links",
        when(col("doc_id") % 10 === 0, lit(null).cast("array<bigint>"))
          .otherwise(expr(
            "transform(sequence(1, CAST(doc_id % 3 AS INT) + 1), " +
            "i -> CAST((doc_id * i * 37) % 500 AS BIGINT))")))
      .withColumn("link_ids", col("links"))
      // second Word-tokenized prop (first 4 words of text) — its terms
      // overlap text's, so multi-prop BM25F queries exercise the cross-prop
      // frequency/length merge (q_bm25f_multiprop; Bm25.scala header)
      .withColumn("title",
        concat_ws(" ", slice(_root_.graft.text.Tokenize.word(col("text")), 1, 4)))
    reg("Document")(g.register(CollectionSchema("Document", "doc_id", Seq(
      Property("text", Text, Tokenization.Word),
      Property("title", Text, Tokenization.Word),
      Property("lang", Text, Tokenization.Field),
      Property("source", Text, Tokenization.Field),
      Property("maybe_src", Text, Tokenization.Field),
      Property("n_chars", Int),
      Property("tags", Arr(Obj)),
      Property("links", Ref, refTarget = Some("Document")),
      // the same edge list exposed as a plain int[] prop: the array-sort bed
      // (sorting by the REF prop itself is rejected, as in the reference)
      Property("link_ids", Arr(Int))),
      // IsNull (maybe_src) + len(text) filter beds need the class-level
      // opt-ins — the reference gates both and defaults them OFF
      invertedIndex = InvertedIndexConfig(
        indexNullState = true, indexPropertyLength = true)), documents))

    lazy val embeddings = t(spark, dir, "embeddings")
      .withColumn("rev", reverse(col("embedding")))
    reg("Embedding")(g.register(CollectionSchema("Embedding", "vec_id", Seq(
      Property("label", Int)),
      vectors = Map("default" -> "embedding", "rev" -> "rev"),
      defaultVector = Some("default")), embeddings))

    // multi-vector (ColBERT) bed: each object carries a 2-token bag
    // [embedding, reverse(embedding)] as array<array<float>> (reference:
    // entities/dto/dto.go:73-90 — multi-vectors are per-object [][]float32)
    reg("MVec")(g.register(CollectionSchema("MVec", "vec_id", Seq(
      Property("label", Int)),
      vectors = Map("mvec" -> "mvec"),
      defaultVector = Some("mvec")),
      embeddings.withColumn("mvec", array(col("embedding"), col("rev")))))

    // documents ⋈ embeddings: one collection with text + vector (hybrid bed)
    reg("DocVec") {
      val docvec = documents.join(embeddings.select(col("vec_id"), col("embedding")),
        documents("doc_id") === col("vec_id"), "inner").drop("vec_id")
      g.register(CollectionSchema("DocVec", "doc_id", Seq(
        Property("text", Text, Tokenization.Word),
        Property("lang", Text, Tokenization.Field),
        Property("source", Text, Tokenization.Field),
        Property("n_chars", Int)),
        vectors = Map("default" -> "embedding"),
        defaultVector = Some("default")), docvec)
    }

    // multi-tenant view of events: event_type plays the tenant key, so
    // tenant routing = partition pruning on that column (reference: index.go:2233)
    reg("EventTenant")(g.register(CollectionSchema("EventTenant", "event_id", Seq(
      Property("ts", Date),
      Property("user_id", Int),
      Property("value", Number),
      Property("props", Text, Tokenization.Word)),
      tenantColumn = Some("event_type"),
      creationTimeColumn = Some("ts_nanos"),
      // _creationTimeUnix metadata filters need the class-level opt-in
      invertedIndex = InvertedIndexConfig(indexTimestamps = true)), events(spark, dir)))

    // keyword search on the text collections serves from the postings
    // inverted index (reference: BM25 is always index-served, BlockMax on by
    // default — inverted/bm25_searcher.go:183-193); the engine builds the
    // index lazily on the first keyword query against each dataset. An index
    // serves any scored SUBSET of its props (per-property posting lists) via
    // a query-time df re-aggregation; an exact prop-set match uses the
    // precomputed dictionary — so each index is sized to its workload:
    // Document queries score `text` (a subset) or text+title (BM25F merge),
    // DocVec hybrids score all three of its props.
    reg("postings:Document")(g.registerPostings("Document", Seq("text", "title")))
    reg("postings:DocVec")(g.registerPostings("DocVec", Seq("text", "lang", "source")))

    reg("Event")(g.register(CollectionSchema("Event", "event_id", Seq(
      Property("ts", Date),
      Property("user_id", Int),
      Property("event_type", Text, Tokenization.Field),
      Property("value", Number),
      Property("props", Text, Tokenization.Word))), events(spark, dir)))

    g
  }

  /**
   * events.ts is driver-owned and its physical parquet type has varied across
   * testdata regenerations — TIMESTAMP(NANOS) (inferred as long on Sparks
   * honoring nanosAsLong) vs TIMESTAMP(MICROS) (inferred as timestamp_ntz on
   * Spark 4.1.2, where the runtime nanosAsLong conf no longer applies). Never
   * assume the physical type: branch on the observed dtype and normalize to
   *  - `ts`       → Spark TimestampType (µs precision), and
   *  - `ts_nanos` → epoch nanoseconds as long (full-fidelity comparisons;
   *                 EventTenant's creationTimeColumn).
   * Session timezone is pinned to UTC by every entry point, so the NTZ cast
   * is exact.
   */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // older Sparks honor nanosAsLong and surface nanos as long; harmless
    // otherwise. It is set on a clone, so the caller's session keeps its conf
    val raw = SessionScope.rebind(
      t(SessionScope.cloned(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true"),
        dir, "events"), spark)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as nanos-long
        raw.withColumn("ts_nanos", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TimestampType / TimestampNTZType (µs physical)
        raw.withColumn("ts_nanos", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
          .withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Concept vocabulary for the contextionary additional props
   * (nearestNeighbors / semanticPath — module data like stopword presets):
   * the corpus's own vocabulary embedded with the stand-in vectorizer, so
   * concepts live in the same 64-d space as the stored vectors. Exposed for
   * the oracle builders, which inline these vectors as SQL literals. */
  val conceptVocab: Seq[(String, Array[Float])] = {
    val embed = hashEmbedder(64)
    Seq("spark", "join", "stream", "window", "batch", "table",
        "query", "scan", "merge", "filter", "vector", "customer")
      .map(w => w -> embed(w))
  }

  /** Deterministic stand-in vectorizer for nearText (real deployments plug a
   * model; reference treats the vectorizer as a module — modules/text2vec-*):
   * token-hash-bucketed bag-of-words, L2-normalized. */
  def hashEmbedder(dim: Int): String => Array[Float] = { text =>
    val v = new Array[Float](dim)
    "[\\p{L}\\p{N}]+".r.findAllIn(text.toLowerCase).foreach { tok =>
      val h = scala.util.hashing.MurmurHash3.stringHash(tok, 42)
      v(math.floorMod(h, dim)) += (if ((h >> 16 & 1) == 0) 1.0f else -1.0f)
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    if (norm > 0) v.map(_ / norm) else v
  }

  /** Deterministic stand-in spellchecker for nearText autocorrect (reference:
   * modules/text-spellcheck — the query transformer runs on the concepts
   * before vectorization, entities/searchparams/retrieval.go:152-160):
   * a fixed misspelling dictionary applied per whitespace token. */
  val spellFix: String => String = { s =>
    val dict = Map("sparrk" -> "spark", "joim" -> "join", "strem" -> "stream",
      "windoww" -> "window", "batc" -> "batch")
    s.split(' ').map(w => dict.getOrElse(w, w)).mkString(" ")
  }

  /** The anchor query vector for near-X queries: the embedding of `vec_id`. */
  def anchorVector(g: Graft, vecId: Long): Array[Float] = {
    val c = g.collection("Embedding")
    c.df.filter(col("vec_id") === vecId).select(col("embedding"))
      .head().getSeq[Float](0).toArray
  }
}
