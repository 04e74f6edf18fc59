package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger
import org.json4s.{DefaultFormats, Formats, JValue}

import graft.engine.{Graft, GraphQL, WireEncoder}
import graft.sources.CollectionStore
import graft.streaming.IndexMaintenance

/** Everything one run needs: the session, where its inputs and scratch space
 * are, how long to measure, and the tracer of a traced run. */
final case class Ctx(spark: org.apache.spark.sql.SparkSession, sessionS: Double,
                     inputs: String, work: String, seconds: Double,
                     tracer: Option[Tracer], setupOnly: Boolean) {
  lazy val truth: JValue = Stats.readJson(s"$inputs/truth.json")
}

/** What a workload hands back: metrics by name, operation counts, and the
 * messages of every output check that failed. */
final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
                         errors: Seq[String])

/**
 * serve_ingest: one store-backed collection, served in two phases.
 *
 * serve phase — two client threads send the seeded read mix for the run's
 * seconds. Nothing writes, so the store version never moves and every cache
 * keyed by it (index side tables, the store's read memo, BM25 stats, codegen)
 * stays valid: the fixed per-query cost dominates.
 *
 * ingest phase — one writer hands a fixed number of seeded batch files (new
 * ids plus updates) to `IndexMaintenance.startPostings` while one reader
 * keeps sending the mix. Every batch bumps the store version, which retires
 * those caches and detaches the IVF index. The batch count is fixed, not
 * the duration, because each upsert rewrites the whole current version.
 */
object ServeIngest {
  implicit val fmt: Formats = DefaultFormats
  val ServeThreads = 2

  final case class Live(g: Graft, store: CollectionStore, reader: Reader, work: String)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val reqs = DocCollection.loadRequests(s"$inputs/requests.jsonl")
    val warm = DocCollection.loadRequests(s"$inputs/warmup.jsonl")
    // set-up runs once, in the JVM's cold state, as a client's first start does
    val dir = s"$work/setup"
    val g = new Graft(spark)
    val store = new CollectionStore(spark, s"$dir/store", DocCollection.Schema)
    val (_, registerS) = Stats.timedS {
      store.init(spark.read.parquet(s"$inputs/collection.parquet"))
      g.register(store.collection)
    }
    val reader = new Reader(g, reqs, warm, tracer)
    val times = DocCollection.index(g, dir, reader, registerS)
    System.err.println(s"[bench] set-up: session $sessionS s, $times")
    val live = Live(g, store, reader, dir)
    val setupMetrics = Map(
      "setup_s" -> (sessionS + times.total),
      "setup.session_s" -> sessionS,
      "setup.register_s" -> times.register,
      "setup.warmup_s" -> times.warmup,
      "ann.ivf.build_s" -> times.ivf,
      "operators.postings.build_s" -> times.postings)
    if (setupOnly) return Outcome(setupMetrics, 0, 0, Nil)

    // ---- serve phase -------------------------------------------------------
    val stop = new AtomicBoolean(false)
    val timer = new Thread(() => { Thread.sleep((seconds * 1000).toLong); stop.set(true) })
    timer.start()
    val (served, serveOpsPerS) = live.reader.loop(ServeThreads, stop, from = 0)
    timer.join()
    val oracle = new Oracle(spark, s"$inputs/collection.parquet")
    val serveErrors = ReadChecks.run(live.g, live.reader.kept.asScala.toSeq, oracle)
    val serveMetrics = Run.readMetrics(served, serveOpsPerS, tracer)

    // ---- ingest phase ------------------------------------------------------
    val (ingestMetrics, ingestReads, ingestErrors) = ingest(ctx, live, from = served.size)

    val all = served ++ ingestReads
    Outcome(setupMetrics ++ serveMetrics ++ ingestMetrics ++ Map(
        "cached_mb" -> Run.cachedMb(spark),
        "error_ratio" -> all.count(!_.ok).toDouble / all.size),
      all.size + (truth \ "batches").extract[Int], all.count(!_.ok),
      serveErrors ++ ingestErrors)
  }

  private def ingest(ctx: Ctx, live: Live, from: Int)
      : (Map[String, Double], Seq[ReadSample], Seq[String]) = {
    import ctx._
    val in = s"${live.work}/ingest-in"
    val staging = s"${live.work}/ingest-staging"
    Files.createDirectories(Paths.get(in)); Files.createDirectories(Paths.get(staging))
    val batches = Files.list(Paths.get(s"$inputs/batches")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val batchRows = (truth \ "batch_rows").extract[Int]
    val storeRoot = live.store.root
    def storeBytes = Stats.diskBytes(storeRoot) + Stats.diskBytes(s"${live.work}/postings") +
      Stats.diskBytes(s"${live.work}/ivf")
    val bytesBefore = storeBytes
    val versionBefore = live.store.version

    val stream = spark.readStream.schema(live.store.read().schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val query = IndexMaintenance.startPostings(stream, live.store, live.g, DocCollection.Name,
      s"${live.work}/ingest-checkpoint", Trigger.ProcessingTime(0))

    val stop = new AtomicBoolean(false)
    val readsOut = new AtomicReference[(Seq[ReadSample], Double)]()
    val readerThread = new Thread(() => readsOut.set(live.reader.loop(1, stop, from)))
    readerThread.start()

    def committed: Int = query.recentProgress.count(_.numInputRows > 0)
    val writeMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val failure =
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          val name = Paths.get(b).getFileName.toString
          Files.copy(Paths.get(b), Paths.get(staging, name))
          val handed = System.nanoTime()
          Files.move(Paths.get(staging, name), Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
          while (committed <= i) {
            query.exception.foreach(e => throw e)
            Thread.sleep(2)
          }
          writeMs += (System.nanoTime() - handed) / 1e6
          System.err.println(f"[bench] batch $i committed after ${(System.nanoTime() - handed) / 1e6}%.0f ms")
        }
        None
      } catch { case e: Throwable => Some(e) }
    val writeS = (System.nanoTime() - t0) / 1e9
    stop.set(true)
    readerThread.join()
    query.stop()
    val (reads, _) = readsOut.get()

    val errors = ArrayBuffer.empty[String]
    failure.foreach(e => errors += s"ingest stream failed: $e")
    val writes = writeMs.toSeq
    val versions = live.store.version - versionBefore

    // every acknowledged row, read through a fresh store on the same root
    val fresh = new CollectionStore(spark, storeRoot, DocCollection.Schema).read()
      .select("doc_id", "body").collect().map(r => r.getLong(0).toString -> r.getString(1)).toMap
    val bodies = (truth \ "bodies").extract[Map[String, String]]
    if (failure.isEmpty && fresh != bodies) {
      val missing = bodies.keySet.diff(fresh.keySet).size
      val wrong = bodies.count { case (k, v) => fresh.get(k).exists(_ != v) }
      errors += s"store after ingest: $missing rows missing, $wrong stale, " +
        s"${fresh.size - bodies.size + missing} extra"
    }
    // each batch-unique token finds exactly its batch's surviving docs
    (truth \ "token_docs").extract[Map[String, Seq[Long]]].foreach { case (tok, want) =>
      val gql = s"""{ Get { Doc(limit: 1000, bm25: {query: "$tok", properties: ["body"]}) { doc_id } } }"""
      val full = GraphQL.getFull(live.g, gql)
      val got = Reader.resultIds(WireEncoder.searchReply(live.g.get(full.params), full.params, 0.0))
      if (failure.isEmpty && got.sorted != want.sorted)
        errors += s"token $tok: got ${got.sorted.take(10)}, want ${want.sorted.take(10)}"
    }

    val storeDirs = (versionBefore + 1 to live.store.version).map(v => s"$storeRoot/v$v")
    def files(dir: String) = {
      val s = Files.walk(Paths.get(dir))
      try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val lat = Run.latencies(writes.map(_ -> true) ++
      Seq.fill(batches.size - writes.size)(0.0 -> false))
    val ingestReadLat = Run.latencies(reads.filter(!_.traced).map(s => s.ms -> s.ok))
    val userBytes = (truth \ "user_bytes").extract[Double]
    val metrics = Map(
      "write_p50_ms" -> Stats.median(lat),
      "write_p95_ms" -> Stats.p95(lat),
      "write_rows_per_s" -> writes.size * batchRows / writeS,
      "write_samples" -> batches.size.toDouble,
      "ingest.read_p50_ms" -> (if (ingestReadLat.isEmpty) Double.NaN else Stats.median(ingestReadLat)),
      "ingest.read_p95_ms" -> (if (ingestReadLat.isEmpty) Double.NaN else Stats.p95(ingestReadLat)),
      "ingest.read_samples" -> ingestReadLat.size.toDouble,
      "store_bytes_per_user_byte" -> (Stats.diskBytes(s"$storeRoot/v${live.store.version}") +
        Stats.diskBytes(s"${live.work}/postings") + Stats.diskBytes(s"${live.work}/ivf")) / userBytes,
      "sources.store.files_per_batch" ->
        (if (storeDirs.isEmpty) Double.NaN else storeDirs.map(files).sum.toDouble / storeDirs.size),
      "sources.store.write_amp" -> (storeBytes - bytesBefore) / (truth \ "batch_user_bytes").extract[Double],
      "sources.store.versions" -> versions.toDouble) ++
      tracer.map { t =>
        t.drain()
        val jobs = t.streamCounters.get(query.id.toString).map(_.jobs).getOrElse(0L)
        // per-batch phase times, from the listener's progress events
        val progress = t.batchesOf(query.id)
        def phaseP50(p: String) =
          if (progress.isEmpty) Double.NaN
          else Stats.median(progress.map(_.durationMs.asScala.get(p).map(_.toDouble).getOrElse(0.0)))
        Map(
          "sources.store.jobs_per_batch" -> jobs.toDouble / math.max(1, writes.size),
          "streaming.add_batch_ms" -> phaseP50("addBatch"),
          "streaming.wal_commit_ms" -> phaseP50("walCommit"),
          "streaming.commit_offsets_ms" -> phaseP50("commitOffsets"),
          "streaming.latest_offset_ms" -> phaseP50("latestOffset"),
          "streaming.query_planning_ms" -> phaseP50("queryPlanning"))
      }.getOrElse(Map.empty)
    (metrics, reads, errors.toSeq)
  }
}
