package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ann.IvfIndex
import graft.engine.{Graft, GraphQL, WireEncoder}
import graft.model._
import graft.operators.{Bm25Search, Postings}

/** One generated read: a GraphQL document plus the literals it was built
 * from, which the output checks recompute the answer from. */
final case class Req(i: Int, cycle: Int, family: String, gql: String, raw: JValue) {
  def isAggregate: Boolean = family == "aggregate"
}

/** One completed (or failed) read as the client saw it. */
final case class ReadSample(family: String, ms: Double, ok: Boolean, traced: Boolean,
                            request: Long, rows: Int, phases: Map[String, Double])

/** The benchmark collection: its schema, the index set-up that makes it
 * ready to serve, and the client-side request path. */
object DocCollection {
  val Name = "Doc"
  val Schema: CollectionSchema = CollectionSchema(Name, "doc_id", Seq(
      Property("body", PropType.Text, Tokenization.Word),
      Property("category", PropType.Text, Tokenization.Field),
      Property("price", PropType.Number),
      Property("rating", PropType.Int),
      Property("published", PropType.Date)),
    vectors = Map("default" -> "vec"), defaultVector = Some("default"))
  val IvfLists = 8
  val IvfProbes = 4
  val PostingBuckets = 4
  val Families = Seq("vector", "bm25", "hybrid", "vector_where", "where_sort", "aggregate")

  def loadRequests(path: String): IndexedSeq[Req] = {
    implicit val fmt: Formats = DefaultFormats
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { line =>
      val j = JsonMethods.parse(line)
      Req((j \ "i").extract[Int], (j \ "cycle").extract[Int], (j \ "family").extract[String],
        (j \ "gql").extract[String], j)
    }.toIndexedSeq
    finally src.close()
  }

  /** Times of the set-up steps after session start, in seconds. */
  final case class SetupTimes(register: Double, ivf: Double, postings: Double, warmup: Double) {
    def total: Double = register + ivf + postings + warmup
  }

  /** Attach the persisted IVF index and postings index to a registered
   * collection and run the warm-up reads: after this the collection serves
   * every family of the mix from warm caches. */
  def index(g: Graft, work: String, reader: Reader, registerS: Double): SetupTimes = {
    val c = g.collection(Name)
    val (ivf, ivfS) = Stats.timedS {
      IvfIndex.build(c.df, "doc_id", "vec", nlist = IvfLists, defaultNprobe = IvfProbes,
        persistPath = Some(s"$work/ivf"))
    }
    g.registerIndex(Name, "default", ivf)
    val (_, postS) = Stats.timedS {
      g.registerPostings(Name, Postings.build(g.collection(Name), Seq("body"), PostingBuckets,
        Some(s"$work/postings")))
    }
    val (_, warmS) = Stats.timedS(reader.warmup())
    SetupTimes(registerS, ivfS, postS, warmS)
  }
}

/**
 * The client side of a read: GraphQL text in, reply JSON out, through the
 * program's public entry points (GraphQL decode → Graft.get/aggregate →
 * WireEncoder). A read is timed until the reply string exists, so every
 * projected column has been collected and encoded. With a tracer, each
 * module call runs inside its own span.
 */
final class Reader(g: Graft, reqs: IndexedSeq[Req], warm: Seq[Req], tracer: Option[Tracer]) {
  import DocCollection._
  /** First replies of each family, kept for the output checks. */
  val kept = new ConcurrentLinkedQueue[(Req, String)]()
  private val keptPerFamily = Families.map(_ -> new AtomicInteger(0)).toMap
  val KeepPerFamily = 3

  private def serve(q: Req, span: (String, () => Any) => Any): (String, DataFrame) = {
    def s[T](name: String)(body: => T): T = span(name, () => body).asInstanceOf[T]
    if (q.isAggregate) {
      val a = s("engine.wire")(GraphQL.aggregateFull(g, q.gql))
      val df = s("engine.graft")(GraphQL.applyAliases(g.aggregate(a.params), a.aliases))
      if (tracer.isDefined) s("spark.catalyst")(df.queryExecution.executedPlan)
      (s("engine.encode")(WireEncoder.aggregateReply(df, a.params, Schema)), df)
    } else {
      val full = s("engine.wire")(GraphQL.getFull(g, q.gql))
      val df = s("engine.graft")(GraphQL.applyAliases(g.get(full.params), full.aliases))
      if (tracer.isDefined) s("spark.catalyst")(df.queryExecution.executedPlan)
      (s("engine.encode")(WireEncoder.searchReply(df, full.params, took = 0.0)), df)
    }
  }

  /** Run one read; failures are returned, never retried. */
  def execute(q: Req, traced: Boolean): ReadSample = {
    val t = tracer.filter(_ => traced)
    val rid = t.map(_.newRequest()).getOrElse(-1L)
    val t0 = System.nanoTime()
    val out =
      try {
        Right(t match {
          case Some(tr) => tr.span("request", rid)(serve(q, (n, b) => tr.span(n)(b())))
          case None => serve(q, (_, b) => b())
        })
      } catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    out match {
      case Right((reply, df)) =>
        if (keptPerFamily(q.family).getAndIncrement() < KeepPerFamily) kept.add(q -> reply)
        val (rows, phases) =
          if (t.isEmpty) (0, Map.empty[String, Double])
          else (Reader.rowsOf(reply),
            df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
        ReadSample(q.family, ms, ok = true, traced, rid, rows, phases)
      case Left(e) =>
        Reader.noteFailure(q, e)
        ReadSample(q.family, ms, ok = false, traced, rid, 0, Map.empty)
    }
  }

  def warmup(): Unit = warm.foreach { q =>
    val s = execute(q, traced = false)
    require(s.ok, s"warm-up read ${q.i} (${q.family}) failed")
  }

  /** Closed loop: each client thread sends its next read when the previous
   * reply has arrived, until `stop` is set. Requests are taken in stream
   * order starting at `from`. With a tracer, half the reads
   * are traced, so the traced and untraced halves share the same load.
   * Returns the reads and the completed reads per second: the sum over
   * threads of each thread's completed reads over the time to its last
   * reply, so the read still in flight at `stop` adds no partial interval. */
  def loop(threads: Int, stop: AtomicBoolean, from: Int): (Seq[ReadSample], Double) = {
    val next = new AtomicInteger(from)
    val samples = new ConcurrentLinkedQueue[ReadSample]()
    val rates = new ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    val workers = (0 until threads).map { _ =>
      val th = new Thread(() => {
        var ok = 0
        while (!stop.get()) {
          val q = reqs(next.getAndIncrement() % reqs.size)
          // whole mix cycles alternate, so both halves see the same mix
          val s = execute(q, traced = tracer.isDefined && q.cycle % 2 == 1)
          samples.add(s)
          if (s.ok) ok += 1
        }
        rates.add(ok / ((System.nanoTime() - t0) / 1e9))
      })
      th.setDaemon(true)
      th.start()
      th
    }
    workers.foreach(_.join())
    (samples.asScala.toSeq, rates.asScala.sum)
  }
}

object Reader {
  implicit val fmt: Formats = DefaultFormats
  private val failures = new AtomicInteger(0)

  def noteFailure(q: Req, e: Throwable): Unit =
    if (failures.incrementAndGet() <= 5)
      System.err.println(s"[bench] read ${q.i} (${q.family}) failed: $e")

  def rowsOf(reply: String): Int = {
    val j = JsonMethods.parse(reply)
    (j \ "results") match {
      case JArray(xs) if xs.nonEmpty => xs.size
      case _ => (j \ "groupedResults" \ "groups") match {
        case JArray(gs) => gs.size
        case _ => if ((j \ "singleResult") != JNothing) 1 else 0
      }
    }
  }

  def resultIds(reply: String): Seq[Long] =
    (JsonMethods.parse(reply) \ "results").children.map(r =>
      (r \ "properties" \ "nonRefProperties" \ "doc_id") match {
        case JNothing => (r \ "properties" \ "doc_id").extract[Long]
        case v => v.extract[Long]
      })
}

/** Plain-Scala recomputation of the served answers, for the output checks. */
final class Oracle(spark: SparkSession, collectionPath: String) {
  import org.apache.spark.sql.functions.col
  private val rows = spark.read.parquet(collectionPath)
    .select(col("doc_id"), col("category"), col("price"), col("rating"),
      col("published").cast("long").as("published_s"), col("vec"))
    .collect()
  val ids: Array[Long] = rows.map(_.getLong(0))
  val category: Array[String] = rows.map(_.getString(1))
  val price: Array[Double] = rows.map(_.getDouble(2))
  val rating: Array[Long] = rows.map(_.getLong(3))
  val publishedS: Array[Long] = rows.map(_.getLong(4))
  val vecs: Array[Array[Float]] = rows.map(_.getSeq[Float](5).toArray)
  private val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))

  /** Exact cosine top-k over the rows `allow` admits. */
  def topK(q: Array[Float], k: Int, allow: Int => Boolean): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    ids.indices.filter(allow).map { i =>
      var dot = 0.0; var j = 0
      while (j < q.length) { dot += q(j) * vecs(i)(j).toDouble; j += 1 }
      (1.0 - dot / (qn * norms(i)), ids(i))
    }.sortBy(identity).take(k).map(_._2)
  }
}

/** Output checks of the serve mix: each compares the reply the client got
 * with an answer recomputed outside the program. */
object ReadChecks {
  implicit val fmt: Formats = DefaultFormats
  val MinRecall = 0.9

  def run(g: Graft, kept: Seq[(Req, String)], oracle: Oracle): Seq[String] = {
    val errors = ArrayBuffer.empty[String]
    val byFamily = kept.groupBy(_._1.family)
    DocCollection.Families.foreach { f =>
      if (!byFamily.contains(f)) errors += s"no $f read completed"
    }
    def vecOf(q: Req) = (q.raw \ "vector").extract[Seq[Double]].map(_.toFloat).toArray

    for ((fam, allow) <- Seq[(String, Req => Int => Boolean)](
        "vector" -> (_ => _ => true),
        "vector_where" -> (q => { val c = (q.raw \ "category").extract[String]
                                  i => oracle.category(i) == c }))) {
      val recalls = byFamily.getOrElse(fam, Nil).map { case (q, reply) =>
        val want = oracle.topK(vecOf(q), (q.raw \ "k").extract[Int], allow(q)).toSet
        val got = Reader.resultIds(reply)
        if (got.size != want.size) errors += s"$fam read ${q.i}: ${got.size} hits, want ${want.size}"
        got.count(want).toDouble / math.max(1, want.size)
      }
      if (recalls.nonEmpty && Stats.mean(recalls) < MinRecall)
        errors += f"$fam recall@k ${Stats.mean(recalls)}%.3f below $MinRecall"
    }

    byFamily.getOrElse("bm25", Nil).foreach { case (q, reply) =>
      val got = (JsonMethods.parse(reply) \ "results").children.map(r =>
        (r \ "properties" \ "nonRefProperties" \ "doc_id").extract[Long] ->
          (r \ "metadata" \ "score").extract[Double])
      val scan = Bm25Search.search(g.collection(DocCollection.Name),
          Bm25((q.raw \ "query").extract[String], Seq("body")), (q.raw \ "k").extract[Int])
        .select("doc_id", Bm25Search.ScoreCol).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val same = got.size == scan.size && got.zip(scan).forall { case ((a, x), (b, y)) =>
        a == b && math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)) }
      if (!same) errors += s"bm25 read ${q.i}: postings $got != scan $scan"
    }

    byFamily.getOrElse("where_sort", Nil).foreach { case (q, reply) =>
      val minPrice = (q.raw \ "min_price").extract[Double]
      val beforeS = (q.raw \ "before_us").extract[Long] / 1000000L
      val k = (q.raw \ "k").extract[Int]
      val want = oracle.ids.indices
        .filter(i => oracle.price(i) > minPrice && oracle.publishedS(i) < beforeS)
        .map(oracle.price).sorted.take(k)
      val got = (JsonMethods.parse(reply) \ "results").children.map(r =>
        (r \ "properties" \ "nonRefProperties" \ "price").extract[Double])
      if (got != want) errors += s"where_sort read ${q.i}: prices $got != $want"
    }

    byFamily.getOrElse("aggregate", Nil).foreach { case (q, reply) =>
      val r = (q.raw \ "min_rating").extract[Int]
      val want = oracle.ids.indices.filter(i => oracle.rating(i) > r)
        .groupBy(oracle.category).map { case (c, is) => c -> is.size.toLong }
      val got = (JsonMethods.parse(reply) \ "groupedResults" \ "groups").children.map { gr =>
        (gr \ "groupedBy" \ "text").extract[String] -> (gr \ "objectsCount").extract[String].toLong
      }.toMap
      if (got != want) errors += s"aggregate read ${q.i}: groups $got != $want"
    }
    errors.toSeq
  }
}
