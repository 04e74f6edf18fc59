package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One closed interval of work: a layer call made by the harness, or a Spark
 * job the listener attributed to such a call (`parent` = the span whose job
 * group the job ran under). Spans of one request share `request`. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Counters of the Spark jobs that ran under one span's job group. */
final class JobCounters {
  var jobs, stages, tasks = 0L
  var schedWaitMs, runMs, cpuMs, inputBytes, recordsRead, shuffleBytes, spillBytes, gcMs = 0.0
}

/**
 * In-memory span recorder. `span` wraps one call into a layer: it records
 * name, start, end, parent and request id, and runs the body under a job
 * group of its own so the listener can charge the body's Spark jobs to it.
 * Nothing is written until the run ends; an untraced run creates no spans
 * and registers no listener.
 */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val GroupPrefix = "bench-span-"

  def newRequest(): Long = ids.incrementAndGet()

  /** Id of the innermost open span on this thread (0 outside any span). */
  def currentSpan: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  def span[T](name: String, request: Long = -1L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val req = if (request >= 0) request else outer.headOption.map(_._2).getOrElse(id)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(GroupPrefix + id, name)
    stack.set((id, req) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
      spans.add(Span(id, name, parent, req, t0, t1))
    }
  }

  // ---- listener side: jobs → spans ------------------------------------------------
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  val counters = mutable.Map.empty[Long, JobCounters]
  /** Jobs of streaming queries, keyed by query id. */
  val streamCounters = mutable.Map.empty[String, JobCounters]
  /** Spark jobs as child intervals of the span that launched them. */
  val jobSpans = new ConcurrentLinkedQueue[Span]()
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val DrainGroup = "bench-drain"
  private val drainJobs = mutable.Set.empty[Int]
  private val drains = new AtomicLong(0)

  /** Wait until the listener has seen every event posted so far: the bus
   * delivers in order, so once a marker job's end arrives, all is counted. */
  def drain(): Unit = {
    val before = drains.get()
    sc.setJobGroup(DrainGroup, "drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (drains.get() == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def ownerOf(props: java.util.Properties): Either[String, Long] = {
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val query = Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    group.filter(_.startsWith(GroupPrefix)).map(g => Right(g.stripPrefix(GroupPrefix).toLong))
      .orElse(query.map(Left(_)))
      .getOrElse(Right(0L))
  }

  private def countersFor(owner: Either[String, Long]): JobCounters = owner match {
    case Left(q) => streamCounters.getOrElseUpdate(q, new JobCounters)
    case Right(s) => counters.getOrElseUpdate(s, new JobCounters) // 0: no span
  }
  private val jobOwner = mutable.Map.empty[Int, Either[String, Long]]
  private val stageOwner = mutable.Map.empty[Int, Either[String, Long]]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val owner = ownerOf(e.properties)
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == DrainGroup))
        drainJobs += e.jobId
      jobOwner(e.jobId) = owner
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageOwner(s) = owner)
      val c = countersFor(owner)
      c.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (drainJobs.remove(e.jobId)) drains.incrementAndGet()
      (jobOwner.remove(e.jobId), jobStart.remove(e.jobId)) match {
        case (Some(Right(s)), Some(t0)) if s != 0L =>
          jobSpans.add(Span(-e.jobId, "spark.exec.job", s, -1L,
            t0 * 1000000L + nanoOffset, e.time * 1000000L + nanoOffset))
        case _ =>
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val owner = stageOwner.getOrElse(e.stageInfo.stageId, Right(0L))
      countersFor(owner).stages += 1
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSubmit.remove(e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = countersFor(stageOwner.getOrElse(e.stageId, Right(0L)))
      c.tasks += 1
      val info = e.taskInfo
      val m = e.taskMetrics
      // time the task waited between its stage's submission and its launch
      stageSubmit.get(e.stageId).foreach(t => c.schedWaitMs += math.max(0L, info.launchTime - t))
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
  }

  // ---- streaming side: per-batch progress → streaming.* --------------------------
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.id)
  }

  /** Progress of every batch of a stopped query that read input. The bus
   * delivers one query's events in order, so once its termination has
   * arrived, so has every batch's progress. */
  def batchesOf(query: java.util.UUID): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 30000000000L
    while (!terminated.contains(query) && System.nanoTime() < deadline) Thread.sleep(5)
    progress.asScala.toSeq.filter(p => p.id == query && p.numInputRows > 0)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq ++ jobSpans.asScala.toSeq

  /** Self time of every span: its duration minus the part of it that its
   * child spans (and the Spark jobs it launched) cover. */
  def selfMs: Map[Long, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    spans.asScala.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Counters of a span and all its descendants. */
  def subtreeCounters(root: Long): JobCounters = synchronized {
    val kids = spans.asScala.toSeq.groupBy(_.parent)
    val acc = new JobCounters
    def walk(id: Long): Unit = {
      counters.get(id).foreach { c =>
        acc.jobs += c.jobs; acc.stages += c.stages; acc.tasks += c.tasks
        acc.schedWaitMs += c.schedWaitMs; acc.runMs += c.runMs; acc.cpuMs += c.cpuMs
        acc.inputBytes += c.inputBytes; acc.recordsRead += c.recordsRead
        acc.shuffleBytes += c.shuffleBytes; acc.spillBytes += c.spillBytes
        acc.gcMs += c.gcMs
      }
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    }
    walk(root)
    acc
  }

  /** All spans as JSON lines, for offline inspection. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}
