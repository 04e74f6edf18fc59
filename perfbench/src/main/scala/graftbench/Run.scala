package graftbench

import org.apache.spark.sql.SparkSession

/**
 * Entry point of one benchmark run:
 *   Run --workload serve_ingest|pipeline --inputs DIR --work DIR
 *       --seconds N --trace 0|1 --spans FILE [--setup-only 1]
 * Prints one line `BENCH_RESULT {json}` with every metric the workload
 * measured; `run.py` turns it into the benchmark's result line. With
 * `--setup-only 1` the workload stops after set-up: the build uses that to
 * record which classes the JVM loads.
 */
object Run {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.get("trace").contains("1")
    val (spark, sessionS) = Stats.timedS(graft.Fixtures.spark())
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.listener)
      spark.streams.addListener(t.streamListener)
    }
    val ctx = Ctx(spark, sessionS, opts("inputs"), opts("work"), opts("seconds").toDouble, tracer,
      setupOnly = opts.get("setup-only").contains("1"))
    val out = workload match {
      case "serve_ingest" => ServeIngest.run(ctx)
      case "pipeline" => Pipeline.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.foreach(t => opts.get("spans").foreach(t.write))
    val metrics = out.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => graft.Fixtures.jsonString(k) + ":" + Stats.jsonNum(v) }.mkString("{", ",", "}")
    println(s"""BENCH_RESULT {"correct":${out.errors.isEmpty},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$metrics,""" +
      s""""errors":${out.errors.take(20).map(graft.Fixtures.jsonString).mkString("[", ",", "]")}}""")
    spark.stop()
  }

  /** Storage memory Spark holds for cached data, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** A latency sample where a failed operation misses every limit. */
  def latencies(xs: Seq[(Double, Boolean)]): Seq[Double] =
    xs.map { case (ms, ok) => if (ok) ms else Double.PositiveInfinity }

  /** End-to-end read metrics from the untraced reads and, in a traced run,
   * the per-layer metrics from the traced ones. */
  def readMetrics(samples: Seq[ReadSample], opsPerS: Double,
                  tracer: Option[Tracer]): Map[String, Double] = {
    val plain = samples.filter(!_.traced)
    val lat = latencies(plain.map(s => s.ms -> s.ok))
    val e2e = Map(
      "read_p50_ms" -> Stats.median(lat),
      "read_p95_ms" -> Stats.p95(lat),
      "read_ops_per_s" -> opsPerS,
      "read_samples" -> plain.size.toDouble)
    val families = Map(
      "vector" -> "operators.vector.p50_ms",
      "vector_where" -> "operators.vector.filtered_p50_ms",
      "bm25" -> "operators.bm25.p50_ms",
      "hybrid" -> "operators.hybrid.p50_ms",
      "where_sort" -> "engine.filter.p50_ms",
      "aggregate" -> "operators.aggregations.p50_ms")
    val byFamily = plain.groupBy(_.family).map { case (f, xs) =>
      f -> Stats.median(latencies(xs.map(s => s.ms -> s.ok)))
    }
    val perFamily = families.map { case (f, name) => name -> byFamily.getOrElse(f, Double.NaN) }
    // Geometric mean of the six per-family medians, one weight each, as the
    // mix has one slot each: a change in any family moves it by a sixth of
    // its log, where the pooled median only sees the families around it.
    // A family without a read leaves it NaN (not measured).
    val geomean = math.exp(families.keys.toSeq
      .map(f => math.log(byFamily.getOrElse(f, Double.NaN))).sum / families.size)
    e2e ++ perFamily ++ Map("read_geomean_ms" -> geomean) ++
      tracer.map(t => traceMetrics(t, samples)).getOrElse(Map.empty)
  }

  private def traceMetrics(t: Tracer, samples: Seq[ReadSample]): Map[String, Double] = {
    t.drain()
    val traced = samples.filter(s => s.traced && s.ok)
    val reqIds = traced.map(_.request).toSet
    val spans = t.spans.toArray(Array.empty[Span]).toSeq.filter(s => reqIds(s.request))
    val self = t.selfMs
    def selfP50(name: String) = Stats.median(spans.filter(_.name == name).map(s => self(s.id)))
    val roots = spans.filter(_.name == "request")
    val per = roots.map(r => t.subtreeCounters(r.id))
    val n = per.size.toDouble
    def perRead(f: JobCounters => Double) = per.map(f).sum / n
    val graftSpans = spans.filter(_.name == "engine.graft")
    def phase(p: String) = Stats.median(traced.map(_.phases.getOrElse(p, 0.0)))
    val untracedOk = samples.filter(s => !s.traced && s.ok).map(_.ms)
    Map(
      "engine.wire.decode_ms" -> selfP50("engine.wire"),
      "engine.encode_ms" -> selfP50("engine.encode"),
      "engine.graft.build_ms" -> Stats.median(graftSpans.map(_.durMs)),
      "engine.graft.eager_jobs" ->
        graftSpans.map(s => t.subtreeCounters(s.id).jobs.toDouble).sum / graftSpans.size,
      "spark.catalyst.analysis_ms" -> phase("analysis"),
      "spark.catalyst.optimization_ms" -> phase("optimization"),
      "spark.catalyst.planning_ms" -> phase("planning"),
      "spark.exec.jobs_per_read" -> perRead(_.jobs.toDouble),
      "spark.exec.stages_per_read" -> perRead(_.stages.toDouble),
      "spark.exec.tasks_per_read" -> perRead(_.tasks.toDouble),
      "spark.exec.sched_wait_ms_per_read" -> perRead(_.schedWaitMs),
      "spark.exec.task_cpu_ms_per_read" -> perRead(_.cpuMs),
      "spark.exec.input_mb_per_read" -> perRead(_.inputBytes) / 1e6,
      "spark.exec.shuffle_mb_per_read" -> perRead(_.shuffleBytes) / 1e6,
      "spark.exec.rows_read_per_row_returned" ->
        per.map(_.recordsRead).sum / math.max(1, traced.map(_.rows).sum),
      "trace.overhead_ratio" -> Stats.median(traced.map(_.ms)) / Stats.median(untracedOk))
  }
}
