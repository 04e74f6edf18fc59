package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Collection
import graft.model.{Metric, NearVector}
import graft.operators.VectorSearch

/**
 * IVF (inverted-file) vector index: a batch-built side table replacing the
 * reference's online HNSW graph (SURVEY §4 — "index acceleration is a
 * batch-built side table + planner choice").
 *
 * Build: [[KMeansTrainer]] learns `nlist` coarse centroids on the driver
 * from a hash-picked sample of at most 256·nlist vectors (the quantizer —
 * analogous to the PQ codebook training in the reference's
 * compressionhelpers); every row is assigned its `replicas` nearest centroids
 * (replicas > 1 is the multi-probe recall lever for near-uniform data: the
 * probed candidate set is a strict superset of the replicas=1 set), and the
 * assignment is persisted `partitionBy("__centroid")` when `persistPath` is
 * given, so probing is genuine parquet partition pruning.
 *
 * Search: the query ranks centroids driver-side (nlist is tiny), then scans
 * only the `nprobe` best partitions — at 100 TB this reads nprobe/nlist of
 * the data instead of all of it. Exact distance + TopK inside the probed
 * subset gives the usual IVF recall (tunable via nprobe; recall ≥ 0.9
 * asserted in AnnSpec mirroring the reference's compress_recall_test.go:144).
 */
final case class IvfIndex(
    centroids: Array[(Int, Array[Double])],
    assigned: DataFrame, // original columns + __centroid (replicated rows when replicas > 1)
    vecCol: String,
    idCol: String,
    replicas: Int = 1,
    defaultNprobe: Int = 1,
    persistPath: Option[String] = None,
    appendsSinceCheckpoint: Int = 0,
    dynamicProbe: Option[DynamicProbeConfig] = None,
    filterStrategy: FilterStrategy = FilterStrategy.Sweeping,
    acornFilterRatio: Double = 0.4,
    // Some(f): replica lists are RNG-selected (hfresh/SPFresh posting
    // assignment, rng.go:16-69) instead of plain nearest-r — see
    // IvfIndex.build's scaladoc
    rngFactor: Option[Double] = None) {

  /** Total assigned rows — counted once, lazily (the build already scanned
   * the data, and the count feeds only the dynamic-probe mean list size). */
  lazy val assignedRows: Long = assigned.count()

  /** Distinct document count — the per-document denominator for filter
   * density. assignedRows counts replica-exploded rows, and a plain divide
   * by `replicas` over-corrects under RNG assignment (rng.go replication is
   * selective: most interior vectors keep fewer than `replicas` lists), so
   * count the ids exactly — once, lazily, and only when replicated. */
  lazy val docRows: Long =
    if (replicas <= 1) assignedRows
    else math.max(1L, assigned.select(org.apache.spark.sql.functions.col(idCol)).distinct().count())

  /**
   * The reference's dynamic-ef policy mapped onto IVF probes (vector/hnsw/
   * search.go:46-76, defaults entities/vectorindex/hnsw/config.go:29-32:
   * ef = clamp(k·factor, efMin, efMax), raised to k when k is larger —
   * "let Weaviate pick" when the user sets no explicit breadth). The IVF
   * translation: ef is the candidate budget, so probe enough posting lists
   * to expect ≥ ef candidates — probes = ceil(ef / mean list size), clamped
   * to [1, nlist]. Opt-in via `dynamicProbe`; otherwise `defaultNprobe`
   * (exactly like an explicit ef > 0 in the reference).
   */
  def dynamicNprobe(k: Int): Int = dynamicProbe match {
    case None => defaultNprobe
    case Some(cfg) =>
      var ef = k * cfg.factor
      if (ef > cfg.efMax) ef = cfg.efMax
      if (ef < cfg.efMin) ef = cfg.efMin
      if (k > ef) ef = k // otherwise results would get cut off early
      val meanList = math.max(1L, math.round(assignedRows.toDouble / centroids.length))
      math.min(centroids.length, math.max(1, math.ceil(ef.toDouble / meanList).toInt))
  }

  /**
   * ACORN probe widening (IVF translation of the filter-aware graph walk,
   * hnsw/search.go:226-293): a probe at breadth `base` intersected with an
   * allowlist of density `ratio` yields ~ratio of the normal candidates, so
   * widen to base/ratio lists (capped at nlist) to restore the expected
   * allowed-candidate count. The reference gate applies verbatim: dense
   * filters (ratio > acornFilterRatio) stay at sweeping breadth, and the
   * strategy itself is per-index opt-in.
   */
  def acornProbes(base: Int, allowCount: Long): Int = filterStrategy match {
    case FilterStrategy.Sweeping => base
    case FilterStrategy.Acorn =>
      // density is per DOCUMENT: assignedRows counts replica-exploded rows
      // (see docRows — an exact distinct count, since dividing by `replicas`
      // misreads RNG-assigned indexes where effective replication < replicas)
      val ratio = allowCount.toDouble / docRows
      if (ratio > acornFilterRatio) base
      else math.min(centroids.length,
        math.max(base, math.ceil(base / math.max(ratio, 1.0 / centroids.length)).toInt))
  }

  /** Rank centroids by distance to the query (driver-side, nlist entries). */
  def rankCentroids(query: Array[Float]): Array[Int] = {
    val q = query.map(_.toDouble)
    centroids.map { case (cid, c) =>
      var d = 0.0; var i = 0
      while (i < q.length) { val t = c(i) - q(i); d += t * t; i += 1 }
      (cid, d)
    }.sortBy(_._2).map(_._1)
  }

  /** IVF search: probe the nprobe nearest centroid partitions, exact top-k. */
  def search(query: Array[Float], k: Int, metric: Metric, nprobe: Int): DataFrame = {
    VectorSearch.withDistance(probedSubset(query, nprobe), vecCol, query, metric)
      .orderBy(col(VectorSearch.DistanceCol).asc, col(idCol).asc)
      .limit(k)
      .drop("__centroid")
  }

  /**
   * Filtered IVF search: probe the nprobe nearest centroid partitions, keep
   * only rows whose id survives the where-filter (allowlist semi-join), exact
   * top-k inside that intersection. This is the large-allowlist arm of the
   * reference's flatSearchCutoff decision (vector/hnsw/flat_search.go:27 —
   * brute-force the allowlist only when it is SMALL; otherwise walk the index
   * and post-filter): at 100 TB a weak filter must not force a full scan.
   * The data side stays parquet-partition-pruned; the allowlist join is keyed
   * on the id column (no broadcast assumption — the allowlist is large by
   * definition on this path).
   */
  def searchFiltered(query: Array[Float], k: Int, metric: Metric, nprobe: Int,
                     allowIds: DataFrame): DataFrame = {
    val allowed = probedSubset(query, nprobe)
      .join(allowIds.select(col(idCol)), Seq(idCol), "left_semi")
    VectorSearch.withDistance(allowed, vecCol, query, metric)
      .orderBy(col(VectorSearch.DistanceCol).asc, col(idCol).asc)
      .limit(k)
      .drop("__centroid")
  }

  /**
   * Assign-only incremental update: new rows are assigned to the EXISTING
   * trained centroids (the codegen'd NearestCentroids kernel) and appended to
   * the index layout — no KMeans refit, no rewrite of the standing posting
   * lists. This is the Spark shape of the reference's async vector-index
   * queue (adapters/repos/db/vector_index_queue.go): ingest is decoupled
   * from index *training*; only the cheap assignment runs per batch. At
   * 100 TB a refit is an offline batch job (IvfIndex.build again); until
   * then appended rows land in the right posting-list partition and are
   * immediately probe-visible. Centroid drift under distribution shift is
   * the caller's rebuild trigger, as with the reference's dynamic index
   * (vector/dynamic/index.go).
   */
  def append(newRows: DataFrame): IvfIndex = {
    val centers = centroids.sortBy(_._1).map(_._2)
    val assigned0 = newRows.withColumn("__centroid",
      explode(IvfIndex.assignExpr(col(vecCol), centers, replicas, rngFactor)))
    persistPath match {
      case Some(p) =>
        // appends new files inside the existing __centroid=N directories;
        // partition pruning on probe is untouched
        assigned0.write.mode("append").partitionBy("__centroid").parquet(p)
        copy(assigned = newRows.sparkSession.read.parquet(p))
      case None =>
        // memory-arm lineage guard: every 8th append truncates the growing
        // union chain (localCheckpoint), so a long-lived session appending in
        // a loop never builds an ever-deeper plan; the persisted arm (the
        // production path) re-reads parquet and has no lineage to grow
        val merged = assigned.unionByName(assigned0.repartition(col("__centroid")))
        if (appendsSinceCheckpoint >= 7)
          copy(assigned = merged.localCheckpoint(), appendsSinceCheckpoint = 0)
        else
          copy(assigned = merged, appendsSinceCheckpoint = appendsSinceCheckpoint + 1)
    }
  }

  /** Re-read the persisted layout (picks up appends from other writers,
   * e.g. the streaming maintenance job). */
  def reload(spark: org.apache.spark.sql.SparkSession): IvfIndex = {
    require(persistPath.isDefined, "reload needs a persisted index layout")
    copy(assigned = spark.read.parquet(persistPath.get))
  }

  /**
   * Posting-balance rebuild — the batch analogue of hfresh's split worker
   * (reference: adapters/repos/db/vector/hfresh/analyze.go:56-66 — a posting
   * larger than maxPostingSize enqueues a split; split.go:25-196
   * doSplit/splitPosting — the oversized posting is 2-means-clustered
   * (compressionhelpers KMeansEncoder FitBalanced) into two NEW postings
   * with fresh centroid ids, the old centroid retires, and still-oversized
   * results re-enqueue until bounded).
   *
   * Why it matters at 100×: a hot centroid under skew is a straggler
   * partition — every probe that ranks it pays O(hot-posting) instead of
   * O(mean-posting). The cap turns worst-case probe cost into
   * O(maxPostingSize · nprobe) regardless of data skew, which is the shape
   * a 1000-executor probe needs.
   *
   * Spark shape: per round, posting sizes are one hash-agg; ALL oversized
   * postings split together in one job — a deterministic Lloyd 2-means keyed
   * by __centroid (seeds: the min-id row and the row farthest from it, ties
   * to the larger id; per-dimension means via posexplode hash-agg, driver
   * holds only oversized×2×dim means). Degenerate splits (a half that
   * receives no rows — all-identical vectors) are skipped, like the
   * reference's "split resulted in empty posting" guard. Requires the plain
   * replicas=1 layout (RNG-replicated lists have their own balance rule).
   */
  def rebalance(maxPostingSize: Long, lloydIters: Int = 5, maxRounds: Int = 8): IvfIndex = {
    require(replicas == 1, "rebalance supports unreplicated layouts (replicas = 1)")
    var cur = this
    var frozen = Set.empty[Int]
    var round = 0
    while (round < maxRounds) {
      val sizes = cur.assigned.groupBy(col("__centroid")).count().collect()
        .map(r => (r.getAs[Number]("__centroid").intValue(), r.getLong(1)))
      val oversized = sizes.collect {
        case (cid, n) if n > maxPostingSize && !frozen(cid) => cid
      }.toSet
      if (oversized.isEmpty) return cur
      val (next, degenerate) = IvfIndex.splitPostings(cur, oversized, lloydIters)
      cur = next
      frozen ++= degenerate
      round += 1
    }
    cur
  }

  /** Current posting-list sizes (centroid id → row count) — nlist-bounded. */
  def postingSizes(): Map[Int, Long] =
    assigned.groupBy(col("__centroid")).count().collect()
      .map(r => r.getAs[Number]("__centroid").intValue() -> r.getLong(1)).toMap

  private def probedSubset(query: Array[Float], nprobe: Int): DataFrame = {
    val probes = rankCentroids(query).take(nprobe).toSeq
    val subset = assigned.filter(col("__centroid").isin(probes: _*))
    // replicated assignments can surface the same row from several probed
    // lists — deduplicate on id (rows are identical apart from __centroid)
    if (replicas > 1) subset.dropDuplicates(Seq(idCol)) else subset
  }
}

/** Dynamic-probe knobs — the reference's dynamicEfFactor/Min/Max defaults
 * (entities/vectorindex/hnsw/config.go:29-32). */
final case class DynamicProbeConfig(factor: Int = 8, efMin: Int = 100, efMax: Int = 500)

/**
 * Filtered-search strategy (reference: hnsw/search.go:38-44 SWEEPING/ACORN,
 * configured per index via `filterStrategy` — entities/vectorindex/hnsw/
 * config.go FilterStrategySweeping/Acorn). SWEEPING searches at the normal
 * breadth and intersects with the allowlist; ACORN widens the search in
 * proportion to the filter's selectivity so the expected number of ALLOWED
 * candidates matches an unfiltered search — but only when the filter is
 * actually selective (allowlist fraction ≤ acornFilterRatio, default 0.4 —
 * search.go:206-218, usecases/config/environment.go:46); dense filters fall
 * back to sweeping exactly like the reference gate.
 */
sealed trait FilterStrategy
object FilterStrategy {
  case object Sweeping extends FilterStrategy
  case object Acorn extends FilterStrategy
}

object IvfIndex {

  /**
   * Train the coarse quantizer (one sample job, then driver-side k-means —
   * see [[KMeansTrainer]]; fewer than `nlist` centroids when the sample holds
   * fewer distinct vectors) and assign every row to its `replicas` nearest
   * centroids. With `persistPath` the assignment is written
   * `partitionBy("__centroid")` and read back, so `__centroid` becomes a
   * physical partition column and probing prunes partitions at the source.
   */
  def build(df: DataFrame, idCol: String, vecCol: String,
            nlist: Int, seed: Long = 42L, replicas: Int = 1,
            defaultNprobe: Int = 1,
            persistPath: Option[String] = None,
            rngFactor: Option[Double] = None): IvfIndex = {
    require(replicas >= 1 && replicas <= nlist, "replicas must be in [1, nlist]")
    val centers = KMeansTrainer.train(df, col(idCol), col(vecCol), nlist, seed)
    // top-r nearest (or RNG-selected, hfresh/SPFresh rng.go) centroids per
    // row via a codegen'd kernel — one pass, centroid table rides in the
    // serialized plan, no boxed UDF in the stage
    val assigned0 = df.withColumn("__centroid",
      explode(assignExpr(col(vecCol), centers, replicas, rngFactor)))
    val assigned = persistPath match {
      case Some(p) =>
        // 100 TB layout: one directory per posting list; isin(probes) becomes
        // PartitionFilters on the scan (asserted in AnnSpec)
        assigned0.write.mode("overwrite").partitionBy("__centroid").parquet(p)
        df.sparkSession.read.parquet(p)
      case None =>
        assigned0.repartition(col("__centroid"))
    }
    val cents = centers.zipWithIndex.map { case (c, i) => (i, c) }
    IvfIndex(cents, assigned, vecCol, idCol, replicas, defaultNprobe, persistPath,
      rngFactor = rngFactor)
  }

  /** Posting-list assignment kernel: plain nearest-r, or RNG replica
   * selection when `rngFactor` is set (the hfresh/SPFresh rule — boundary
   * vectors replicate into well-separated lists, interior vectors keep a
   * single list; rng.go:16-69, DefaultRNGFactor = 10). */
  private[ann] def assignExpr(vec: org.apache.spark.sql.Column,
                              centers: Array[Array[Double]],
                              replicas: Int,
                              rngFactor: Option[Double]): org.apache.spark.sql.Column =
    rngFactor match {
      case Some(f) =>
        org.apache.spark.sql.graft.VectorFunctions
          .rngSelectCentroids(vec, centers, replicas, f)
      case None =>
        org.apache.spark.sql.graft.VectorFunctions
          .nearestCentroids(vec, centers, replicas)
    }

  /**
   * One split round over every oversized posting (split.go splitPosting —
   * here a shared deterministic Lloyd 2-means; see IvfIndex.rebalance).
   * Returns the rewritten index plus the set of postings whose split
   * degenerated (skipped like the reference's empty-posting guard).
   */
  private[ann] def splitPostings(ix: IvfIndex, oversized: Set[Int],
                                 lloydIters: Int): (IvfIndex, Set[Int]) = {
    import org.apache.spark.sql.graft.VectorFunctions
    val spark = ix.assigned.sparkSession
    val vec = col(ix.vecCol)
    val big = ix.assigned.filter(col("__centroid").isin(oversized.toSeq: _*))

    // driver-held seeds/means: one (s0, s1) float pair per oversized posting
    def seedsDf(m: Map[Int, (Array[Float], Array[Float])]): DataFrame = {
      import spark.implicits._
      m.toSeq.map { case (cid, (s0, s1)) => (cid, s0.toSeq, s1.toSeq) }
        .toDF("__centroid", "__s0", "__s1")
        .select(col("__centroid"),
          col("__s0").cast("array<float>").as("__s0"),
          col("__s1").cast("array<float>").as("__s1"))
    }

    // seed0 = the min-id row's vector; seed1 = the row farthest from seed0
    // (ties to the larger id) — deterministic, no RNG in the layout
    val s0 = big.groupBy(col("__centroid"))
      .agg(expr(s"min_by(${ix.vecCol}, ${ix.idCol})").as("__v")).collect()
      .map(r => r.getAs[Number]("__centroid").intValue() ->
        r.getSeq[Float](1).toArray).toMap
    val s0df = s0.toSeq.map { case (cid, v) => (cid, v.toSeq) }
    val s0frame = {
      import spark.implicits._
      s0df.toDF("__centroid", "__s0")
        .select(col("__centroid"), col("__s0").cast("array<float>").as("__s0"))
    }
    val s1 = big.join(broadcast(s0frame), "__centroid")
      .withColumn("__d0", VectorFunctions.l2Squared(vec, col("__s0")))
      .groupBy(col("__centroid"))
      .agg(expr(s"max_by(${ix.vecCol}, struct(__d0, ${ix.idCol}))").as("__v")).collect()
      .map(r => r.getAs[Number]("__centroid").intValue() ->
        r.getSeq[Float](1).toArray).toMap

    var means: Map[Int, (Array[Float], Array[Float])] =
      s0.map { case (cid, v) => cid -> (v, s1(cid)) }
    var degenerate = Set.empty[Int]
    for (_ <- 1 to lloydIters) {
      val live = means -- degenerate
      if (live.nonEmpty) {
        val halves = big.filter(col("__centroid").isin(live.keys.toSeq: _*))
          .join(broadcast(seedsDf(live)), "__centroid")
          .withColumn("__half",
            when(VectorFunctions.l2Squared(vec, col("__s0")) <=
                 VectorFunctions.l2Squared(vec, col("__s1")), 0).otherwise(1))
        val dims = halves.select(col("__centroid"), col("__half"),
            posexplode(vec).as(Seq("__pos", "__x")))
          .groupBy(col("__centroid"), col("__half"), col("__pos"))
          .agg(avg(col("__x")).as("__m")).collect()
        val grouped = dims.groupBy(r => r.getAs[Number]("__centroid").intValue())
        means = means.map { case (cid, old) =>
          grouped.get(cid) match {
            case None => cid -> old
            case Some(rows) =>
              val byHalf = rows.groupBy(_.getInt(1))
              if (byHalf.size < 2) { degenerate += cid; cid -> old }
              else {
                def mean(h: Int): Array[Float] = byHalf(h).sortBy(_.getInt(2))
                  .map(_.getDouble(3).toFloat)
                cid -> (mean(0), mean(1))
              }
          }
        }
      }
    }

    val splitOk = (oversized -- degenerate).toSeq.sorted
    if (splitOk.isEmpty) return (ix, degenerate)
    val base = ix.centroids.map(_._1).max + 1
    val childIds = splitOk.zipWithIndex
      .map { case (cid, k) => cid -> (base + 2 * k, base + 2 * k + 1) }.toMap

    val mapped = seedsDf(means.filter { case (cid, _) => childIds.contains(cid) })
      .withColumn("__id0", element_at(
        map(childIds.toSeq.flatMap { case (c, (a, _)) => Seq(lit(c), lit(a)) }: _*),
        col("__centroid")))
      .withColumn("__id1", element_at(
        map(childIds.toSeq.flatMap { case (c, (_, b)) => Seq(lit(c), lit(b)) }: _*),
        col("__centroid")))
    val reassigned = big.filter(col("__centroid").isin(splitOk: _*))
      .join(broadcast(mapped), "__centroid")
      .withColumn("__newc",
        when(VectorFunctions.l2Squared(vec, col("__s0")) <=
             VectorFunctions.l2Squared(vec, col("__s1")), col("__id0"))
          .otherwise(col("__id1")))
      .drop("__centroid", "__s0", "__s1", "__id0", "__id1")
      .withColumnRenamed("__newc", "__centroid")
      .select(ix.assigned.columns.map(col): _*)
    val merged = ix.assigned.filter(!col("__centroid").isin(splitOk: _*))
      .unionByName(reassigned)

    val newCentroids =
      ix.centroids.filterNot { case (cid, _) => childIds.contains(cid) } ++
        splitOk.flatMap { cid =>
          val (a, b) = childIds(cid)
          val (m0, m1) = means(cid)
          Seq((a, m0.map(_.toDouble)), (b, m1.map(_.toDouble)))
        }

    val rewritten = ix.persistPath match {
      case Some(p) =>
        // rewrite the partitioned layout so probing stays partition pruning;
        // the tmp copy exists only because `merged` still reads from p (an
        // in-place overwrite would scan its own output) — delete it after
        // the copy-back or every rebalance leaks a whole-table-sized directory
        val tmp = p + ".rebalance"
        merged.write.mode("overwrite").partitionBy("__centroid").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite")
          .partitionBy("__centroid").parquet(p)
        val tmpPath = new org.apache.hadoop.fs.Path(tmp)
        tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(tmpPath, true)
        spark.read.parquet(p)
      case None =>
        // truncate the per-round union lineage (bounded: maxRounds)
        merged.repartition(col("__centroid")).localCheckpoint()
    }
    (ix.copy(centroids = newCentroids, assigned = rewritten), degenerate)
  }

  /**
   * Planner choice (the analogue of the reference's flatSearchCutoff/ACORN
   * decision, entities/vectorindex/hnsw/config.go:34-39): the index serves
   * plain top-k on its own vector column; with a where-filter the decision
   * follows the reference's flatSearchCutoff — a SMALL allowlist (count below
   * the cutoff, or no count hint available) is brute-forced exactly like the
   * reference brute-forces small allowlists instead of walking the graph,
   * while a LARGE allowlist (weak filter) probes the index and intersects
   * (searchFiltered), so a 99%-selectivity filter never forces a full scan.
   * Multi-target combinations are index-served when EVERY requested target
   * has a registered index on its vector column (multiTargetSearch below —
   * the reference likewise requires an index per target, shard_read.go:
   * 668-672 "index for target vector not found" is an error there).
   * Thresholds (radius semantics need every row) and unlimited search always
   * take the brute-force scan.
   */
  def searchOrScan(c: Collection, index: Option[IvfIndex], params: NearVector,
                   limit: Option[Int], filtered: Option[DataFrame],
                   nprobe: Option[Int] = None,
                   filteredCountHint: Option[Long] = None,
                   flatSearchCutoff: Long = 40000L): DataFrame = {
    val hasThreshold = params.distance.orElse(params.certainty).isDefined
    val targets =
      if (params.targetVectors.nonEmpty) params.targetVectors
      else c.schema.defaultVector.toSeq
    val servesTarget = index.exists { ix =>
      targets.size == 1 && c.schema.vectors.get(targets.head).contains(ix.vecCol)
    }
    // per-target index resolution for the multi-target arm: all-or-nothing —
    // a partially indexed target set falls back to the exact scan
    val multiIdx: Option[Seq[IvfIndex]] =
      if (targets.size > 1) {
        val resolved = targets.map(t =>
          c.vectorIndexes.get(t).filter(ix => c.schema.vectors.get(t).contains(ix.vecCol)))
        if (resolved.forall(_.isDefined)) Some(resolved.map(_.get)) else None
      } else None
    // MaxSim (multi-vector) query positions can't probe a single-vector IVF
    // layout — those searches take the exact scan
    val indexable = servesTarget && !hasThreshold && limit.isDefined && !params.hasMultiQuery
    val multiIndexable = multiIdx.isDefined && !hasThreshold && limit.isDefined && !params.hasMultiQuery
    (filtered, filteredCountHint) match {
      case (None, _) if indexable =>
        index.get.search(params.queryFor(0), limit.get, params.metric,
          nprobe.getOrElse(index.get.dynamicNprobe(limit.get)))
      case (Some(allow), Some(n)) if indexable && n >= flatSearchCutoff =>
        val base = nprobe.getOrElse(index.get.dynamicNprobe(limit.get))
        index.get.searchFiltered(params.queryFor(0), limit.get, params.metric,
          index.get.acornProbes(base, n), allow.select(col(index.get.idCol)))
      case (None, _) if multiIndexable =>
        multiTargetSearch(c, targets, multiIdx.get, params, limit.get, None, nprobe, None)
      case (Some(allow), Some(n)) if multiIndexable && n >= flatSearchCutoff =>
        multiTargetSearch(c, targets, multiIdx.get, params, limit.get, Some(allow), nprobe,
          Some(n))
      case _ =>
        VectorSearch.nearVector(c, params, params.metric, limit, filtered)
    }
  }

  /**
   * Multi-target search served from per-target index probes (reference:
   * shard_read.go:655-752 — each target's own vector index is searched with
   * the full limit in parallel — then CombineMultiTargetResults,
   * shard_combine_multi_target.go:89-260 — union the candidate ids, backfill
   * every pool member's distance for every target, combine, truncate).
   *
   * Spark shape: each per-target probe is a partition-pruned scan of that
   * index's layout reading nprobe/nlist of the data (the per-target searches
   * are independent branches of one lazy plan — Spark's scheduler runs their
   * stages concurrently, the analogue of the reference's errgroup fan-out);
   * the candidate union is ≤ targets×k FULL rows, which carry every vector
   * column, so the backfill is a codegen'd distance expression over that
   * bounded pool — no re-fetch of the collection, where the reference pays a
   * VectorDistanceForQuery lookup per missing id. At 100 TB this replaces
   * `targets` full scans with `targets` pruned probes + an O(targets·k)
   * combine.
   */
  def multiTargetSearch(c: Collection, targets: Seq[String], idxs: Seq[IvfIndex],
                        params: NearVector, k: Int, allow: Option[DataFrame],
                        nprobe: Option[Int] = None,
                        allowCount: Option[Long] = None): DataFrame = {
    val idCol = idxs.head.idCol
    val pool = targets.indices.map { i =>
      val ix = idxs(i)
      // same probe policy as the single-target arms: a per-index dynamic-ef
      // breadth unless the caller pinned nprobe, widened by ACORN under a
      // selective filter (the bare defaultNprobe here silently collapsed
      // recall on dynamically-probed indexes)
      val base = nprobe.getOrElse(ix.dynamicNprobe(k))
      val np = (allow, allowCount) match {
        case (Some(_), Some(n)) => ix.acornProbes(base, n)
        case _ => base
      }
      // each target probed with ITS OWN query vector (searchVectors[i],
      // shard_read.go:675)
      val hits = allow match {
        case Some(a) => ix.searchFiltered(params.queryFor(i), k, params.metric, np,
          a.select(col(ix.idCol)))
        case None => ix.search(params.queryFor(i), k, params.metric, np)
      }
      // keep the FULL candidate rows (the index layout is the original df +
      // __centroid; search() already dropped __centroid) — they carry every
      // target's vector column for the backfill step
      hits.drop(VectorSearch.DistanceCol)
    }.reduce(_ unionByName _).dropDuplicates(Seq(idCol))
    VectorSearch.combineOverPool(c, pool, targets, params, Some(k))
  }
}
