package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextHashFunctions
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.engine.Collection
import graft.model.{SearchOperator, Tokenization}
import graft.text.Tokenize
import Bm25Search.TermKey

/**
 * Materialized BM25 postings — the batch-built side table replacing the
 * reference's LSM inverted index (adapters/repos/db/inverted; term stats
 * inverted/terms/terms.go; prop-length tracker inverted/prop_length_tracker.go).
 *
 * `Bm25Search` scans and tokenizes the collection per query — right for
 * ad-hoc queries. For query-heavy workloads the postings table amortizes
 * tokenization once: one per-document (term, tf) pass + explode at build
 * time (no aggregation, no shuffle), then each query is
 * a pushdown-filtered read of a few term partitions (each posting row carries
 * its prop length, so no join back to doc lengths). At 100 TB the postings
 * table is partitioned/bucketed by term, so a query reads only its terms'
 * partitions — the Spark analogue of fetching posting lists, with the same
 * scoring math to the last bit
 * (PostingsParityProps asserts postings ≡ scan on random corpora, including
 * multi-prop boosted queries and null props).
 *
 * Scoring implements the reference's BM25F model exactly as `Bm25Search`
 * does (see that file's header for the pinned semantics + provenance):
 * boost folded into the raw frequency, frequency and DISTINCT-term prop
 * length summed across the term's same-tokenization props per doc, ONE
 * saturation with the pooled average prop length, idf over the group-union
 * doc frequency × duplicate-query-term count.
 *
 * Block-max metadata stores (max_tf, min_dl) per (term, bucket, prop) rather
 * than a pre-saturated impact: tf-saturation is increasing in tf and
 * decreasing in dl, so sat(Σ_p boost·max_tf_p, min_p min_dl_p) bounds every
 * doc's merged contribution for ANY query-time (k1, b) in the sane range and
 * ANY pooled avgLen — which keeps pruning sound both for non-default k1/b
 * queries and after incremental appends shift avgLen (the reference's
 * per-block impact stats are rebuilt by segment compaction instead,
 * terms/terms_block.go).
 */
final case class PostingsIndex(
    props: Seq[String],
    tokenizations: Seq[Tokenization],
    postings: DataFrame,   // (term, __id, __p, tf, __dl, __bucket) — __dl = the prop's DISTINCT-term count
    docLens: DataFrame,    // (__id, __dl_0 … __dl_{P-1}) — feeds nDocs/propMeans and delta
    termDf: DataFrame,     // (__g, term, df) — group-union doc frequency (BM25F idf)
    maxImpact: DataFrame,  // (term, __bucket, __p, max_tf, min_dl)
    nDocs: Long,
    propMeans: IndexedSeq[Double], // per-prop mean distinct-term count (0.0 if propless)
    idCol: String,
    buckets: Int,
    /** Store version the index was built from — the engine serves from the
     * index only while the collection still reports the same version
     * (mirrors `Bm25Search.statsCache`'s key; see Collection.version). */
    storeVersion: Long,
    /** The collection's resolved stopword set at build time: query terms on
     * Word-tokenized groups drop these (the postings themselves keep every
     * token — reference analyzer.go:178 indexes with nil stopwords). */
    stopwords: Set[String] = graft.text.Tokenize.StopwordsEn,
    /** Per-prop accent-folding flags captured at build time (Property.asciiFold). */
    folds: Seq[Boolean] = Nil) {
  private def foldAt(i: Int): Boolean = folds.lift(i).getOrElse(false)
  /** Prop indices grouped by effective analyzer (tokenization + fold). */
  lazy val groups: Seq[((Tokenization, Boolean), Seq[Int])] =
    Bm25Search.groupsOf(tokenizations.indices.map(i => (tokenizations(i), foldAt(i))))
}

object Postings {

  /** Build a postings index over one or more searchable text properties.
   * With `persistPath` the postings land as parquet partitioned by __bucket
   * and term-sorted within files — block-max pruning then IS parquet
   * partition pruning, and the per-term filter skips row groups via min/max
   * stats (the warehouse-scale layout, like IvfIndex's partition-per-
   * centroid). Without it the side tables persist in memory (tests,
   * interactive sessions). */
  def build(c: Collection, props: Seq[String], buckets: Int,
            persistPath: Option[String]): PostingsIndex = {
    require(props.nonEmpty, "postings: at least one property")
    val toks = tokenize(c, props)
    val rawPost = postingsOf(toks, props).withColumn("__bucket",
      pmod(xxhash64(col("__id")), lit(buckets)).cast("int"))
    val rawLens = docLensOf(toks, props)
    val (post, lens) = persistPath match {
      case Some(p) =>
        // one job: each task writes its rows bucket by bucket, term-sorted
        // (no shuffle; a one-partition input gives one file per bucket)
        rawPost.sortWithinPartitions("__bucket", "term")
          .write.mode("overwrite").partitionBy("__bucket").parquet(s"$p/postings")
        rawLens.write.mode("overwrite").parquet(s"$p/docLens")
        val ss = c.df.sparkSession
        (ss.read.parquet(s"$p/postings"), ss.read.parquet(s"$p/docLens"))
      case None => (rawPost.cache(), rawLens.cache())
    }
    assemble(c, props, buckets, post, lens)
  }

  def build(c: Collection, props: Seq[String], buckets: Int): PostingsIndex =
    build(c, props, buckets, None)

  def build(c: Collection, prop: String, buckets: Int = 64): PostingsIndex =
    build(c, Seq(prop), buckets)

  def build(c: Collection, props: Seq[String]): PostingsIndex =
    build(c, props, 64)

  /**
   * Incremental maintenance (the reference's async indexing queue analogue,
   * like `IvfIndex.append`): apply an upsert/delete delta without
   * re-tokenizing the standing corpus. Only the CHANGED rows are tokenized;
   * the statistics tables (termDf, maxImpact, N, propMeans) are re-aggregated
   * from the merged postings/docLens side tables — far smaller than the raw
   * text at any scale, and the only sound option for df/max/min under
   * replaced or deleted docs. Lineage is truncated per delta
   * (localCheckpoint) so a long-lived session applying many deltas doesn't
   * grow an ever-deeper plan.
   *
   * Concurrency note: the superseded index's cached frames are released
   * eagerly here. A keyword query STILL STREAMING from the old index when the
   * delta lands can fail mid-job (a localCheckpoint'd frame has no lineage to
   * recompute from) — delta application and in-flight queries must not race.
   * The engine's registration path (`Graft.applyPostingsDelta`) applies
   * deltas under the registry lock between queries; callers driving `delta`
   * directly (e.g. a streaming maintenance job) own that exclusion.
   *
   * @param c        the collection AFTER the mutation (its version becomes
   *                 the new storeVersion, so the engine routes again)
   * @param changed  full rows of upserted (new or replaced) objects
   * @param removedIds ids of deleted objects (replaced ids need not be listed)
   */
  def delta(idx: PostingsIndex, c: Collection, changed: DataFrame,
            removedIds: Option[DataFrame] = None): PostingsIndex = {
    // collapse duplicate ids within the batch (an at-least-once stream can
    // carry two versions of a doc): without this, tf would SUM across both
    // versions and docLens would count the doc twice. Which duplicate
    // wins is arbitrary on an unordered DataFrame — collapse upstream
    // (e.g. IndexMaintenance.startPostings materializes one winner for both
    // the store and the index) when last-write-wins matters.
    val changedU = changed.dropDuplicates(idx.idCol)
    val goneIds = {
      val ch = changedU.select(col(idx.idCol).as("__id"))
      removedIds.map(r => ch.unionByName(r.select(col(idx.idCol).as("__id")))).getOrElse(ch)
    }
    val newToks = tokenize(Collection(c.schema, changedU), idx.props)
    val mergedPostings = idx.postings
      .join(goneIds, Seq("__id"), "left_anti")
      .unionByName(postingsOf(newToks, idx.props).withColumn("__bucket",
        pmod(xxhash64(col("__id")), lit(idx.buckets)).cast("int")), allowMissingColumns = true)
      .localCheckpoint()
    val mergedLens = idx.docLens
      .join(goneIds, Seq("__id"), "left_anti")
      .unionByName(docLensOf(newToks, idx.props))
      .localCheckpoint()
    idx.postings.unpersist(); idx.docLens.unpersist()
    idx.termDf.unpersist(); idx.maxImpact.unpersist()
    assemble(c, idx.props, idx.buckets, mergedPostings, mergedLens)
  }

  private def tokenize(c: Collection, props: Seq[String]): DataFrame = {
    val id = c.schema.idColumn
    val modes = props.map(p => c.schema.property(p).map(_.tokenization).getOrElse(Tokenization.Word))
    val folds = props.map(p => c.schema.property(p).exists(_.asciiFold))
    val arrs = props.map(p => c.schema.property(p)
      .exists(_.dataType == graft.model.PropType.Arr(graft.model.PropType.Text)))
    c.df.select(col(id).as("__id") +: props.zip(modes.zip(folds).zip(arrs)).zipWithIndex.map {
      case ((p, ((m, f), a)), i) => Tokenize.propTokens(m, f, a)(col(p)).as(s"__toks_$i")
    }: _*)
  }

  /** Prop i's distinct (term, tf) pairs, in first-occurrence order. */
  private def termFreqs(i: Int): Column = TextHashFunctions.termFreqs(col(s"__toks_$i"))

  /** Prop length = DISTINCT-term count (reference: the prop length tracker
   * stores len(Items) — unique countables — per doc,
   * shard_write_inverted_lsm.go:251), the number of (term, tf) pairs. */
  private def propLen(pairs: Column): Column = size(pairs).cast("double")

  private def docLensOf(toks: DataFrame, props: Seq[String]): DataFrame =
    toks.select(col("__id") +: props.indices.map(i => propLen(termFreqs(i)).as(s"__dl_$i")): _*)

  /** (term, __id, __p, tf, __dl) without the bucket column, one row per
   * (term, doc, prop), exploded from each doc's (term, tf) pairs, so no
   * aggregation runs. Each row carries its prop's length so scoring and the
   * block-max stats read it in place. The pairs are exploded with
   * `explode_outer` and the outer row dropped after: for a plain `explode`
   * Spark infers size(pairs) > 0 and pushes that filter below the
   * projection, which runs the tokenizer and kernel twice more per doc. */
  private def postingsOf(toks: DataFrame, props: Seq[String]): DataFrame =
    props.indices.map { i =>
      toks.select(col("__id"), lit(i).as("__p"), termFreqs(i).as("__tf"))
        .select(col("__id"), col("__p"), propLen(col("__tf")).as("__dl"),
          explode_outer(col("__tf")).as("__pair"))
        .filter(col("__pair").isNotNull)
        .select(col("__pair.term").as("term"), col("__id"), col("__p"),
          col("__pair.tf").cast("double").as("tf"), col("__dl"))
    }.reduce(_.unionByName(_))

  /** `when`-chain mapping __p → its tokenization-group index. */
  private def groupOfProp(groups: Seq[((Tokenization, Boolean), Seq[Int])]): Column =
    groups.zipWithIndex.foldLeft(lit(-1)) { case (acc, ((_, propIdxs), g)) =>
      when(col("__p").isin(propIdxs: _*), lit(g)).otherwise(acc)
    }

  /** Stats + block-max aggregation over prepared postings/docLens frames.
   * `postings` may or may not already carry __bucket (build adds it here;
   * delta merges pre-bucketed rows). */
  private def assemble(c: Collection, props: Seq[String], buckets: Int,
                       postings0: DataFrame, docLens: DataFrame): PostingsIndex = {
    val postings =
      if (postings0.columns.contains("__bucket")) postings0
      else postings0.withColumn("__bucket",
        pmod(xxhash64(col("__id")), lit(buckets)).cast("int")).cache()
    val statAggs: Seq[Column] =
      Seq(count(lit(1)).as("n")) ++
      props.indices.map(i => coalesce(avg(col(s"__dl_$i")), lit(0.0)).as(s"avg_$i"))
    val statRow = docLens.agg(statAggs.head, statAggs.tail: _*).head()
    val nDocs = statRow.getAs[Long]("n")
    val propMeans = props.indices.map(i => statRow.getAs[Double](s"avg_$i")).toIndexedSeq
    val modes = props.map(p => c.schema.property(p).map(_.tokenization).getOrElse(Tokenization.Word))
    val folds = props.map(p => c.schema.property(p).exists(_.asciiFold))
    val groups = Bm25Search.groupsOf(modes.zip(folds))
    // group-union doc frequency (the merged posting list's length per term)
    val termDf = postings.withColumn("__g", groupOfProp(groups))
      .groupBy(col("__g"), col("term"))
      .agg(countDistinct(col("__id")).cast("double").as("df")).cache()
    val maxImpact = postings
      .groupBy(col("term"), col("__bucket"), col("__p"))
      .agg(max(col("tf")).as("max_tf"), min(col("__dl")).as("min_dl"))
      .cache()
    PostingsIndex(props, modes, postings, docLens, termDf, maxImpact,
      nDocs, propMeans, c.schema.idColumn, buckets, c.version,
      graft.text.Tokenize.stopwordsFor(c.schema.stopwords), folds)
  }

  // --- query-time shared pieces ---------------------------------------------

  /** The query prologue both search paths share. `activeByGroup` = for each
   * tokenization group with ≥1 scored prop, the scored prop indices (into
   * idx.props) — the reference's per-tokenization property lists: ONE index
   * over all searchable props serves any scored subset (bm25 `properties:`),
   * because df/tf/len stats restrict to the subset at query time. */
  private final case class Prologue(
      termKeys: Seq[TermKey], activeByGroup: Map[Int, Seq[Int]], minMatch: Int,
      avgPool: Double, fullSet: Boolean)

  /** The pruned path's resolved context: the prologue's values plus
   * `idfDup` (idf × duplicate-query-term count per (group, term)). */
  private final case class QueryCtx(
      termKeys: Seq[TermKey], activeByGroup: Map[Int, Seq[Int]], minMatch: Int,
      avgPool: Double, idfDup: Map[(Int, String), Double])

  private def resolveActive(idx: PostingsIndex, props: Option[Seq[String]]): Seq[Int] =
    props match {
      case None => idx.props.indices
      case Some(ps) =>
        val missing = ps.filterNot(idx.props.contains)
        require(missing.isEmpty, s"postings: props not in index: ${missing.mkString(",")}")
        ps.map(idx.props.indexOf)
    }

  private def termKeysOf(idx: PostingsIndex, active: Seq[Int], query: String,
                         stop: Set[String]): Seq[TermKey] =
    idx.groups.zipWithIndex.flatMap { case (((mode, fold), propIdxs), g) =>
      if (propIdxs.intersect(active).isEmpty) Nil
      else {
        val raw = Tokenize.queryTokens(mode, query, fold)
        // stopwords drop from word-tokenized QUERY terms only, matching the
        // scan path (Bm25Search.queryTermKeys) bit-for-bit
        val toks = if (mode == Tokenization.Word) raw.filterNot(stop) else raw
        toks.distinct.map(t => TermKey(g, t, toks.count(_ == t)))
      }
    }

  /** Resolved prop groups, term keys (with the stopword error rule),
   * minMatch and the pooled average length. */
  private def prologue(idx: PostingsIndex, query: String, op: SearchOperator,
                       props: Option[Seq[String]]): Prologue = {
    val active = resolveActive(idx, props)
    val activeByGroup: Map[Int, Seq[Int]] = idx.groups.zipWithIndex.flatMap {
      case ((_, propIdxs), g) =>
        val in = propIdxs.intersect(active)
        if (in.isEmpty) None else Some(g -> in)
    }.toMap
    val termKeys = termKeysOf(idx, active, query, idx.stopwords)
    if (termKeys.isEmpty && termKeysOf(idx, active, query, Set.empty).nonEmpty)
      Tokenize.onlyStopwordsError()
    require(termKeys.nonEmpty, "bm25: empty query after tokenization")
    Prologue(termKeys, activeByGroup, Bm25Search.minMatchOf(termKeys, op),
      Bm25Search.pooledAvgLen(
        activeByGroup.values.flatten.toSeq.sorted.map(idx.propMeans)),
      fullSet = active.sorted == idx.props.indices)
  }

  /** idf × duplicate-query-term count from per-(group, term) group-union doc
   * frequencies; a term no doc carries has df 0. */
  private def idfDupOf(idx: PostingsIndex, termKeys: Seq[TermKey],
                       dfs: Map[(Int, String), Double]): Map[(Int, String), Double] =
    termKeys.map { k =>
      val n = dfs.getOrElse((k.group, k.term), 0.0)
      (k.group, k.term) -> math.log(1.0 + (idx.nDocs - n + 0.5) / (n + 0.5)) * k.dup
    }.toMap

  /** The pruned path's context: df from the precomputed dictionary for the
   * full prop set, a term-pruned re-aggregation of the query rows for a
   * subset. */
  private def ctx(idx: PostingsIndex, query: String, op: SearchOperator,
                  props: Option[Seq[String]]): QueryCtx = {
    val p = prologue(idx, query, op, props)
    val dfFrame =
      if (p.fullSet) idx.termDf.filter(col("term").isin(p.termKeys.map(_.term).distinct: _*))
      else queryRows(idx, p.termKeys, p.activeByGroup)
        .groupBy(col("__g"), col("term"))
        .agg(countDistinct(col("__id")).cast("double").as("df"))
    QueryCtx(p.termKeys, p.activeByGroup, p.minMatch, p.avgPool, idfDupOf(idx, p.termKeys,
      dfFrame.collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap))
  }

  /** The query's posting rows: term ∈ the group's terms AND __p ∈ the
   * group's scored props, tagged with __g. A term only ever meets the props
   * of ITS tokenization group (reference: per-tokenization term requests). */
  private def queryRows(idx: PostingsIndex, termKeys: Seq[TermKey],
                        activeByGroup: Map[Int, Seq[Int]]): DataFrame = {
    val conds: Seq[Column] = activeByGroup.toSeq.sortBy(_._1).flatMap { case (g, ps) =>
      val terms = termKeys.filter(_.group == g).map(_.term)
      if (terms.isEmpty) None
      else Some(col("term").isin(terms: _*) && col("__p").isin(ps: _*))
    }
    require(conds.nonEmpty, "bm25: no scored props carry query terms")
    idx.postings.filter(conds.reduce(_ || _))
      .withColumn("__g", groupOfProp(idx.groups))
  }

  /** Per-doc scores over a (possibly bucket-restricted) postings subset for
   * the pruned path: (__id, _score) after the minimum-should-match filter.
   * The query rows merge per (group, term, doc) — boosted frequency and
   * distinct-term prop length summed across the term's props (reference:
   * bm25_searcher.go:950-951) — then saturate once and sum per doc, with
   * idf·dupBoost as a literal `when`-chain. */
  private def scored(idx: PostingsIndex, q: QueryCtx, k1: Double, b: Double,
                     allowlist: Option[DataFrame], boosts: Map[String, Double],
                     bucketFilter: Option[Seq[Int]]): DataFrame = {
    val rows0 = queryRows(idx, q.termKeys, q.activeByGroup)
    val rows1 = bucketFilter.map(bs => rows0.filter(col("__bucket").isin(bs: _*))).getOrElse(rows0)
    // where-filter = allowlist before scoring (reference shard_read.go:536-550)
    val rows = allowlist match {
      case Some(ids) => rows1.join(
        ids.select(col(idx.idCol).as("__id")), Seq("__id"), "left_semi")
      case None => rows1
    }
    val boostCol = idx.props.indices.foldLeft(lit(1.0)) { (acc, p) =>
      when(col("__p") === p, lit(boosts.getOrElse(idx.props(p), 1.0))).otherwise(acc)
    }
    val idfLit = q.termKeys.foldLeft(lit(0.0)) { (acc, k) =>
      when(col("__g") === k.group && col("term") === k.term,
        lit(q.idfDup((k.group, k.term)))).otherwise(acc)
    }
    rows.groupBy(col("__g"), col("term"), col("__id"))
      .agg(sum(boostCol * col("tf")).as("__freq"), sum(col("__dl")).as("__dlsum"))
      .withColumn("__idf", idfLit)
      // freq=0 (a zero boost) scores 0 rather than 0/0 — same guard as the
      // scan path's when(freq > 0, …)
      .withColumn("__contrib",
        when(col("__freq") > 0,
          col("__idf") * col("__freq") / (col("__freq") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("__dlsum") / lit(q.avgPool))))
          .otherwise(lit(0.0)))
      .groupBy(col("__id"))
      .agg(sum(col("__contrib")).as(Bm25Search.ScoreCol),
        count(lit(1)).as("__matched")) // rows are unique per (__g, term) here
      .filter(col("__matched") >= q.minMatch)
      .drop("__matched")
  }

  /** BM25 scoring over the postings table — identical math to Bm25Search,
   * computed on the driver from ONE fetch of the query's posting rows (the
   * reference reads, scores and merges posting lists in one process,
   * bm25_searcher.go:183-193). The fetch holds at most nDocs × scored props
   * × query terms rows, so the engine serves this arm only below its prune
   * cutoff (Graft.bm25Serve); larger corpora take `searchPruned`.
   *
   * df counts every fetched row: a `where` allowlist only marks which docs
   * may be returned and never changes df (reference shard_read.go:536-550 —
   * idf stays collection-wide, as on the scan path). Returns a local
   * (id, _score) frame in `score desc, id asc` order. */
  def search(idx: PostingsIndex, query: String, limit: Int,
             searchOperator: SearchOperator = SearchOperator.Or(1),
             k1: Double = 1.2, b: Double = 0.75,
             allowlist: Option[DataFrame] = None,
             boosts: Map[String, Double] = Map.empty,
             props: Option[Seq[String]] = None): DataFrame = {
    val p = prologue(idx, query, searchOperator, props)
    val rows0 = queryRows(idx, p.termKeys, p.activeByGroup)
    val rows = allowlist match {
      case Some(ids) => rows0.join(ids.select(col(idx.idCol).as("__id"))
        .withColumn("__ok", lit(true)), Seq("__id"), "left")
      case None => rows0.withColumn("__ok", lit(true))
    }
    // a posting row is unique per (term, __id, __p): `distinct` undoes the
    // repeats a duplicated allowlist id makes; the sort by __p fixes the
    // order in which props sum per (term, doc)
    val fetched = rows.select(col("__g"), col("term"), col("__id"), col("__p"),
        col("tf"), col("__dl"), col("__ok").isNotNull)
      .collect().distinct.sortBy(_.getInt(3))
    val termIdx = p.termKeys.zipWithIndex.map { case (k, i) => (k.group, k.term) -> i }.toMap
    val boostOf = idx.props.map(name => boosts.getOrElse(name, 1.0))
    // per (term, doc): boosted frequency and distinct-term prop length
    // summed across the term's props (reference: bm25_searcher.go:950-951)
    val merged = mutable.HashMap.empty[(Int, Any), Array[Double]]
    val allowed = mutable.HashSet.empty[Any]
    fetched.foreach { r =>
      val fd = merged.getOrElseUpdate(
        (termIdx((r.getInt(0), r.getString(1))), r.get(2)), Array(0.0, 0.0))
      fd(0) += boostOf(r.getInt(3)) * r.getDouble(4)
      fd(1) += r.getDouble(5)
      if (r.getBoolean(6)) allowed += r.get(2)
    }
    // group-union df = docs per (group, term) among ALL fetched rows
    val idfDup = idfDupOf(idx, p.termKeys, merged.keys.toSeq.groupMapReduce { case (ti, _) =>
      (p.termKeys(ti).group, p.termKeys(ti).term) }(_ => 1.0)(_ + _))
    val top = merged.toSeq.groupBy { case ((_, id), _) => id }.iterator.collect {
      case (id, terms) if allowed(id) && terms.size >= p.minMatch =>
        // saturate once per (term, doc), sum the doc's terms in query order;
        // freq=0 (a zero boost) scores 0 rather than 0/0 — the scan path's
        // when(freq > 0, …) guard
        id -> terms.sortBy(_._1._1).map { case ((ti, _), Array(f, dl)) =>
          val k = p.termKeys(ti)
          if (f > 0) idfDup((k.group, k.term)) * f / (f + k1 * ((1.0 - b) + b * dl / p.avgPool))
          else 0.0
        }.sum
    }.toSeq.sorted(SparkOrder.byScoreThenId).take(limit)
    val schema = StructType(Seq(idx.postings.schema("__id").copy(name = idx.idCol),
      StructField(Bm25Search.ScoreCol, DoubleType)))
    idx.postings.sparkSession.createDataFrame(top.map { case (i, s) => Row(i, s) }.asJava, schema)
  }

  /**
   * BlockMax-WAND-style pruned top-k (the Spark shape of the reference's
   * default BM25 execution, bm25_searcher_block.go / terms_block.go; SURVEY
   * §4 "per-partition max-score stats → partition pruning before TopK").
   *
   * Exactness argument: θ is the kth exact score within the single
   * best-bounded bucket — a lower bound of the global kth score (an
   * allowlist or minimum-should-match filter only REMOVES candidates from
   * both phases equally, so θ stays a lower bound of the final kth). A doc
   * in any bucket scores Σ_t idf_t·sat(F_t, DL_t) with F_t ≤ Σ_p boost_p·
   * max_tf_{t,p,bucket} and DL_t ≥ min_p min_dl_{t,p,bucket}; saturation is
   * increasing in F and decreasing in DL (for k1 ≥ 0, 0 ≤ b ≤ 1, boosts ≥ 0),
   * so a bucket whose bound Σ_t idf_t·sat(F̂_t, ĎL_t) < θ cannot hold a true
   * top-k member (strict inequality also survives ties). Out-of-range k1/b
   * or negative boosts break the monotonicity argument — those queries serve
   * unpruned. At 100 TB the bucket is a physical partition of the postings
   * layout, so pruning skips whole partitions of every term's posting list.
   */
  def searchPruned(idx: PostingsIndex, query: String, limit: Int,
                   searchOperator: SearchOperator = SearchOperator.Or(1),
                   k1: Double = 1.2, b: Double = 0.75,
                   allowlist: Option[DataFrame] = None,
                   boosts: Map[String, Double] = Map.empty,
                   props: Option[Seq[String]] = None): DataFrame = {
    val q = ctx(idx, query, searchOperator, props)
    def finish(d: DataFrame): DataFrame = d
      .withColumnRenamed("__id", idx.idCol)
      .orderBy(col(Bm25Search.ScoreCol).desc, col(idx.idCol).asc)
      .limit(limit)
    // pruning is proven sound only on the monotone parameter range; outside
    // it every bucket is scored, still in Spark (this arm serves corpora too
    // large for a driver-side posting fetch)
    if (k1 < 0 || b < 0 || b > 1 || boosts.values.exists(_ < 0))
      return finish(scored(idx, q, k1, b, allowlist, boosts, None))

    // driver-side bucket bounds from the (tiny) block-max table
    val impactConds: Seq[Column] = q.activeByGroup.toSeq.sortBy(_._1).flatMap { case (g, ps) =>
      val terms = q.termKeys.filter(_.group == g).map(_.term)
      if (terms.isEmpty) None
      else Some(col("term").isin(terms: _*) && col("__p").isin(ps: _*))
    }
    val propToGroup: Map[Int, Int] = idx.groups.zipWithIndex.flatMap {
      case ((_, propIdxs), g) => propIdxs.map(_ -> g)
    }.toMap
    val bounds: Map[Int, Double] = idx.maxImpact
      .filter(impactConds.reduce(_ || _))
      .collect()
      .groupBy(_.getInt(1))
      .map { case (bkt, rows) =>
        // merge the per-prop block stats per (group, term) — the same
        // cross-prop merge the scorer does, applied to the extremes
        bkt -> rows.groupBy(r => (propToGroup(r.getInt(2)), r.getString(0))).map {
          case ((g, term), propRows) =>
            val freqUpper = propRows.map { r =>
              boosts.getOrElse(idx.props(r.getInt(2)), 1.0) * r.getDouble(3)
            }.sum
            val dlLower = propRows.map(_.getDouble(4)).min
            // a zero frequency upper bound (every scored prop boosted to 0)
            // contributes nothing — mirrors the scorer's when(freq > 0)
            // guard; without it k1 == 0 makes the ratio 0/0 = NaN, which
            // poisons the bucket's summed bound and wrongly prunes docs
            // whose score comes from the other terms
            if (freqUpper == 0.0) 0.0
            else q.idfDup((g, term)) * freqUpper /
              (freqUpper + k1 * ((1.0 - b) + b * dlLower / q.avgPool))
        }.sum
      }
    if (bounds.isEmpty)
      return finish(scored(idx, q, k1, b, allowlist, boosts, None)).limit(0)

    // phase 1: exact scores in the best-bounded bucket → θ (kth best, or -inf)
    val bestBucket = bounds.maxBy(_._2)._1
    val phase1 = scored(idx, q, k1, b, allowlist, boosts, Some(Seq(bestBucket)))
      .orderBy(col(Bm25Search.ScoreCol).desc).limit(limit)
      .collect().map(_.getDouble(1))
    val theta = if (phase1.length < limit) Double.NegativeInfinity else phase1.min

    // phase 2: scan only buckets whose bound can reach θ
    val survivors = bounds.filter { case (_, bound) => bound >= theta }.keys.toSeq
    finish(scored(idx, q, k1, b, allowlist, boosts, Some(survivors)))
  }
}
