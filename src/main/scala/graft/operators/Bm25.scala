package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.Collection
import graft.model._
import graft.text.Tokenize

/**
 * BM25 / BM25F keyword ranking with the reference's exact scoring model
 * (reference: inverted/bm25_searcher.go; idf inverted/terms/terms.go:67-72;
 * tf saturation terms/terms.go:241-249; defaults k1=1.2 b=0.75
 * usecases/config/config_handler.go:57-58).
 *
 * The reference's BM25F semantics, pinned here and asserted to its own test
 * fixtures (adapters/repos/db/bm25f_test.go) by Bm25fReferenceParitySpec:
 *
 *  - Query terms are grouped by tokenization; a term scores ONLY the props
 *    sharing its tokenization (bm25_searcher.go:386-443 — propNames are
 *    assigned per tokenization key and each term request carries its own
 *    group's props).
 *  - Per (term, doc, prop): raw term frequency `f` with the property boost
 *    multiplied IN (lsmkv decode folds the boost into Frequency,
 *    terms/terms.go:49-61 FromKeyVal; boosts bm25_searcher.go:825), and the
 *    property length `dl` = number of DISTINCT terms in the prop (the
 *    analyzer tracks len(Items) — unique countables — as the prop length,
 *    shard_write_inverted_lsm.go:251, inverted/analyzer.go:174-196).
 *  - Frequencies AND prop lengths are SUMMED across the term's props per doc
 *    before ONE saturation (bm25_searcher.go:950-951 merges PropLength and
 *    Frequency across property posting lists). Props where the term does not
 *    appear in the doc contribute nothing to either sum.
 *  - One pooled averagePropLength for the whole query: the mean of the
 *    scored props' per-prop mean lengths, with a missing prop counting as
 *    mean 0 and a 0/NaN pool falling back to 40.0 (bm25_searcher.go:408-453).
 *  - idf(t) = ln(1 + (N - n_t + 0.5)/(n_t + 0.5)) over the term's UNION doc
 *    frequency within its prop group, multiplied by the number of times the
 *    term occurs in the query (duplicateTextBoost, bm25_searcher.go:663,
 *    :972 SetIdf(idf * duplicateBoost)).
 *  - score(doc) = Σ_t idf(t) · F_t / (F_t + k1·(1 - b + b·DL_t/avgPool))
 *    where F_t = Σ_p boost_p·f_{t,p} and DL_t = Σ_{p: f_{t,p}>0} dl_p.
 *
 * Spark-first design: query terms are *literals*, so per-term frequency is a
 * codegen'd array expression over the tokenized property — no explode, no
 * shuffle on the docs side. Corpus stats (N, per-prop mean lengths, per-term
 * doc frequency) are built ONCE per (collection, props) into a cached
 * dictionary side table (see CorpusStats); each query folds its own terms'
 * stats into the scoring expression as literals. Top-k then runs as
 * TakeOrderedAndProject. The reference's WAND/BlockMax pruning
 * (bm25_searcher_block.go) is an inverted-index physical trick; the Spark
 * equivalent at 100 TB is per-partition max-impact stats for partition
 * pruning (see Postings.searchPruned) — at current scale the scan+TopK plan
 * is already shuffle-minimal (only k rows per partition move).
 *
 * For repeated querying at scale, `Postings.build` materializes a postings
 * table (term → doc list with tf and prop length) that turns each query into
 * a read of its terms' posting rows instead of a full scan — same math to
 * the last bit (PostingsParityProps).
 */
object Bm25Search {

  val ScoreCol = "_score"

  final case class PropSpec(name: String, boost: Double)

  /** One scoring term: the tokenization-group it belongs to (index into
   * `groupsOf`'s result), the term string, and its duplicate count in the
   * query (reference: AnalyzeAndCountDuplicates, bm25_searcher.go:663). */
  final case class TermKey(group: Int, term: String, dup: Int)

  /** Group prop indices by effective analyzer — tokenization + asciiFold —
   * first-appearance order (reference: propNamesByTokenization keyed by the
   * analyzer-fingerprint tokKey, bm25_searcher.go:386-443,495-502). */
  def groupsOf(keys: Seq[(Tokenization, Boolean)]): Seq[((Tokenization, Boolean), Seq[Int])] = {
    val order = scala.collection.mutable.LinkedHashMap.empty[(Tokenization, Boolean), Vector[Int]]
    keys.zipWithIndex.foreach { case (k, i) =>
      order(k) = order.getOrElse(k, Vector.empty) :+ i
    }
    order.toSeq
  }

  /** Per-group query terms with duplicate counts, first-occurrence order.
   * Word-tokenized groups drop stopwords from the QUERY terms (the index
   * keeps them — reference bm25_searcher.go:381-390: the fallback stopword
   * detector applies only to PropertyTokenizationWord). */
  def queryTermKeys(groups: Seq[((Tokenization, Boolean), Seq[Int])], query: String,
                    stop: Set[String] = Set.empty): Seq[TermKey] =
    groups.zipWithIndex.flatMap { case (((mode, fold), _), g) =>
      val raw = Tokenize.queryTokens(mode, query, fold)
      val toks = if (mode == Tokenization.Word) raw.filterNot(stop) else raw
      toks.distinct.map(t => TermKey(g, t, toks.count(_ == t)))
    }

  /** The WAND minimum-should-match threshold (reference bm25_searcher.go:
   * 586-633). Or(m) is m. And folds PER-GROUP thresholds (each group's full
   * term count) with MIN into the one global threshold the merged request
   * list carries — with a single tokenization group, the common case, that
   * is simply "all terms". AndCross additionally requires every scored prop
   * to share one tokenization (the reference checks the analyzer
   * fingerprint, sharedCrossPropQueryTerms, and errors otherwise); its
   * threshold is the shared group's full term count. */
  def minMatchOf(termKeys: Seq[TermKey], op: SearchOperator): Int = op match {
    case SearchOperator.Or(m) => math.max(1, m)
    case SearchOperator.AndOp =>
      termKeys.groupBy(_.group).values.map(_.size).min
    case SearchOperator.AndCross =>
      require(termKeys.map(_.group).distinct.size == 1,
        "OPERATOR_AND_CROSS requires all searched properties to share the " +
          "same tokenization and analyzer settings")
      termKeys.size
  }

  /** Pooled averagePropLength: mean of the scored props' mean lengths; 0 or
   * NaN pools fall back to 40.0 (reference: bm25_searcher.go:408-453 — a
   * propless mean is 0 but still "valid", only the final pool is guarded). */
  def pooledAvgLen(propMeans: Seq[Double]): Double = {
    val valid = propMeans.filterNot(_.isNaN)
    val pool = if (valid.isEmpty) Double.NaN else valid.sum / valid.size
    if (pool.isNaN || pool == 0.0) 40.0 else pool
  }

  /**
   * Cached corpus statistics for one (collection, scored-props) pair — the
   * Spark analogue of the reference's persistent prop-length tracker + term
   * dictionary (inverted/prop_length_tracker.go, terms/terms.go:67-72).
   * Built ONCE with a single tokenize pass, then every query resolves its few
   * terms' doc-frequencies from the persisted dictionary table instead of
   * re-scanning the corpus. At 100 TB this is the difference between one
   * offline stats build and a full extra scan per query.
   *
   * `propMeans(i)` = mean over docs (where prop i is non-null) of the number
   * of DISTINCT terms in the prop; 0.0 when no doc has the prop (the
   * reference's PropertyMean returns 0 for an untracked prop). `termDf` is
   * keyed (__g, term): doc frequency within the term's tokenization group
   * (union over the group's props — the merged posting list's length).
   */
  private final case class CorpusStats(n: Double, propMeans: IndexedSeq[Double], termDf: DataFrame)

  // Keyed by (collection name, store version, scored props): the version
  // distinguishes store generations (every CollectionStore.writeVersion and
  // Graft.register produces a new one), the collection name is the eviction
  // handle — writeVersion calls invalidateStats(name) so superseded versions'
  // persisted termDf tables are released instead of leaking for the session.
  private val statsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Seq[String]), CorpusStats]

  /** Drop cached stats for one collection (called on store mutation). */
  def invalidateStats(collectionName: String): Unit =
    statsCache.filterInPlace { case ((name, _, _), stats) =>
      val keep = name != collectionName
      if (!keep) stats.termDf.unpersist()
      keep
    }

  /** Drop all cached stats (tests). */
  def invalidateStats(): Unit = {
    statsCache.values.foreach(_.termDf.unpersist())
    statsCache.clear()
  }

  /** Visible for the lifecycle spec. */
  private[graft] def cachedStatsKeys: Set[(String, Long, Seq[String])] = statsCache.keySet.toSet

  private def corpusStats(c: Collection, propTok: Seq[(PropSpec, Tokenization, Boolean)]): CorpusStats = {
    val key = (c.name, c.version, propTok.map { case (s, m, f) => s"${s.name}:${m.name}:$f" })
    // fast path without a lock; build under a lock because TrieMap's
    // getOrElseUpdate doesn't guarantee single evaluation — two concurrent
    // first queries would both run the stats pass and the loser's persisted
    // termDf would leak for the session
    statsCache.get(key) match {
      case Some(s) => s
      case None => statsCache.synchronized { statsCache.getOrElseUpdate(key, {
      val groups = groupsOf(propTok.map(pt => (pt._2, pt._3)))
      val tokenized = propTok.zipWithIndex.foldLeft(c.df.select(propTok.map { case (s, _, _) => col(s.name) }: _*)) {
        case (d, ((spec, mode, fold), i)) =>
          d.withColumn(s"__tok_$i",
            Tokenize.propTokens(mode, fold, isTextArray(c, spec.name))(col(spec.name)))
      }
      val statAggs: Seq[Column] =
        Seq(count(lit(1)).as("N")) ++
        propTok.indices.map(i =>
          coalesce(avg(size(array_distinct(col(s"__tok_$i")))), lit(0.0)).as(s"avgLen_$i"))
      val statRow = tokenized.agg(statAggs.head, statAggs.tail: _*).head()
      val n = statRow.getAs[Long]("N").toDouble
      val propMeans = propTok.indices.map(i => statRow.getAs[Double](s"avgLen_$i")).toIndexedSeq
      // doc-frequency dictionary per tokenization group: docs where ANY of
      // the group's props contains the term (the reference's merged posting
      // list length, bm25_searcher.go:950-963). Null token arrays contribute
      // nothing.
      val empty = array().cast("array<string>")
      val termDf = groups.zipWithIndex.map { case ((_, propIdxs), g) =>
        val docTerms = array_distinct(concat(
          propIdxs.map(i => coalesce(col(s"__tok_$i"), empty)): _*))
        tokenized.select(lit(g).as("__g"), explode(docTerms).as("term"))
      }.reduce(_.unionByName(_))
        .groupBy(col("__g"), col("term")).agg(count(lit(1)).cast("double").as("df"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      CorpusStats(n, propMeans, termDf)
    }) }
    }
  }

  /** Parse "prop^2" boost syntax (reference: searchparams retrieval.go BM25
   * properties). A duplicated name folds to ONE spec — the prop is scored
   * once, with the LAST occurrence's boost — exactly the reference's
   * duplicate handling (bm25_searcher.go:297-313: the boosts map overwrites
   * on every occurrence, seenProps skips re-processing), which also keeps
   * the scan and postings paths consistent (the postings `__p isin` filter
   * inherently dedups). */
  def parseProps(props: Seq[String]): Seq[PropSpec] = {
    val specs = props.map { p =>
      p.split('^') match {
        case Array(n, b) => PropSpec(n, b.toDouble)
        case Array(n)    => PropSpec(n, 1.0)
      }
    }
    val lastBoost: Map[String, Double] = specs.map(s => s.name -> s.boost).toMap
    specs.map(_.name).distinct.map(n => PropSpec(n, lastBoost(n)))
  }

  /** Per-term contribution column name for explainScore. */
  def explainCol(term: String): String = s"_exp_$term"

  /** text[] props tokenize per element with merged counts (analyzer.go
   * TextArray) — everything downstream is shape-identical to text. */
  private def isTextArray(c: Collection, prop: String): Boolean =
    c.schema.property(prop).exists(_.dataType == PropType.Arr(PropType.Text))

  /**
   * Score `base` (already where-filtered — reference applies the filter as an
   * allowlist before scoring, shard_read.go:536-550) against the query.
   * Returns rows containing >=1 query term (searchOperator Or) or all terms
   * (And), with `_score`. IDF statistics come from the *unfiltered* collection
   * (matching the reference, whose postings/idf are collection-wide — a
   * filtered-out doc still counts toward n, bm25_searcher.go:966-968).
   */
  def score(c: Collection, params: Bm25, base: Option[DataFrame] = None,
            explain: Boolean = false): DataFrame = {
    val df = base.getOrElse(c.df)
    val specs =
      if (params.properties.nonEmpty) parseProps(params.properties)
      else c.schema.properties.filter(_.hasSearchableIndex)
        .map(p => PropSpec(p.name, 1.0))
    require(specs.nonEmpty, s"bm25: no searchable text properties on ${c.name}")
    // explicitly requested props must carry a searchable index (text or
    // text[], searchparams/retrieval.go:55-66) — the reference errors rather
    // than silently skipping (WEAVIATE-471, bm25_searcher.go:166-171,
    // NewMissingSearchableIndexError)
    specs.foreach { s =>
      val ok = c.schema.property(s.name).exists(_.hasSearchableIndex)
      require(ok, s"Searching by property '${s.name}' requires inverted index. " +
        s"Is `indexSearchable` option of property '${s.name}' enabled? " +
        "Set it to `true` or leave empty")
    }

    // per-prop token arrays + per-analyzer-group query terms
    val propTok: Seq[(PropSpec, Tokenization, Boolean)] = specs.map { s =>
      val p = c.schema.property(s.name)
      (s, p.map(_.tokenization).getOrElse(Tokenization.Word), p.exists(_.asciiFold))
    }
    val groups = groupsOf(propTok.map(pt => (pt._2, pt._3)))
    val stop = Tokenize.stopwordsFor(c.schema.stopwords)
    val termKeys = queryTermKeys(groups, params.query, stop)
    if (termKeys.isEmpty && queryTermKeys(groups, params.query).nonEmpty)
      Tokenize.onlyStopwordsError()
    require(termKeys.nonEmpty, "bm25: empty query after tokenization")

    // corpus stats come from the cached per-(collection, props) side tables —
    // no per-query corpus pass; only the query's own terms are looked up.
    val stats = corpusStats(c, propTok)
    val bigN = stats.n
    val avgPool = pooledAvgLen(propTok.indices.map(stats.propMeans))
    val wanted = termKeys.map(_.term).distinct
    val dfLookup: Map[(Int, String), Double] = stats.termDf
      .filter(col("term").isin(wanted: _*))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap

    val scoredBase = propTok.zipWithIndex.foldLeft(df) { case (d, ((spec, mode, fold), i)) =>
      d.withColumn(s"__tok_$i",
          Tokenize.propTokens(mode, fold, isTextArray(c, spec.name))(col(spec.name)))
        .withColumn(s"__dl_$i", size(array_distinct(col(s"__tok_$i"))).cast("double"))
    }

    def termFreq(i: Int, t: String): Column =
      size(filter(col(s"__tok_$i"), x => x === lit(t))).cast("double")

    // reference model: boost folds into the raw frequency, frequencies and
    // prop lengths sum across the term's props, ONE saturation with the
    // pooled average length (bm25_searcher.go:825,950-951,408-453)
    val perTermScore: Seq[Column] = termKeys.map { case TermKey(g, t, dup) =>
      val n = dfLookup.getOrElse((g, t), 0.0)
      val idfDup = math.log(1.0 + (bigN - n + 0.5) / (n + 0.5)) * dup
      val propIdxs = groups(g)._2
      val freq = propIdxs.map { i =>
        coalesce(lit(propTok(i)._1.boost) * termFreq(i, t), lit(0.0))
      }.reduce(_ + _)
      val dlSum = propIdxs.map { i =>
        coalesce(when(termFreq(i, t) > 0, col(s"__dl_$i")), lit(0.0))
      }.reduce(_ + _)
      when(freq > 0,
        lit(idfDup) * freq /
          (freq + lit(params.k1) * (lit(1.0 - params.b) + lit(params.b) * dlSum / lit(avgPool))))
        .otherwise(lit(0.0))
    }
    val matchedTerms: Column = termKeys.map { case TermKey(g, t, _) =>
      groups(g)._2.map(i => coalesce(array_contains(col(s"__tok_$i"), t), lit(false)))
        .reduce[Column](_ || _).cast("int")
    }.reduce(_ + _)

    val minMatch = minMatchOf(termKeys, params.searchOperator)
    val scored = scoredBase
      .withColumn(ScoreCol, perTermScore.reduce(_ + _))
      .withColumn("__matched", matchedTerms)
      .filter(col("__matched") >= minMatch)
    // explainScore: per-term score breakdown (reference: index.go:2266-2291).
    // A term string appearing under two tokenizations gets a per-group suffix.
    val explained =
      if (!explain) scored
      else {
        val dupNames = termKeys.groupBy(_.term).filter(_._2.size > 1).keySet
        termKeys.zip(perTermScore).foldLeft(scored) { case (d, (k, sc)) =>
          val name = if (dupNames(k.term)) s"${explainCol(k.term)}__g${k.group}" else explainCol(k.term)
          d.withColumn(name, sc)
        }
      }
    explained.drop(
      (propTok.indices.map(i => s"__tok_$i") ++ propTok.indices.map(i => s"__dl_$i")
        :+ "__matched"): _*)
  }

  /** Top-k keyword search with deterministic id tie-break. */
  def search(c: Collection, params: Bm25, limit: Int, base: Option[DataFrame] = None): DataFrame =
    score(c, params, base)
      .orderBy(col(ScoreCol).desc, col(c.schema.idColumn).asc)
      .limit(limit)
}
