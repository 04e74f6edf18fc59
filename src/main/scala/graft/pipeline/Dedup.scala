package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.{TextHashFunctions, VectorFunctions}
import graft.text.Tokenize

/**
 * Deduplication operators for large-scale training-data pipelines. These are
 * engine extensions beyond the weaviate surface (the reference has no dedup;
 * its nearest notion is vector similarity, §2.3), designed around the
 * patterns that survive 100 TB:
 *
 *  1. *bucket → verify*: a cheap deterministic signature shuffles candidate
 *     rows into small buckets (one `groupBy`), exact verification runs only
 *     inside buckets — total work is Σ bucket², never N².
 *  2. *signature-as-column*: signatures are column expressions, so their
 *     computation is a single scan with no UDF boxing and no driver
 *     involvement. The MinHash path's shingles, signature and band keys are
 *     native kernels (`WordShingles`, `MinHashSignature`, `LshBandKeys` in
 *     TextHashFunctions.scala): the shingle kernel scans each document's
 *     bytes once, and one cached table holds each document's shingles and
 *     band keys for every consumer. SimHash bits build from an explode +
 *     aggregate.
 *  3. *bounded driver work*: a verified pair relation is small next to the
 *     corpus (about 3000 pairs on a 12000-doc corpus with 1000 planted
 *     clusters), so [[clusterPairs]] labels components with a union-find on
 *     the driver up to [[DriverClusterMaxPairs]] pairs; only above that does
 *     the distributed label-propagation loop run, whose per-round jobs
 *     would cost more than the work at curation-pass size.
 *
 * All hashing is seeded xxhash64 — deterministic across runs/partitions.
 */
object Dedup {

  /** Exact dedup: group by key columns, keep the smallest id as canonical.
   * Returns one row per group with `dup_count` (= group size). */
  def exact(df: DataFrame, keys: Seq[Column], idCol: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Exact *content* dedup on normalized text (word tokens joined). */
  def exactText(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    exact(df.withColumn("__fp", md5(concat_ws(" ", Tokenize.word(textCol)))),
      Seq(col("__fp")), idCol)

  // --- MinHash + LSH ---------------------------------------------------------

  /** MinHash signature of a shingle-hash array — the native codegen
   * expression (one primitive loop, no HOF lambdas, no shuffle; see
   * [[org.apache.spark.sql.graft.MinHashSignature]]). Lane i =
   * min over elements h of xxhash64(h, i). */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.TextHashFunctions.minhashSignature(shingles, numHashes)

  /**
   * Hashed word-n-gram shingles: combine consecutive token hashes with
   * chained xxhash64 — shingle *identity* is all dedup needs, so the shingle
   * strings are never materialized (string building dominated the profile:
   * ~4 s/scan at sf0.1 vs ~0.5 s for the hash form). A doc of 1..n-1 tokens
   * yields one hash of all its tokens, no tokens yield []. The native
   * [[org.apache.spark.sql.graft.ShingleHashes]] kernel: each token is hashed
   * once, in one pass.
   */
  def shingleHashes(tokens: Column, n: Int): Column = TextHashFunctions.shingleHashes(tokens, n)

  /** Distinct shingle hashes of a text's `Tokenize.word` tokens — the
   * shingle set every shingle-based dedup op compares. One native kernel
   * ([[org.apache.spark.sql.graft.WordShingles]]) over lower(text): equal to
   * array_distinct(shingleHashes(Tokenize.word(text), n)), with each token
   * hashed over its bytes in place instead of extracted as a string. */
  def wordShingles(text: Column, n: Int): Column = TextHashFunctions.wordShingles(text, n)

  /** `cols` plus the non-empty `wordShingles` of `textCol` as `__shh`
   * (`sorted`: in ascending order). The shingles are the output of a
   * one-element `explode` (a Generate), so the emptiness filter stays above
   * them and the kernel runs once per row: over a projection the filter is
   * pushed below it and evaluates the kernel a second time (the same trick
   * as `TextAnalysis.gopherFilter`). Token-less documents drop. */
  private[graft] def withShingles(df: DataFrame, cols: Seq[Column], textCol: Column,
                                  shingleSize: Int, sorted: Boolean = false): DataFrame = {
    val shh = wordShingles(textCol, shingleSize)
    df.select(cols :+ explode(array(if (sorted) array_sort(shh) else shh)).as("__shh"): _*)
      .filter(size(col("__shh")) > 0)
  }

  /** LSH band keys: split the signature into `bands` rows of `rowsPerBand`,
   * hash each band as xxhash64(concat_ws(",", lanes), band). Two docs
   * sharing any band key become candidates. The native
   * [[org.apache.spark.sql.graft.LshBandKeys]] kernel; a null signature has
   * null keys. */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    TextHashFunctions.lshBandKeys(signature, bands, rowsPerBand)

  /** Exact Jaccard similarity of two token arrays (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /**
   * MinHash-LSH near-duplicate pairs: shingle → minhash → band → bucket-join →
   * exact-Jaccard verify. Returns (id_a, id_b, jaccard) with id_a < id_b and
   * jaccard ≥ threshold.
   *
   * Scale shape: the only shuffle is the groupBy on band key; candidate
   * verification is per-bucket. With b bands of r rows the detection
   * probability of a pair with Jaccard s is 1-(1-s^r)^b (the standard LSH
   * S-curve); defaults (32 bands × 4 rows) catch s ≥ 0.8 with p > 0.99.
   * Each document's shingles, signature and band keys are computed once,
   * into one cached table ([[bandTable]]) that both sides of the band join
   * and the verification read.
   *
   * `hotBandCap`: buckets larger than this emit STAR candidate pairs (every
   * member vs the bucket's min id) instead of all pairs — Σ bucket² becomes
   * Σ bucket for the hot keys, which is what survives a boilerplate-heavy
   * 100 TB corpus where one band key can collect millions of near-identical
   * pages. The star keeps every hot-bucket member connected to the hub, so
   * after `clusterPairs` the component is intact; the price is pairwise
   * edges between non-hub members that no OTHER band recovers — for members
   * above the LSH S-curve threshold each of the remaining bands catches
   * them with the same probability, so the miss rate stays the standard
   * 1−(1−s^r)^(b−1) per pair. Default off (None) — the oracle replays
   * exact all-pairs semantics; deployments at scale set a cap.
   */
  def minhashDuplicates(
      df: DataFrame, idCol: Column, textCol: Column,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, hotBandCap: Option[Int] = None): DataFrame = {
    val table = bandTable(df, Seq(idCol.as("__id")), textCol, shingleSize, numHashes, bands)
    val sigs = table.select(col("__id"), explode(col("__bands")).as("__band"))
    // candidates carry ONLY ids through the band join + dedup; the (large)
    // shingle arrays are joined back once per surviving pair
    val candidates = hotBandCap match {
      case None =>
        sigs.as("a").join(sigs.as("b"),
            col("a.__band") === col("b.__band") && col("a.__id") < col("b.__id"))
          .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
      case Some(cap) =>
        // one window pass sizes every bucket (same shuffle key as the join);
        // small buckets take the exact all-pairs arm, hot buckets the star arm
        val w = Window.partitionBy(col("__band"))
        val sized = sigs
          .withColumn("__bn", count(lit(1)).over(w))
          .withColumn("__bmin", min(col("__id")).over(w))
        val small = sized.filter(col("__bn") <= cap).select(col("__id"), col("__band"))
        val smallPairs = small.as("a").join(small.as("b"),
            col("a.__band") === col("b.__band") && col("a.__id") < col("b.__id"))
          .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
        val starPairs = sized.filter(col("__bn") > cap && col("__id") =!= col("__bmin"))
          .select(col("__bmin").as("id_a"), col("__id").as("id_b"))
        smallPairs.unionByName(starPairs).dropDuplicates("id_a", "id_b")
    }
    releasing(table)(verifyJaccard(candidates, table, threshold))
  }

  /** `cols` plus each document's shingles `__shh` and its LSH band keys
   * `__bands` (the native [[minhashSignature]] and [[bandKeys]] kernels,
   * one projection, no shuffle), cached and materialized. The table feeds
   * the band join's two sides AND pair verification — one materialization,
   * not one per consumer (at warehouse scale this is a persisted signature
   * side-table); callers release it with [[releasing]]. It is materialized
   * BEFORE the multi-branch consumers: they all scan this cache inside ONE
   * job, and concurrently-scheduled branches would each recompute the
   * shingle scan before any cache entry lands (see clusterPairs — same
   * race). */
  private def bandTable(df: DataFrame, cols: Seq[Column], textCol: Column,
                        shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val table = withShingles(df, cols, textCol, shingleSize)
      .withColumn("__bands",
        bandKeys(minhashSignature(col("__shh"), numHashes), bands, numHashes / bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    table.count()
    table
  }

  /** The verified pairs, materialized (`localCheckpoint`), with the shingle
   * table they were computed from unpersisted. Left cached, that table would
   * pin one entry per distinct corpus for the session's life, and a later
   * call on the same plan would read it instead of building its shingles. */
  private def releasing(shingles: DataFrame)(pairs: DataFrame): DataFrame = {
    val done = pairs.localCheckpoint(eager = true)
    shingles.unpersist()
    done
  }

  /**
   * Incremental MinHash-LSH dedup — the daily-increment shape: find
   * near-duplicate pairs that TOUCH a new document (new↔old and new↔new),
   * never enumerating old↔old pairs. `newCol` flags the increment rows
   * inside one frame (old rows are the standing corpus).
   *
   * Scale shape: signatures build for the whole frame exactly as the batch
   * op (one cached [[bandTable]]; at warehouse scale the old side's
   * signature table is the persisted side-table the batch build already
   * wrote, so only the increment pays the build), but the candidate join's
   * LEFT side is ONLY the new rows — per band bucket the work is
   * |new∩bucket| × |bucket|, not |bucket|², which is what makes a small
   * daily increment against a 100 TB corpus feasible. Pair orientation
   * follows the batch contract (id_a < id_b) regardless of which side is new.
   */
  def minhashIncrementalDuplicates(
      df: DataFrame, idCol: Column, textCol: Column, newCol: Column,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, hotBandCap: Option[Int] = None): DataFrame = {
    val table = bandTable(df, Seq(idCol.as("__id"), newCol.cast("boolean").as("__new")),
      textCol, shingleSize, numHashes, bands)
    val sigs = table.select(col("__id"), col("__new"), explode(col("__bands")).as("__band"))
    // new rows drive the probe; a new↔new pair arrives in both orientations
    // and normalizes, an old partner only ever appears on the right
    def probe(left: DataFrame, right: DataFrame): DataFrame =
      left.as("a").join(right.as("b"),
          col("a.__band") === col("b.__band") && col("a.__id") =!= col("b.__id"))
        .select(least(col("a.__id"), col("b.__id")).as("id_a"),
          greatest(col("a.__id"), col("b.__id")).as("id_b"))
    val candidates = (hotBandCap match {
      case None => probe(sigs.filter(col("__new")), sigs)
      case Some(cap) =>
        // the batch op's star shape, increment-flavored: in a hot bucket,
        // every member pairs only with the bucket's min-id hub, and the
        // pair survives iff it touches a new row — |new| × bucket becomes
        // |bucket| for the hot keys, same recall argument as the batch cap
        val w = Window.partitionBy(col("__band"))
        val sized = sigs
          .withColumn("__bn", count(lit(1)).over(w))
          .withColumn("__bmin", min(col("__id")).over(w))
          .withColumn("__bminNew", max(when(col("__id") === col("__bmin"),
            col("__new").cast("int"))).over(w) === 1)
        val small = sized.filter(col("__bn") <= cap)
          .select(col("__id"), col("__new"), col("__band"))
        val smallPairs = probe(small.filter(col("__new")), small)
        val starPairs = sized
          .filter(col("__bn") > cap && col("__id") =!= col("__bmin") &&
            (col("__new") || col("__bminNew")))
          .select(col("__bmin").as("id_a"), col("__id").as("id_b"))
        smallPairs.unionByName(starPairs)
    }).dropDuplicates("id_a", "id_b")
    releasing(table)(verifyJaccard(candidates, table, threshold))
  }

  /** Join shingle-hash sets onto (id_a, id_b) candidates and keep pairs ≥ t.
   * Verification intersects 64-bit hash arrays instead of shingle strings —
   * identical Jaccard up to xxhash64 collisions (~2⁻⁶⁴ per pair) at a
   * fraction of the comparison cost. */
  private def verifyJaccard(candidates: DataFrame, shingleTable: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(shingleTable.select(col("__id").as("id_a"), col("__shh").as("__sa")), "id_a")
      .join(shingleTable.select(col("__id").as("id_b"), col("__shh").as("__sb")), "id_b")
      .withColumn("jaccard", jaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  // --- SimHash ---------------------------------------------------------------

  /**
   * 64-bit SimHash of a token array as a single column expression: per bit,
   * sum +1/-1 votes from each token's xxhash64; bit set iff the sum is
   * positive. Near-dup iff hamming(simhash) ≤ k.
   */
  def simhash(tokens: Column): Column =
    simhashFromHashes(transform(tokens, t => xxhash64(t)))

  /** SimHash from pre-computed 64-bit token hashes. Callers that feed many
   * expressions should materialize the hash array in its own projection
   * first so the string hashing runs once, not 64 times. */
  def simhashFromHashes(hashes: Column): Column =
    (0 until 64).map { bit =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /**
   * SimHash near-duplicate pairs: bucket by the 4 16-bit chunks of the
   * signature (a pair within hamming ≤ 3 must agree on ≥1 chunk — pigeonhole),
   * verify hamming inside buckets.
   */
  def simhashDuplicates(
      df: DataFrame, idCol: Column, textCol: Column,
      maxHamming: Int = 3): DataFrame = {
    // per-bit votes as explode + conditional-sum aggregates (codegen'd with
    // map-side combine) instead of 64 interpreted HOF folds
    val exploded = df.select(idCol.as("__id"), explode(Tokenize.word(textCol)).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val voteCols = (0 until 64).map { bit =>
      sum(when(shiftright(col("__h"), bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"__v$bit")
    }
    val votes = exploded.groupBy(col("__id")).agg(voteCols.head, voteCols.tail: _*)
    val sigCol = (0 until 64).map { bit =>
      when(col(s"__v$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))
    // materialize the signature table before the pigeonhole self-join: both
    // join branches would otherwise re-run the 64-aggregate vote pass
    val sigBase = votes.select(col("__id"), sigCol.as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigBase.count()
    val sigs = sigBase
      .withColumn("__chunk", explode(array((0 until 4).map { c =>
        struct(lit(c).as("c"), shiftright(col("__sig"), c * 16).bitwiseAND(0xFFFFL).as("v"))
      }: _*)))
    val pairs = sigs.as("a").join(sigs.as("b"),
        col("a.__chunk") === col("b.__chunk") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__sig").as("__siga"), col("b.__sig").as("__sigb"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .withColumn("hamming", hamming64(col("__siga"), col("__sigb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // --- n-gram Jaccard (bucketed) --------------------------------------------

  /**
   * Exact Jaccard near-dup pairs within explicit buckets, with
   * *prefix-filtering* candidate generation (PPJoin-style): order each
   * document's shingles rare-first by global frequency; any pair with
   * Jaccard ≥ t must share a shingle among each side's first
   * |S| − ceil(t·|S|) + 1 shingles, so the candidate join runs only on those
   * prefix shingles. Sub-quadratic where plain bucket² pairing is not:
   * work scales with shingle-postings sizes, and the rare-first ordering
   * keeps the join keys nearly unique (no hot-key skew). Verification is
   * exact set Jaccard — no false positives, and prefix filtering provably
   * admits every qualifying pair.
   */
  def ngramJaccardDuplicates(
      df: DataFrame, idCol: Column, textCol: Column, bucketCols: Seq[Column],
      shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    val bNames = bucketCols.indices.map(i => s"__b$i")
    val toks = withShingles(df,
        bucketCols.zip(bNames).map { case (c, n) => c.as(n) } :+ idCol.as("__id"),
        textCol, shingleSize, sorted = true)
      // consumed by prefix pass and verification — persist so shingle
      // construction runs once; eager count: the prefix self-join's two
      // branches scan this cache in one job and would otherwise race into
      // duplicate shingle scans (same pattern as minhash/clusterPairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    toks.count()

    // canonical prefix ordering: prefix filtering only needs a globally-
    // consistent total order, and the hashed shingle array is already sorted,
    // so the prefix is just the first L elements — zero shuffles, no
    // frequency pass. (Rare-first ordering would shrink candidates further;
    // hash order is uniform already.)
    val prefixLen = (size(col("__shh")) - ceil(size(col("__shh")) * threshold) + 1).cast("int")
    val prefixes = toks
      .withColumn("__len", size(col("__shh")))
      .select((bNames.map(col) :+ col("__id") :+ col("__len") :+
        posexplode(slice(col("__shh"), lit(1), prefixLen)).as(Seq("__p", "__s"))): _*)

    // full PPJoin candidate pruning (Xiao et al. 2011 §3), both filters as
    // pure join predicates — no extra pass, no shuffle beyond the prefix join:
    //  * LENGTH: J(a,b) ≥ t forces t·|a| ≤ |b| (and symmetrically) — wildly
    //    different sizes can never qualify.
    //  * POSITIONAL: shingles are sorted consistently on both sides, so for
    //    a shared prefix token at 0-based positions (pa, pb) every further
    //    common element sits strictly after BOTH — overlap ≤ 1 +
    //    min(|a|−pa−1, |b|−pb−1); J ≥ t needs overlap ≥ ⌈t/(1+t)·(|a|+|b|)⌉.
    //    The pair's FIRST common token is provably inside both prefixes and
    //    satisfies the bound whenever the pair qualifies, so filtering every
    //    match row keeps at least that row — no qualifying pair is lost.
    val la = col("a.__len"); val lb = col("b.__len")
    val minOverlap = ceil((la + lb) * threshold / (1.0 + threshold))
    val joinCond = (bNames.map(n => col(s"a.$n") === col(s"b.$n")) :+
      (col("a.__s") === col("b.__s")) :+ (col("a.__id") < col("b.__id")) :+
      (lb >= ceil(la * threshold)) :+ (la >= ceil(lb * threshold)) :+
      (lit(1) + least(la - col("a.__p") - 1, lb - col("b.__p") - 1) >= minOverlap))
      .reduce(_ && _)
    val candidates = prefixes.as("a").join(prefixes.as("b"), joinCond)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, toks, threshold)
  }

  // --- embedding cosine near-dup --------------------------------------------

  /**
   * Random-hyperplane LSH over embeddings: `planes` deterministic (hash-
   * derived) hyperplanes → sign-bit signature → bucket-join → exact cosine
   * verify. Pairs at distance ~0 always share the signature, so exact
   * duplicates are never missed; the probabilistic miss rate applies only
   * near the threshold (standard SimHash-for-cosine guarantee).
   */
  def embeddingDuplicates(
      df: DataFrame, idCol: Column, vecCol: Column,
      dim: Int, planes: Int = 16, maxCosineDistance: Double = 0.05): DataFrame = {
    // deterministic pseudo-random hyperplanes from a hash sequence
    val hp: Array[Array[Double]] = Array.tabulate(planes, dim) { (p, d) =>
      val h = scala.util.hashing.MurmurHash3.productHash((p, d, 42))
      (h.toDouble / Int.MaxValue) // in [-1, 1]
    }
    def sigOf(vec: Column): Column = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vec, typedLit(hp(p).toSeq), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))
    val sigs = df.select(idCol.as("__id"), vecCol.as("__vec"))
      .withColumn("__sig", sigOf(col("__vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager: the bucket self-join's branches share this cache within one job
    sigs.count()
    sigs.as("a").join(sigs.as("b"),
        col("a.__sig") === col("b.__sig") && col("a.__id") < col("b.__id"))
      .withColumn("dist", VectorFunctions.cosineDistance(col("a.__vec"), col("b.__vec")))
      .filter(col("dist") <= maxCosineDistance)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"), col("dist"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — "SemDeDup: Data-efficient
   * learning at web-scale through semantic deduplication"): cluster the
   * embedding space, then deduplicate *within clusters only* — the paper's
   * trick for making pairwise cosine tractable (work = Σ cluster² ≈ n²/k,
   * their k is ~11k clusters at 100M+ docs; here the cluster id is a plain
   * equi-join key, so the shape survives 100 TB for the same reason the LSH
   * buckets above do).
   *
   * Semantics per the paper §2: within a cluster, rows whose pairwise cosine
   * similarity exceeds `epsSimilarity` are semantic duplicates; from each
   * duplicate group KEEP the example with the LOWEST cosine similarity to the
   * cluster representative (the "farthest from centroid" choice) — i.e. a row
   * is dropped iff some in-cluster neighbour above the threshold has strictly
   * lower representative-similarity (ties keep the smaller id).
   *
   * Clustering: deterministic nearest-seed assignment with seeds = the `k`
   * smallest-id rows (k-means at 0 iterations, L2 metric, lower seed index
   * wins ties — the codegen'd NearestCentroids kernel). Deterministic and
   * exactly SQL-reproducible (q_dedup_semantic replays it in DuckDB); at
   * scale swap in trained KMeans centroids — the dedup semantics are
   * unchanged, only cluster quality improves.
   *
   * Returns every input row: (id, cluster, cent_sim, kept).
   */
  /** Deterministic nearest-seed cluster assignment — the shared clustering
   * primitive of [[semantic]] dedup and [[Curate.clusterBalanced]] sampling:
   * seeds = the `k` smallest-id rows (bounded driver set, same footprint as
   * the IVF centroid table), L2-nearest with lower seed index winning ties
   * (the codegen'd NearestCentroids kernel), `__csim` = cosine similarity to
   * the seed. Exactly SQL-reproducible; at scale swap in trained KMeans
   * centroids. Returns (__id, __vec, __cluster, __csim). */
  def seedAssign(df: DataFrame, idCol: Column, vecCol: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    val rows = df.select(idCol.as("__id"), vecCol.as("__vec"))
    val seedRows = rows.orderBy(col("__id")).limit(k).collect()
    val centers: Array[Array[Double]] =
      seedRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    import spark.implicits._
    val seedDf = seedRows.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }.toSeq
      .toDF("__cluster", "__seedvec")
    rows
      .withColumn("__cluster",
        element_at(VectorFunctions.nearestCentroids(col("__vec"), centers, 1), 1))
      .join(broadcast(seedDf), Seq("__cluster"))
      .withColumn("__csim",
        lit(1.0) - VectorFunctions.cosineDistance(col("__vec"), col("__seedvec")))
      .drop("__seedvec")
  }

  def semantic(df: DataFrame, idCol: Column, vecCol: Column,
               k: Int = 16, epsSimilarity: Double = 0.95): DataFrame = {
    val assigned = seedAssign(df, idCol, vecCol, k)
      // the duplicate self-join's two branches share this cache in one job
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count()
    val hasBetterDup = assigned.as("a").join(assigned.as("b"),
      col("a.__cluster") === col("b.__cluster") && col("a.__id") =!= col("b.__id") &&
        (lit(1.0) - VectorFunctions.cosineDistance(col("a.__vec"), col("b.__vec"))) > epsSimilarity &&
        (col("b.__csim") < col("a.__csim") ||
          (col("b.__csim") === col("a.__csim") && col("b.__id") < col("a.__id"))),
      "left_semi")
      .select(col("__id"))
    assigned.join(hasBetterDup.withColumn("__dropped", lit(true)), Seq("__id"), "left")
      .select(col("__id").as("id"), col("__cluster").as("cluster"),
        col("__csim").as("cent_sim"), coalesce(!col("__dropped"), lit(true)).as("kept"))
  }

  /** Brute-force oracle for the LSH paths (test-scale only): all pairs below
   * the threshold. */
  def embeddingDuplicatesBruteForce(
      df: DataFrame, idCol: Column, vecCol: Column, maxCosineDistance: Double): DataFrame = {
    val s = df.select(idCol.as("__id"), vecCol.as("__vec"))
    s.as("a").join(s.as("b"), col("a.__id") < col("b.__id"))
      .withColumn("dist", VectorFunctions.cosineDistance(col("a.__vec"), col("b.__vec")))
      .filter(col("dist") <= maxCosineDistance)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"), col("dist"))
  }

  // --- Duplicate clustering --------------------------------------------------

  /**
   * Cross-document duplicated-SUBSTRING coverage — the span-level exact-dedup
   * signal of Lee et al. 2022, "Deduplicating Training Data Makes Language
   * Models Better" (arXiv:2107.06499), which removes repeated SPANS rather
   * than whole near-duplicate documents (their ExactSubstr; the suffix-array
   * machinery collapses to an n-gram join in the bulk-batch setting). A token
   * n-gram occurring in at least `minDocs` DISTINCT documents marks its span
   * [pos, pos+n) as duplicated; per document we report how many of its
   * n-grams are cross-doc duplicates and the fraction of its tokens covered
   * by the union of those spans — the score a curation pipeline thresholds
   * on (or feeds to span excision).
   *
   * Scale shape: one explode producing O(total tokens) (id, pos, hash) rows
   * with the n-gram hashed to 8 bytes by codegen'd xxhash64 (the gram string
   * never crosses a shuffle); one hash-keyed count-distinct to find
   * cross-doc grams; one shuffle join back; a per-doc aggregate whose
   * collect_list is bounded by the document's own token count. Everything is
   * linear in corpus size — no pairwise comparisons anywhere. The union
   * length of fixed-length intervals over sorted positions is
   * n + Σ min(n, gap), computed with codegen'd array ops (no UDF).
   *
   * Within-document repetition deliberately does NOT count (that signal is
   * TextAnalysis.repetition, the Gopher/MassiveText statistics).
   */
  def substringCoverage(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = df.select(idCol.as("__id"), Tokenize.whitespace(textCol).as("__toks"))
      .withColumn("__ntok", size(col("__toks")).cast("long"))
    val grams = base.filter(col("__ntok") >= n)
      .select(col("__id"), col("__ntok"),
        posexplode(expr(
          s"transform(sequence(0, int(__ntok) - $n), i -> xxhash64(array_join(slice(__toks, i + 1, $n), ' ')))"))
          .as(Seq("__pos", "__h")))
    val dupGrams = grams.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__h"))
    val perDoc = grams.join(dupGrams, Seq("__h"), "left_semi")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("dup_ngrams"),
        sort_array(collect_list(col("__pos"))).as("__ps"))
      .withColumn("__cov",
        lit(n) + coalesce(expr(
          s"aggregate(zip_with(slice(__ps, 2, size(__ps) - 1), slice(__ps, 1, size(__ps) - 1), (a, b) -> least(a - b, $n)), 0, (acc, x) -> acc + x)"), lit(0)))
    base.join(perDoc, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
        when(col("__ntok") > 0,
          coalesce(col("__cov").cast("double"), lit(0.0)) / col("__ntok"))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }

  /**
   * Edit-distance similarity join (typo-level near-dup detection — catches
   * OCR noise and single-character corruptions that token-level Jaccard and
   * MinHash miss entirely): pairs with Levenshtein distance ≤ `maxEdits`.
   *
   * Segment pigeonhole, bucket-then-verify (PassJoin — Li, Deng, Feng,
   * ICDE 2011): each string splits into τ+1 contiguous segments (τ =
   * maxEdits); τ edits cannot touch every segment, so for any qualifying
   * pair at least ONE segment of either side appears in the other EXACTLY,
   * shifted by at most τ positions (the net displacement of at most τ
   * preceding edits). Index keys are a string's own τ+1 segments under its
   * own length's partition scheme; probe keys are the substrings a string
   * carries at every partner length within ±τ and every start within ±τ of
   * that scheme's segment position. Candidates come from the (segment
   * content, partner length, segment id) equi-join — keys are hashed to
   * 8-byte xxhash64 so only fixed-width longs cross the shuffle (a hash
   * collision can only ADD a candidate; the verify is exact). Verification
   * is the codegen'd `levenshtein` WITH the τ threshold (the banded DP
   * early-exits at τ+1, so long-string verification is O(τ·len) not len²).
   * The q_dedup_edit oracle is ALL-PAIRS Levenshtein in DuckDB,
   * independently proving the filter admits every qualifying pair.
   *
   * Why segments and not q-gram prefixes (EDJoin): segments are len/(τ+1)
   * chars — near-unique on real text — while positional q-grams draw from
   * a tiny vocabulary, so gram postings explode on low-entropy corpora
   * (the EDJoin formulation produced 890k candidates on the 5.2k-doc
   * q_dedup_edit bed — 6.6% of ALL pairs — vs ~1k for segments; measured
   * 5.6 s → ~2 s at sf0.1). Probe fan-out is bounded: (2τ+1) partner
   * lengths × (τ+1) segments × ≤(2τ+1) starts, constant per row.
   *
   * Scale shape: segment-bucketed equi-join (Σ posting² per key, the
   * bucket-then-verify pattern of every dedup above), ids only until the
   * verify fetch. Strings shorter than (τ+1)·q chars would yield segments
   * under `q` chars (hot single-char buckets), so they fall back to a
   * length-band key: a short string pairs with every string within the
   * ±τ length filter, keeping full recall; the band fan-out is bounded by
   * the sub-(τ+1)·q population, tiny on document corpora.
   */
  def editDistanceDuplicates(df: DataFrame, idCol: Column, strCol: Column,
                             maxEdits: Int = 2, q: Int = 3): DataFrame = {
    require(maxEdits >= 0 && q >= 1, "maxEdits >= 0, q >= 1")
    val tau = maxEdits
    val nseg = tau + 1
    val shortCut = nseg * q
    val s = df.select(idCol.as("__id"), strCol.as("__s"))
      .withColumn("__len", length(col("__s")).cast("long"))
    val long = s.filter(col("__len") >= shortCut)
    // partition scheme for length L: base = L div nseg, rem = L mod nseg;
    // the LAST rem segments get one extra char — both sides must compute
    // identical boundaries from the PARTNER length alone
    def segLen(l: String, i: String) =
      s"(($l) DIV $nseg + (CASE WHEN ($i) >= $nseg - (($l) % $nseg) THEN 1 ELSE 0 END))"
    def segPos(l: String, i: String) =
      s"(($i) * (($l) DIV $nseg) + greatest(0, ($i) - ($nseg - (($l) % $nseg))))"
    // index: own segments under the own-length scheme
    val idx = long.select(col("__id"), col("__len"), explode(expr(
      s"""transform(sequence(0, $tau), i ->
         |  xxhash64(substring(__s, ${segPos("int(__len)", "i")} + 1,
         |                     ${segLen("int(__len)", "i")}), int(__len), i))""".stripMargin))
      .as("__k"))
    // probe: for each partner length L in [len-τ, len+τ] (long side only —
    // short partners pair through the band keys) and each segment i of L's
    // scheme, the substrings starting within ±τ of that scheme's position.
    // Empty start ranges guard against Spark's DESCENDING sequence(a,b) when
    // a > b; array_distinct folds duplicate keys before the join.
    val probe = long.select(col("__id"), col("__len"), explode(expr(
      s"""array_distinct(flatten(flatten(
         |  transform(sequence(greatest(int(__len) - $tau, $shortCut), int(__len) + $tau), L ->
         |    transform(sequence(0, $tau), i ->
         |      CASE WHEN least(${segPos("L", "i")} + $tau, int(__len) - ${segLen("L", "i")})
         |                >= greatest(${segPos("L", "i")} - $tau, 0)
         |        THEN transform(sequence(greatest(${segPos("L", "i")} - $tau, 0),
         |                                least(${segPos("L", "i")} + $tau,
         |                                      int(__len) - ${segLen("L", "i")})), a ->
         |               xxhash64(substring(__s, a + 1, ${segLen("L", "i")}), L, i))
         |        ELSE array() END)))))""".stripMargin))
      .as("__k"))
    // band fallback keys pair through a symmetric self-join plane (both
    // sides of a short pair emit the same key)
    val bands = shortBandKeys(s, maxEdits, q)
    val candsSeg = probe.as("a").join(idx.as("b"),
        col("a.__k") === col("b.__k") && col("a.__id") =!= col("b.__id") &&
          abs(col("a.__len") - col("b.__len")) <= tau)
      .select(least(col("a.__id"), col("b.__id")).as("id_a"),
        greatest(col("a.__id"), col("b.__id")).as("id_b"))
    val candsBand = bands.as("a").join(bands.as("b"),
        col("a.__k") === col("b.__k") && col("a.__id") < col("b.__id") &&
          abs(col("a.__len") - col("b.__len")) <= tau)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val cands = candsSeg.unionByName(candsBand).distinct()
    cands
      .join(s.select(col("__id").as("id_a"), col("__s").as("__sa")), Seq("id_a"))
      .join(s.select(col("__id").as("id_b"), col("__s").as("__sb")), Seq("id_b"))
      .withColumn("edit_distance", levenshtein(col("__sa"), col("__sb"), maxEdits).cast("long"))
      .filter(col("edit_distance") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_distance"))
  }

  /** Length-band fallback keys for [[editDistanceDuplicates]]'s short
   * strings (len < (maxEdits+1)·q — segments would drop under q chars and
   * the buckets go hot). A short string emits band keys §len..§(len+maxEdits);
   * a boundary-long partner (len < (maxEdits+1)·q + maxEdits, which already
   * carries segment keys for its long-long pairs) emits only §len. Any pair
   * within the ±maxEdits length filter where at least one side is short then
   * shares the key §max(lenA, lenB), so the candidate join misses nothing.
   * Bands are salted into their own hash plane ('§band'); a collision with a
   * segment hash could only ADD a candidate (the verify is exact). */
  private def shortBandKeys(s: DataFrame, maxEdits: Int, q: Int): DataFrame = {
    val shortCut = (maxEdits + 1) * q
    val short = s.filter(col("__len") < shortCut)
      .select(col("__id"), col("__len"),
        explode(expr(s"transform(sequence(__len, __len + $maxEdits), " +
          "b -> xxhash64('§band', b))")).as("__k"))
    val boundary = s.filter(col("__len") >= shortCut &&
        col("__len") < shortCut + maxEdits)
      .select(col("__id"), col("__len"),
        expr("xxhash64('§band', __len)").as("__k"))
    short.unionByName(boundary)
  }

  /**
   * Span-level benchmark CONTAMINATION — [[substringCoverage]]'s machinery
   * pointed ACROSS corpora: per corpus document, the tokens covered by an
   * n-gram that appears ANYWHERE in the benchmark corpus (exact-substring
   * matching is the rigorous form of benchmark decontamination — Lee et al.
   * 2022 — vs [[Decontaminate.ngramOverlap]]'s doc-level flag; GPT-3's
   * 13-gram rule is this signal with n=13). Returns every corpus row:
   * (id, contaminated_ngrams, contaminated_fraction). Benchmark items
   * shorter than n tokens contribute no grams — pick n accordingly.
   *
   * Scale shape: both corpora explode linearly; the benchmark gram set is
   * distinct 8-byte hashes semi-joined against the corpus grams — no
   * pairwise work, the contaminated interval union is per-doc arithmetic.
   */
  def substringContamination(df: DataFrame, idCol: Column, textCol: Column,
                             bench: DataFrame, benchTextCol: Column,
                             n: Int = 8): DataFrame = {
    val base = df.select(idCol.as("__id"), Tokenize.whitespace(textCol).as("__toks"))
      .withColumn("__ntok", size(col("__toks")).cast("long"))
    val grams = base.filter(col("__ntok") >= n)
      .select(col("__id"), col("__ntok"),
        posexplode(expr(
          s"transform(sequence(0, int(__ntok) - $n), i -> xxhash64(array_join(slice(__toks, i + 1, $n), ' ')))"))
          .as(Seq("__pos", "__h")))
    val benchGrams = bench
      .select(Tokenize.whitespace(benchTextCol).as("__btoks"))
      .withColumn("__bn", size(col("__btoks")).cast("long"))
      .filter(col("__bn") >= n)
      .select(explode(expr(
        s"transform(sequence(0, int(__bn) - $n), i -> xxhash64(array_join(slice(__btoks, i + 1, $n), ' ')))"))
        .as("__h"))
      .distinct()
    val perDoc = grams.join(benchGrams, Seq("__h"), "left_semi")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("contaminated_ngrams"),
        sort_array(collect_list(col("__pos"))).as("__ps"))
      .withColumn("__cov",
        lit(n) + coalesce(expr(
          s"aggregate(zip_with(slice(__ps, 2, size(__ps) - 1), slice(__ps, 1, size(__ps) - 1), (a, b) -> least(a - b, $n)), 0, (acc, x) -> acc + x)"), lit(0)))
    base.join(perDoc, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("contaminated_ngrams"), lit(0L)).as("contaminated_ngrams"),
        when(col("__ntok") > 0,
          coalesce(col("__cov").cast("double"), lit(0.0)) / col("__ntok"))
          .otherwise(lit(0.0)).as("contaminated_fraction"))
  }

  /**
   * ExactSubstr span EXCISION — the cleaning step the coverage signal above
   * feeds (Lee et al. 2022; their released suffix-array tool emits the byte
   * ranges of duplicated substrings and removes EVERY occurrence, first
   * copies included — mirrored here at token granularity). Every token
   * position covered by an n-gram that occurs in ≥ `minDocs` distinct
   * documents is dropped; the survivors re-join with single spaces as
   * `clean_text`.
   *
   * Scale shape: the same linear explode + hash-keyed count-distinct +
   * semi-join as [[substringCoverage]]; covered positions become a distinct
   * (id, pos) frame anti-joined against the token frame, and the per-doc
   * re-assembly is one collect_list bounded by the document's own token
   * count. Every shuffle is equi-keyed on (id[, pos]) or the 8-byte gram
   * hash — no pairwise work, no global window.
   */
  def substringRemove(df: DataFrame, idCol: Column, textCol: Column,
                      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = df.select(idCol.as("__id"), Tokenize.whitespace(textCol).as("__toks"))
      .withColumn("__ntok", size(col("__toks")).cast("long"))
    val grams = base.filter(col("__ntok") >= n)
      .select(col("__id"),
        posexplode(expr(
          s"transform(sequence(0, int(__ntok) - $n), i -> xxhash64(array_join(slice(__toks, i + 1, $n), ' ')))"))
          .as(Seq("__pos", "__h")))
    val dupGrams = grams.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__h"))
    val covered = grams.join(dupGrams, Seq("__h"), "left_semi")
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + lit(n - 1))).as("__pos"))
      .distinct()
    val tokens = base.select(col("__id"), posexplode(col("__toks")).as(Seq("__pos", "__w")))
    val kept = tokens.join(covered, Seq("__id", "__pos"), "left_anti")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__w")))),
          x => x.getField("__w")), " ").as("clean_text"))
    base.select(col("__id"), col("__ntok")).join(kept, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("__ntok") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"))
  }

  /**
   * Content-defined chunking (CDC) dedup — the chunk-granular exact-dedup
   * used for incremental corpus updates and storage dedup (FastCDC/LBFS
   * lineage, applied at token granularity). A position i is a chunk
   * BOUNDARY iff the hash of the `window`-token context ending at i
   * satisfies hash ≡ 0 (mod `divisor`) — boundaries depend only on local
   * content, so an insertion re-chunks only its neighbourhood (the CDC
   * property; expected chunk length ≈ divisor tokens). No min/max chunk
   * clamps: those would make boundaries sequentially dependent — the
   * stateless rule keeps chunking embarrassingly parallel AND replayable
   * in SQL. The uniform comes from md5 (like mixtureSample), so any engine
   * reproduces the exact cutpoints.
   *
   * Returns per doc: `n_chunks`, `dup_chunks` (chunks whose content occurs
   * in ≥ minDocs distinct docs), `dup_token_frac` (tokens inside duplicated
   * chunks / total tokens). Cross-doc only — within-doc repeats don't count,
   * same contract as [[substringCoverage]].
   *
   * Scale shape: posexplode + per-doc window (context concat + boundary
   * running count — one shuffle keyed on id, partitions bounded by doc
   * length), groupBy (id, chunk) with a doc-bounded collect_list, then a
   * hash-keyed count-distinct and one join back. No pairwise work.
   */
  def cdcChunkDedup(df: DataFrame, idCol: Column, textCol: Column,
                    window: Int = 4, divisor: Int = 16,
                    minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(idCol.as("__id"), Tokenize.whitespace(textCol).as("__toks"))
      .withColumn("__ntok", size(col("__toks")).cast("long"))
    val toks = base.select(col("__id"), posexplode(col("__toks")))
      .toDF("__id", "__pos", "__w")
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    // context = the `window` tokens ending at this position (shorter at the
    // head); boundary = md5-uniform of the context ≡ 0 (mod divisor)
    val ctx = concat_ws(" ",
      ((window - 1) to 1 by -1).map(k => lag(col("__w"), k).over(byDoc)) :+ col("__w"): _*)
    val boundary = (conv(substring(md5(ctx), 1, 8), 16, 10).cast("long") % divisor === 0)
      .cast("int")
    // chunk index = boundaries seen STRICTLY BEFORE this position (a boundary
    // at i starts the NEXT chunk at i+1: the boundary token closes its chunk)
    val chunked = toks
      .withColumn("__b", boundary)
      .withColumn("__chunk",
        coalesce(sum(col("__b")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
    val chunks = chunked.groupBy(col("__id"), col("__chunk"))
      .agg(count(lit(1)).as("__clen"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__w")))),
          x => x.getField("__w")), " ")).as("__chash"))
    val dupHashes = chunks.groupBy(col("__chash"))
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__chash"))
    val perDoc = chunks
      .join(dupHashes, Seq("__chash"), "left_semi")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("dup_chunks"), sum(col("__clen")).as("__dup_toks"))
    base.select(col("__id"), col("__ntok"))
      .join(chunks.groupBy(col("__id")).agg(count(lit(1)).as("n_chunks")), Seq("__id"), "left")
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
        when(col("__ntok") > 0,
          coalesce(col("__dup_toks").cast("double"), lit(0.0)) / col("__ntok"))
          .otherwise(lit(0.0)).as("dup_token_frac"))
  }

  /** Pair relations of at most this many pairs are clustered on the
   * driver; larger ones by the distributed loop. At the bound the driver
   * holds 100k collected rows of two longs and at most 200k labels, which a
   * broadcast carries: far above the pairs a curation pass verifies (about
   * 3000 on a 12000-doc corpus with 1000 planted clusters), far below
   * driver memory. The bound is that driver-memory limit, not a measured
   * crossover between the arms: no benchmark workload verifies enough pairs
   * to reach the distributed arm, so where it starts to win is unknown. */
  private[graft] val DriverClusterMaxPairs = 100000

  /**
   * Turn a duplicate-PAIR relation (what every *Duplicates operator above
   * emits) into connected components — the step a real dedup pipeline needs
   * before it can act: `cluster_id` = smallest member id, so "keep one per
   * cluster" is the single predicate `id == cluster_id`.
   *
   * Two arms, by the size of the relation. The pairs are checkpointed once
   * (`localCheckpoint`: the relation is typically an expensive LSH plan),
   * and up to [[DriverClusterMaxPairs]] + 1 of them are collected.
   *  - At most the bound: a union-find on the driver labels the
   *    components, min id = root, and the labels come back as a local
   *    frame. The checkpoint and the bounded collect are the only jobs,
   *    whatever the diameter.
   *  - Above the bound: distributed min-label propagation. Each round every
   *    node takes the minimum label over itself and its neighbours (one
   *    shuffle join + one partial-aggregated groupBy — both scale-safe
   *    shapes), until no label changes. Labels only fall, so the loop ends
   *    within the component diameter; duplicate clusters are near-cliques
   *    by construction (pairwise similarity above a threshold), so that is
   *    typically 2–3 rounds. Lineage is truncated per round
   *    (localCheckpoint), otherwise the iterated plan grows without bound.
   *    The convergence probe is an `isEmpty` on the changed-labels frame —
   *    a distributed probe, not a collect.
   *
   * Returns (id, cluster_id) for every node that appears in `pairs`
   * (singletons never enter a pair relation and are their own cluster by
   * definition — callers need not materialize them). Pairs with a null side
   * are ignored.
   */
  def clusterPairs(pairs: DataFrame, aCol: Column, bCol: Column): DataFrame =
    clusterPairs(pairs, aCol, bCol, DriverClusterMaxPairs)

  /** [[clusterPairs]] with the driver arm's bound given, so tests can run
   * the distributed arm on small relations. */
  private[graft] def clusterPairs(pairs: DataFrame, aCol: Column, bCol: Column,
                                  driverMaxPairs: Int): DataFrame =
    clusterLabels(pairs, aCol, bCol, driverMaxPairs)._1

  /** The labels of [[clusterPairs]], and whether the driver arm made them
   * (a local frame, small enough to broadcast). */
  private def clusterLabels(pairs: DataFrame, aCol: Column, bCol: Column,
                            driverMaxPairs: Int): (DataFrame, Boolean) = {
    // materialize the relation EAGERLY: it is read by the bounded collect
    // and, above the bound, by the symmetrizing union, whose two branches
    // would otherwise race in one stage, each recomputing the LSH plan
    val p = pairs.select(aCol.cast("long").as("src"), bCol.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    // p's checkpoint blocks are released by the ContextCleaner once the
    // RDD is unreferenced; the labels carry no lineage onto them
    val local = p.limit(driverMaxPairs + 1).collect()
    if (local.length <= driverMaxPairs) {
      val spark = p.sparkSession
      import spark.implicits._
      (unionFind(local.map(_.getLong(0)), local.map(_.getLong(1))).toSeq
        .toDF("id", "cluster_id"), true)
    } else (propagateLabels(p), false)
  }

  /** Connected components of the edges (src(k), dst(k)), as (id, smallest
   * id of its component) for every id on an edge. */
  private def unionFind(src: Array[Long], dst: Array[Long]): Array[(Long, Long)] = {
    val ids = (src ++ dst).distinct.sorted
    // root = the smallest index of the component, which is its smallest id
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    var k = 0
    while (k < src.length) {
      val a = find(java.util.Arrays.binarySearch(ids, src(k)))
      val b = find(java.util.Arrays.binarySearch(ids, dst(k)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 1
    }
    Array.tabulate(ids.length)(i => (ids(i), ids(find(i))))
  }

  /** The distributed arm of [[clusterPairs]] over the checkpointed (src,
   * dst) relation: min-label propagation to the fixpoint. */
  private def propagateLabels(p: DataFrame): DataFrame = {
    val sym = p
      .unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    // fused round 0: label(v) = min(v, min(neighbours)) in ONE groupBy —
    // the node list and the first propagation round are the same aggregate,
    // which for the near-clique components dedup produces (diameter ≤ 2)
    // leaves only a confirmation round in the loop
    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nbr_min"))
      .select(col("id"), least(col("id"), col("__nbr_min")).as("cluster_id"))
      .localCheckpoint(true)
    var converged = false
    while (!converged) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("__nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("__nl")).as("__nbr_min"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__nbr_min"), col("cluster_id"))).as("cluster_id"),
          (col("__nbr_min") < col("cluster_id")).as("__changed"))
        .localCheckpoint(true)
      converged = next.filter(col("__changed")).isEmpty
      labels = next.drop("__changed")
    }
    sym.unpersist()
    labels
  }

  /**
   * Canonical-representative selection — the step that turns duplicate PAIRS
   * into a deduplicated corpus: cluster the pairs ([[clusterPairs]]), then
   * keep exactly one document per cluster — the best by `qualityCol` (ties
   * to the smallest id; "keep the longest/highest-quality copy" is the
   * standard large-corpus rule). Documents in no pair are their own
   * singleton cluster and always survive.
   *
   * Scale shape: winners are picked only among the clustered documents —
   * the corpus joins the labels on the id (inner), and one `max_by`
   * hash-agg on the cluster key runs over that pair-touched minority; the
   * overwhelming singleton majority never shuffles. The corpus then joins
   * the labels and the winners (left) in one pass. When [[clusterPairs]]
   * took its driver arm (at most [[DriverClusterMaxPairs]] pairs), the label
   * and winner frames are small and both joins are broadcast; above the
   * bound the planner picks the join by size. Output is corpus-sized with a
   * boolean verdict, so callers filter `kept`.
   *
   * Returns (id, cluster_id, quality, kept).
   */
  def selectCanonical(docs: DataFrame, idCol: Column, qualityCol: Column,
                      pairs: DataFrame, aCol: Column, bCol: Column): DataFrame =
    selectCanonical(docs, idCol, qualityCol, pairs, aCol, bCol, DriverClusterMaxPairs)

  /** [[selectCanonical]] with [[clusterPairs]]' driver bound given. */
  private[graft] def selectCanonical(docs: DataFrame, idCol: Column, qualityCol: Column,
                                     pairs: DataFrame, aCol: Column, bCol: Column,
                                     driverMaxPairs: Int): DataFrame = {
    val (clusters, small) = clusterLabels(pairs, aCol, bCol, driverMaxPairs)
    def sized(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val scored = docs
      .select(idCol.cast("long").as("id"), qualityCol.cast("double").as("quality"))
    // unique ids make (quality, -id) a total order: max_by is deterministic
    val winners = scored.join(sized(clusters), Seq("id"))
      .groupBy(col("cluster_id"))
      .agg(max_by(col("id"), struct(col("quality"), -col("id"))).as("__win"))
    scored.join(sized(clusters), Seq("id"), "left")
      .join(sized(winners), Seq("cluster_id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        col("quality"), (col("__win").isNull || col("id") === col("__win")).as("kept"))
  }

  /** Whitespace-collapsed, lowercased content key — "the same text modulo
   * case and spacing", the normalization Common-Crawl-scale exact dedup
   * runs on before hashing. */
  def normalizedContent(textCol: Column): Column =
    lower(regexp_replace(trim(textCol), "\\s+", " "))

  /**
   * Exact increment-vs-corpus dedup behind a Bloom pre-filter — the
   * daily-ingest membership test at 100 TB. A plain `left_anti`/`left` join
   * shuffles the ENTIRE increment and the corpus key table every day even
   * though almost every incoming row is new; here the standing corpus's
   * normalized-content hashes are folded into one Bloom sketch (a single
   * corpus pass, built once per corpus version and reusable across
   * increments), the sketch is broadcast, and only the bloom-POSITIVE
   * survivors — true duplicates plus an fpp-bounded sliver of false
   * positives — enter the verify join. Bloom filters have no false
   * negatives, so the verify join (on the normalized text itself, not the
   * hash) makes the output EXACT: `dup_of` = smallest corpus id with the
   * same normalized content, null for new rows.
   *
   * Output: one row per increment row — (id, is_duplicate, dup_of).
   *
   * Scale shape: corpus pass 1 is a map-side sketch aggregation (no
   * shuffle); the broadcast is ~1.2 GB per 10⁹ corpus docs at fpp 0.01 —
   * per-executor memory, not driver-resident row data; the verify join's
   * left side is |true dups| + fpp·|increment|, so the shuffled fraction is
   * the duplicate rate, not the increment size. The sketch probe is the one
   * deliberate UDF in this file: it guards the shuffle, it is not on a
   * per-token hot path.
   */
  def bloomDuplicates(corpus: DataFrame, corpusId: Column, corpusText: Column,
                      increment: DataFrame, incId: Column, incText: Column,
                      expectedItems: Long, fpp: Double): DataFrame =
    // one-shot convenience: builds the corpus side inline. Repeated callers
    // must hold a [[bloomCorpus]] handle instead — that is the whole point.
    bloomDuplicates(bloomCorpus(corpus, corpusId, corpusText, expectedItems, fpp),
      increment, incId, incText)

  /** The prebuilt corpus side of [[bloomDuplicates]]: the broadcast sketch
   * plus the (normalized key → owner id) table. Build it ONCE per corpus
   * version and reuse it across every increment — rebuilding per call pays
   * the two corpus passes daily, which is the cost this operator exists to
   * avoid. `owners` is worth persisting (or writing to parquet) at the
   * caller when increments are frequent. Call [[BloomCorpus.destroy]] when
   * the corpus version is retired: the sketch broadcast is pinned by every
   * plan that used it, and long-lived sessions otherwise accumulate
   * sketch-sized broadcasts until the weak-reference cleaner runs. */
  final case class BloomCorpus(
      sketch: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      owners: DataFrame) {
    def destroy(): Unit = sketch.destroy()
  }

  def bloomCorpus(corpus: DataFrame, corpusId: Column, corpusText: Column,
                  expectedItems: Long, fpp: Double): BloomCorpus = {
    val ckeys = corpus.select(corpusId.cast("long").as("cid"),
      normalizedContent(corpusText).as("ckey"))
    // floor the capacity: optimalNumOfBits rounds to ZERO bits for tiny
    // (items, fpp) combinations and Spark rejects a 0-bit sketch
    val bloom = ckeys.select(xxhash64(col("ckey")).as("h"))
      .stat.bloomFilter("h", math.max(64L, expectedItems), fpp)
    val owners = ckeys.groupBy(col("ckey")).agg(min(col("cid")).as("dup_of"))
    BloomCorpus(corpus.sparkSession.sparkContext.broadcast(bloom), owners)
  }

  /** Increment pass of [[bloomDuplicates]] against a prebuilt [[BloomCorpus]].
   * The increment is read in two map-side passes (the bloom-positive branch
   * and its negation) — deliberately NOT persisted: both passes are pure
   * scan+filter with zero shuffle, and at increment scale a cache would cost
   * more than the second scan. Callers with an expensive upstream plan
   * should persist the increment themselves before calling. */
  def bloomDuplicates(corpus: BloomCorpus, increment: DataFrame,
                      incId: Column, incText: Column): DataFrame = {
    val sk = corpus.sketch
    val mightContain = udf((h: Long) => sk.value.mightContainLong(h))
    val inc = increment.select(incId.cast("long").as("id"),
      normalizedContent(incText).as("key"))
    val maybe = inc.filter(mightContain(xxhash64(col("key"))))
    // verify on the normalized text, not the hash: xxhash64 collisions
    // (however unlikely) can never surface as a wrong dup_of
    val verified = maybe.join(corpus.owners, col("key") === col("ckey"), "left")
      .select(col("id"), col("dup_of"))
    // bloom-NEGATIVE rows never touch a join: map-side filter only, so the
    // clean bulk of the increment costs zero shuffle
    val definiteNew = inc.filter(!mightContain(xxhash64(col("key"))))
      .select(col("id"), lit(null).cast("long").as("dup_of"))
    verified.unionByName(definiteNew)
      .select(col("id"), col("dup_of").isNotNull.as("is_duplicate"), col("dup_of"))
  }
}
