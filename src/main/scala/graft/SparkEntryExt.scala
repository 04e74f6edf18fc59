package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionScope

import graft.engine.Graft
import graft.model._
import graft.operators._
import graft.pipeline._

/**
 * Query inventory, part 2: hybrid relativeScore, autocut, objectLimit-scoped
 * aggregation, Explore, boost, the training-pipeline operators (dedup ×4,
 * text analysis ×3, sessionization, kNN classification, ref2vec, multimodal
 * stub). Same determinism rules as SparkEntry.
 */
object SparkEntryExt {

  import Fixtures.cached
  import Gate.{g, okOr, valueOr}
  import SparkEntry.{sqlQv, sqlL2, sqlL2Rev, sqlCosine, sqlBm25, sqlDot, sqlDocVec}

  /** Materialize an encoded bed as a parquet side-table and read it back —
   * the production shape for batch-built index artifacts (same pattern as
   * IvfIndex.build's persistPath). Vs an in-memory persist of the raw frame
   * this (a) truncates the plan to a leaf, so per-query analysis stops
   * re-walking the full encode expression tree (the r10 q_pq_search /
   * q_near_muvera fixed cost), and (b) makes the code-only first pass a real
   * parquet column-pruned scan that never touches the float vectors. */
  private[graft] def sideTable(df: DataFrame, tag: String): DataFrame = {
    val path = Gate.tempDir(tag)
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  // Index artifacts are batch-built side tables (SURVEY §4): build once per
  // dataset, probe per query — mirroring how the reference builds its
  // HNSW/postings offline relative to query serving.
  // PQ artifact over the planted-duplicate bed (embeddings ∪ exact copies):
  // the exact copies give q_pq_search a verifiable oracle — copies of the
  // query vector share its per-segment argmin code, so they carry the
  // minimal possible ADC distance and MUST survive the candidate pass and
  // rank first (dist 0) after exact rescore.
  private[graft] def pqFor(gg: Graft, dir: String): (graft.ann.ProductQuantizer, DataFrame) =
    cached(gg.spark, s"pq:$dir") {
      val bed = embWithPlantedDups(gg)
      val pq = graft.ann.ProductQuantizer.train(bed, "embedding", m = 8, k = 16)
      val encoded = sideTable(bed.withColumn("code", pq.encode(col("embedding"))), "pq")
      (pq, encoded)
    }

  // trained BPE model + segmented vocabulary over the Document corpus —
  // built once per dataset (the tokenizer-training batch job); q_bpe_train
  // serves the merge table, q_bpe_encode the corpus encoding over the SAME
  // vocabulary frame (Bpe.train's contract)
  private[graft] def bpeFor(s: SparkSession, dir: String): (Bpe.BpeModel, DataFrame) =
    cached(s, s"bpe:$dir") {
      val docs = g(s, dir).collection("Document").df
      val (model, vocab) = Bpe.train(docs, col("text"), numMerges = 6)
      (model, sideTable(vocab, "bpe"))
    }

  // WordPiece twin: likelihood-scored merge selection (count(ab)/(count(a)·
  // count(b)) — the BERT trainer's rule) over the corpus PLUS one planted
  // digit document. The plant makes the encode gate discriminative: on the
  // raw corpus every trained vocabulary is merge-chain-nested, so greedy
  // maximal munch coincides with the BPE merge-order fold everywhere (a
  // fold-implementing engine would pass). The plant trains the CROSSING
  // pieces "23" then "12" (likelihood favors pairs with plant-exclusive
  // symbols; the standalone "3"/"1" words keep the bare digits in the
  // vocabulary, their end-marker pairs can never win), so the word "123"
  // folds to [1, 23, </w>] but munches to [12, 3, </w>] — the gate now
  // fails any engine that doesn't implement true longest-match.
  private[graft] val WpPlant: String =
    ("23 " * 400) + ("12 " * 200) + ("3 " * 50) + ("1 " * 50) + "123"
  private[graft] def wpDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    g(s, dir).collection("Document").df.select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, WpPlant)).toDF("doc_id", "text"))
  }
  private[graft] def wpFor(s: SparkSession, dir: String): (Bpe.BpeModel, DataFrame) =
    cached(s, s"wordpiece:$dir") {
      val (model, vocab) = Bpe.train(wpDocs(s, dir), col("text"), numMerges = 6,
        scoring = Bpe.Scoring.Likelihood)
      (model, sideTable(vocab, "wordpiece"))
    }

  // Unigram-LM (SentencePiece) hard-EM trainer — the third tokenizer family.
  // seedSize 96 is the smallest probed seed where round-2 re-estimation
  // actually changes Viterbi paths on this corpus (4 count shifts, one piece
  // pruned) — smaller seeds converge after round 1 and the gate would never
  // exercise the EM recursion; the encode gate separately discriminates
  // Viterbi from greedy munch via the corpus word "value"
  // ([v a lu e</w>] vs [v al ue </w>]).
  private[graft] def uniFor(s: SparkSession, dir: String): graft.pipeline.UnigramLm.Model =
    cached(s, s"unigram:$dir") {
      val docs = g(s, dir).collection("Document").df
      graft.pipeline.UnigramLm.train(docs, col("text"),
        seedSize = 96, maxPieceLen = 4, emRounds = 2)
    }

  // the engine's registered postings index (built lazily by the first
  // keyword query; q_bm25_postings exercises the same artifact directly)
  private[graft] def postingsFor(gg: Graft, dir: String): graft.operators.PostingsIndex =
    gg.postingsFor(gg.collection("Document")).get

  // IVF index over Embedding.default, persisted partitionBy(__centroid) so
  // probing is parquet partition pruning (SURVEY §4; IvfIndex scaladoc).
  // defaultNprobe = nlist ⇒ full probe ⇒ bit-exact vs the brute-force oracle;
  // AnnSpec covers the approximate low-nprobe regime (recall ≥ 0.9).
  private[graft] def ivfFor(gg: Graft, dir: String): graft.ann.IvfIndex =
    cached(gg.spark, s"ivf:$dir") {
      val path = Gate.tempDir("ivf")
      graft.ann.IvfIndex.build(gg.collection("Embedding").df, "vec_id", "embedding",
        nlist = 8, defaultNprobe = 8, persistPath = Some(path))
    }

  // RNG-replica IVF (the hfresh/SPFresh posting-assignment analogue,
  // vector/hfresh/rng.go): centroids PINNED to vecs 0..7 so the ENTIRE
  // structure — replica selection, probe ranking, candidate union — is
  // DuckDB-replayable, and the factor set to 1.2 where the rejection rule
  // BINDS on this corpus (at the reference default 10 no rejection ever
  // fires on 64-d quasi-random data and RNG degenerates to nearest-2; at
  // 1.2 every plausibly-wrong variant — nearest-2, inverted condition,
  // replicas=1 — was probed to produce a different nprobe=2 top-10 at both
  // SFs). Served at nprobe=2 of 8, so posting membership is load-bearing.
  private[graft] val RngBedFactor = 1.2
  private[graft] def ivfRngFor(gg: Graft, dir: String): graft.ann.IvfIndex =
    cached(gg.spark, s"ivfRng:$dir") {
      val emb = gg.collection("Embedding").df
      val centers: Array[Array[Double]] = emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
      graft.ann.IvfIndex(
        centers.indices.map(i => (i, centers(i))).toArray,
        emb.withColumn("__centroid", explode(
          org.apache.spark.sql.graft.VectorFunctions
            .rngSelectCentroids(col("embedding"), centers, 2, RngBedFactor))),
        "embedding", "vec_id", replicas = 2, defaultNprobe = 2,
        rngFactor = Some(RngBedFactor))
    }

  // second per-target index (the "rev" named vector) for the multi-target
  // index-probe query — same full-probe-exact setup as ivfFor
  private[graft] def ivfRevFor(gg: Graft, dir: String): graft.ann.IvfIndex =
    cached(gg.spark, s"ivfRev:$dir") {
      val path = Gate.tempDir("ivf-rev")
      graft.ann.IvfIndex.build(gg.collection("Embedding").df, "vec_id", "rev",
        nlist = 8, defaultNprobe = 8, persistPath = Some(path))
    }

  /** Pre-build every index side-table (IVF, PQ, postings) for a dataset —
   * the bench harness calls this so per-query timings measure probe cost,
   * not the offline build (which at scale is a separate batch job). */
  /** The planted-skew IVF bed: built once, rebalanced once, balanced layout
   * persisted as a parquet side-table LEAF — q_near_ivf_skew's many probe/
   * audit actions then scan the leaf instead of re-running the build and
   * the two-means split rounds per action (was the heaviest query at
   * 7.5 s/pass before memoization). Returns (pre-split posting sizes,
   * pre-split nlist, balanced index). */
  private[graft] def ivfSkewFor(gg: Graft, dir: String): (Map[Int, Long], Int, DataFrame, graft.ann.IvfIndex) =
    cached(gg.spark, s"ivfSkew:$dir") {
      // skewed bed FROM the embeddings table: vec_id drives sub-blob choice
      // and a deterministic ±0.05 jitter (dims 0-2 encode the sub-blob id);
      // 80% of vectors land in one latent blob the 5-centroid coarse
      // quantizer lumps together
      val emb = gg.collection("Embedding").df.select(col("vec_id")).withColumn("embedding",
        expr("""transform(sequence(0, 7), d -> CAST(
          (CASE WHEN vec_id % 5 != 4 THEN
            2.0 + (CASE WHEN d < 3 THEN (CASE WHEN ((CAST(vec_id % 8 AS INT) >> d) & 1) = 1 THEN 0.6 ELSE -0.6 END) ELSE 0.0 END)
          ELSE -3.0 * (CAST(vec_id % 4 AS INT) + 1) END)
          + (CAST((vec_id * (d + 3)) % 97 AS DOUBLE) / 97.0) * 0.1 - 0.05 AS FLOAT))"""))
      // the SOURCE bed persists as its own leaf: ground truth and the query
      // vector must come from the pre-rebalance data, never from the
      // rebalanced frame under test (truth derived from the engine's own
      // output would certify a corrupted rewrite against itself)
      val embLeaf = sideTable(emb, "ivfskewsrc")
      val index = graft.ann.IvfIndex.build(embLeaf, "vec_id", "embedding", nlist = 5)
      index.assigned.cache().count()
      val before = index.postingSizes()
      val balanced = index.rebalance(120L)
      val leaf = balanced.copy(assigned = sideTable(balanced.assigned, "ivfskew"))
      index.assigned.unpersist()
      (before, index.centroids.length, embLeaf, leaf)
    }

  private[graft] def prebuildIndexes(gg: Graft, dir: String): Unit = {
    ivfFor(gg, dir).assigned.count()
    ivfRevFor(gg, dir).assigned.count()
    ivfRngFor(gg, dir).assigned.count()
    ivfSkewFor(gg, dir)
    pqFor(gg, dir)._2.count()
    bqFor(gg, dir).count()
    sqFor(gg, dir)._2.count()
    rqFor(gg, dir)._2.count()
    ivfpqFor(gg, dir).ivf.assigned.count()
    postingsFor(gg, dir)
    gg.postingsFor(gg.collection("DocVec"))
    // BM25 corpus stats (persisted termDf + length norms) are built lazily on
    // the first scoring query per collection — warm BOTH text collections so
    // the cost doesn't land on whichever bm25/hybrid query sorts first
    // (round-6 lesson: q_hybrid_group was charged DocVec's stats build)
    Seq("Document", "DocVec").foreach { cn =>
      graft.operators.Bm25Search
        .score(gg.collection(cn), graft.model.Bm25("warm", Seq("text")))
        .limit(1).count()
    }
    // the And-operator bed (documents ∪ the 2-of-3 plant) + its stats
    SparkEntry.bmAndBedFor(gg, gg.spark)
    graft.operators.Bm25Search
      .score(gg.collection("DocAnd"), graft.model.Bm25("warm", Seq("text")))
      .limit(1).count()
    // dynamic index: the flat→IVF transition is the offline part
    dynFor(gg, dir).ivf.foreach(_.assigned.count())
    // muvera encoded side-table (the doc-side FDE batch pass is the build)
    muveraBedFor(gg, dir)
    // CJK bed registration + its BM25 corpus stats — under the same
    // thread-scoped bigram fallback the queries use (without it this warm
    // step throws the dictionary-required dispatch error and aborts the
    // REST of the warm-up, charging every later build to pass 1)
    cjkBedFor(gg)
    graft.text.Tokenize.withCjkFallback {
      graft.operators.Bm25Search
        .score(gg.collection("DocCjk"), graft.model.Bm25("的", Seq("text_cjk")))
        .limit(1).count()
    }
    // dictionary-mode CJK bed + its stats (query-scope dict gate)
    cjkDictBedFor(gg)
    graft.text.Tokenize.withCjkUserDict(CjkUserDict) {
      graft.operators.Bm25Search
        .score(gg.collection("DocCjkDict"), graft.model.Bm25("一的", Seq("text_cjk")))
        .limit(1).count()
    }
  }

  // BQ is training-free (the code IS the sign pattern), so the "build" is
  // one codegen'd projection; the planted exact copies share the query's
  // sign code bit-for-bit → hamming 0 = the global minimum → they MUST
  // survive the candidate pass and rank first (dist 0) after exact rescore.
  private[graft] def bqFor(gg: Graft, dir: String): DataFrame =
    cached(gg.spark, s"bq:$dir") {
      sideTable(embWithPlantedDups(gg)
        .withColumn("code", graft.ann.BinaryQuantizer.encode(col("embedding"))), "bq")
    }

  // SQ trains one global min/max scan (cheap, append-safe — the reference's
  // flat-index default, compressionhelpers/scalar_quantization.go); the
  // planted exact copies share the query's byte code exactly → compressed
  // l2 distance 0 = the global minimum → they survive the candidate pass
  // and rank first (dist 0) after exact rescore
  private[graft] def sqFor(gg: Graft, dir: String): (graft.ann.ScalarQuantizer, DataFrame) =
    cached(gg.spark, s"sq:$dir") {
      val bed = embWithPlantedDups(gg)
      val sq = graft.ann.ScalarQuantizer.train(bed, "embedding")
      val encoded = sideTable(bed.withColumn("code", sq.encode(col("embedding"))), "sq")
      (sq, encoded)
    }

  // RQ is training-free like BQ (rotation depends only on dim + seed); the
  // planted exact copies share the query's code byte-for-byte → their exact
  // rescore distance 0 ranks first (the compressed estimate puts them within
  // quantization error of the global minimum, well inside rescoreFactor=16)
  private[graft] def rqFor(gg: Graft, dir: String): (graft.ann.RotationalQuantizer, DataFrame) =
    cached(gg.spark, s"rq:$dir") {
      val bed = embWithPlantedDups(gg)
      val dim = bed.select(size(col("embedding"))).head().getInt(0)
      val rq = graft.ann.RotationalQuantizer(dim)
      val encoded = sideTable(bed.withColumn("code", rq.encode(col("embedding"))), "rq")
      (rq, encoded)
    }

  // IVF-PQ two-level index over the planted-dup bed (residual codes inside
  // centroid partitions); full probe + rescore ⇒ the exact copies rank
  // first with distance 0, same planted-copy oracle shape as PQ/BQ/SQ/RQ
  private[graft] def ivfpqFor(gg: Graft, dir: String): graft.ann.IvfPqIndex =
    cached(gg.spark, s"ivfpq:$dir") {
      val path = Gate.tempDir("ivfpq")
      graft.ann.IvfPq.build(embWithPlantedDups(gg), "vec_id", "embedding",
        nlist = 8, m = 8, k = 16, persistPath = Some(path))
    }

  // dynamic index bed: flat build over vec_id < 50, then appending the rest
  // crosses threshold=100 → flat→IVF rebuild over the full corpus; full
  // probe keeps the served search exact (q_near_dynamic's oracle). Cached
  // per dataset — the transition is the offline part, the probe is the query.
  private[graft] def dynFor(gg: Graft, dir: String): graft.ann.DynamicIndex =
    cached(gg.spark, s"dyn:$dir") {
      val emb = gg.collection("Embedding").df
      val path = Gate.tempDir("dyn")
      val flat = graft.ann.DynamicIndex.build(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", threshold = 100L, nlist = 8, defaultNprobe = 8,
        persistPath = Some(path))
      require(!flat.upgraded && flat.shouldUpgrade == (true, 100L),
        "dynamic index must start flat below the threshold")
      val dyn = flat.append(emb.filter(col("vec_id") >= 50))
      require(dyn.upgraded, "threshold-crossing append must upgrade")
      dyn
    }

  /** Shared oracle for the five quantizer beds: exact double-precision L2
   * top-10 over embeddings ∪ planted copies, (dist asc, vec_id asc) —
   * the order Rescore.exact produces. */
  private[graft] val QuantizerBruteForceTop10: String =
    s"""WITH ${SparkEntry.sqlQv(50)},
       |bed AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0),
       |d AS (SELECT b.vec_id, ${SparkEntry.sqlL2("b.embedding", "q.v")} AS dist
       |      FROM bed b CROSS JOIN qv q)
       |SELECT vec_id, round(dist, 4) AS dist FROM d
       |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin

  /** Near-threshold cosine plants for q_dedup_embed / q_dedup_semantic:
   * basis-plane pairs whose cosine is an exact construction — (e0,
   * 0.951·e0 + s·e1) at sim 0.951 and (e2, 0.949·e2 + s'·e3) at 0.949.
   * The float32 casts replay in SQL literal-for-literal. */
  private[graft] def embedPlants(s: SparkSession): DataFrame = {
    import s.implicits._
    def basis(entries: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      entries.foreach { case (i, v) => a(i) = v.toFloat }
      a.toSeq
    }
    val s1 = math.sqrt(1 - 0.951 * 0.951); val s2 = math.sqrt(1 - 0.949 * 0.949)
    Seq(
      (8000001L, basis(0 -> 1.0)),
      (8000002L, basis(0 -> 0.951, 1 -> s1)),
      (8000003L, basis(2 -> 1.0)),
      (8000004L, basis(2 -> 0.949, 3 -> s2)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  /** embeddings ∪ exact copies (vec_id % 50 == 0 → vec_id+1000000). */
  private[graft] def embWithPlantedDups(g: Graft): DataFrame = {
    val emb = g.collection("Embedding").df.select(col("vec_id"), col("embedding"))
    emb.unionByName(emb.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  // IVF append bed: independent persisted index (NOT ivfFor's — appending
  // into that layout would corrupt q_near_ivf in the same session), one
  // planted exact copy appended assign-only; cached across bench passes
  private[graft] def ivfAppendFor(gg: Graft, dir: String): DataFrame =
    cached(gg.spark, s"ivfAppend:$dir") {
      val path = Gate.tempDir("ivf-append")
      val emb = gg.collection("Embedding").df
      val idx0 = graft.ann.IvfIndex.build(emb, "vec_id", "embedding",
        nlist = 8, defaultNprobe = 8, persistPath = Some(path))
      val idx1 = idx0.append(
        emb.filter(col("vec_id") === 13L).withColumn("vec_id", lit(5000000L)))
      // nprobe=1 of 8: only vec 13's own nearest-centroid posting is read,
      // so the append's ASSIGNMENT rule is load-bearing — a fixed/first/
      // wrong-metric assignment parks the twin in another posting and the
      // probe misses it (at nprobe=8 the full-probe union made any
      // assignment whatsoever pass)
      idx1.search(Fixtures.anchorVector(gg, 13L), 2, Metric.L2Squared, nprobe = 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // postings-delta bed: build over Document, then delta-replace doc 3's text,
  // delete doc 11, append doc 3000000 — cached per dataset so bench's two
  // passes don't rebuild (the build is the offline job; the QUERY is the
  // search over the delta'd index)
  private[graft] def postingsDeltaFor(gg: Graft, dir: String): DataFrame =
    cached(gg.spark, s"postingsDelta:$dir") {
      val c = gg.collection("Document")
      val idx0 = Postings.build(c, Seq("text"), buckets = 16)
      val changed = c.df.filter(col("doc_id") === 3L)
        .withColumn("text", lit("postings delta spark merge window"))
        .unionByName(c.df.filter(col("doc_id") === 5L)
          .withColumn("doc_id", lit(3000000L))
          .withColumn("text", lit("fresh delta stream join appended")))
      val removed = c.df.filter(col("doc_id") === 11L).select(col("doc_id"))
      val after = graft.engine.Collection(c.schema,
        c.df.filter(col("doc_id") =!= 3L && col("doc_id") =!= 11L).unionByName(changed))
      val idx = Postings.delta(idx0, after, changed, Some(removed))
      Postings.search(idx, "delta spark stream", 20)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // Muvera planted bed: UNIT-NORMALIZED 2-token bags [n, reverse(n)] over the
  // planted-dup id space. Normalization makes the planted-copy oracle sound:
  // every per-token max-dot is ≤ 1 with equality only on an identical vector,
  // so an exact bag copy attains the globally minimal MaxSim distance −2.
  private[graft] def muveraBedFor(gg: Graft, dir: String): Unit =
    cached(gg.spark, s"muvera:$dir") {
      // squares accumulate in DOUBLE (CAST each y first): a bare y * y
      // multiplies in float32 and the oracle's CAST(y AS DOUBLE)*CAST(y AS
      // DOUBLE) would drift on ~1/4 of the normalized components
      val unit = embWithPlantedDups(gg).withColumn("n",
        expr("transform(embedding, x -> CAST(x / sqrt(aggregate(embedding, 0D, " +
          "(a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS FLOAT))"))
      val bed = unit.select(col("vec_id"), array(col("n"), reverse(col("n"))).as("mvec"))
      gg.register(CollectionSchema("MVecBed", "vec_id", Nil,
        vectors = Map("mvec" -> "mvec"), defaultVector = Some("mvec")), bed)
      // parquet-backed encoded table (registerMuvera's production arm): the
      // dot-product first pass column-prunes to (vec_id, __muvera) and the
      // leaf plan keeps per-query analysis off the encode expression tree
      gg.registerMuvera("MVecBed", None,
        graft.ann.MuveraEncoder(ksim = 3, dproj = 8, reps = 6, dim = 64),
        persistPath =
          Some(Gate.tempDir("muvera")),
        // rescoreLimit analogue: topK×32 candidates — the 48-dim FDE
        // estimate needs the wider cut for full true-top-10 recall on this
        // bed (a random ranking still only has ~1% odds of covering the
        // true top-10 in 320 of 510), which is what makes the brute-force
        // oracle discriminative
        rescoreFactor = 32)
    }

  // Time-ordered replay files for the streaming beds, built ONCE per
  // (session, tag, dataset dir) — the dump is fixture I/O, not query work, so
  // it must not land inside Bench's timed lambdas — with the coalesce(1)
  // scratch dir deleted as soon as its part file is copied out.
  private[graft] def replayDir(s: SparkSession, tag: String, dir: String)(build: String => Unit): String =
    cached(s, s"replay-$tag:$dir") {
      val d = Gate.tempDir(tag)
      build(d)
      d
    }
  private[graft] def dumpReplayFile(f: DataFrame, streamDir: String, name: String): Unit = {
    val tmp = Gate.tempDir("replay-scratch")
    f.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(streamDir, name))
    Gate.deleteRecursively(new java.io.File(tmp))
  }

  // Embedding twin whose DEFAULT vector is the reversed embedding: the
  // Explore legs must carry genuinely different per-class distances —
  // documents↔embeddings are 1:1 with identical vectors, so a DocVec/
  // Embedding Explore could not detect a broken cross-collection merge
  // (searching one class and double-labeling every hit was identical)
  private[graft] def embRevBedFor(gg: Graft): Unit =
    if (!gg.hasCollection("EmbRev")) {
      gg.register(CollectionSchema("EmbRev", "vec_id", Seq(
        Property("label", PropType.Int)),
        vectors = Map("default" -> "rev"),
        defaultVector = Some("default")),
        gg.collection("Embedding").df)
    }

  // nulled-label twin of Embedding for the objectLimit agg bed: label is
  // NULL where vec_id % 7 == 0, so property count < meta_count and the
  // null-skipping numerical-agg semantics are observable
  private[graft] def aggNullBedFor(gg: Graft): Unit =
    if (!gg.hasCollection("EmbNull")) {
      val emb = gg.collection("Embedding").df
      gg.register(CollectionSchema("EmbNull", "vec_id", Seq(
        Property("label", PropType.Int)),
        vectors = Map("default" -> "embedding"),
        defaultVector = Some("default")),
        emb.withColumn("label",
          when(col("vec_id") % 7 === 0, lit(null)).otherwise(col("label"))))
    }

  // sort bed = events ∪ three planted click rows sharing ONE creation
  // timestamp (2024-02-01, after the natural span, so they page first): the
  // natural click tenant has zero duplicate timestamps at sf0.01, so the
  // event_id-asc tie-break under the _creationTimeUnix sort certified
  // nothing — the plants pin it (ids planted out of insertion order)
  private[graft] def sortBedFor(gg: Graft, s: SparkSession, dir: String): Unit =
    if (!gg.hasCollection("EventSort")) {
      import s.implicits._
      val tieNs = 1706745600000000000L // 2024-02-01T00:00:00Z
      val planted = Seq(
        (9000005L, 11L, 1.5, "tie row c"),
        (9000001L, 12L, 2.5, "tie row a"),
        (9000003L, 13L, 3.5, "tie row b"))
        .toDF("event_id", "user_id", "value", "props")
        .select(col("event_id"),
          timestamp_micros(lit(tieNs / 1000L)).as("ts"), col("user_id"),
          lit("click").as("event_type"), col("value"), col("props"),
          lit(tieNs).as("ts_nanos"))
      gg.register(CollectionSchema("EventSort", "event_id", Seq(
        Property("ts", PropType.Date),
        Property("user_id", PropType.Int),
        Property("value", PropType.Number),
        Property("props", PropType.Text, Tokenization.Word)),
        tenantColumn = Some("event_type"),
        creationTimeColumn = Some("ts_nanos"),
        invertedIndex = InvertedIndexConfig(indexTimestamps = true)),
        Fixtures.events(s, dir).unionByName(planted))
    }

  // CJK keyword-search bed: documents.text with vowels mapped to Han
  // characters (translate — reproducible in DuckDB with identical
  // semantics), registered with gse_ch tokenization and the dictionary-free
  // CJK bigram fallback enabled (Tokenize.cjkBigramFallback — the analogue
  // of the reference's ENABLE_TOKENIZER_GSE env gate, tokenizer.go:42-46).
  // The bed is mixed-script on purpose: Han runs exercise the bigram arm,
  // the surviving consonant runs exercise the word arm.
  private[graft] def cjkBedFor(gg: Graft): Unit =
    if (!gg.hasCollection("DocCjk")) graft.text.Tokenize.withCjkFallback {
      val docs = gg.collection("Document").df
      val bed = docs.select(col("doc_id"),
        translate(lower(col("text")), "aeiou", "的一是不了").as("text_cjk"))
      gg.register(CollectionSchema("DocCjk", "doc_id", Seq(
        Property("text_cjk", PropType.Text, Tokenization.GseCh))), bed)
      // index-serve the bigram-analyzed corpus: the postings build runs
      // lazily inside the first keyword query's withCjkFallback scope, so
      // the gate is live for the build's tokenization too
      gg.registerPostings("DocCjk", Seq("text_cjk"))
    }

  // user dictionary for the dictionary-mode CJK bed (q_bm25_cjk_dict): the
  // vowel→Han translation makes these the corpus's real vowel digraphs —
  // 一的 = "ea" (stream), 不了 = "ou" (group), 了一 = "ue" (value/query)
  private[graft] val CjkUserDict = Seq("一的", "不了", "了一")

  // target "class objects" for contextual classification (q_classify_
  // contextual): topic anchors in the stand-in embedding space, inlined as
  // literals by the oracle
  private[graft] val ContextualTargets: Seq[(String, Array[Float])] = Seq(
    "analytics" -> Fixtures.hashEmbedder(64)("table scan query"),
    "streaming" -> Fixtures.hashEmbedder(64)("stream window batch"),
    "commerce"  -> Fixtures.hashEmbedder(64)("customer"))

  // dictionary-segmented CJK bed (reference: tokenizer.go:122-173 user-dict
  // loading): same translated corpus as cjkBedFor but tokenization `gse`
  // with the user dictionary active — longest-match segmentation
  // (CjkDictSegmenter) instead of the bigram fallback; postings build runs
  // lazily inside the first keyword query's withCjkUserDict scope
  private[graft] def cjkDictBedFor(gg: Graft): Unit =
    if (!gg.hasCollection("DocCjkDict"))
      graft.text.Tokenize.withCjkUserDict(CjkUserDict) {
        val docs = gg.collection("Document").df
        val bed = docs.select(col("doc_id"),
          translate(lower(col("text")), "aeiou", "的一是不了").as("text_cjk"))
        gg.register(CollectionSchema("DocCjkDict", "doc_id", Seq(
          Property("text_cjk", PropType.Text, Tokenization.Gse))), bed)
        gg.registerPostings("DocCjkDict", Seq("text_cjk"))
      }

  // DSIR weights are a model artifact (one featurization pass serves both
  // the weights dump and the resampling query) — cached per dataset like the
  // PQ/IVF artifacts
  private[graft] def dsirWeightsFor(gg: Graft, dir: String): DataFrame =
    cached(gg.spark, s"dsir:$dir") {
      val docs = gg.collection("Document").df
      Dsir.logWeightsSelf(docs, col("doc_id"), col("text"),
          col("lang") === "en", buckets = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // text[] bed: each document's text split on " stream " into a genuine
  // multi-element array (so the delimiter's tokens vanish from the corpus and
  // array-scoring is observably different from scoring the original text);
  // postings registered over the array prop so keyword queries index-serve
  private[graft] def docArrFor(gg: Graft): Unit =
    if (!gg.hasCollection("DocArr")) {
      val bed = gg.collection("Document").df.select(col("doc_id"),
        split(col("text"), " stream ").as("chunks"))
      gg.register(CollectionSchema("DocArr", "doc_id",
        Seq(Property("chunks", PropType.Arr(PropType.Text), Tokenization.Word))), bed)
      gg.registerPostings("DocArr", Seq("chunks"))
    }

  private[graft] def gates: Seq[Gate] = Seq(

    // §2.5 hybrid relativeScoreFusion (the default fusion since 1.24)
    Gate("q_hybrid_relative", {
      val (ctes, _) = sqlBm25(Seq("spark", "join", "stream"), source = SparkEntry.sqlDocVec, fieldPropMeans = Seq(1.0, 1.0))
      s"""WITH $ctes,
         |sparse0 AS (SELECT doc_id, score_exact FROM scored WHERE terms_matched >= 1
         |            ORDER BY score_exact DESC, doc_id ASC LIMIT 100),
         |sparse AS (SELECT doc_id, score_exact, CASE WHEN max(score_exact) OVER () = min(score_exact) OVER () THEN 1.0
         |             ELSE (score_exact - min(score_exact) OVER ()) / (max(score_exact) OVER () - min(score_exact) OVER ()) END AS sn
         |           FROM sparse0),
         |${sqlQv(7)},
         |densed AS (SELECT d.doc_id, 1.0 - ${sqlCosine("e.embedding", "q.v")} / 2.0 AS sc
         |           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qv q
         |           ORDER BY sc DESC, d.doc_id ASC LIMIT 100),
         |dense AS (SELECT doc_id, sc, CASE WHEN max(sc) OVER () = min(sc) OVER () THEN 1.0
         |            ELSE (sc - min(sc) OVER ()) / (max(sc) OVER () - min(sc) OVER ()) END AS dn
         |          FROM densed),
         |fused AS (SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
         |                 coalesce(s.sn * 0.4, 0.0) + coalesce(d.dn * 0.6, 0.0) AS score_f,
         |                 coalesce(s.score_exact, d.sc) AS secondary
         |          FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
         |SELECT doc_id, round(score_f, 4) AS score FROM fused
         |ORDER BY score_f DESC, secondary DESC, doc_id ASC LIMIT 15""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("DocVec",
        hybrid = Some(Hybrid("spark join stream", vector = Some(Fixtures.anchorVector(gg, 7L)),
          metric = Metric.Cosine, alpha = 0.6, fusionType = FusionType.RelativeScore)),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.5 hybrid explicit weighted subsearches (reference: retrieval.go:
    // 105-109 WeightedSearchResult): bm25 + two nearVector legs, each with
    // its own weight, relativeScore fusion over the three legs
    Gate("q_hybrid_sub", {
      val (ctes, _) = sqlBm25(Seq("spark", "join"), source = SparkEntry.sqlDocVec)
      s"""WITH $ctes,
         |s0 AS (SELECT doc_id, score_exact AS s FROM scored WHERE terms_matched >= 1
         |       ORDER BY score_exact DESC, doc_id ASC LIMIT 100),
         |l0 AS (SELECT doc_id, s, CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
         |         ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ()) END AS n FROM s0),
         |qa AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
         |d1 AS (SELECT d.doc_id, 1.0 - ${sqlCosine("e.embedding", "q.v")} / 2.0 AS s
         |       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qa q
         |       ORDER BY s DESC, d.doc_id ASC LIMIT 100),
         |l1 AS (SELECT doc_id, s, CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
         |         ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ()) END AS n FROM d1),
         |qb AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 13),
         |d2 AS (SELECT d.doc_id, 1.0 - ${sqlCosine("e.embedding", "q.v")} / 2.0 AS s
         |       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qb q
         |       ORDER BY s DESC, d.doc_id ASC LIMIT 100),
         |l2 AS (SELECT doc_id, s, CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
         |         ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ()) END AS n FROM d2),
         |f AS (SELECT coalesce(l0.doc_id, l1.doc_id, l2.doc_id) AS doc_id,
         |             coalesce(l0.n * 0.5, 0.0) + coalesce(l1.n * 0.3, 0.0) + coalesce(l2.n * 0.2, 0.0) AS sc,
         |             coalesce(l0.s, l1.s, l2.s) AS secondary
         |      FROM l0 FULL OUTER JOIN l1 ON l0.doc_id = l1.doc_id
         |              FULL OUTER JOIN l2 ON coalesce(l0.doc_id, l1.doc_id) = l2.doc_id)
         |SELECT doc_id, round(sc, 4) AS score FROM f
         |ORDER BY sc DESC, secondary DESC, doc_id ASC LIMIT 15""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("DocVec",
        hybrid = Some(Hybrid("", fusionType = FusionType.RelativeScore,
          subSearches = Seq(
            HybridSubSearch(0.5, bm25 = Some(Bm25("spark join", Seq("text")))),
            HybridSubSearch(0.3, nearVector = Some(NearVector(Fixtures.anchorVector(gg, 7L), Metric.Cosine))),
            HybridSubSearch(0.2, nearVector = Some(NearVector(Fixtures.anchorVector(gg, 13L), Metric.Cosine)))))),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.5 same three subsearch legs under rankedFusion (RRF over N legs)
    Gate("q_hybrid_sub_rrf", {
      val (ctes, _) = sqlBm25(Seq("spark", "join"), source = SparkEntry.sqlDocVec)
      s"""WITH $ctes,
         |s0 AS (SELECT doc_id, score_exact AS s FROM scored WHERE terms_matched >= 1
         |       ORDER BY score_exact DESC, doc_id ASC LIMIT 100),
         |l0 AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r FROM s0),
         |qa AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
         |d1 AS (SELECT d.doc_id, 1.0 - ${sqlCosine("e.embedding", "q.v")} / 2.0 AS s
         |       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qa q
         |       ORDER BY s DESC, d.doc_id ASC LIMIT 100),
         |l1 AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r FROM d1),
         |qb AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 13),
         |d2 AS (SELECT d.doc_id, 1.0 - ${sqlCosine("e.embedding", "q.v")} / 2.0 AS s
         |       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qb q
         |       ORDER BY s DESC, d.doc_id ASC LIMIT 100),
         |l2 AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r FROM d2),
         |f AS (SELECT coalesce(l0.doc_id, l1.doc_id, l2.doc_id) AS doc_id,
         |             coalesce(0.5 / (60 + l0.r), 0.0) + coalesce(0.3 / (60 + l1.r), 0.0)
         |               + coalesce(0.2 / (60 + l2.r), 0.0) AS sc,
         |             coalesce(l0.s, l1.s, l2.s) AS secondary
         |      FROM l0 FULL OUTER JOIN l1 ON l0.doc_id = l1.doc_id
         |              FULL OUTER JOIN l2 ON coalesce(l0.doc_id, l1.doc_id) = l2.doc_id)
         |SELECT doc_id, round(sc, 4) AS score FROM f
         |ORDER BY sc DESC, secondary DESC, doc_id ASC LIMIT 15""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("DocVec",
        hybrid = Some(Hybrid("", fusionType = FusionType.Ranked,
          subSearches = Seq(
            HybridSubSearch(0.5, bm25 = Some(Bm25("spark join", Seq("text")))),
            HybridSubSearch(0.3, nearVector = Some(NearVector(Fixtures.anchorVector(gg, 7L), Metric.Cosine))),
            HybridSubSearch(0.2, nearVector = Some(NearVector(Fixtures.anchorVector(gg, 13L), Metric.Cosine)))))),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.5 hybrid + groupBy: fused ranked pool grouped greedily by lang
    // (reference: usecases/traverser/hybrid_group_by.go)
    Gate("q_hybrid_group", {
      val (ctes, _) = sqlBm25(Seq("spark", "join", "stream"), source = SparkEntry.sqlDocVec, fieldPropMeans = Seq(1.0, 1.0))
      s"""WITH $ctes,
         |sparse0 AS (SELECT doc_id, score_exact FROM scored WHERE terms_matched >= 1
         |            ORDER BY score_exact DESC, doc_id ASC LIMIT 100),
         |sparse AS (SELECT doc_id, score_exact, CASE WHEN max(score_exact) OVER () = min(score_exact) OVER () THEN 1.0
         |             ELSE (score_exact - min(score_exact) OVER ()) / (max(score_exact) OVER () - min(score_exact) OVER ()) END AS sn
         |           FROM sparse0),
         |${sqlQv(7)},
         |densed AS (SELECT d.doc_id, 1.0 - ${sqlCosine("e.embedding", "q.v")} / 2.0 AS sc
         |           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qv q
         |           ORDER BY sc DESC, d.doc_id ASC LIMIT 100),
         |dense AS (SELECT doc_id, sc, CASE WHEN max(sc) OVER () = min(sc) OVER () THEN 1.0
         |            ELSE (sc - min(sc) OVER ()) / (max(sc) OVER () - min(sc) OVER ()) END AS dn
         |          FROM densed),
         |fused AS (SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
         |                 coalesce(s.sn * 0.4, 0.0) + coalesce(d.dn * 0.6, 0.0) AS score_f,
         |                 coalesce(s.score_exact, d.sc) AS secondary
         |          FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id),
         |pool AS (SELECT f.doc_id, d.lang, f.score_f FROM fused f JOIN documents d USING (doc_id)
         |         ORDER BY f.score_f DESC, f.secondary DESC, f.doc_id ASC LIMIT 12),
         |ranked AS (SELECT doc_id, lang,
         |             row_number() OVER (ORDER BY score_f DESC, doc_id ASC) AS rnk FROM pool),
         |grouped AS (SELECT doc_id, lang, rnk,
         |              row_number() OVER (PARTITION BY lang ORDER BY rnk ASC) AS group_hit_rank,
         |              min(rnk) OVER (PARTITION BY lang) AS gmin FROM ranked),
         |idx AS (SELECT *, dense_rank() OVER (ORDER BY gmin ASC) AS group_index FROM grouped)
         |SELECT group_index, lang, group_hit_rank, doc_id FROM idx
         |WHERE group_index <= 3 AND group_hit_rank <= 2
         |ORDER BY group_index, group_hit_rank""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("DocVec",
        hybrid = Some(Hybrid("spark join stream", vector = Some(Fixtures.anchorVector(gg, 7L)),
          metric = Metric.Cosine, alpha = 0.6, fusionType = FusionType.RelativeScore)),
        pagination = Some(Pagination(limit = 12)),
        groupBy = Some(GroupByParams("lang", groups = 3, objectsPerGroup = 2)),
        properties = Seq("doc_id")))
        .select(col("group_index").cast("long").as("group_index"), col("group_value").as("lang"),
          col("group_hit_rank").cast("long").as("group_hit_rank"), col("doc_id"))
        .orderBy(col("group_index"), col("group_hit_rank"))
    },

    // §2.7 sort null-ordering parity (reference handleNils,
    // sorter/basic_comparators.go:371-382: nil = smallest → first on asc)
    // limit 80 (not 40): 25 nulls + 25 src0 + 25 src1 + 5 src10 — the page
    // crosses the src1 → src10 LEXICOGRAPHIC boundary (src10 < src2), which
    // a numeric-suffix or length-aware comparator would order differently;
    // at 40 every non-null row was src0 and text collation was unexercised
    Gate("q_sort_nulls",
      """SELECT doc_id, CASE WHEN source = 'src13' THEN NULL ELSE source END AS maybe_src
        |FROM documents
        |ORDER BY maybe_src ASC NULLS FIRST, doc_id ASC LIMIT 80""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        sort = Seq(SortBy.asc("maybe_src")),
        pagination = Some(Pagination(limit = 80)),
        properties = Seq("doc_id", "maybe_src")))
    },

    // §2.7 timestamp pseudo-path sort (reference: sorter/dataTypesHelper
    // maps _creationTimeUnix onto the class's metadata timestamp) with
    // tenant scope — newest first, id tie-break
    Gate("q_sort_meta",
      """SELECT event_id, user_id FROM (
        |  SELECT event_id, user_id, epoch_ns(ts) AS ns FROM events
        |  WHERE event_type = 'click'
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(9000005 AS BIGINT), CAST(11 AS BIGINT), 1706745600000000000),
        |    (9000001, 12, 1706745600000000000),
        |    (9000003, 13, 1706745600000000000)) v(event_id, user_id, ns))
        |ORDER BY ns DESC, event_id ASC LIMIT 15""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      sortBedFor(gg, s, dir)
      gg.get(GetParams("EventSort",
        tenant = Some("click"),
        sort = Seq(SortBy.desc("_creationTimeUnix")),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("event_id", "user_id")))
    },

    // §2.7 array sort parity: elementwise compare, then by length
    // (reference: sorter/basic_comparators.go:98-112); null lists first.
    // Limit 80 > the 50 null-links docs at sf0.01, so the page carries 30
    // rows ordered by REAL array comparisons — a 30-row page was all nulls
    // and certified only the nulls-first block
    Gate("q_sort_array",
      """WITH l AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |    ELSE list_transform(range(1, CAST(doc_id % 3 AS INT) + 2),
        |      i -> (doc_id * i * 37) % 500) END AS links
        |  FROM documents)
        |SELECT doc_id, len(links) AS n_links, links[1] AS link0
        |FROM l ORDER BY links ASC NULLS FIRST, doc_id ASC LIMIT 80""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        sort = Seq(SortBy.asc("link_ids")),
        pagination = Some(Pagination(limit = 80)),
        properties = Seq("doc_id", "link_ids")))
        .select(col("doc_id"), size(col("link_ids")).cast("long").as("n_links"),
          element_at(col("link_ids"), 1).as("link0"))
    },

    // §2.5 autocut (reference algorithm: extrema of score-vs-rank curve)
    Gate("q_autocut", {
      val (ctes, _) = sqlBm25(Seq("spark", "join"))
      s"""WITH $ctes,
         |top AS (SELECT doc_id, score_exact FROM scored WHERE terms_matched >= 1
         |        ORDER BY score_exact DESC, doc_id ASC LIMIT 30),
         |t1 AS (SELECT doc_id, score_exact,
         |         row_number() OVER (ORDER BY score_exact DESC, doc_id ASC) - 1 AS i,
         |         count(*) OVER () AS n,
         |         first_value(score_exact) OVER (ORDER BY score_exact DESC, doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS y0,
         |         last_value(score_exact) OVER (ORDER BY score_exact DESC, doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS yl
         |       FROM top),
         |t2 AS (SELECT *, CASE WHEN n <= 1 OR yl = y0 THEN 0.0
         |         ELSE (score_exact - y0) / (yl - y0) - CAST(i AS DOUBLE) / (n - 1) END AS diff FROM t1),
         |t3 AS (SELECT *, lag(diff, 1) OVER (ORDER BY i) AS dp, lag(diff, 2) OVER (ORDER BY i) AS dp2,
         |              lead(diff, 1) OVER (ORDER BY i) AS dn FROM t2),
         |t4 AS (SELECT *, CASE WHEN i = 0 THEN 0
         |         WHEN i = n - 1 THEN CASE WHEN diff > dp AND diff > coalesce(dp2, dp) THEN 1 ELSE 0 END
         |         ELSE CASE WHEN diff > dp AND diff > dn THEN 1 ELSE 0 END END AS ext FROM t3),
         |t5 AS (SELECT *, sum(ext) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS extcum FROM t4),
         |t6 AS (SELECT *, min(CASE WHEN ext = 1 AND extcum >= 1 THEN i END) OVER () AS cutat FROM t5)
         |SELECT doc_id, round(score_exact, 4) AS score FROM t6
         |WHERE cutat IS NULL OR i < cutat ORDER BY i""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        bm25 = Some(Bm25("spark join", properties = Seq("text"))),
        autocut = Some(1),
        pagination = Some(Pagination(limit = 30)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.6 objectLimit-scoped aggregation (aggregate over top-N vector
    // hits). Served over a NULLED-label twin of the Embedding bed (label
    // dropped where vec_id % 7 == 0): embeddings.label has zero nulls, so
    // property Count was always identical to meta_count and the
    // null-skipping Count/Mean semantics (aggregator/numerical.go — nulls
    // are absent observations, not zeros) were dead in every agg bed
    Gate("q_agg_objectlimit",
      s"""WITH ${sqlQv(5)},
         |d AS (SELECT e.vec_id,
         |      CASE WHEN e.vec_id % 7 = 0 THEN NULL ELSE e.label END AS label,
         |      ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q),
         |top AS (SELECT * FROM d ORDER BY dist ASC, vec_id ASC LIMIT 100)
         |SELECT count(*) AS meta_count, count(label) AS label_count,
         |       round(avg(label), 4) AS label_mean,
         |       min(label) AS label_min, max(label) AS label_max
         |FROM top""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      aggNullBedFor(gg)
      gg.aggregate(AggregateParams("EmbNull",
        properties = Map("label" -> Seq(
          Aggregator.Count, Aggregator.Mean, Aggregator.Minimum, Aggregator.Maximum)),
        includeMetaCount = true,
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 5L), metric = Metric.L2Squared)),
        objectLimit = Some(100)))
        .select(col("meta_count"), col("label_count"),
          round(col("label_mean"), 4).as("label_mean"),
          col("label_minimum").as("label_min"), col("label_maximum").as("label_max"))
    },

    // §2.6 hybrid-scoped aggregation (reference: aggregator/hybrid.go:27-67 —
    // aggregate over the top-N fused hybrid hits; requires objectLimit)
    // same fused-RRF CTE as q_hybrid_rrf's oracle, aggregated over the top 15
    Gate("q_agg_hybrid", {
      val (ctes, _) = sqlBm25(Seq("spark", "join", "stream"), source = SparkEntry.sqlDocVec, fieldPropMeans = Seq(1.0, 1.0))
      s"""WITH $ctes,
         |sparse AS (
         |  SELECT doc_id, score_exact, row_number() OVER (ORDER BY score_exact DESC, doc_id ASC) AS r
         |  FROM (SELECT * FROM scored WHERE terms_matched >= 1 ORDER BY score_exact DESC, doc_id ASC LIMIT 100)),
         |${sqlQv(7)},
         |densed AS (
         |  SELECT d.doc_id, ${sqlCosine("e.embedding", "q.v")} AS dist
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qv q),
         |dense AS (
         |  SELECT doc_id, 1.0 - dist / 2.0 AS sdense, row_number() OVER (ORDER BY dist ASC, doc_id ASC) AS r
         |  FROM (SELECT * FROM densed ORDER BY dist ASC, doc_id ASC LIMIT 100)),
         |fused AS (
         |  SELECT coalesce(s.doc_id, de.doc_id) AS doc_id,
         |         coalesce(0.5 / (60 + s.r), 0.0) + coalesce(0.5 / (60 + de.r), 0.0) AS score_exact,
         |         coalesce(s.score_exact, de.sdense) AS secondary
         |  FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id),
         |top AS (SELECT doc_id FROM fused
         |        ORDER BY score_exact DESC, secondary DESC, doc_id ASC LIMIT 15)
         |SELECT count(*) AS meta_count, count(d.n_chars) AS n_chars_count,
         |       round(avg(d.n_chars), 4) AS n_chars_mean,
         |       max(d.n_chars) AS n_chars_max
         |FROM top t JOIN documents d ON t.doc_id = d.doc_id""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      gg.aggregate(AggregateParams("DocVec",
        properties = Map("n_chars" -> Seq(
          Aggregator.Count, Aggregator.Mean, Aggregator.Maximum)),
        includeMetaCount = true,
        hybrid = Some(Hybrid("spark join stream", vector = Some(Fixtures.anchorVector(gg, 7L)),
          metric = Metric.Cosine, alpha = 0.5, fusionType = FusionType.Ranked)),
        objectLimit = Some(15)))
        .select(col("meta_count"), col("n_chars_count"),
          round(col("n_chars_mean"), 4).as("n_chars_mean"),
          col("n_chars_maximum").as("n_chars_max"))
    },

    // §2.6 nearObject-scoped aggregation: the aggregate's nearX legs resolve
    // to a vector exactly like Get's (reference: traverser_aggregate.go:60-105)
    Gate("q_agg_nearobject",
      s"""WITH ${sqlQv(9)},
         |d AS (SELECT e.vec_id, e.label, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q),
         |top AS (SELECT * FROM d ORDER BY dist ASC, vec_id ASC LIMIT 80)
         |SELECT count(*) AS meta_count, count(label) AS label_count,
         |       CAST(sum(label) AS BIGINT) AS label_sum,
         |       round(avg(label), 4) AS label_mean
         |FROM top""".stripMargin) { (s, dir) =>
      g(s, dir).aggregate(AggregateParams("Embedding",
        properties = Map("label" -> Seq(Aggregator.Count, Aggregator.Sum, Aggregator.Mean)),
        includeMetaCount = true,
        nearObject = Some(NearObject(9L, metric = Metric.L2Squared)),
        objectLimit = Some(80)))
        .select(col("meta_count"), col("label_count"),
          col("label_sum").cast("long").as("label_sum"),
          round(col("label_mean"), 4).as("label_mean"))
    },

    // §2.7 Explore: cross-collection kNN returning beacons
    // EmbRev (reversed default vector) as the second leg: its distances
    // differ from DocVec's, so the cross-class merge ranking is load-bearing
    Gate("q_explore",
      s"""WITH ${sqlQv(7)},
         |legs AS (
         |  SELECT 'DocVec' AS class_name, CAST(d.doc_id AS VARCHAR) AS beacon_id,
         |         ${sqlCosine("e.embedding", "q.v")} AS d_exact
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qv q
         |  UNION ALL
         |  SELECT 'EmbRev', CAST(e.vec_id AS VARCHAR), ${sqlCosine("list_reverse(e.embedding)", "q.v")}
         |  FROM embeddings e CROSS JOIN qv q)
         |SELECT class_name, beacon_id, round(d_exact, 4) AS distance FROM legs
         |ORDER BY d_exact ASC, class_name ASC, beacon_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      embRevBedFor(gg)
      Explore(gg, Seq("DocVec", "EmbRev"), Fixtures.anchorVector(gg, 7L), Metric.Cosine, 10)
        .select(col("class_name"), col("beacon_id"), round(col("distance"), 4).as("distance"))
    },

    // §2.7 Explore with nearText concepts + moves: the whole vectorize→move
    // pipeline runs once, then fans across classes (reference:
    // traverser_explore_concepts.go; movement math searcher_movements.go)
    // inlined RESOLVED query vector (same movement math as q_neartext's
    // oracle) fanned over both class legs with the merged-ranking cut
    Gate("q_explore_neartext", {
      val embed = Fixtures.hashEmbedder(64)
      var qv = Movements.centroid(Seq(embed("spark join stream")))
      qv = Movements.moveTo(qv, Movements.centroid(Seq(embed("window batch"))), 0.6)
      qv = Movements.moveAwayFrom(qv, Movements.centroid(Seq(embed("error slow"))), 0.4)
      val vlit = qv.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      s"""WITH qv AS (SELECT $vlit AS v),
         |legs AS (
         |  SELECT 'DocVec' AS class_name, CAST(d.doc_id AS VARCHAR) AS beacon_id,
         |         ${sqlCosine("e.embedding", "q.v")} AS d_exact
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id CROSS JOIN qv q
         |  UNION ALL
         |  SELECT 'EmbRev', CAST(e.vec_id AS VARCHAR), ${sqlCosine("list_reverse(e.embedding)", "q.v")}
         |  FROM embeddings e CROSS JOIN qv q)
         |SELECT class_name, beacon_id, round(d_exact, 4) AS distance FROM legs
         |ORDER BY d_exact ASC, class_name ASC, beacon_id ASC LIMIT 12""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      embRevBedFor(gg)
      gg.explore(Seq("DocVec", "EmbRev"),
        NearText(Seq("spark join stream"),
          moveTo = Some(MoveParams(Seq("window batch"), force = 0.6)),
          moveAwayFrom = Some(MoveParams(Seq("error slow"), force = 0.4))),
        limit = 12)
        .select(col("class_name"), col("beacon_id"), round(col("distance"), 4).as("distance"))
    },

    // §2.5 boost: soft rerank of a BM25 pool by filter-match + log1p property
    Gate("q_boost", {
      val (ctes, _) = sqlBm25(Seq("spark", "join"))
      s"""WITH $ctes,
         |top AS (SELECT doc_id, score_exact FROM scored WHERE terms_matched >= 1
         |        ORDER BY score_exact DESC, doc_id ASC LIMIT 50),
         |j AS (SELECT t.doc_id, t.score_exact, d.lang, d.n_chars FROM top t JOIN documents d USING (doc_id)),
         |n1 AS (SELECT *,
         |  CASE WHEN max(score_exact) OVER () = min(score_exact) OVER () THEN 1.0
         |    ELSE (score_exact - min(score_exact) OVER ()) / (max(score_exact) OVER () - min(score_exact) OVER ()) END AS pnorm,
         |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END * 0.5 AS fb,
         |  ln(1 + greatest(CAST(n_chars AS DOUBLE), 0)) AS lv FROM j),
         |n2 AS (SELECT *,
         |  CASE WHEN max(lv) OVER () = min(lv) OVER () THEN 1.0
         |    ELSE (lv - min(lv) OVER ()) / (max(lv) OVER () - min(lv) OVER ()) END * 1.0 AS pvb FROM n1)
         |SELECT doc_id, round(pnorm * 0.7 + (fb + pvb) * 0.3, 4) AS boosted FROM n2
         |ORDER BY (pnorm * 0.7 + (fb + pvb) * 0.3) DESC, doc_id ASC""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      val pool = Bm25Search.search(gg.collection("Document"), Bm25("spark join", Seq("text")), 50)
      Boost.rescore(pool, col(Bm25Search.ScoreCol), Seq(
          Boost.FilterMatch(col("lang") === "en", 0.5),
          Boost.PropertyValue(col("n_chars"), Some("log1p"), 1.0)), 0.3)
        .orderBy(col("_boosted_score").desc, col("doc_id").asc)
        .select(col("doc_id"), round(col("_boosted_score"), 4).as("boosted"))
    },

    // pipeline: exact dedup (hash-groupBy, canonical = min id)
    Gate("q_dedup_exact",
      """SELECT user_id, event_type, min(event_id) AS canonical_id, count(*) AS dup_count
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      Dedup.exact(Fixtures.events(s, dir), Seq(col("user_id"), col("event_type")), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // pipeline: MinHash-LSH near-dup detection (bucket → exact-Jaccard verify)
    // over a bounded bed (natural near-dups among doc_id < 500, plus planted
    // exact copies). 64 bands × 2 rows puts LSH detection at p ≈ 1 − 2e-19
    // for j ≥ 0.7, and the verify step computes exact Jaccard, so the output
    // equals the true qualifying-pair set — which the DuckDB oracle computes
    // directly on string shingles (hash-set Jaccard ≡ string-set Jaccard up
    // to xxhash64 collisions)
    // true qualifying-pair set on the bounded bed: string-shingle Jaccard in
    // list math (same shingle semantics as shingleHashes: <3 tokens → one
    // whole-sequence shingle; empty-token docs excluded like the engine's
    // size>0 filter)
    Gate("q_dedup_minhash",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |synth AS (
        |  SELECT CAST(9000001 AS BIGINT) AS doc_id,
        |         array_to_string(list_transform(range(1, 101), i -> 'qw' || i), ' ') AS text
        |  UNION ALL SELECT 9000002,
        |         array_to_string(list_transform(range(1, 85), i -> 'qw' || i), ' ') || ' ' ||
        |         array_to_string(list_transform(range(1, 17), i -> 'qu' || i), ' ')
        |  UNION ALL SELECT 9000003,
        |         array_to_string(list_transform(range(1, 101), i -> 'qv' || i), ' ')
        |  UNION ALL SELECT 9000004,
        |         array_to_string(list_transform(range(1, 80), i -> 'qv' || i), ' ') || ' ' ||
        |         array_to_string(list_transform(range(1, 22), i -> 'qs' || i), ' ')),
        |bed AS (SELECT doc_id, text FROM base
        |        UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 25 = 0
        |        UNION ALL SELECT doc_id, text FROM synth),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM bed),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
        |  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
        |  FROM t WHERE len(toks) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM pairs
        |WHERE jac >= 0.7 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = g(s, dir).collection("Document").df
        .filter(col("doc_id") < 500).select(col("doc_id"), col("text"))
      // NEAR-THRESHOLD plants (unique tokens → exact shingle math): the
      // 9000001/9000002 pair shares 82 of 114 distinct shingles
      // (j = 0.7193 — must be EMITTED: LSH recall there is 1-(1-j²)^64),
      // the 9000003/9000004 pair 77 of 119 (j = 0.6471 — must be
      // EXCLUDED). Without them every qualifying pair in the bed sits at
      // j ≥ 0.9 and every non-qualifying at ≤ 0.07, so a threshold misread
      // anywhere in (0.07, 0.9) or a recall collapse on [0.7, 0.9) would
      // pass unnoticed; this pins the cut inside (0.647, 0.720].
      val synth = Seq(
        (9000001L, (1 to 100).map(i => s"qw$i").mkString(" ")),
        (9000002L, ((1 to 84).map(i => s"qw$i") ++
          (1 to 16).map(i => s"qu$i")).mkString(" ")),
        (9000003L, (1 to 100).map(i => s"qv$i").mkString(" ")),
        (9000004L, ((1 to 79).map(i => s"qv$i") ++
          (1 to 21).map(i => s"qs$i")).mkString(" "))).toDF("doc_id", "text")
      val bed = docs.unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(synth)
      Dedup.minhashDuplicates(bed, col("doc_id"), col("text"),
          shingleSize = 3, numHashes = 128, bands = 64, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // pipeline FLAGSHIP: the full curation DAG in ONE declarative plan —
    // decontaminate (drop docs overlapping the benchmark set) → exact dedup
    // (keep the smallest doc per normalized-text fingerprint) → language ID
    // → quality score → stratified top-3 per language. No materialization
    // barriers: Catalyst sees the whole pipeline and fuses the scans.
    Gate("q_pipeline_curate",
      """WITH t AS (SELECT doc_id, lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) END AS s
        |  FROM t WHERE len(toks) > 0),
        |b AS (SELECT list_distinct(flatten(list(s))) AS bs FROM g WHERE doc_id % 97 = 5),
        |contaminated AS (SELECT doc_id FROM g CROSS JOIN b WHERE len(list_intersect(s, bs)) > 0),
        |canonical AS (SELECT min(doc_id) AS doc_id FROM t
        |  GROUP BY md5(array_to_string(toks, ' '))),
        |clean AS (SELECT t.doc_id, t.text, t.toks FROM t
        |  WHERE t.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |    AND t.doc_id IN (SELECT doc_id FROM canonical)),
        |lid AS (SELECT doc_id, text, toks,
        |  CAST(list_contains(toks,'der') AS INT) + CAST(list_contains(toks,'die') AS INT) + CAST(list_contains(toks,'und') AS INT) + CAST(list_contains(toks,'das') AS INT) + CAST(list_contains(toks,'ist') AS INT) + CAST(list_contains(toks,'nicht') AS INT) + CAST(list_contains(toks,'ein') AS INT) + CAST(list_contains(toks,'mit') AS INT) AS h_de,
        |  CAST(list_contains(toks,'the') AS INT) + CAST(list_contains(toks,'a') AS INT) + CAST(list_contains(toks,'and') AS INT) + CAST(list_contains(toks,'of') AS INT) + CAST(list_contains(toks,'to') AS INT) + CAST(list_contains(toks,'is') AS INT) + CAST(list_contains(toks,'in') AS INT) + CAST(list_contains(toks,'that') AS INT) AS h_en,
        |  CAST(list_contains(toks,'el') AS INT) + CAST(list_contains(toks,'la') AS INT) + CAST(list_contains(toks,'de') AS INT) + CAST(list_contains(toks,'los') AS INT) + CAST(list_contains(toks,'las') AS INT) + CAST(list_contains(toks,'que') AS INT) + CAST(list_contains(toks,'y') AS INT) + CAST(list_contains(toks,'es') AS INT) AS h_es,
        |  CAST(list_contains(toks,'le') AS INT) + CAST(list_contains(toks,'la') AS INT) + CAST(list_contains(toks,'les') AS INT) + CAST(list_contains(toks,'et') AS INT) + CAST(list_contains(toks,'des') AS INT) + CAST(list_contains(toks,'que') AS INT) + CAST(list_contains(toks,'est') AS INT) + CAST(list_contains(toks,'une') AS INT) AS h_fr
        |  FROM clean),
        |scored AS (SELECT doc_id,
        |  CASE
        |    WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
        |    WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        |    WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        |    ELSE 'fr' END AS lang_pred,
        |  (least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |   + greatest(1.0 - (CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]+', '', 'g')) AS DOUBLE)
        |          / len(regexp_replace(text, '\s+', '', 'g')) END) * 4.0, 0.0)
        |   + least((CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x))) AS DOUBLE) / len(toks) END) * 10.0, 1.0)) / 3.0 AS qx
        |  FROM lid),
        |r AS (SELECT doc_id, lang_pred, qx,
        |  row_number() OVER (PARTITION BY lang_pred ORDER BY qx DESC, doc_id) AS rk FROM scored)
        |SELECT lang_pred, doc_id, CAST(rk AS BIGINT) AS sample_rank, round(qx, 4) AS quality
        |FROM r WHERE rk <= 3 ORDER BY lang_pred, sample_rank""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val bench = docs.filter(col("doc_id") % 97 === 5).select(col("text"))
      val contaminated = Decontaminate
        .ngramOverlap(docs, col("doc_id"), col("text"), bench, col("text"), n = 5)
        .select(col("id").as("doc_id"))
      val canonical = Dedup.exactText(docs, col("text"), col("doc_id"))
        .select(col("canonical_id").as("doc_id"))
      val clean = docs
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(canonical, Seq("doc_id"), "left_semi")
        .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
        .withColumn("__q", TextAnalysis.qualityScore(col("text")))
      Curate.stratifiedTopK(clean, Seq(col("lang_pred")), col("__q"), col("doc_id"), k = 3)
        .select(col("lang_pred"), col("doc_id"),
          col("sample_rank").cast("long").as("sample_rank"),
          round(col("__q"), 4).as("quality"))
        .orderBy(col("lang_pred"), col("sample_rank"))
    },

    // pipeline: benchmark decontamination — corpus docs sharing any word
    // 5-gram with the benchmark set (GPT-3-style overlap check); bench gram
    // hashes broadcast, corpus side is one scan + partial-agg count
    Gate("q_decontaminate",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) END AS s
        |  FROM t WHERE len(toks) > 0),
        |b AS (SELECT list_distinct(flatten(list(s))) AS bs FROM g WHERE doc_id % 97 = 5),
        |h AS (SELECT doc_id, len(list_intersect(s, bs)) AS o FROM g CROSS JOIN b)
        |SELECT doc_id, CAST(o AS BIGINT) AS overlap_grams FROM h
        |WHERE o > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val bench = docs.filter(col("doc_id") % 97 === 5).select(col("text"))
      Decontaminate.ngramOverlap(docs, col("doc_id"), col("text"), bench, col("text"), n = 5)
        .select(col("id").as("doc_id"), col("overlap_grams"))
        .orderBy(col("doc_id"))
    },

    // pipeline: stratified quota sampling — top-5 docs per language by
    // quality score (partitioned window, no global funnel)
    Gate("q_curate_sample",
      """WITH t AS (SELECT doc_id, lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |q AS (SELECT doc_id, lang,
        |  (least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |   + greatest(1.0 - (CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]+', '', 'g')) AS DOUBLE)
        |          / len(regexp_replace(text, '\s+', '', 'g')) END) * 4.0, 0.0)
        |   + least((CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x))) AS DOUBLE) / len(toks) END) * 10.0, 1.0)) / 3.0 AS qx
        |  FROM t),
        |r AS (SELECT doc_id, lang, qx,
        |  row_number() OVER (PARTITION BY lang ORDER BY qx DESC, doc_id) AS rk FROM q)
        |SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank, round(qx, 4) AS quality
        |FROM r WHERE rk <= 5 ORDER BY lang, sample_rank""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
        .withColumn("__q", TextAnalysis.qualityScore(col("text")))
      Curate.stratifiedTopK(docs, Seq(col("lang")), col("__q"), col("doc_id"), k = 5)
        .select(col("lang"), col("doc_id"),
          col("sample_rank").cast("long").as("sample_rank"),
          round(col("__q"), 4).as("quality"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // pipeline: token-budget packing — contiguous 2048-token bins per
    // source shard (per-shard running total; packing never crosses shards)
    Gate("q_curate_pack",
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |  CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS BIGINT) AS off
        |  FROM t)
        |SELECT source, doc_id, off AS bin_offset,
        |  CAST(floor(CAST(off AS DOUBLE) / 256.0) AS BIGINT) AS bin
        |FROM c ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
        .withColumn("__t", TextAnalysis.tokenCountWhitespace(col("text")))
      // budget 256 << the per-source token totals (1136-1553 at sf0.01), so
      // bins advance and straddlers exist — at 2048 every bin was 0 and the
      // whole binning rule (floor of the running start offset) was dead
      Curate.packByTokenBudget(docs, Seq(col("source")), col("doc_id"), col("__t"), budget = 256L)
        .select(col("source"), col("doc_id"),
          col("bin_offset").cast("long").as("bin_offset"), col("bin").cast("long").as("bin"))
        .orderBy(col("source"), col("doc_id"))
    },

    // pipeline: duplicate clustering — minhash pairs → connected components
    // via min-label propagation; cluster_id = smallest member, so the
    // canonical keep-set is `id == cluster_id` (oracle: recursive-CTE
    // transitive closure over the same exact-Jaccard pair relation)
    Gate("q_dedup_cluster",
      """WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |bed AS (SELECT doc_id, text FROM base
        |        UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 25 = 0
        |        UNION ALL SELECT p.doc_id, p.txt FROM (
        |          SELECT 2000001 AS doc_id,
        |            array_to_string(list_transform(range(1,84), i -> 'qcx'||i), ' ') || ' ' ||
        |            array_to_string(list_transform(range(1,18), i -> 'qca'||i), ' ') AS txt
        |          UNION ALL SELECT 2000002,
        |            array_to_string(list_transform(range(1,84), i -> 'qcx'||i), ' ') || ' ' ||
        |            array_to_string(list_transform(range(1,18), i -> 'qcy'||i), ' ')
        |          UNION ALL SELECT 2000003,
        |            array_to_string(list_transform(range(1,18), i -> 'qcc'||i), ' ') || ' ' ||
        |            array_to_string(list_transform(range(18,84), i -> 'qcx'||i), ' ') || ' ' ||
        |            array_to_string(list_transform(range(1,18), i -> 'qcy'||i), ' ')) p),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM bed),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
        |  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
        |  FROM t WHERE len(toks) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.7),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src)
        |SELECT id, cluster_id FROM comp ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = g(s, dir).collection("Document").df
        .filter(col("doc_id") < 500).select(col("doc_id"), col("text"))
      // A–B–C chain with NO A–C edge (the q_dedup_keep construction, fresh
      // tokens): every natural component is a CLIQUE (verified: one-hop
      // min-neighbor labeling equals the closure on the unplanted bed), so
      // only this chain proves clusterPairs reaches the closure — a single
      // propagation round labels C with B (2000002) instead of A
      val qcx = (1 to 83).map(i => s"qcx$i")
      val qcy = (1 to 17).map(i => s"qcy$i")
      val chain = Seq(
        (2000001L, (qcx ++ (1 to 17).map(i => s"qca$i")).mkString(" ")),
        (2000002L, (qcx ++ qcy).mkString(" ")),
        (2000003L, ((1 to 17).map(i => s"qcc$i") ++ qcx.drop(17) ++ qcy)
          .mkString(" ")))
        .toDF("doc_id", "text")
      val bed = docs.unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(chain)
      val pairs = Dedup.minhashDuplicates(bed, col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 128, bands = 64, threshold = 0.7)
      Dedup.clusterPairs(pairs, col("id_a"), col("id_b")).orderBy(col("id"))
    },

    // pipeline: INCREMENTAL dedup — the daily-increment shape: near-dup
    // pairs touching a NEW doc (new↔old, new↔new), old↔old never
    // enumerated (the candidate join's left side is only the increment).
    // Oracle: all-pairs Jaccard ≥ 0.7 restricted to pairs with a new side
    // (recall 1 at 128 hashes / 64 bands — the q_dedup_minhash S-curve)
    // exact windowed all-pairs restricted to pairs touching a new doc
    Gate("q_dedup_incremental",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |bed AS (SELECT doc_id, text, false AS nw FROM base
        |        UNION ALL SELECT doc_id + 1000000 AS doc_id, text, true AS nw
        |                  FROM base WHERE doc_id % 25 = 0
        |        UNION ALL SELECT doc_id + 2000000 AS doc_id, text, true AS nw
        |                  FROM base WHERE doc_id % 50 = 0),
        |t AS (SELECT doc_id, nw, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM bed),
        |sh AS (SELECT doc_id, nw,
        |  CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
        |  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
        |  FROM t WHERE len(toks) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.nw OR b.nw)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM pairs
        |WHERE jac >= 0.7 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
        .filter(col("doc_id") < 500).select(col("doc_id"), col("text"))
      // TWO planted copies per %25 original: new<->old pairs (copy vs
      // original) AND new<->new pairs (copy vs copy) both fire — a bed
      // with only one copy never exercises the increment x increment arm
      val bed = docs.withColumn("__new", lit(false))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .withColumn("__new", lit(true)))
        .unionByName(docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
          .withColumn("__new", lit(true)))
      Dedup.minhashIncrementalDuplicates(bed, col("doc_id"), col("text"),
          col("__new"), shingleSize = 3, numHashes = 128, bands = 64,
          threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // pipeline: Bloom-prefiltered exact membership dedup — the daily-ingest
    // shape: the standing corpus folds into one broadcast Bloom sketch,
    // bloom-negative increment rows never enter a join, bloom-positive
    // survivors are verified exactly (no false negatives ⇒ output exact).
    // fpp 0.3 at this size makes false positives CERTAIN (measured: 33 of
    // the 100 natural increment rows are bloom-positive non-duplicates at
    // sf0.01 — the sketch bits are deterministic, so the set is stable), so
    // an implementation that trusts the sketch without the verify join
    // flags them and mismatches. Plants: 9000001 is doc 100
    // uppercased with doubled spaces (normalization load-bearing), 9000002
    // is doc 7 verbatim, 9000003 repeats an INCREMENT doc's text —
    // membership is vs the corpus only, so it must come back new
    // exact membership semantics: dup_of = smallest corpus id sharing the
    // normalized (lowercased, whitespace-collapsed) content — the Bloom
    // sketch is a pure pre-filter, so the oracle never models it
    Gate("q_dedup_bloom",
      """WITH corpus AS (
        |  SELECT doc_id AS cid,
        |         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ckey
        |  FROM documents WHERE doc_id < 400),
        |inc AS (
        |  SELECT doc_id AS id,
        |         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS key
        |  FROM documents WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT 9000001, lower(regexp_replace(trim(
        |           upper(replace(text, ' ', '  '))), '\s+', ' ', 'g'))
        |  FROM documents WHERE doc_id = 100
        |  UNION ALL
        |  SELECT 9000002, lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |  FROM documents WHERE doc_id = 7
        |  UNION ALL
        |  SELECT 9000003, lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |  FROM documents WHERE doc_id = 450),
        |owners AS (SELECT ckey, min(cid) AS dup_of FROM corpus GROUP BY ckey)
        |SELECT id, dup_of IS NOT NULL AS is_duplicate, dup_of
        |FROM inc LEFT JOIN owners ON key = ckey
        |ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = g(s, dir).collection("Document").df
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 400)
      val planted =
        docs.filter(col("doc_id") === 100)
          .select(lit(9000001L).as("doc_id"),
            upper(regexp_replace(col("text"), " ", "  ")).as("text"))
        .unionByName(docs.filter(col("doc_id") === 7)
          .select(lit(9000002L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") === 450)
          .select(lit(9000003L).as("doc_id"), col("text")))
      val increment = docs.filter(col("doc_id") >= 400).unionByName(planted)
      Dedup.bloomDuplicates(corpus, col("doc_id"), col("text"),
          increment, col("doc_id"), col("text"),
          expectedItems = 400L, fpp = 0.3)
        .orderBy(col("id"))
    },

    // pipeline: canonical-representative selection — the step that turns
    // duplicate pairs into the deduplicated corpus: cluster the minhash
    // pairs, keep the best doc per cluster by length (ties to the smallest
    // id, so planted +1000000 copies always lose to their originals);
    // singletons survive as their own cluster (oracle: the recursive-CTE
    // closure + a rank-1 window over (quality desc, id asc))
    // same transitive closure as q_dedup_cluster, then canonical selection:
    // rank 1 by (n_chars desc, id asc) per cluster is kept; singletons keep
    Gate("q_dedup_keep",
      """WITH RECURSIVE base AS (SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 500),
        |px AS (SELECT
        |  array_to_string(list_transform(range(1, 84), i -> 'qkx' || i), ' ') AS x,
        |  array_to_string(list_transform(range(18, 84), i -> 'qkx' || i), ' ') AS x2,
        |  array_to_string(list_transform(range(1, 18), i -> 'qky' || i), ' ') AS y,
        |  array_to_string(list_transform(range(1, 18), i -> 'qka' || i), ' ') AS a,
        |  array_to_string(list_transform(range(1, 18), i -> 'qkc' || i), ' ') AS c),
        |bed AS (SELECT doc_id, text, n_chars FROM base
        |        UNION ALL SELECT doc_id + 1000000 AS doc_id, text, n_chars FROM base WHERE doc_id % 25 = 0
        |        UNION ALL SELECT CAST(2000001 AS BIGINT), x || ' ' || a, 9000 FROM px
        |        UNION ALL SELECT CAST(2000002 AS BIGINT), x || ' ' || y, 8000 FROM px
        |        UNION ALL SELECT CAST(2000003 AS BIGINT), c || ' ' || x2 || ' ' || y, 7000 FROM px),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM bed),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
        |  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
        |  FROM t WHERE len(toks) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.7),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |lab AS (SELECT b.doc_id AS id, coalesce(c.cluster_id, b.doc_id) AS cluster_id,
        |               b.n_chars AS quality
        |        FROM bed b LEFT JOIN comp c ON c.id = b.doc_id),
        |r AS (SELECT id, cluster_id, quality, row_number() OVER (
        |        PARTITION BY cluster_id ORDER BY quality DESC, id ASC) AS rn
        |      FROM lab)
        |SELECT id, cluster_id, CAST(quality AS BIGINT) AS quality, rn = 1 AS kept
        |FROM r ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = g(s, dir).collection("Document").df
        .filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"), col("n_chars"))
      // Planted A–B–C chain with NO A–C edge (unique tokens; exact-
      // construction Jaccards): A,B share an 83-token prefix and B,C an
      // 83-token run → j = 81/115 ≈ 0.7043 ≥ 0.7 on both edges, while A,C
      // share only 66 tokens → j = 64/132 ≈ 0.485 < 0.7. The natural bed's
      // clusters are all cliques, so only this chain proves the TRANSITIVE
      // closure: a min-over-direct-neighbors labeling gives C cluster B
      // (2000002) instead of A (2000001) and emits an extra kept row.
      val qkx = (1 to 83).map(i => s"qkx$i")
      val qky = (1 to 17).map(i => s"qky$i")
      val chain = Seq(
        (2000001L, (qkx ++ (1 to 17).map(i => s"qka$i")).mkString(" "), 9000L),
        (2000002L, (qkx ++ qky).mkString(" "), 8000L),
        (2000003L, ((1 to 17).map(i => s"qkc$i") ++ qkx.drop(17) ++ qky)
          .mkString(" "), 7000L))
        .toDF("doc_id", "text", "n_chars")
        .select(col("doc_id"), col("text"),
          col("n_chars").cast(docs.schema("n_chars").dataType).as("n_chars"))
      val bed = docs.unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars")))
        .unionByName(chain)
      val pairs = Dedup.minhashDuplicates(bed, col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 128, bands = 64, threshold = 0.7)
      Dedup.selectCanonical(bed, col("doc_id"), col("n_chars"),
          pairs, col("id_a"), col("id_b"))
        .select(col("id"), col("cluster_id"),
          col("quality").cast("long").as("quality"), col("kept"))
        .orderBy(col("id"))
    },

    // pipeline: token-window chunking with overlap — the training-example
    // maker (size-64 windows advancing by 48; a tail window is emitted only
    // if it carries at least one NEW token). Chunk text rides as md5 so the
    // output stays compact; the oracle rebuilds every window by list
    // slicing over the same word tokens
    // every size-64 window advancing by 48, tail windows only when they add
    // a new token; chunk text compared via md5 of the space-joined slice
    Gate("q_curate_chunk",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |s AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS st FROM b),
        |f AS (SELECT doc_id, toks, n, st,
        |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS INTEGER) AS chunk_index
        |      FROM s WHERE st = 0 OR st < n - 16)
        |SELECT doc_id, chunk_index, CAST(st AS BIGINT) AS start_token,
        |  CAST(least(64, n - st) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(toks, st + 1, st + 64), ' ')) AS chunk_md5
        |FROM f ORDER BY doc_id, chunk_index""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      Curate.chunk(docs, col("doc_id"), col("text"), size = 64, overlap = 16)
        .select(col("id").as("doc_id"), col("chunk_index"),
          col("start_token"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_index"))
    },

    // pipeline: UniMax budget allocation (Chung et al. 2023) — smallest
    // language first, each takes min(count·maxEpochs, remaining/left).
    // Budget 700 (not 800): replayed against the sf0.01 counts
    // (64/70/73/75/218), fr and de take the epoch cap while es hits the
    // fair-share arm MID-LIST (432/3 = 144 < 146) — at 800 the share arm
    // fired only for the last language, where remaining/1 == remaining and
    // a divisor-free implementation was indistinguishable. (Oracle: the
    // same recurrence as a recursive CTE over languages ordered by count.)
    // the UniMax recurrence as a recursive CTE over languages ordered by
    // (count, name): rn-th language takes min(n*cap, remaining/(tot-rn+1))
    Gate("q_curate_unimax",
      """WITH RECURSIVE o AS (
        |  SELECT lang, n, row_number() OVER (ORDER BY n, lang) AS rn,
        |         count(*) OVER () AS tot
        |  FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang)),
        |a(rn, lang, n, quota, rem) AS (
        |  SELECT rn, lang, n,
        |         least(n * 2.0, 700.0 / tot),
        |         700.0 - least(n * 2.0, 700.0 / tot)
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.lang, o.n,
        |         least(o.n * 2.0, a.rem / (o.tot - a.rn)),
        |         a.rem - least(o.n * 2.0, a.rem / (o.tot - a.rn))
        |  FROM a JOIN o ON o.rn = a.rn + 1)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs, round(quota, 4) AS quota,
        |       round(quota / n, 6) AS epochs
        |FROM a ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      Curate.unimax(docs, col("lang"), budget = 700.0, maxEpochs = 2.0)
        .select(col("lang"), col("n_docs"), round(col("quota"), 4).as("quota"),
          round(col("epochs"), 6).as("epochs"))
        .orderBy(col("lang"))
    },

    // pipeline: TF-IDF top terms per document (sklearn smoothing:
    // idf = ln((1+N)/(1+df)) + 1, weight = tf·idf on raw counts, top-3 by
    // weight desc / term asc) — the classic keyword extractor; the oracle
    // replays tf, df, N and the rank window in identical double math
    // tf / df / N and the sklearn-smoothed weight in identical double math;
    // rank window (weight desc, term asc) cut at 3
    Gate("q_text_tfidf",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |           FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
        |w AS (SELECT tf.doc_id, tf.term, tf.tf,
        |        tf.tf * (ln((1.0 + n.n) / (1.0 + dfr.df)) + 1.0) AS weight
        |      FROM tf JOIN dfr USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, weight,
        |        CAST(row_number() OVER (PARTITION BY doc_id
        |          ORDER BY weight DESC, term ASC) AS INTEGER) AS term_rank
        |      FROM w)
        |SELECT doc_id, term, tf, round(weight, 4) AS weight, term_rank
        |FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      TextAnalysis.tfidfTopTerms(docs, col("doc_id"), col("text"), topK = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          round(col("weight"), 4).as("weight"), col("term_rank"))
        .orderBy(col("doc_id"), col("term_rank"))
    },

    // pipeline: bucketed n-gram Jaccard dedup (exact within source buckets).
    // Exact-construction plants straddle the 0.8 threshold (the natural
    // corpus has NOTHING in (0.037, 0.974), so any cut in that band
    // matched): unique-token docs sharing a 90-token prefix with 10-token
    // tails give 88 shared / 108 distinct 3-shingles = 0.8148 (must emit);
    // an 88-token prefix with 12-token tails gives 86/110 = 0.7818 (an LSH/
    // prefix candidate the verify threshold must SUPPRESS)
    // exact oracle: same-source pairs with shingle-set Jaccard ≥ 0.5 (the
    // engine's bucketed candidate space is identical by construction)
    Gate("q_dedup_jaccard",
      """WITH docs_p AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT p.doc_id, 'src1', p.txt FROM (
        |    SELECT 8000001 AS doc_id,
        |      array_to_string(list_transform(range(1,91), i -> 'qjx'||i), ' ') || ' ' ||
        |      array_to_string(list_transform(range(1,11), i -> 'qja'||i), ' ') AS txt
        |    UNION ALL SELECT 8000002,
        |      array_to_string(list_transform(range(1,91), i -> 'qjx'||i), ' ') || ' ' ||
        |      array_to_string(list_transform(range(1,11), i -> 'qjb'||i), ' ')
        |    UNION ALL SELECT 8000003,
        |      array_to_string(list_transform(range(1,89), i -> 'qjy'||i), ' ') || ' ' ||
        |      array_to_string(list_transform(range(1,13), i -> 'qjc'||i), ' ')
        |    UNION ALL SELECT 8000004,
        |      array_to_string(list_transform(range(1,89), i -> 'qjy'||i), ' ') || ' ' ||
        |      array_to_string(list_transform(range(1,13), i -> 'qjd'||i), ' ')) p),
        |t AS (
        |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM docs_p),
        |sh AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS s
        |  FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jac
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM pairs
        |WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      def toks(pre: String, n: Int) = (1 to n).map(i => s"$pre$i").mkString(" ")
      val plants = Seq(
        (8000001L, toks("qjx", 90) + " " + toks("qja", 10)),
        (8000002L, toks("qjx", 90) + " " + toks("qjb", 10)),
        (8000003L, toks("qjy", 88) + " " + toks("qjc", 12)),
        (8000004L, toks("qjy", 88) + " " + toks("qjd", 12)))
        .toDF("doc_id", "text").withColumn("source", lit("src1"))
      val docs = g(s, dir).collection("Document").df
        .select(col("doc_id"), col("text"), col("source"))
        .unionByName(plants)
      Dedup.ngramJaccardDuplicates(docs, col("doc_id"), col("text"), Seq(col("source")),
          shingleSize = 3, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // pipeline: span-level duplicated-substring coverage (Lee et al. 2022
    // ExactSubstr signal — cross-doc duplicated 8-gram spans, per-doc
    // covered-token fraction); only docs carrying ≥1 duplicated span are
    // emitted (47 of 5000 at sf0.01 — the interesting rows)
    // span-coverage model restated in SQL: same whitespace tokens, same
    // n-gram join (on the gram STRING — Spark joins on its xxhash64, an
    // 8-byte shuffle key; a 64-bit collision would be the only divergence),
    // same n + Σ min(n, gap) interval-union length
    Gate("q_dedup_substring",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |base AS (SELECT doc_id, t, len(t) AS ntok FROM toks),
        |grams AS (
        |  SELECT doc_id, ntok, i - 1 AS pos,
        |         array_to_string(list_slice(t, i, i + 7), ' ') AS g
        |  FROM base, UNNEST(range(1, ntok - 8 + 2)) AS u(i)
        |  WHERE ntok >= 8),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |agg AS (
        |  SELECT doc_id, ntok, count(*) AS dup_ngrams, list_sort(list(pos)) AS ps
        |  FROM grams WHERE g IN (SELECT g FROM dup)
        |  GROUP BY doc_id, ntok)
        |SELECT doc_id, CAST(dup_ngrams AS BIGINT) AS dup_ngrams,
        |  round((8 + coalesce(list_sum(list_transform(range(2, len(ps) + 1),
        |      i -> least(ps[i] - ps[i-1], 8))), 0)) / CAST(ntok AS DOUBLE), 4) AS dup_fraction
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      Dedup.substringCoverage(docs, col("doc_id"), col("text"), n = 8, minDocs = 2)
        .filter(col("dup_ngrams") > 0)
        .select(col("__id").as("doc_id"), col("dup_ngrams"),
          round(col("dup_fraction"), 4).as("dup_fraction"))
        .orderBy(col("doc_id"))
    },

    // pipeline: ExactSubstr span EXCISION (the cleaning step of Lee et al.
    // 2022 — every occurrence of a cross-doc duplicated 8-gram span is cut,
    // survivors re-join on single spaces); emits only the docs that lost
    // tokens. Same detection model as q_dedup_substring.
    // same detection model as q_dedup_substring, then position-level
    // excision: covered (doc, pos) pairs unioned, surviving tokens
    // re-assembled in position order
    Gate("q_dedup_substr_clean",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |base AS (SELECT doc_id, t, len(t) AS ntok FROM toks),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(list_slice(t, i, i + 7), ' ') AS g
        |  FROM base, UNNEST(range(1, ntok - 8 + 2)) AS u(i)
        |  WHERE ntok >= 8),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + k AS cp
        |  FROM grams, UNNEST(range(0, 8)) AS kk(k) WHERE g IN (SELECT g FROM dup)),
        |tokpos AS (SELECT doc_id, i - 1 AS pos, t[i] AS w
        |  FROM base, UNNEST(range(1, ntok + 1)) AS u(i)),
        |kept AS (SELECT tp.doc_id, tp.pos, tp.w FROM tokpos tp
        |  LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.pos = c.cp
        |  WHERE c.cp IS NULL),
        |agg AS (SELECT doc_id, count(*) AS kept_tokens,
        |    string_agg(w, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  CAST(b.ntok - coalesce(a.kept_tokens, 0) AS BIGINT) AS removed_tokens
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |WHERE b.ntok - coalesce(a.kept_tokens, 0) > 0
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      Dedup.substringRemove(docs, col("doc_id"), col("text"), n = 8, minDocs = 2)
        .filter(col("removed_tokens") > 0)
        .select(col("__id").as("doc_id"), col("clean_text"),
          col("kept_tokens"), col("removed_tokens"))
        .orderBy(col("doc_id"))
    },

    // pipeline: content-defined chunking dedup — every 25th doc carries a
    // shared 24-token passage; CDC boundaries re-align inside the passage
    // regardless of the differing prefixes (the CDC property), so interior
    // chunks dedup across docs. md5-derived cutpoints → the oracle replays
    // chunking, hashing, and the dup stats exactly.
    // CDC replay: context via list slices (≡ the engine's lag window with
    // concat_ws null-skip at doc heads), md5-uniform cutpoints mod 16,
    // chunk index = boundaries strictly before the position, chunk hash =
    // md5 of the position-ordered tokens
    Gate("q_dedup_cdc",
      """WITH bed AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN text ||
        |    ' alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray'
        |    ELSE text END AS t FROM documents),
        |tok AS (SELECT doc_id, list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS toks FROM bed),
        |pos AS (SELECT doc_id, i, toks[i] AS w,
        |    CASE WHEN ('0x' || substr(md5(array_to_string(toks[greatest(1, i-3):i], ' ')), 1, 8))::UBIGINT % 16 = 0
        |      THEN 1 ELSE 0 END AS bd
        |  FROM tok, unnest(range(1, len(toks)+1)) AS u(i)),
        |c AS (SELECT doc_id, i, w, coalesce(sum(bd) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk FROM pos),
        |ch AS (SELECT doc_id, chunk, count(*) AS clen,
        |    md5(string_agg(w, ' ' ORDER BY i)) AS chash FROM c GROUP BY 1, 2),
        |dup AS (SELECT chash FROM ch GROUP BY chash HAVING count(DISTINCT doc_id) >= 2),
        |agg AS (SELECT doc_id, count(*) AS dup_chunks, sum(clen) AS dup_toks
        |  FROM ch WHERE chash IN (SELECT chash FROM dup) GROUP BY 1),
        |n AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |tot AS (SELECT doc_id, len(toks) AS ntok FROM tok)
        |SELECT t.doc_id, CAST(n.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(a.dup_chunks AS BIGINT) AS dup_chunks,
        |  round(CAST(a.dup_toks AS DOUBLE) / t.ntok, 4) AS dup_token_frac
        |FROM tot t JOIN n USING (doc_id) JOIN agg a USING (doc_id)
        |WHERE a.dup_chunks > 0 ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val passage = " alpha bravo charlie delta echo foxtrot golf hotel india" +
        " juliet kilo lima mike november oscar papa quebec romeo sierra tango" +
        " uniform victor whiskey xray"
      val bed = docs.select(col("doc_id"),
        when(col("doc_id") % 25 === 0, concat(col("text"), lit(passage)))
          .otherwise(col("text")).as("page"))
      Dedup.cdcChunkDedup(bed, col("doc_id"), col("page"))
        .filter(col("dup_chunks") > 0)
        .select(col("__id").as("doc_id"), col("n_chunks"), col("dup_chunks"),
          round(col("dup_token_frac"), 4).as("dup_token_frac"))
        .orderBy(col("doc_id"))
    },

    // pipeline: SimHash near-dup over a planted bed. xxhash64 simhash isn't
    // DuckDB-expressible, so the oracle is the planted qualifying pairs
    // (exact copies ⇒ identical signature ⇒ pigeonhole bucket hit, hamming 0).
    // The output keeps ONLY the planted relation (id_b = id_a + 1e6): at
    // sf0.1 the bed contains genuine natural hamming ≤ 3 pairs the engine
    // correctly surfaces but the fixed-pair oracle can't predict (found in
    // the sf0.1 self-audit); precision on natural data stays covered by
    // DedupSpec's brute-force comparison
    // planted-pair oracle: exact copies have identical simhash (hamming 0)
    // and share every pigeonhole chunk, so detection is certain; the bed has
    // no natural hamming ≤ 3 pair (verified locally at both sf)
    Gate("q_dedup_simhash",
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM documents
        |WHERE doc_id % 51 = 3 AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
        .filter(col("doc_id") % 17 === 3).select(col("doc_id"), col("text"))
      val bed = docs.unionByName(docs.filter(col("doc_id") % 51 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.simhashDuplicates(bed, col("doc_id"), col("text"), maxHamming = 3)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    // pipeline: embedding cosine near-dup via hyperplane LSH + exact verify
    // Near-threshold plants straddle maxCosineDistance=0.05 (the natural
    // bed's closest pair sits at 0.487, so any cut in (0, 0.487) — or an
    // exact-hash dedup — matched the copies-only output): 8000001/8000002
    // at cos 0.951 (dist 0.049, must emit; the e0/e1 basis pair shares all
    // 16 hyperplane signs, so the single-band LSH provably buckets them
    // together) and 8000003/8000004 at cos 0.949 (an LSH candidate the
    // verify threshold must SUPPRESS)
    // planted-pair oracle (same argument; copies are bit-identical → dist 0,
    // natural pairs all ≥ 0.3 cosine distance)
    // exact copies + the one near-threshold plant pair (cos 0.951, dist
    // computed in the engine's own double-over-float32 cosine); the 0.949
    // pair and every natural pair (min dist 0.487) stay absent
    Gate("q_dedup_embed",
      s"""WITH pl AS (
         |  SELECT 8000001 AS id, list_transform(range(1,65),
         |    i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END) AS v
         |  UNION ALL SELECT 8000002, list_transform(range(1,65),
         |    i -> CASE WHEN i = 1 THEN CAST(0.951 AS FLOAT)
         |          WHEN i = 2 THEN CAST(sqrt(1 - 0.951*0.951) AS FLOAT)
         |          ELSE CAST(0.0 AS FLOAT) END)),
         |pd AS (SELECT ${SparkEntry.sqlCosine("a.v", "b.v")} AS d
         |       FROM pl a JOIN pl b ON a.id = 8000001 AND b.id = 8000002)
         |SELECT * FROM (
         |  SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 0.0 AS dist
         |  FROM embeddings WHERE vec_id % 50 = 0
         |  UNION ALL SELECT 8000001, 8000002, round(abs(d), 4) FROM pd)
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bed = embWithPlantedDups(g(s, dir)).unionByName(embedPlants(s))
      Dedup.embeddingDuplicates(bed, col("vec_id"), col("embedding"),
          dim = 64, planes = 16, maxCosineDistance = 0.05)
        .select(col("id_a"), col("id_b"), round(abs(col("dist")), 4).as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // pipeline: SemDeDup (Abbas et al. 2023) — cluster-bucketed semantic
    // dedup over the planted-dup bed: exact copies score pair-sim 1.0 > eps
    // and share their original's cluster and centroid-similarity exactly, so
    // the tie-break keeps the smaller id (the original) deterministically;
    // the DuckDB oracle replays seed assignment, centroid similarity and the
    // keep rule end-to-end
    // near-eps plants (shared with q_dedup_embed): the 0.951 pair straddles
    // epsSimilarity=0.95 from above — if co-clustered, the higher-centroid-
    // sim member must DROP (the natural bed's best within-cluster sim is
    // 0.493, so the general non-identical drop path was dead); the 0.949
    // pair must survive wholesale
    Gate("q_dedup_semantic",
      s"""WITH bed AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS id, embedding AS v FROM embeddings WHERE vec_id % 50 = 0
         |  UNION ALL SELECT p.id, p.v FROM (
         |    SELECT 8000001 AS id, list_transform(range(1,65),
         |      i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END) AS v
         |    UNION ALL SELECT 8000002, list_transform(range(1,65),
         |      i -> CASE WHEN i = 1 THEN CAST(0.951 AS FLOAT)
         |            WHEN i = 2 THEN CAST(sqrt(1 - 0.951*0.951) AS FLOAT)
         |            ELSE CAST(0.0 AS FLOAT) END)
         |    UNION ALL SELECT 8000003, list_transform(range(1,65),
         |      i -> CASE WHEN i = 3 THEN CAST(1.0 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END)
         |    UNION ALL SELECT 8000004, list_transform(range(1,65),
         |      i -> CASE WHEN i = 3 THEN CAST(0.949 AS FLOAT)
         |            WHEN i = 4 THEN CAST(sqrt(1 - 0.949*0.949) AS FLOAT)
         |            ELSE CAST(0.0 AS FLOAT) END)) p),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY id ASC) - 1 AS cidx, v AS sv
         |  FROM bed ORDER BY id ASC LIMIT 8),
         |d AS (SELECT b.id, b.v, s.cidx, s.sv, ${sqlL2("b.v", "s.sv")} AS dist
         |      FROM bed b CROSS JOIN seeds s),
         |a0 AS (SELECT id, v, cidx, sv,
         |         row_number() OVER (PARTITION BY id ORDER BY dist ASC, cidx ASC) AS rn
         |       FROM d),
         |asg AS (SELECT id, v, cidx AS cluster, (1.0 - ${sqlCosine("v", "sv")}) AS csim
         |        FROM a0 WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT a.id
         |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id <> b.id
         |   AND (1.0 - ${sqlCosine("a.v", "b.v")}) > 0.95
         |   AND (b.csim < a.csim OR (b.csim = a.csim AND b.id < a.id)))
         |SELECT a.id AS vec_id, a.cluster AS cluster, round(a.csim, 4) AS cent_sim,
         |       (d.id IS NULL) AS kept
         |FROM asg a LEFT JOIN dropped d ON a.id = d.id
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val bed = embWithPlantedDups(g(s, dir)).unionByName(embedPlants(s))
      Dedup.semantic(bed, col("vec_id"), col("embedding"),
          k = 8, epsSimilarity = 0.95)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
          round(col("cent_sim"), 4).as("cent_sim"), col("kept"))
        .orderBy(col("vec_id"))
    },

    // pipeline: text quality features (one scan, pure column math)
    Gate("q_text_stats",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
        |  CAST(list_sum(list_transform(
        |    regexp_extract_all(lower(text), '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]'),
        |    p -> CAST(ceil(len(p) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens,
        |  round(CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0 THEN 0.0
        |    ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]+', '', 'g')) AS DOUBLE)
        |       / len(regexp_replace(text, '\s+', '', 'g')) END, 4) AS punct_ratio,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x))) AS DOUBLE) / len(toks) END, 4) AS stopword_ratio,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) END, 4) AS mean_token_len,
        |  round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |       + greatest(1.0 - (CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0 THEN 0.0
        |           ELSE CAST(len(regexp_replace(text, '[\p{L}\p{N}\s]+', '', 'g')) AS DOUBLE)
        |              / len(regexp_replace(text, '\s+', '', 'g')) END) * 4.0, 0.0)
        |       + least((CASE WHEN len(toks) = 0 THEN 0.0
        |           ELSE CAST(len(list_filter(toks, x -> list_contains(['a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with'], x))) AS DOUBLE) / len(toks) END) * 10.0, 1.0)) / 3.0, 4) AS quality
        |FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).collection("Document").df.select(
        col("doc_id"),
        TextAnalysis.tokenCountWhitespace(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.tokenCountBpeIsh(col("text")).as("bpe_tokens"),
        round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        round(TextAnalysis.meanTokenLen(col("text")), 4).as("mean_token_len"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
        .orderBy(col("doc_id"))
    },

    // pipeline: stopword-profile language ID
    Gate("q_text_langid",
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(list_contains(toks,'der') AS INT) + CAST(list_contains(toks,'die') AS INT) + CAST(list_contains(toks,'und') AS INT) + CAST(list_contains(toks,'das') AS INT) + CAST(list_contains(toks,'ist') AS INT) + CAST(list_contains(toks,'nicht') AS INT) + CAST(list_contains(toks,'ein') AS INT) + CAST(list_contains(toks,'mit') AS INT) AS h_de,
        |  CAST(list_contains(toks,'the') AS INT) + CAST(list_contains(toks,'a') AS INT) + CAST(list_contains(toks,'and') AS INT) + CAST(list_contains(toks,'of') AS INT) + CAST(list_contains(toks,'to') AS INT) + CAST(list_contains(toks,'is') AS INT) + CAST(list_contains(toks,'in') AS INT) + CAST(list_contains(toks,'that') AS INT) AS h_en,
        |  CAST(list_contains(toks,'el') AS INT) + CAST(list_contains(toks,'la') AS INT) + CAST(list_contains(toks,'de') AS INT) + CAST(list_contains(toks,'los') AS INT) + CAST(list_contains(toks,'las') AS INT) + CAST(list_contains(toks,'que') AS INT) + CAST(list_contains(toks,'y') AS INT) + CAST(list_contains(toks,'es') AS INT) AS h_es,
        |  CAST(list_contains(toks,'le') AS INT) + CAST(list_contains(toks,'la') AS INT) + CAST(list_contains(toks,'les') AS INT) + CAST(list_contains(toks,'et') AS INT) + CAST(list_contains(toks,'des') AS INT) + CAST(list_contains(toks,'que') AS INT) + CAST(list_contains(toks,'est') AS INT) + CAST(list_contains(toks,'une') AS INT) AS h_fr
        |FROM t)
        |SELECT doc_id, CASE
        |  WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
        |  WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        |  WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        |  ELSE 'fr' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).collection("Document").df
        .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    // pipeline: document fingerprint (md5 of normalized tokens)
    Gate("q_text_fingerprint",
      """SELECT doc_id, md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).collection("Document").df
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    },

    // pipeline: PII redaction — the corpus has no PII, so a planted span of
    // email + IPv4 + phone is prepended; both sides apply the same
    // RE2-compatible patterns (TextAnalysis.{Email,Ipv4,Phone}Pattern)
    // pipeline: C4 heuristic cleaning (Raffel et al. 2020 §2.2). The corpus
    // text has no line structure, so the QUERY manufactures the bed both
    // sides run on: 3-word lines via regex, terminal '.' only on lines whose
    // last word ends in [a-m] (content-dependent — roughly half the lines
    // stay unterminated and get dropped), plus doc_id-keyed javascript /
    // brace / lorem-ipsum plants exercising every page rule. The oracle
    // replays the identical construction and the identical rules in SQL.
    // identical bed construction + identical C4 rules in SQL; len(list) is
    // BIGINT so the Spark side casts its counts to long
    Gate("q_text_c4",
      """WITH b1 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(text,
        |      '(\S+\s+\S+\s+\S+)\s+', '\1' || chr(10), 'g'),
        |      '([a-d])\n', '\1.' || chr(10), 'g'), '([a-d])$', '\1.'),
        |      '([e-g])\n', '\1!' || chr(10), 'g'), '([e-g])$', '\1!'),
        |      '([h-j])\n', '\1?' || chr(10), 'g'), '([h-j])$', '\1?'),
        |      '([k-m])\n', '\1"' || chr(10), 'g'), '([k-m])$', '\1"') AS t
        |  FROM documents),
        |b2 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |         THEN t || chr(10) || 'this javascript line should vanish.' ELSE t END AS t FROM b1),
        |b3 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
        |         THEN t || chr(10) || 'code { block }' ELSE t END AS t FROM b2),
        |bed AS (SELECT doc_id, CASE WHEN doc_id % 19 = 0
        |         THEN t || chr(10) || 'lorem ipsum dolor sit amet.' ELSE t END AS page FROM b3),
        |cleaned AS (
        |  SELECT doc_id, page,
        |    list_filter(string_split(page, chr(10)), l ->
        |      regexp_matches(trim(l), '[.!?"'']$')
        |      AND len(string_split_regex(trim(l), '\s+')) >= 3
        |      AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS kept,
        |    string_split(page, chr(10)) AS all_lines
        |  FROM bed)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS c4_text,
        |  len(kept) AS c4_lines_kept, len(all_lines) AS c4_lines_total
        |FROM cleaned
        |WHERE NOT contains(lower(page), 'lorem ipsum')
        |  AND NOT contains(page, '{')
        |  AND length(regexp_replace(array_to_string(kept, chr(10)), '[^.!?]', '', 'g')) >= 5
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val lined = regexp_replace(col("text"), "(\\S+\\s+\\S+\\s+\\S+)\\s+", "$1\n")
      // four terminal-punctuation classes so every branch of the keep-rule
      // char class [.!?"'] and of the sentence counter [.!?] is live (a
      // period-only rule or counter diverges); quote-ended lines are kept
      // but must NOT count as sentences
      val punct = Seq(("a-d", "."), ("e-g", "!"), ("h-j", "?"), ("k-m", "\""))
        .foldLeft(lined) { case (acc, (r, pc)) =>
          regexp_replace(
            regexp_replace(acc, s"([$r])\n", s"$$1$pc\n"),
            s"([$r])$$", s"$$1$pc")
        }
      val js = when(col("doc_id") % 13 === 0,
        concat(punct, lit("\nthis javascript line should vanish."))).otherwise(punct)
      val brace = when(col("doc_id") % 17 === 0,
        concat(js, lit("\ncode { block }"))).otherwise(js)
      val lorem = when(col("doc_id") % 19 === 0,
        concat(brace, lit("\nlorem ipsum dolor sit amet."))).otherwise(brace)
      val bed = docs.select(col("doc_id"), lorem.as("page"))
      TextAnalysis.c4Clean(bed, col("page"))
        .select(col("doc_id"), col("c4_text"),
          col("c4_lines_kept").cast("long").as("c4_lines_kept"),
          col("c4_lines_total").cast("long").as("c4_lines_total"))
        .orderBy(col("doc_id"))
    },

    Gate("q_text_redact",
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'contact john.doe+spam@mail-host.org or 192.168.10.42 or +1 (415) 555-0133 :: ' || text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
        |    '\+?(\d{1,3}[-. ])?\(?\d{2,4}\)?[-. ]\d{3,4}([-. ]\d{2,4})?\b', '[PHONE]', 'g') AS redacted
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bed = g(s, dir).collection("Document").df.filter(col("doc_id") < 200)
        .select(col("doc_id"), concat(
          lit("contact john.doe+spam@mail-host.org or 192.168.10.42 or +1 (415) 555-0133 :: "),
          col("text")).as("text"))
      bed.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("redacted"))
        .orderBy(col("doc_id"))
    },

    // pipeline: Gopher/MassiveText repetition signals; every 7th doc planted
    // as two duplicate lines (dup_line_frac 0.5, doubled bigram counts)
    Gate("q_text_repetition",
      """WITH bed AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || text ELSE text END AS text
        |  FROM documents WHERE doc_id < 300),
        |t AS (SELECT doc_id,
        |  list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls,
        |  regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM bed),
        |bgl AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
        |  FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, unnest(bgs) AS b FROM bgl),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS top, sum(c) AS total FROM cnt GROUP BY 1),
        |ln AS (SELECT doc_id, len(ls) AS n_lines, len(list_distinct(ls)) AS nd FROM t)
        |SELECT l.doc_id, CAST(l.n_lines AS BIGINT) AS n_lines,
        |  round(CASE WHEN l.n_lines = 0 THEN 0.0 ELSE 1.0 - CAST(l.nd AS DOUBLE) / l.n_lines END, 4) AS dup_line_frac,
        |  round(coalesce(CAST(a.top AS DOUBLE) / a.total, 0.0), 4) AS top_bigram_frac
        |FROM ln l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
      val bed = g(s, dir).collection("Document").df.filter(col("doc_id") < 300)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit("\n"), col("text")))
            .otherwise(col("text")).as("text"))
      TextAnalysis.repetitionStats(bed, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_lines").cast("long").as("n_lines"),
          round(col("dup_line_frac"), 4).as("dup_line_frac"),
          round(col("top_bigram_frac"), 4).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // pipeline: deterministic mixture sampling (the data-mixing step of
    // Pile/DoReMi recipes) — per-language target rates, md5-derived
    // per-row uniforms, so the exact surviving id set is engine-independent
    // and the oracle replays it verbatim
    // identical md5-uniform draw: u = first 8 md5 hex chars / 2^32 —
    // DuckDB parses the hex via a '0x' UBIGINT cast; same CASE rates
    Gate("q_curate_mix",
      """SELECT doc_id, lang,
        |  round(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8))::UBIGINT
        |    / 4294967296.0, 4) AS sample_u
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8))::UBIGINT
        |    / 4294967296.0
        |  < CASE WHEN lang = 'en' THEN 0.3 WHEN lang = 'zh' THEN 0.8 ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val rate = when(col("lang") === "en", 0.3)
        .when(col("lang") === "zh", 0.8)
        .otherwise(lit(1.0))
      Curate.mixtureSample(docs, col("doc_id"), rate)
        .select(col("doc_id"), col("lang"), round(col("sample_u"), 4).as("sample_u"))
        .orderBy(col("doc_id"))
    },

    // pipeline: Gopher quality rules (Rae et al. 2021 App. A1.1). The
    // corpus is single-line lowercase words, so doc_id-keyed plants
    // exercise each rule: %5 required-words boost, %7 numeric words (alpha
    // fraction), %9 ellipsis-terminated lines, %11 bullet lines, %13 '#'
    // symbols; the word-count / mean-length rules vary with the natural
    // per-doc content. Oracle replays bed + rules in DuckDB list SQL.
    // identical bed plants + identical Gopher rules in DuckDB list SQL;
    // whitespace words via regexp split, all ratios in double math
    Gate("q_text_gopher",
      """WITH b1 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || ' of and that have with' ELSE text END AS t FROM documents),
        |b2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN t || ' 10 11 12 13 14 15 16 17 18 19 20 21 22 23 24 25' ELSE t END AS t FROM b1),
        |b3 AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |    THEN t || chr(10) || 'this line trails off...' || chr(10) || 'and this one too…' ELSE t END AS t FROM b2),
        |b4 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |    THEN t || chr(10) || '- bullet one' || chr(10) || '- bullet two' || chr(10) || '• bullet three' ELSE t END AS t FROM b3),
        |bed AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |    THEN t || ' ## ### #' ELSE t END AS t FROM b4),
        |w AS (SELECT doc_id, t,
        |    list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS words,
        |    list_filter(string_split(t, chr(10)), l -> trim(l) <> '') AS ls FROM bed),
        |m AS (SELECT doc_id,
        |    CAST(len(words) AS DOUBLE) AS nw,
        |    CASE WHEN len(words) > 0 THEN
        |      CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words)
        |      ELSE 0.0 END AS mean_len,
        |    CAST(length(t) - length(regexp_replace(t, '#|…', '', 'g')) AS DOUBLE)
        |      + (len(string_split(t, '...')) - 1) AS n_sym,
        |    CASE WHEN len(ls) > 0 THEN
        |      CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[•‣◦⁃∙*-]'))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END AS bullet_frac,
        |    CASE WHEN len(ls) > 0 THEN
        |      CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) / len(ls)
        |      ELSE 0.0 END AS ellipsis_frac,
        |    CASE WHEN len(words) > 0 THEN
        |      CAST(len(list_filter(words, x -> regexp_matches(x, '[\p{L}]'))) AS DOUBLE) / len(words)
        |      ELSE 0.0 END AS alpha_frac,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |      r -> list_contains(list_transform(words, x -> lower(x)), r))) AS req
        |  FROM w),
        |r AS (SELECT doc_id,
        |    (nw >= 50 AND nw <= 100000) AS r_word_count,
        |    (mean_len >= 3.0 AND mean_len <= 10.0) AS r_mean_len,
        |    ((CASE WHEN nw > 0 THEN n_sym / nw ELSE 0.0 END) <= 0.1) AS r_symbol,
        |    (bullet_frac < 0.9 AND ellipsis_frac < 0.3) AS r_lines,
        |    (alpha_frac >= 0.8) AS r_alpha,
        |    (req >= 2) AS r_required
        |  FROM m)
        |SELECT doc_id,
        |  CAST(r_word_count AS BIGINT) AS r_word_count,
        |  CAST(r_mean_len AS BIGINT) AS r_mean_len,
        |  CAST(r_symbol AS BIGINT) AS r_symbol,
        |  CAST(r_lines AS BIGINT) AS r_lines,
        |  CAST(r_alpha AS BIGINT) AS r_alpha,
        |  CAST(r_required AS BIGINT) AS r_required,
        |  CAST(r_word_count AND r_mean_len AND r_symbol AND r_lines AND r_alpha AND r_required AS BIGINT) AS pass
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val p5 = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" of and that have with"))).otherwise(col("text"))
      val p7 = when(col("doc_id") % 7 === 0,
        concat(p5, lit(" 10 11 12 13 14 15 16 17 18 19 20 21 22 23 24 25"))).otherwise(p5)
      val p9 = when(col("doc_id") % 9 === 0,
        concat(p7, lit("\nthis line trails off...\nand this one too…"))).otherwise(p7)
      val p11 = when(col("doc_id") % 11 === 0,
        concat(p9, lit("\n- bullet one\n- bullet two\n• bullet three"))).otherwise(p9)
      val p13 = when(col("doc_id") % 13 === 0,
        concat(p11, lit(" ## ### #"))).otherwise(p11)
      val bed = docs.select(col("doc_id"), p13.as("page"))
      TextAnalysis.gopherFilter(bed, col("page"))
        .select(col("doc_id"),
          col("gopher_word_count").cast("long").as("r_word_count"),
          col("gopher_mean_len").cast("long").as("r_mean_len"),
          col("gopher_symbol").cast("long").as("r_symbol"),
          col("gopher_lines").cast("long").as("r_lines"),
          col("gopher_alpha").cast("long").as("r_alpha"),
          col("gopher_required").cast("long").as("r_required"),
          col("gopher_pass").cast("long").as("pass"))
        .orderBy(col("doc_id"))
    },

    // pipeline: full Gopher repetition rule set (Rae et al. 2021 Table A1).
    // Plants: %3 a 9-word sentence ×3 (dup 5..10-grams), %4 a line ×3
    // (dup lines), %5 a paragraph ×2 (dup paragraphs); top 2/3/4-gram
    // fractions come from the natural corpus words. Oracle replays bed +
    // every fraction in DuckDB list/window SQL.
    // identical bed plants + every Gopher repetition fraction in DuckDB:
    // line/para dup math on lists, n-grams via position range + list slices,
    // top gram per (doc, n) by (count desc, gram asc), dup-gram covered
    // positions unioned before the char sum — mirroring the Spark shapes
    Gate("q_text_gopher_rep",
      """WITH b1 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN text || repeat(' the quick brown fox jumps over the lazy dog', 3)
        |    ELSE text END AS t FROM documents),
        |b2 AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN t || chr(10) || 'dup line alpha' || chr(10) || 'dup line alpha' || chr(10) || 'dup line alpha'
        |    ELSE t END AS t FROM b1),
        |bed AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN t || chr(10) || chr(10) || 'same paragraph text' || chr(10) || chr(10) || 'same paragraph text'
        |    ELSE t END AS t FROM b2),
        |lp AS (SELECT doc_id, t,
        |    list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS toks,
        |    list_filter(string_split(t, chr(10)), l -> trim(l) <> '') AS ls,
        |    list_filter(string_split(t, chr(10) || chr(10)), p -> trim(p) <> '') AS pr FROM bed),
        |rowm AS (SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS DOUBLE) AS twc,
        |    CASE WHEN len(ls) > 0 THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls) ELSE 0.0 END AS dlf,
        |    CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) > 0 THEN
        |      CAST(list_sum(list_transform(ls, l -> length(l))) - list_sum(list_transform(list_distinct(ls), l -> length(l))) AS DOUBLE)
        |        / list_sum(list_transform(ls, l -> length(l))) ELSE 0.0 END AS dlcf,
        |    CASE WHEN len(pr) > 0 THEN CAST(len(pr) - len(list_distinct(pr)) AS DOUBLE) / len(pr) ELSE 0.0 END AS dpf,
        |    CASE WHEN coalesce(list_sum(list_transform(pr, p -> length(p))), 0) > 0 THEN
        |      CAST(list_sum(list_transform(pr, p -> length(p))) - list_sum(list_transform(list_distinct(pr), p -> length(p))) AS DOUBLE)
        |        / list_sum(list_transform(pr, p -> length(p))) ELSE 0.0 END AS dpcf
        |  FROM lp),
        |g AS (SELECT doc_id, i, n, array_to_string(toks[i:i+n-1], ' ') AS gram,
        |    CAST(list_sum(list_transform(toks[i:i+n-1], w -> length(w))) AS BIGINT) AS gchars
        |  FROM lp, unnest(range(1, len(toks)+1)) AS tt(i), unnest([2,3,4,5,6,7,8,9,10]) AS nn(n)
        |  WHERE i + n - 1 <= len(toks)),
        |topc AS (SELECT doc_id, n, gram, count(*) AS cnt, min(gchars) AS gchars
        |  FROM g WHERE n <= 4 GROUP BY 1, 2, 3),
        |topr AS (SELECT doc_id, n, gchars * cnt AS tchars,
        |    row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) AS rn FROM topc),
        |topw AS (SELECT doc_id,
        |    sum(CASE WHEN n = 2 THEN tchars END) AS t2,
        |    sum(CASE WHEN n = 3 THEN tchars END) AS t3,
        |    sum(CASE WHEN n = 4 THEN tchars END) AS t4
        |  FROM topr WHERE rn = 1 GROUP BY 1),
        |dupg AS (SELECT doc_id, n, gram, count(*) AS cnt, list(i) AS ps
        |  FROM g WHERE n >= 5 GROUP BY 1, 2, 3 HAVING count(*) > 1),
        |cov AS (SELECT DISTINCT doc_id, n, i + k AS cp
        |  FROM dupg, unnest(ps) AS oo(i), unnest(range(0, n)) AS kk(k)),
        |wl AS (SELECT doc_id, i AS cp, length(toks[i]) AS w FROM lp, unnest(range(1, len(toks)+1)) AS tt(i)),
        |dch AS (SELECT c.doc_id, c.n, sum(w.w) AS d FROM cov c JOIN wl w USING (doc_id, cp) GROUP BY 1, 2),
        |dupw AS (SELECT doc_id,
        |    sum(CASE WHEN n = 5 THEN d END) AS d5, sum(CASE WHEN n = 6 THEN d END) AS d6,
        |    sum(CASE WHEN n = 7 THEN d END) AS d7, sum(CASE WHEN n = 8 THEN d END) AS d8,
        |    sum(CASE WHEN n = 9 THEN d END) AS d9, sum(CASE WHEN n = 10 THEN d END) AS d10
        |  FROM dch GROUP BY 1),
        |f AS (SELECT r.doc_id, r.dlf, r.dlcf, r.dpf, r.dpcf,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(t.t2 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS t2,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(t.t3 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS t3,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(t.t4 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS t4,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(d.d5 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS d5,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(d.d6 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS d6,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(d.d7 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS d7,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(d.d8 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS d8,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(d.d9 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS d9,
        |    CASE WHEN r.twc > 0 THEN coalesce(CAST(d.d10 AS DOUBLE), 0.0) / r.twc ELSE 0.0 END AS d10
        |  FROM rowm r LEFT JOIN topw t USING (doc_id) LEFT JOIN dupw d USING (doc_id))
        |SELECT doc_id,
        |  round(dlf, 4) AS dup_line_frac, round(dlcf, 4) AS dup_line_char_frac,
        |  round(dpf, 4) AS dup_para_frac, round(dpcf, 4) AS dup_para_char_frac,
        |  round(t2, 4) AS top_2gram_char_frac, round(t3, 4) AS top_3gram_char_frac,
        |  round(t4, 4) AS top_4gram_char_frac,
        |  round(d5, 4) AS dup_5gram_char_frac, round(d6, 4) AS dup_6gram_char_frac,
        |  round(d7, 4) AS dup_7gram_char_frac, round(d8, 4) AS dup_8gram_char_frac,
        |  round(d9, 4) AS dup_9gram_char_frac, round(d10, 4) AS dup_10gram_char_frac,
        |  CAST(dlf <= 0.30 AND dpf <= 0.30 AND dlcf <= 0.20 AND dpcf <= 0.20
        |    AND t2 <= 0.20 AND t3 <= 0.18 AND t4 <= 0.16 AND d5 <= 0.15
        |    AND d6 <= 0.14 AND d7 <= 0.13 AND d8 <= 0.12 AND d9 <= 0.11
        |    AND d10 <= 0.10 AS BIGINT) AS rep_pass
        |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val sent = " the quick brown fox jumps over the lazy dog"
      val p3 = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(sent * 3))).otherwise(col("text"))
      val p4 = when(col("doc_id") % 4 === 0,
        concat(p3, lit("\ndup line alpha\ndup line alpha\ndup line alpha"))).otherwise(p3)
      val p5 = when(col("doc_id") % 5 === 0,
        concat(p4, lit("\n\nsame paragraph text\n\nsame paragraph text"))).otherwise(p4)
      val bed = docs.select(col("doc_id"), p5.as("page"))
      val rep = TextAnalysis.gopherRepetition(bed, col("doc_id"), col("page"))
      val fracCols = Seq("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac", "dup_5gram_char_frac", "dup_6gram_char_frac",
        "dup_7gram_char_frac", "dup_8gram_char_frac", "dup_9gram_char_frac",
        "dup_10gram_char_frac")
      rep.select(col("id").as("doc_id") +:
          fracCols.map(c => round(col(c), 4).as(c)) :+
          col("gopher_rep_pass").cast("long").as("rep_pass"): _*)
        .orderBy(col("doc_id"))
    },

    // pipeline: CCNet-style LM perplexity ranking (Wenzek et al. 2020) —
    // self-trained bigram LM with add-0.4 smoothing; the DuckDB oracle
    // replays the whole model (counts, vocabulary, smoothing, per-doc
    // cross-entropy) in double math
    // full bigram-LM replay: corpus unigram/bigram counts, vocabulary size,
    // add-0.4 smoothing, per-doc mean −log2 P — double math end to end
    Gate("q_text_perplexity",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS cw
        |        FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
        |bgl AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS b
        |        FROM tok, unnest(range(1, len(toks))) AS t(i)
        |        WHERE len(toks) >= 2),
        |bg AS (SELECT b, CAST(count(*) AS DOUBLE) AS cbg FROM bgl GROUP BY b),
        |nll AS (SELECT l.doc_id,
        |          -log2((coalesce(g.cbg, 0.0) + 0.4) / (coalesce(u.cw, 0.0) + 0.4 * v.vocab)) AS h
        |        FROM bgl l LEFT JOIN bg g ON l.b = g.b LEFT JOIN uni u ON l.w1 = u.w CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(h), 4) AS cross_entropy,
        |       round(pow(2.0, avg(h)), 4) AS perplexity
        |FROM nll GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.lmPerplexity(g(s, dir).collection("Document").df,
          col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("cross_entropy"), 4).as("cross_entropy"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy(col("doc_id"))
    },

    // pipeline: CCNet head/middle/tail bucketing — per-language perplexity
    // terciles under the LM (head = cleanest); ntile ties broken by
    // (rounded perplexity, id) so the oracle reproduces terciles exactly
    // the perplexity replay + per-language ntile(3) terciles (ties on
    // rounded perplexity then id, same as the engine window)
    Gate("q_text_ccnet",
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS cw
        |        FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
        |bgl AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS b
        |        FROM tok, unnest(range(1, len(toks))) AS t(i)
        |        WHERE len(toks) >= 2),
        |bg AS (SELECT b, CAST(count(*) AS DOUBLE) AS cbg FROM bgl GROUP BY b),
        |nll AS (SELECT l.doc_id,
        |          -log2((coalesce(g.cbg, 0.0) + 0.4) / (coalesce(u.cw, 0.0) + 0.4 * v.vocab)) AS h
        |        FROM bgl l LEFT JOIN bg g ON l.b = g.b LEFT JOIN uni u ON l.w1 = u.w CROSS JOIN v),
        |ppl AS (SELECT doc_id, pow(2.0, avg(h)) AS perplexity FROM nll GROUP BY doc_id),
        |j AS (SELECT p.doc_id, d.lang, p.perplexity
        |      FROM ppl p JOIN documents d USING (doc_id)),
        |b AS (SELECT doc_id, lang, perplexity, ntile(3) OVER (
        |        PARTITION BY lang ORDER BY round(perplexity, 4) ASC, doc_id ASC) AS t
        |      FROM j)
        |SELECT doc_id, lang, round(perplexity, 4) AS perplexity,
        |       ['head', 'middle', 'tail'][t] AS ppl_bucket
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      TextAnalysis.ccnetBuckets(docs, col("doc_id"), col("text"), col("lang"))
        .select(col("id").as("doc_id"), col("lang"),
          round(col("perplexity"), 4).as("perplexity"), col("ppl_bucket"))
        .orderBy(col("doc_id"))
    },

    // §2.4 BM25 over a text[] property (reference: text arrays are
    // searchable — searchparams/retrieval.go:55-66 — and analyze per element
    // with merged counts, inverted/analyzer.go:174-195). The bed splits each
    // document's text on " stream " into a genuine multi-element array (the
    // delimiter's tokens vanish from the corpus, so scoring the ARRAY is
    // observably different from scoring the original text); served from the
    // postings index built over the array prop, scan path pinned equal in
    // Bm25Spec. The oracle rejoins the elements with a space — exact for
    // word tokenization, where tokens(join(elems)) = concat(tokens(elem)).
    // text[] BM25 replay: word-tokenize the space-rejoined split elements —
    // identical token multiset to the engine's per-element merge
    Gate("q_bm25_textarray", {
      val terms = Seq("spark", "join", "window", "batch")
      val (ctes, _) = SparkEntry.sqlBm25(terms,
        tokExpr = "regexp_extract_all(lower(array_to_string(string_split(text, ' stream '), ' ')), '[a-z0-9]+')")
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      docArrFor(gg)
      gg.get(GetParams("DocArr",
        bm25 = Some(Bm25("spark join window batch", properties = Seq("chunks"))),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.7 `_additional { summary }` (sum-transformers module surface): each
    // requested text property with a non-empty value yields a {property,
    // result} entry over the bounded page; the module client is the
    // deterministic extractive stand-in (first 20 whitespace tokens), which
    // the oracle replays verbatim
    // summary replay: page by source, extractive lead-20-token stand-in
    Gate("q_summary",
      """WITH page AS (SELECT doc_id, text FROM documents
        |  WHERE source = 'src5' ORDER BY doc_id LIMIT 15)
        |SELECT doc_id, 'text' AS sum_prop,
        |  array_to_string(list_slice(regexp_split_to_array(text, '\s+'), 1, 20), ' ') AS summary
        |FROM page ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.eqText("source", "src5")),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("doc_id"),
        summary = Some(SummaryParams(Seq("text"))),
        additional = Set("summary")))
        .select(col("doc_id"),
          element_at(col("_summary"), 1).getField("property").as("sum_prop"),
          element_at(col("_summary"), 1).getField("result").as("summary"))
        .orderBy(col("doc_id"))
    },

    // §2.7 `_additional { answer }` (qna-transformers module surface): the
    // extractive stand-in answers with the 60-char window at the first
    // occurrence of the question's first non-stopword term ("window"), and
    // findProperty re-localizes the span — result/property/startPosition/
    // endPosition/hasAnswer all replayed in SQL; docs without the term carry
    // hasAnswer=false with null fields (answer_result.go:80-84)
    // answer replay: 60-char window at the first 'window' occurrence in the
    // lowercased passage, findProperty via strpos on the newline-flattened
    // lowercased property value (Go 0-based start)
    Gate("q_ask",
      """WITH page AS (SELECT doc_id, text FROM documents
        |  WHERE source = 'src7' ORDER BY doc_id LIMIT 20),
        |a AS (SELECT doc_id, text, strpos(lower(text), 'window') AS p FROM page),
        |ans AS (SELECT doc_id, text,
        |         CASE WHEN p > 0 THEN substr(lower(text), p, 60) END AS res FROM a),
        |loc AS (SELECT doc_id, res,
        |         CASE WHEN res IS NOT NULL THEN
        |           CASE WHEN strpos(lower(replace(text, chr(10), ' ')), res) > 0 THEN 'text' ELSE '' END
        |         END AS ans_prop,
        |         CASE WHEN res IS NOT NULL THEN
        |           CASE WHEN strpos(lower(replace(text, chr(10), ' ')), res) > 0
        |                THEN strpos(lower(replace(text, chr(10), ' ')), res) - 1 ELSE 0 END
        |         END AS sp
        |        FROM ans)
        |SELECT doc_id, res AS ans, ans_prop,
        |  CAST(sp AS BIGINT) AS start_pos,
        |  CAST(CASE WHEN res IS NOT NULL THEN
        |    CASE WHEN ans_prop = '' THEN 0 ELSE sp + length(res) END
        |  END AS BIGINT) AS end_pos,
        |  res IS NOT NULL AS has_answer
        |FROM loc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.eqText("source", "src7")),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        ask = Some(AskParams("in the window", Seq("text"))), // in/the drop → term "window"
        additional = Set("answer")))
        .select(col("doc_id"),
          col("_answer").getField("result").as("ans"),
          col("_answer").getField("property").as("ans_prop"),
          col("_answer").getField("start_position").as("start_pos"),
          col("_answer").getField("end_position").as("end_pos"),
          col("_answer").getField("has_answer").as("has_answer"))
        .orderBy(col("doc_id"))
    },

    // §2.7 `_additional { tokens }` (ner-transformers module surface): the
    // gazetteer stand-in emits one token per dictionary word at its first
    // occurrence; certainty 0.7 cuts the 0.65 entry (cutOffByCertainty) and
    // limit 3 truncates the accumulated list — all replayed in SQL
    // limit=3 truncation is LIVE: four gazetteer entries clear the 0.7
    // certainty cut and 11 of the 25 page docs contain all four words, so
    // an implementation ignoring NerParams.limit emits a 4th token there
    // NER replay: gazetteer entries above the certainty cutoff in dictionary
    // order, first-occurrence strpos positions, list truncated to 3
    Gate("q_ner",
      """WITH page AS (SELECT doc_id, text FROM documents
        |  WHERE source = 'src2' ORDER BY doc_id LIMIT 25),
        |toks AS (SELECT doc_id, list_slice(list_filter([
        |    CASE WHEN strpos(lower(text), 'spark') > 0 THEN
        |      {'entity': 'PRODUCT', 'word': 'spark', 'certainty': 0.95,
        |       'sp': strpos(lower(text), 'spark') - 1} END,
        |    CASE WHEN strpos(lower(text), 'window') > 0 THEN
        |      {'entity': 'CONCEPT', 'word': 'window', 'certainty': 0.85,
        |       'sp': strpos(lower(text), 'window') - 1} END,
        |    CASE WHEN strpos(lower(text), 'merge') > 0 THEN
        |      {'entity': 'OPERATION', 'word': 'merge', 'certainty': 0.8,
        |       'sp': strpos(lower(text), 'merge') - 1} END,
        |    CASE WHEN strpos(lower(text), 'stream') > 0 THEN
        |      {'entity': 'CONCEPT', 'word': 'stream', 'certainty': 0.75,
        |       'sp': strpos(lower(text), 'stream') - 1} END
        |  ], x -> x IS NOT NULL), 1, 3) AS ts FROM page)
        |SELECT doc_id, CAST(i AS BIGINT) AS rank,
        |  ts[i].entity AS entity, ts[i].word AS word,
        |  round(ts[i].certainty, 2) AS certainty,
        |  CAST(ts[i].sp AS BIGINT) AS start_pos,
        |  CAST(ts[i].sp + length(ts[i].word) AS BIGINT) AS end_pos
        |FROM toks, unnest(range(1, len(ts) + 1)) AS u(i)
        |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.eqText("source", "src2")),
        pagination = Some(Pagination(limit = 25)),
        properties = Seq("doc_id"),
        ner = Some(NerParams(Seq("text"), certainty = Some(0.7), limit = Some(3))),
        additional = Set("tokens")))
        .select(col("doc_id"), posexplode(col("_tokens")).as(Seq("i", "t")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("rank"),
          col("t.entity").as("entity"), col("t.word").as("word"),
          round(col("t.certainty"), 2).as("certainty"),
          col("t.start_position").as("start_pos"), col("t.end_position").as("end_pos"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // §2.7 `_additional { spellCheck }` (text-spellcheck module surface):
    // the ask question's misspelled tokens are corrected by the registered
    // spellchecker module; the same {originalText, didYouMean, location,
    // changes} entry attaches to every page row
    // spellCheck replay: the module output is query-scoped, so the oracle
    // carries the expected corrections literally (strem→stream,
    // windoww→window from the fixture dictionary) over the same page
    Gate("q_spellcheck",
      """SELECT doc_id, 'strem the windoww' AS original_text,
        |  'stream the window' AS did_you_mean,
        |  'ask.question' AS location, CAST(2 AS BIGINT) AS n_changes
        |FROM documents WHERE source = 'src1' ORDER BY doc_id LIMIT 5""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.eqText("source", "src1")),
        pagination = Some(Pagination(limit = 5)),
        properties = Seq("doc_id"),
        ask = Some(AskParams("strem the windoww", Seq("text"))),
        additional = Set("spellCheck")))
        .select(col("doc_id"),
          element_at(col("_spellCheck"), 1).getField("original_text").as("original_text"),
          element_at(col("_spellCheck"), 1).getField("did_you_mean").as("did_you_mean"),
          element_at(col("_spellCheck"), 1).getField("location").as("location"),
          size(element_at(col("_spellCheck"), 1).getField("changes")).cast("long").as("n_changes"))
        .orderBy(col("doc_id"))
    },

    // §2.6 aggregation over a text[] property: count counts ELEMENTS and
    // topOccurrences ranks the flattened element multiset (the reference's
    // *Array analyzers feed every element through the per-value path); bed =
    // 2-element (lang, source) tag arrays so element ranks are meaningful
    // text[] aggregation replay: element multiset = lang ∪ source values
    Gate("q_agg_textarray",
      """WITH el AS (
        |  SELECT lang AS v FROM documents UNION ALL SELECT source FROM documents),
        |tot AS (SELECT (SELECT count(*) FROM documents) AS meta_count,
        |               count(*) AS n_elements FROM el),
        |ranked AS (
        |  SELECT v AS value, count(*) AS occurs,
        |         row_number() OVER (ORDER BY count(*) DESC, v ASC) AS rank
        |  FROM el GROUP BY v)
        |SELECT t.meta_count, t.n_elements, r.rank, r.value, CAST(r.occurs AS BIGINT) AS occurs
        |FROM tot t CROSS JOIN ranked r WHERE r.rank <= 4 ORDER BY r.rank""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      if (!gg.hasCollection("DocTags")) {
        gg.register(CollectionSchema("DocTags", "doc_id",
          Seq(Property("tags", PropType.Arr(PropType.Text), Tokenization.Field))),
          gg.collection("Document").df.select(col("doc_id"),
            array(col("lang"), col("source")).as("tags")))
      }
      val agg = gg.aggregate(AggregateParams("DocTags",
        properties = Map("tags" -> Seq(Aggregator.Count, Aggregator.TopOccurrences(4))),
        includeMetaCount = true))
      agg.select(col("meta_count").cast("long").as("meta_count"),
          col("tags_count").cast("long").as("n_elements"),
          posexplode(col("tags_topOccurrences")).as(Seq("i", "t")))
        .select(col("meta_count"), col("n_elements"),
          (col("i") + 1).cast("long").as("rank"),
          col("t.value").as("value"), col("t.occurs").cast("long").as("occurs"))
        .orderBy(col("rank"))
    },

    // §2.10 streaming inverted-index maintenance END-TO-END on the driver
    // gate: a store seeds with docs ≥ 120, the rest arrive as file-stream
    // batches through IndexMaintenance.startPostings (durable upsert +
    // postings DELTA per batch — the async-index-queue flow, never a
    // rebuild), and the final keyword query index-serves the complete
    // corpus — so the oracle is the plain full-corpus BM25 replay (the same
    // CTEs as q_bm25)
    // stream-index replay: after the drain the served corpus IS the full
    // documents table, so the oracle is the standard BM25 replay
    Gate("q_stream_index", {
      val terms = Seq("spark", "join", "stream", "window")
      val (ctes, _) = SparkEntry.sqlBm25(terms)
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      // the seed+stream+delta flow is the offline ingestion job — run once
      // per dataset (the bench's prebuilt-artifact rule: per-query numbers
      // measure index SERVING; Verify still executes the full flow each run)
      val eng = cached(s, s"streamIndex:$dir") {
        import java.nio.file.Files
        val docs = g(s, dir).collection("Document").df.select(col("doc_id"), col("text"))
        val storeDir = Gate.tempDir("qsi-store")
        val inDir = Gate.tempDir("qsi-in")
        val ckpt = Gate.tempDir("qsi-ckpt")
        val schema = CollectionSchema("DocStream", "doc_id", Seq(
          Property("text", PropType.Text, Tokenization.Word)))
        val st = new graft.sources.CollectionStore(s, storeDir, schema)
        st.init(docs.filter(col("doc_id") >= 120))
        val e = new Graft(s)
        e.register(st.collection)
        e.registerPostings("DocStream", Seq("text"))
        // force the initial build so the stream exercises the DELTA path
        e.get(GetParams("DocStream",
          bm25 = Some(Bm25("spark", properties = Seq("text"))),
          pagination = Some(Pagination(limit = 1)),
          properties = Seq("doc_id"))).count()
        docs.filter(col("doc_id") < 60).write.mode("append").parquet(inDir)
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 120)
          .write.mode("append").parquet(inDir)
        // a stream plans its micro-batches at spark.sql.shuffle.partitions (a
        // stateful one fixes the count in its checkpoint at first start and
        // pays one state-store task per partition per batch): size it to the
        // data on a clone, so the session's batch shuffle width stays as is
        val ss = SessionScope.cloned(s, "spark.sql.shuffle.partitions" -> "4")
        val q = graft.streaming.IndexMaintenance.startPostings(
          ss.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(inDir),
          st, e, "DocStream", ckpt)
        require(q.awaitTermination(300000), "q_stream_index: stream did not drain")
        e
      }
      eng.get(GetParams("DocStream",
        bm25 = Some(Bm25("spark join stream window", properties = Seq("text"))),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"), additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.1 clustered store layout + vacuum on the driver gate: init writes
    // the range-clustered id-sorted layout, an upsert supersedes it with a
    // new version, vacuum(1) drops the old directory, and the engine query
    // reads the surviving version — mutation + retention replayed in SQL
    // clustered-store replay: the surviving version = base corpus with the
    // src3 upsert applied; the filter selects exactly the mutated rows
    Gate("q_store_clustered",
      """SELECT doc_id, lang, CAST(n_chars + 1000000 AS BIGINT) AS n_chars
        |FROM documents WHERE source = 'src3' ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import java.nio.file.Files
      val docs = g(s, dir).collection("Document").df
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val root = Gate.tempDir("clustered")
      val st = new graft.sources.CollectionStore(s, root,
        CollectionSchema("DocClustered", "doc_id", Seq(
          Property("text", PropType.Text),
          Property("lang", PropType.Text, Tokenization.Field),
          Property("source", PropType.Text, Tokenization.Field),
          Property("n_chars", PropType.Int))))
      st.init(docs)
      st.upsert(docs.filter(col("source") === "src3")
        .withColumn("n_chars", col("n_chars") + 1000000L))
      st.vacuum(keep = 1)
      new Graft(s).register(st.collection)
        .get(GetParams("DocClustered",
          where = Some(Where.gtInt("n_chars", 999999L)),
          properties = Seq("doc_id", "lang", "n_chars")))
        .orderBy(col("doc_id"))
    },

    // §1.2 phoneNumber normalization (reference write-path parse,
    // validation/phone_numbers.go): international input self-parses by
    // longest calling-code prefix, national input resolves through the
    // value's defaultCountry, short/unresolvable input comes back
    // valid=false — the reference struct shape over a deterministic bed,
    // replayed case-wise in the oracle
    // phone replay: the three bed shapes resolve case-wise (intl DE →
    // cc 49 after prefix strip; national US → cc 1 via defaultCountry;
    // '12' → invalid)
    Gate("q_phone",
      """WITH e AS (SELECT event_id, user_id FROM events WHERE event_id < 200),
        |p AS (SELECT event_id,
        |  CASE WHEN event_id = 7 THEN '123'
        |       WHEN event_id = 8 THEN '1234'
        |       WHEN event_id = 9 THEN '12345678901234'
        |       WHEN event_id = 10 THEN '123456789012345'
        |       WHEN event_id % 3 = 0 THEN '30' || lpad(user_id::VARCHAR, 6, '0')
        |       WHEN event_id % 3 = 1 THEN '415555' || lpad((user_id % 10000)::VARCHAR, 4, '0')
        |  END AS nat,
        |  CASE WHEN event_id IN (7, 8, 9, 10) THEN 49
        |       WHEN event_id % 3 = 0 THEN 49 WHEN event_id % 3 = 1 THEN 1 END AS cc
        |  FROM e),
        |v AS (SELECT *, cc IS NOT NULL AND len(nat) BETWEEN 4 AND 14 AS valid FROM p)
        |SELECT event_id, CAST(cc AS BIGINT) AS country_code,
        |  CASE WHEN valid THEN CAST(nat AS BIGINT) END AS national,
        |  CASE WHEN valid THEN '+' || cc || ' ' || nat END AS intl,
        |  valid
        |FROM v ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = Fixtures.events(s, dir).select(col("event_id"), col("user_id"))
        .filter(col("event_id") < 200)
      // events 7-10 pin the 4..14 national-length validity band on both
      // edges (3/4 and 14/15 digits). The longest-prefix calling-code rule
      // itself is NOT plantable: E.164 codes form a prefix-free set (so
      // does PhoneNumbers.CountryCodes), so longest-vs-first-match is
      // output-identical for every possible input by design.
      val input = when(col("event_id") === 7, lit("+49 123"))
        .when(col("event_id") === 8, lit("+49 1234"))
        .when(col("event_id") === 9, lit("+49 12345678901234"))
        .when(col("event_id") === 10, lit("+49 123456789012345"))
        .when(col("event_id") % 3 === 0,
          concat(lit("+49 30 "), lpad(col("user_id").cast("string"), 6, "0")))
        .when(col("event_id") % 3 === 1,
          concat(lit("(415) 555-"), lpad((col("user_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("12"))
      val country = when(col("event_id") % 3 === 1, lit("us"))
        .otherwise(lit(null).cast("string"))
      ev.select(col("event_id"),
          graft.sources.PhoneNumbers.normalize(input, country).as("p"))
        .select(col("event_id"),
          col("p.countryCode").as("country_code"),
          col("p.national").as("national"),
          col("p.internationalFormatted").as("intl"),
          col("p.valid").as("valid"))
        .orderBy(col("event_id"))
    },

    // §2.1/§2.3 text2vec corpus assembly (the reference's canonical object →
    // embedding-input rule, object_texts.go): camelCase-split class name +
    // properties in name order, per-config skip / property-name prefix /
    // lowercasing — the exact string the vectorizer module embeds, replayed
    // literally in SQL
    // corpus replay: class name split+lowercased, props in name order
    // (lang with its name prefix, source skipped, text plain), single-space
    // joined
    Gate("q_vectorizer_corpus",
      """SELECT doc_id,
        |  'training document' || ' lang ' || lower(lang) || ' ' || lower(text) AS corpus
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df.filter(col("doc_id") < 100)
      docs.select(col("doc_id"),
        graft.sources.VectorizerCorpus.column("TrainingDocument",
          Seq("text" -> col("text"), "lang" -> col("lang"), "source" -> col("source")),
          cfg = graft.sources.VectorizerCorpus.Config(
            vectorizeClassName = true,
            vectorizePropertyName = Set("lang"),
            skip = Set("source"))).as("corpus"))
        .orderBy(col("doc_id"))
    },

    // §2.7 Selection{MMR} terminal diversification (reference:
    // searchparams.Selection + selection/mmr.go): balance=1 is the pure-
    // relevance degenerate — the diversified page equals the top-limit by
    // distance, which the oracle pins exactly (the diversity regime's greedy
    // trade-off is pinned in EngineSpec, where SQL can't express it)
    // balance 0.5 (not 1.0): the REAL diversity regime — the oracle unrolls
    // all 8 greedy −0.5·queryDist + 0.5·minDistToSelected steps over the
    // page's pairwise cosine matrix (the q_group_legacy pattern), so the
    // entire MMR selection loop is hash-certified; q_mmr stays the
    // pure-relevance λ=1 invariant twin
    // selection-MMR replay (balance=1): top-8 by cosine distance with rank
    // full MMR replay: 8 unrolled greedy steps (Mmr.diversify semantics —
    // first pick = lowest query dist; then argmax of −0.5·dist + 0.5·min
    // pair-distance-to-selected, ties to the earlier page position; every
    // step CTE MATERIALIZED against DuckDB's inlining blowup)
    Gate("q_mmr_selection", {
      val steps = new StringBuilder
      steps.append(
        """s1 AS MATERIALIZED (SELECT vec_id, pidx FROM page ORDER BY dist ASC, pidx ASC LIMIT 1),
          |m1 AS MATERIALIZED (
          |  SELECT p.vec_id, p.pidx, p.dist, pd.pdist AS mind
          |  FROM page p JOIN pd ON pd.ia = (SELECT vec_id FROM s1) AND pd.ib = p.vec_id
          |  WHERE p.vec_id <> (SELECT vec_id FROM s1)),
          |""".stripMargin)
      for (k <- 2 to 8) {
        steps.append(
          s"""s$k AS MATERIALIZED (SELECT vec_id, pidx FROM m${k - 1}
             |  ORDER BY (-0.5 * dist + 0.5 * mind) DESC, pidx ASC LIMIT 1),
             |""".stripMargin)
        if (k < 8) steps.append(
          s"""m$k AS MATERIALIZED (
             |  SELECT m.vec_id, m.pidx, m.dist, least(m.mind, pd.pdist) AS mind
             |  FROM m${k - 1} m JOIN pd ON pd.ia = (SELECT vec_id FROM s$k) AND pd.ib = m.vec_id
             |  WHERE m.vec_id <> (SELECT vec_id FROM s$k)),
             |""".stripMargin)
      }
      val sel = (2 to 8).map(k => s"UNION ALL SELECT vec_id, $k FROM s$k").mkString(" ")
      s"""WITH ${sqlQv(7)},
         |d AS (SELECT e.vec_id, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q),
         |page AS (SELECT vec_id, dist,
         |           row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS pidx
         |         FROM d ORDER BY dist ASC, vec_id ASC LIMIT 40),
         |pv AS (SELECT p.vec_id, e.embedding FROM page p JOIN embeddings e USING (vec_id)),
         |pd AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         ${sqlCosine("a.embedding", "b.embedding")} AS pdist
         |  FROM pv a JOIN pv b ON a.vec_id <> b.vec_id),
         |${steps.toString}sel AS (SELECT vec_id, 1 AS rank FROM s1 $sel)
         |SELECT p.vec_id, CAST(sel.rank AS BIGINT) AS mmr_rank, round(p.dist, 4) AS dist
         |FROM sel JOIN page p USING (vec_id) ORDER BY mmr_rank""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("Embedding",
        nearObject = Some(NearObject(7L, metric = Metric.Cosine)),
        pagination = Some(Pagination(limit = 40)),
        selectionMmr = Some(SelectionMmrParams(limit = 8, balance = 0.5)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), col("_mmr_rank").cast("long").as("mmr_rank"),
          round(col("_distance"), 4).as("dist"))
        .orderBy(col("mmr_rank"))
    },

    // §2.3 schema-configured distance: in the reference the metric is CLASS
    // config (vectorIndexConfig.distance), never a query argument — a
    // collection registered with distance=l2-squared serves a
    // Metric.Default nearObject under L2, which the L2 oracle pins (cosine
    // would rank differently on these unnormalized vectors)
    // schema-metric replay: identical to the explicit-L2 nearObject oracle —
    // proving Default resolved to the class-configured l2-squared
    Gate("q_near_schema_metric",
      s"""WITH ${sqlQv(7)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      if (!gg.hasCollection("EmbL2")) {
        gg.register(CollectionSchema("EmbL2", "vec_id",
          Seq(Property("label", PropType.Int)),
          vectors = Map("default" -> "embedding"), defaultVector = Some("default"),
          vectorMetrics = Map("default" -> Metric.L2Squared)),
          gg.collection("Embedding").df)
      }
      gg.get(GetParams("EmbL2",
        nearObject = Some(NearObject(7L, metric = Metric.Default)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // pipeline: edit-distance similarity join (typo/OCR-level near-dups the
    // token-level dedups cannot see) — q-gram bucket-then-verify with exact
    // Levenshtein verification; the bed plants one-substitution twins, and
    // the oracle is ALL-PAIRS Levenshtein, independently proving the q-gram
    // filter admits every qualifying pair
    // edit-join replay: brute-force all-pairs Levenshtein over the same bed
    // (oracle-side filter-free, so any pair the engine's q-gram filter
    // dropped would surface as a mismatch)
    Gate("q_dedup_edit",
      """WITH bed AS (
        |  SELECT doc_id, substr(text, 1, 32) AS sx FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(substr(text, 1, 32), 1, 10) || 'Z' || substr(substr(text, 1, 32), 12, 21)
        |  FROM documents WHERE doc_id % 25 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    substr(substr(text, 1, 32), 1, 4) || 'Y' || substr(substr(text, 1, 32), 6, 5)
        |    || 'Z' || substr(substr(text, 1, 32), 12, 21)
        |  FROM documents WHERE doc_id = 50
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    substr(substr(text, 1, 32), 1, 4) || 'Y' || substr(substr(text, 1, 32), 6, 5)
        |    || 'Z' || substr(substr(text, 1, 32), 12, 5) || 'X'
        |    || substr(substr(text, 1, 32), 18, 15)
        |  FROM documents WHERE doc_id = 75)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.sx, b.sx) AS BIGINT) AS edit_distance
        |FROM bed a JOIN bed b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.sx, b.sx) <= 2
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
        .select(col("doc_id"), substring(col("text"), 1, 32).as("sx"))
      val bed = docs.unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("sx"), 1, 10), lit("Z"),
            substring(col("sx"), 12, 21)).as("sx")))
        // boundary twins: the natural+1-sub bed's pair distances are all in
        // {0,1}, leaving both sides of maxEdits=2 dead — a filter too tight
        // to admit 2-edit candidates, or a <=3 acceptance, still matched.
        // 2000050 = doc 50 with substitutions at 5 and 11 (distance exactly
        // 2 — must emit); 3000075 = doc 75 with substitutions at 5, 11, 17
        // (distance 3 from its base — must NOT pair with it, while sitting
        // at distance 2 from 1000075, which shares the Z at 11)
        .unionByName(docs.filter(col("doc_id") === 50L)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(substring(col("sx"), 1, 4), lit("Y"), substring(col("sx"), 6, 5),
              lit("Z"), substring(col("sx"), 12, 21)).as("sx")))
        .unionByName(docs.filter(col("doc_id") === 75L)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(substring(col("sx"), 1, 4), lit("Y"), substring(col("sx"), 6, 5),
              lit("Z"), substring(col("sx"), 12, 5), lit("X"),
              substring(col("sx"), 18, 15)).as("sx")))
      Dedup.editDistanceDuplicates(bed, col("doc_id"), col("sx"), maxEdits = 2, q = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // pipeline: span-level benchmark contamination (exact-substring
    // decontamination — Lee et al. 2022; GPT-3's 13-gram rule at n=8):
    // per doc, the fraction of tokens covered by an 8-gram appearing in the
    // benchmark slice (doc_id % 97 = 5, the same bench set q_pipeline_curate
    // uses); bench members self-cover ≈ fully, unrelated docs 0
    // span-contamination replay: corpus grams joined on the STRING gram
    // against the benchmark slice's gram set (Spark joins the xxhash64),
    // same n + Σ min(n, gap) interval union as q_dedup_substring
    Gate("q_decontaminate_span",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |base AS (SELECT doc_id, t, len(t) AS ntok FROM toks),
        |grams AS (
        |  SELECT doc_id, ntok, i - 1 AS pos,
        |         array_to_string(list_slice(t, i, i + 7), ' ') AS g
        |  FROM base, UNNEST(range(1, ntok - 8 + 2)) AS u(i)
        |  WHERE ntok >= 8),
        |bgrams AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, i, i + 7), ' ') AS g
        |  FROM base, UNNEST(range(1, ntok - 8 + 2)) AS u(i)
        |  WHERE ntok >= 8 AND doc_id % 97 = 5),
        |agg AS (
        |  SELECT doc_id, ntok, count(*) AS cn, list_sort(list(pos)) AS ps
        |  FROM grams WHERE g IN (SELECT g FROM bgrams)
        |  GROUP BY doc_id, ntok)
        |SELECT b.doc_id,
        |  CAST(coalesce(a.cn, 0) AS BIGINT) AS contaminated_ngrams,
        |  round(CASE WHEN b.ntok > 0 THEN
        |    coalesce(8 + list_sum(list_transform(range(2, len(a.ps) + 1),
        |        i -> least(a.ps[i] - a.ps[i-1], 8))), COALESCE(CASE WHEN a.cn IS NOT NULL THEN 8 END, 0))
        |      / CAST(b.ntok AS DOUBLE) ELSE 0.0 END, 4) AS contaminated_fraction
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val bench = docs.filter(col("doc_id") % 97 === 5).select(col("text"))
      Dedup.substringContamination(docs, col("doc_id"), col("text"), bench, col("text"))
        .select(col("__id").as("doc_id"), col("contaminated_ngrams"),
          round(col("contaminated_fraction"), 4).as("contaminated_fraction"))
        .orderBy(col("doc_id"))
    },

    // §2.1 write-path property validation (reference: usecases/objects/
    // validation/properties_validation.go — objects are value-checked
    // against the schema before the write): a planted bed with bad RFC3339
    // dates, bad uuids, and out-of-range geo coordinates yields the exact
    // per-row (id, property, error) report, fully replayed in SQL
    // validation replay: same planted bed, same checks as UNION ALL arms
    Gate("q_validate",
      """WITH e AS (SELECT event_id, user_id FROM events WHERE event_id < 120),
        |bed AS (SELECT event_id,
        |  CASE WHEN event_id % 4 = 0 THEN '2024-01-02T03:04:05Z' ELSE '02.01.2024' END AS published,
        |  CASE WHEN event_id % 3 = 0 THEN 'c56a4180-65aa-42ec-a945-5fd21dec0538' ELSE 'not-a-uuid' END AS ext_id,
        |  CAST(user_id % 200 - 100 AS DOUBLE) AS lat,
        |  CAST(user_id % 400 - 200 AS DOUBLE) AS lon
        |  FROM e),
        |v AS (
        |  SELECT event_id AS id, 'published' AS property,
        |    'requires a string with a RFC3339 formatted date, but the given value is ''' || published || '''' AS error
        |  FROM bed WHERE event_id % 4 <> 0
        |  UNION ALL
        |  SELECT event_id, 'ext_id',
        |    'requires a string of UUID format, but the given value is ''' || ext_id || ''''
        |  FROM bed WHERE event_id % 3 <> 0
        |  UNION ALL
        |  SELECT event_id, 'place',
        |    'invalid latitude: must be between -90 and 90, got ' || lat::VARCHAR
        |  FROM bed WHERE lat < -90 OR lat > 90
        |  UNION ALL
        |  SELECT event_id, 'place',
        |    'invalid longitude: must be between -180 and 180, got ' || lon::VARCHAR
        |  FROM bed WHERE lon < -180 OR lon > 180
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(9000001 AS BIGINT), 'published',
        |     'requires a string with a RFC3339 formatted date, but the given value is ''2024-13-01T00:00:00Z'''),
        |    (9000001, 'ext_id',
        |     'requires a string of UUID format, but the given value is ''c56a4180-65aa-42ec-a945-5fd21dec053'''),
        |    (9000001, 'place',
        |     'invalid latitude: must be between -90 and 90, got 95.0'),
        |    (9000001, 'place',
        |     'invalid longitude: must be between -180 and 180, got 200.0'),
        |    (9000002, 'published',
        |     'requires a string with a RFC3339 formatted date, but the given value is ''2024-01-02T03:04:05Z' || chr(10) || ''''),
        |    (9000004, 'published',
        |     'requires a string with a RFC3339 formatted date, but the given value is ''2024-01-02T24:00:00Z'''),
        |    (9000004, 'place',
        |     'invalid latitude: must be between -90 and 90, got -90.5'),
        |    (9000004, 'place',
        |     'invalid longitude: must be between -180 and 180, got 180.5')
        |  ) AS pv(id, property, error))
        |SELECT id, property, error FROM v ORDER BY id, property, error""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = Fixtures.events(s, dir).filter(col("event_id") < 120)
      // Near-miss plants — the natural bed's values are all machine-generated
      // well-formed or grossly malformed, leaving the range bounds and the
      // \\A..\\z anchors dead: bad-month / hour-24 dates, a trailing newline
      // (Java $ would accept it, the reference's parse rejects), a 35-char
      // uuid next to the braced/urn/raw-32 ACCEPTED forms, lat/lon just past
      // and exactly on the +-90/+-180 bounds.
      val planted = Seq(
        (9000001L, "2024-13-01T00:00:00Z",
          "c56a4180-65aa-42ec-a945-5fd21dec053", 95.0, 200.0),
        (9000002L, "2024-01-02T03:04:05Z\n",
          "C56A418065AA42ECA9455FD21DEC0538", -90.0, -180.0),
        (9000003L, "2024-01-02T03:04:05.5+05:30",
          "{c56a4180-65aa-42ec-a945-5fd21dec0538}", 90.0, 180.0),
        (9000004L, "2024-01-02T24:00:00Z",
          "urn:uuid:c56a4180-65aa-42ec-a945-5fd21dec0538", -90.5, 180.5))
        .toDF("event_id", "published", "ext_id", "lat", "lon")
        .select(col("event_id"), col("published"), col("ext_id"),
          struct(col("lat"), col("lon")).as("place"))
      val bed = ev.select(col("event_id"),
        when(col("event_id") % 4 === 0, lit("2024-01-02T03:04:05Z"))
          .otherwise(lit("02.01.2024")).as("published"),
        when(col("event_id") % 3 === 0, lit("c56a4180-65aa-42ec-a945-5fd21dec0538"))
          .otherwise(lit("not-a-uuid")).as("ext_id"),
        struct((col("user_id") % 200 - 100).cast("double").as("lat"),
          (col("user_id") % 400 - 200).cast("double").as("lon")).as("place"))
        .unionByName(planted)
      graft.sources.Validation.report(bed,
        CollectionSchema("EventDoc", "event_id", Seq(
          Property("published", PropType.Date),
          Property("ext_id", PropType.Uuid),
          Property("place", PropType.Geo))))
        .orderBy(col("id"), col("property"), col("error"))
    },

    // §2.1 collection aliases (reference: usecases/schema/alias.go +
    // cluster/schema/schema.go:739-775): a Get through the alias is
    // byte-identical to a Get through the class — resolution happens at the
    // collection-registry entry every query path shares
    // alias replay: the alias is pure name indirection — the oracle is the
    // direct-class query
    Gate("q_alias",
      """SELECT doc_id, lang FROM documents WHERE source = 'src9'
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      if (gg.listAliases().forall(_._1 != "DocAlias"))
        gg.createAlias("DocAlias", "Document")
      gg.get(GetParams("DocAlias",
        where = Some(Where.eqText("source", "src9")),
        properties = Seq("doc_id", "lang")))
        .orderBy(col("doc_id"))
    },

    // §2.1 alias lifecycle (reference: usecases/schema/alias.go — create
    // collision/validation arms, replaceAlias re-pointing, filtered list,
    // delete + not-found): a scripted walk whose data-plane pages prove the
    // alias actually re-resolves after replaceAlias — every error text is
    // the reference's, every page count is live, so a registry that keys by
    // alias (phantom state) or skips a validation arm diverges
    // scripted lifecycle: literal error texts; the two live page counts are
    // data-derived so the repoint is proven at the data plane
    Gate("q_alias_lifecycle",
      """WITH a AS (SELECT count(*) AS n FROM documents WHERE doc_id < 100),
        |b AS (SELECT count(*) AS n FROM orders WHERE o_orderkey < 500)
        |SELECT step, result FROM (VALUES
        |  ('01_create_ok', 'ok'),
        |  ('02_create_dup_alias', 'create alias: ScriptAlias, alias already exists'),
        |  ('03_create_unknown_class', 'create alias: Other, class not found, NoSuchClass'),
        |  ('04_create_class_collision', 'create alias: class AliasB already exists'),
        |  ('05_create_bad_syntax', '''Bad-Name'' is not a valid class name'),
        |  ('06_page_initial', (SELECT CAST(n AS VARCHAR) FROM a)),
        |  ('07_update_unknown_alias', 'replace alias: alias Ghost does not exist'),
        |  ('08_update_unknown_class', 'replace alias: class NoSuch does not exist'),
        |  ('09_update_ok', 'ok'),
        |  ('10_page_repointed', (SELECT CAST(n AS VARCHAR) FROM b)),
        |  ('11_list_for_b', 'ScriptAlias->AliasB'),
        |  ('12_delete_ok', 'ok'),
        |  ('13_delete_missing', 'alias ScriptAlias not found'),
        |  ('14_resolve_after_delete', 'unknown collection ScriptAlias')
        |) AS t(step, result) ORDER BY step""".stripMargin) { (s, dir) =>
      import s.implicits._
      val gg = g(s, dir)
      val g2 = new Graft(s)
      g2.register(CollectionSchema("AliasA", "doc_id",
          Seq(Property("n_chars", PropType.Int))),
        gg.collection("Document").df.select(col("doc_id"), col("n_chars"))
          .filter(col("doc_id") < 100))
      g2.register(CollectionSchema("AliasB", "o_orderkey",
          Seq(Property("o_totalprice", PropType.Number))),
        gg.collection("Order").df.select(col("o_orderkey"), col("o_totalprice"))
          .filter(col("o_orderkey") < 500))
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def res(body: => Unit): String = okOr(body)
      def page(name: String): String =
        g2.get(GetParams(name)).count().toString
      out += "01_create_ok" -> res(g2.createAlias("ScriptAlias", "AliasA"))
      out += "02_create_dup_alias" -> res(g2.createAlias("scriptAlias", "AliasB"))
      out += "03_create_unknown_class" -> res(g2.createAlias("Other", "NoSuchClass"))
      out += "04_create_class_collision" -> res(g2.createAlias("AliasB", "AliasA"))
      out += "05_create_bad_syntax" -> res(g2.createAlias("Bad-Name", "AliasA"))
      out += "06_page_initial" -> page("ScriptAlias")
      out += "07_update_unknown_alias" -> res(g2.updateAlias("Ghost", "AliasA"))
      out += "08_update_unknown_class" -> res(g2.updateAlias("ScriptAlias", "NoSuch"))
      out += "09_update_ok" -> res(g2.updateAlias("ScriptAlias", "AliasB"))
      out += "10_page_repointed" -> page("ScriptAlias")
      out += "11_list_for_b" -> g2.listAliases(Some("AliasB"))
        .map { case (a, c) => s"$a->$c" }.sorted.mkString(",")
      out += "12_delete_ok" -> res(g2.deleteAlias("ScriptAlias"))
      out += "13_delete_missing" -> res(g2.deleteAlias("ScriptAlias"))
      out += "14_resolve_after_delete" -> res(page("ScriptAlias"))
      out.toSeq.toDF("step", "result").orderBy(col("step"))
    },

    // §2.2 filters over a text[] property: tokenized Equal and ContainsAny
    // consult the MERGED per-element token multiset, Like matches any
    // element's whole value (reference: the inverted index for a text array
    // carries every element's tokens, analyzer.go:174-195). The oracle
    // replays token membership over the space-rejoined elements and Like
    // over the split elements.
    // text[] filter replay: token membership over the space-rejoined split
    // elements (≡ the engine's merged element tokens), Like as per-element
    // containment
    Gate("q_filter_textarray",
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(array_to_string(string_split(text, ' stream '), ' ')), '[a-z0-9]+') AS toks,
        |    string_split(text, ' stream ') AS elems
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE list_contains(toks, 'spark')
        |  AND (list_contains(toks, 'window') OR list_contains(toks, 'batch')
        |       OR len(list_filter(elems, e -> contains(e, 'join'))) > 0)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      docArrFor(gg)
      gg.get(GetParams("DocArr",
        where = Some(Where.and(
          Where.eqText("chunks", "spark"),
          Where.or(
            Where.containsAnyText("chunks", Seq("window", "batch")),
            Where.like("chunks", "*join*")))),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // pipeline: DSIR importance weights (Xie et al. 2023) — hashed
    // unigram+bigram bag-of-words models over 64 buckets, target = the
    // English slice, raw = the whole corpus; per-doc log importance weight
    // under add-1 smoothing. md5 bucketing makes the full model — counts,
    // smoothing, per-doc weight sum — replayable in the DuckDB oracle.
    // DSIR model replay: same tokenization, same md5-mod-64 bucketing, same
    // add-1 smoothed bucket log-probs over BOTH corpora (target = lang='en',
    // raw = all), same per-doc Σ cnt·log_ratio (ln, not DuckDB's base-10 log)
    Gate("q_dsir_weights",
      """WITH tok AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |gr AS (SELECT doc_id, lang, unnest(list_concat(t,
        |         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
        |       FROM tok),
        |dc AS (SELECT doc_id, lang,
        |         ('0x' || substr(md5(g), 1, 8))::UBIGINT % 64 AS bucket, count(*) AS cnt
        |       FROM gr GROUP BY 1, 2, 3),
        |pt AS (SELECT bucket, sum(cnt) AS c FROM dc WHERE lang = 'en' GROUP BY 1),
        |qt AS (SELECT bucket, sum(cnt) AS c FROM dc GROUP BY 1),
        |model AS (
        |  SELECT r.range AS bucket,
        |    ln((coalesce(p.c, 0) + 1.0) / ((SELECT sum(c) FROM pt) + 64.0))
        |    - ln((coalesce(q.c, 0) + 1.0) / ((SELECT sum(c) FROM qt) + 64.0)) AS log_ratio
        |  FROM range(0, 64) r
        |  LEFT JOIN pt p ON p.bucket = r.range
        |  LEFT JOIN qt q ON q.bucket = r.range),
        |w AS (SELECT dc.doc_id, sum(dc.cnt * m.log_ratio) AS logw
        |      FROM dc JOIN model m USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, d.lang, round(coalesce(w.logw, 0), 4) AS dsir_logw
        |FROM documents d LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      dsirWeightsFor(g(s, dir), dir)
        .select(col("doc_id"), col("lang"), round(col("dsir_logw"), 4).as("dsir_logw"))
        .orderBy(col("doc_id"))
    },

    // pipeline: DSIR Gumbel top-k resampling — sample 60 docs without
    // replacement ∝ softmax(log importance weight) via deterministic
    // md5-derived Gumbel noise (same uniform construction as mixtureSample,
    // so the oracle reproduces the exact selected set and scores)
    // same model, then Gumbel top-k: score = logw − ln(−ln(u)) with the
    // md5-derived per-doc uniform, top 60 by (score desc, id asc)
    Gate("q_dsir_select",
      """WITH tok AS (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |gr AS (SELECT doc_id, lang, unnest(list_concat(t,
        |         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
        |       FROM tok),
        |dc AS (SELECT doc_id, lang,
        |         ('0x' || substr(md5(g), 1, 8))::UBIGINT % 64 AS bucket, count(*) AS cnt
        |       FROM gr GROUP BY 1, 2, 3),
        |pt AS (SELECT bucket, sum(cnt) AS c FROM dc WHERE lang = 'en' GROUP BY 1),
        |qt AS (SELECT bucket, sum(cnt) AS c FROM dc GROUP BY 1),
        |model AS (
        |  SELECT r.range AS bucket,
        |    ln((coalesce(p.c, 0) + 1.0) / ((SELECT sum(c) FROM pt) + 64.0))
        |    - ln((coalesce(q.c, 0) + 1.0) / ((SELECT sum(c) FROM qt) + 64.0)) AS log_ratio
        |  FROM range(0, 64) r
        |  LEFT JOIN pt p ON p.bucket = r.range
        |  LEFT JOIN qt q ON q.bucket = r.range),
        |w AS (SELECT dc.doc_id, sum(dc.cnt * m.log_ratio) AS logw
        |      FROM dc JOIN model m USING (bucket) GROUP BY 1),
        |scored AS (
        |  SELECT d.doc_id, d.lang, coalesce(w.logw, 0)
        |    - ln(-ln((('0x' || substr(md5(d.doc_id::VARCHAR || 'dsir'), 1, 8))::UBIGINT + 1.0)
        |             / 4294967297.0)) AS score
        |  FROM documents d LEFT JOIN w USING (doc_id)),
        |sel AS (SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT 60)
        |SELECT doc_id, lang, round(score, 4) AS dsir_score FROM sel ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = dsirWeightsFor(g(s, dir), dir)
      Dsir.resample(w, col("doc_id"), col("dsir_logw"), k = 60)
        .select(col("doc_id"), col("lang"), round(col("dsir_score"), 4).as("dsir_score"))
        .orderBy(col("doc_id"))
    },

    // pipeline: temperature-scaled domain re-balancing (mT5/XLM-R p^τ rule,
    // τ=0.5) composed with the deterministic mixture sampler — the rarest
    // language keeps every row, the head language is thinned toward the
    // flattened mix; rates and the md5 draws replay exactly in SQL
    // temperature-rate replay: per-lang count → p^(τ−1) normalized by the
    // max (rarest lang → rate 1), then the same md5-uniform acceptance draw
    Gate("q_curate_temperature",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |r AS (SELECT lang, pow(n, -0.5) / (SELECT max(pow(n, -0.5)) FROM c) AS rate FROM c),
        |s AS (SELECT d.doc_id, d.lang, r.rate,
        |        ('0x' || substr(md5(d.doc_id::VARCHAR || 'temp'), 1, 8))::UBIGINT / 4294967296.0 AS u
        |      FROM documents d JOIN r USING (lang))
        |SELECT doc_id, lang, round(rate, 4) AS mix_rate FROM s
        |WHERE u < rate ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      val rated = Curate.temperatureRates(docs, col("lang"), tau = 0.5)
      Curate.mixtureSample(rated, col("doc_id"), col("mix_rate"), salt = "temp")
        .select(col("doc_id"), col("lang"), round(col("mix_rate"), 4).as("mix_rate"))
        .orderBy(col("doc_id"))
    },

    // pipeline: deterministic hash train/val/test split — md5-uniform draw
    // against cumulative weights (weights 8/1/1 exercise normalization);
    // every row's assignment is hash-checked, so a re-dealt boundary, a
    // wrong normalizer, or a cumulative-order bug all mismatch
    // hash-split replay: the identical md5-prefix uniform and the same
    // normalized cumulative boundaries (8/10, 9/10), strict-< on both
    Gate("q_curate_split",
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  round(u, 4) AS split_u
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft-split'), 1, 8))::UBIGINT
        |    / 4294967296.0 AS u
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df
      Curate.hashSplit(docs, col("doc_id"),
          Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
        .select(col("doc_id"), col("split"), round(col("split_u"), 4).as("split_u"))
        .orderBy(col("doc_id"))
    },

    // §2.1 value-based auto-schema (reference auto_schema.go:232-255
    // determineType + the array-merge mixing rule): a JSON-shaped untyped bed
    // built from events — an RFC3339-formatted string column infers `date`,
    // an md5-assembled canonical UUID column infers `uuid`, plain text stays
    // `text`, a date/text MIXTURE collapses to `text`, a value-less column
    // takes the nil fallback `text`, and typed columns map int/number/boolean.
    // The oracle replays the same regex counts and merge CASE per column.
    // value-inference replay: same bed, same RFC3339/uuid accepting-set
    // regexes, same all-or-text merge CASE per string column, literal type
    // map for the typed columns
    Gate("q_autoschema_values",
      """WITH bed AS (
        |  SELECT event_id,
        |    strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_rfc,
        |    md5(event_id::VARCHAR) AS h,
        |    event_type, props,
        |    CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
        |         ELSE props END AS mixed,
        |    CASE WHEN event_id = 0 THEN '2024-13-01T00:00:00Z'
        |         ELSE strftime(ts, '%Y-%m-%dT%H:%M:%SZ') END AS near_date,
        |    CASE WHEN event_id = 0 THEN 'c56a4180-65aa-42ec-a945-5fd21dec053'
        |         ELSE NULL END AS near_uuid_miss,
        |    NULL::VARCHAR AS unseen
        |  FROM events),
        |u AS (SELECT *, substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4)
        |        || '-' || substr(h,17,4) || '-' || substr(h,21,12) AS obj_uuid,
        |        coalesce(near_uuid_miss, substr(h,1,8) || '-' || substr(h,9,4) || '-'
        |        || substr(h,13,4) || '-' || substr(h,17,4) || '-' || substr(h,21,12)) AS near_uuid
        |      FROM bed),
        |agg AS (SELECT
        |  count(ts_rfc) AS n1,
        |  count(CASE WHEN regexp_matches(ts_rfc, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d1,
        |  count(CASE WHEN regexp_matches(ts_rfc, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u1,
        |  count(obj_uuid) AS n2,
        |  count(CASE WHEN regexp_matches(obj_uuid, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d2,
        |  count(CASE WHEN regexp_matches(obj_uuid, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u2,
        |  count(event_type) AS n3,
        |  count(CASE WHEN regexp_matches(event_type, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d3,
        |  count(CASE WHEN regexp_matches(event_type, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u3,
        |  count(props) AS n4,
        |  count(CASE WHEN regexp_matches(props, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d4,
        |  count(CASE WHEN regexp_matches(props, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u4,
        |  count(mixed) AS n5,
        |  count(CASE WHEN regexp_matches(mixed, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d5,
        |  count(CASE WHEN regexp_matches(mixed, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u5,
        |  count(unseen) AS n6,
        |  count(near_date) AS n7,
        |  count(CASE WHEN regexp_matches(near_date, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d7,
        |  count(CASE WHEN regexp_matches(near_date, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u7,
        |  count(near_uuid) AS n8,
        |  count(CASE WHEN regexp_matches(near_uuid, '^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])T([01]\d|2[0-3]):[0-5]\d:[0-5]\d(\.\d+)?(Z|[+-]([01]\d|2[0-3]):[0-5]\d)$') THEN 1 END) AS d8,
        |  count(CASE WHEN regexp_matches(near_uuid, '^(urn:uuid:)?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$|^\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\}$|^[0-9a-fA-F]{32}$') THEN 1 END) AS u8
        |  FROM u),
        |v AS (
        |  SELECT 'ts_rfc' AS prop, CASE WHEN n1 = 0 THEN 'text' WHEN d1 = n1 THEN 'date'
        |    WHEN u1 = n1 THEN 'uuid' ELSE 'text' END AS dtype FROM agg
        |  UNION ALL SELECT 'obj_uuid', CASE WHEN n2 = 0 THEN 'text' WHEN d2 = n2 THEN 'date'
        |    WHEN u2 = n2 THEN 'uuid' ELSE 'text' END FROM agg
        |  UNION ALL SELECT 'event_type', CASE WHEN n3 = 0 THEN 'text' WHEN d3 = n3 THEN 'date'
        |    WHEN u3 = n3 THEN 'uuid' ELSE 'text' END FROM agg
        |  UNION ALL SELECT 'props', CASE WHEN n4 = 0 THEN 'text' WHEN d4 = n4 THEN 'date'
        |    WHEN u4 = n4 THEN 'uuid' ELSE 'text' END FROM agg
        |  UNION ALL SELECT 'mixed', CASE WHEN n5 = 0 THEN 'text' WHEN d5 = n5 THEN 'date'
        |    WHEN u5 = n5 THEN 'uuid' ELSE 'text' END FROM agg
        |  UNION ALL SELECT 'near_date', CASE WHEN n7 = 0 THEN 'text' WHEN d7 = n7 THEN 'date'
        |    WHEN u7 = n7 THEN 'uuid' ELSE 'text' END FROM agg
        |  UNION ALL SELECT 'near_uuid', CASE WHEN n8 = 0 THEN 'text' WHEN d8 = n8 THEN 'date'
        |    WHEN u8 = n8 THEN 'uuid' ELSE 'text' END FROM agg
        |  UNION ALL SELECT 'unseen', 'text' FROM agg WHERE n6 = 0
        |  UNION ALL SELECT 'user_id', 'int'
        |  UNION ALL SELECT 'value', 'number'
        |  UNION ALL SELECT 'flag', 'boolean')
        |SELECT prop, dtype FROM v ORDER BY prop""".stripMargin) { (s, dir) =>
      val ev = Fixtures.events(s, dir)
      val h = md5(col("event_id").cast("string"))
      val rfc = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
      val bed = ev.select(
        col("event_id"),
        rfc.as("ts_rfc"),
        concat_ws("-", substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
          substring(h, 17, 4), substring(h, 21, 12)).as("obj_uuid"),
        col("event_type"), col("props"),
        when(col("event_id") % 2 === 0, rfc).otherwise(col("props")).as("mixed"),
        // near-miss plants: one bad-month date and one 35-char uuid force
        // 'text' verdicts that only the range-bounded reference regexes
        // produce — a loose \\d{2}-month pattern (or the oracle's old one)
        // would call these columns date/uuid
        when(col("event_id") === 0, lit("2024-13-01T00:00:00Z"))
          .otherwise(rfc).as("near_date"),
        when(col("event_id") === 0, lit("c56a4180-65aa-42ec-a945-5fd21dec053"))
          .otherwise(concat_ws("-", substring(h, 1, 8), substring(h, 9, 4),
            substring(h, 13, 4), substring(h, 17, 4), substring(h, 21, 12)))
          .as("near_uuid"),
        lit(null).cast("string").as("unseen"),
        col("user_id"), col("value"),
        (col("event_id") % 2 === 0).as("flag"))
      graft.sources.AutoSchema.valueDtypes(bed, idColumn = "event_id")
        .orderBy(col("prop"))
    },

    // pipeline: cluster-balanced subset selection — at most 10 rows per
    // semantic cluster, most-representative-first (SemDeDup-style topic
    // quotas); same deterministic nearest-seed assignment as
    // q_dedup_semantic, so the full model replays in SQL
    // full SemDeDup replay: seed assignment (argmin L2 over the 8 smallest-id
    // rows, lower seed index on ties), centroid similarity, and the
    // keep-lowest-centroid-similarity rule — double math throughout, matching
    // the codegen'd kernels bit-for-bit
    // cluster-balance replay: same seed/assignment CTEs as q_dedup_semantic,
    // then the per-cluster representative-first quota window
    Gate("q_curate_clusterbalance",
      s"""WITH bed AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY id ASC) - 1 AS cidx, v AS sv
         |  FROM bed ORDER BY id ASC LIMIT 8),
         |d AS (SELECT b.id, b.v, s.cidx, s.sv, ${sqlL2("b.v", "s.sv")} AS dist
         |      FROM bed b CROSS JOIN seeds s),
         |a0 AS (SELECT id, v, cidx, sv,
         |         row_number() OVER (PARTITION BY id ORDER BY dist ASC, cidx ASC) AS rn
         |       FROM d),
         |asg AS (SELECT id, cidx AS cluster, (1.0 - ${sqlCosine("v", "sv")}) AS csim
         |        FROM a0 WHERE rn = 1),
         |ranked AS (SELECT id, cluster, csim,
         |    row_number() OVER (PARTITION BY cluster ORDER BY csim DESC, id ASC) AS rank
         |  FROM asg)
         |SELECT id AS vec_id, cluster, round(csim, 4) AS cent_sim,
         |       CAST(rank AS BIGINT) AS sample_rank
         |FROM ranked WHERE rank <= 10 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Curate.clusterBalanced(g(s, dir).collection("Embedding").df,
          col("vec_id"), col("embedding"), k = 8, perCluster = 10)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
          round(col("cent_sim"), 4).as("cent_sim"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy(col("vec_id"))
    },

    // pipeline: sessionization (30-min gap) over the events stream table
    Gate("q_sessionize",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(900001 AS BIGINT), CAST(9100001 AS BIGINT), 1707000000000000),
        |    (900001, 9100002, 1707001800000000),
        |    (900002, 9100003, 1707000000000000),
        |    (900002, 9100004, 1707001800000001)) v(user_id, event_id, us)),
        |m AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS newsess FROM e),
        |m2 AS (SELECT user_id, sum(newsess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS sess FROM m),
        |c AS (SELECT user_id, sess, count(*) AS cnt FROM m2 GROUP BY user_id, sess)
        |SELECT user_id, count(*) AS n_sessions, CAST(max(cnt) AS BIGINT) AS max_session_events
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us").asc, col("event_id").asc)
      // boundary users (after the natural span): 900001's two events are
      // EXACTLY 30 min apart → one session of 2 (the break rule is strictly
      // `>`; a >= split emits two singletons), 900002's gap is +1 µs → two
      // singletons. The natural bed has no same-user gap within ±10 s of
      // the boundary, so the strict inequality was unexercised in batch
      // (the streaming twin already plants it).
      val planted = Seq(
        (900001L, 9100001L, 1707000000000000L),
        (900001L, 9100002L, 1707001800000000L),
        (900002L, 9100003L, 1707000000000000L),
        (900002L, 9100004L, 1707001800000001L))
        .toDF("user_id", "event_id", "us")
      val ev = Fixtures.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .unionByName(planted)
      val marked = ev.withColumn("__new",
        when(lag(col("us"), 1).over(w).isNull ||
             col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1).otherwise(0))
      val sess = marked.withColumn("__sess",
        sum(col("__new")).over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      sess.groupBy(col("user_id"), col("__sess")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), max(col("cnt")).as("max_session_events"))
        .orderBy(col("user_id"))
    },

    // pipeline: kNN classification (majority label of 5 nearest neighbours)
    // via the IVF-bucketed neighbour join (full probe ⇒ exact, oracle-checked)
    Gate("q_classify_knn",
      s"""WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT p.probe_id, e.vec_id, e.label, ${sqlL2("e.embedding", "p.pv")} AS dist
         |  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id),
         |top AS (SELECT * FROM (
         |  SELECT probe_id, vec_id, label,
         |         row_number() OVER (PARTITION BY probe_id ORDER BY dist ASC, vec_id ASC) AS rnk
         |  FROM pairs) WHERE rnk <= 5),
         |v AS (SELECT probe_id, label, count(*) AS votes FROM top GROUP BY probe_id, label),
         |pick AS (SELECT probe_id, label, votes,
         |         row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label ASC) AS rn FROM v)
         |SELECT probe_id, label AS predicted_label, votes FROM pick WHERE rn = 1 ORDER BY probe_id""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val emb = gg.collection("Embedding").df
      val probes = emb.filter(col("vec_id") % 100 === 0)
      Classify.knn(emb, col("vec_id"), col("embedding"), col("label"),
          probes, col("vec_id"), col("embedding"), k = 5,
          index = Some(ivfFor(gg, dir)), nprobe = Some(8))
        .orderBy(col("probe_id"))
    },

    // §2.10 classification RUN write-back (reference: classifier_run.go +
    // ref_meta.go + adapters/repos/db/classification.go): label_ref unset ⇒
    // to-be-classified, set ⇒ training; a planted zero-distance MULTI-label
    // training row fails its probe (extractBeacons' exactly-one-label rule ⇒
    // CountFailed, no write); winners land in the store with the full
    // per-ref distance meta + the object-level _classification meta, and the
    // report literals carry the run counts. The oracle replays the WHOLE run
    // — split, NormalizedDistance top-5, failure rule, votes, winner pin,
    // winning/losing stats, report — in SQL.
    Gate("q_classify_writeback",
      s"""WITH base AS (
         |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS lbl FROM embeddings),
         |train AS (
         |  SELECT vec_id, embedding, lbl, 1 AS nlab FROM base WHERE vec_id % 5 <> 0
         |  UNION ALL
         |  SELECT 100000, embedding, NULL, 2 FROM base WHERE vec_id = 0),
         |probes AS (SELECT vec_id AS pid, embedding AS pv FROM base WHERE vec_id % 5 = 0),
         |pairs AS (
         |  SELECT p.pid, t.vec_id, t.lbl, t.nlab,
         |         ${sqlCosine("t.embedding", "p.pv")} / 2 AS nd
         |  FROM train t CROSS JOIN probes p),
         |top AS (SELECT * FROM (
         |  SELECT pid, vec_id, lbl, nlab, nd,
         |         row_number() OVER (PARTITION BY pid ORDER BY nd ASC, vec_id ASC) AS rnk
         |  FROM pairs) WHERE rnk <= 5),
         |bad AS (SELECT pid FROM top GROUP BY pid HAVING max(nlab) > 1),
         |ok AS (SELECT * FROM top WHERE pid NOT IN (SELECT pid FROM bad)),
         |perlbl AS (SELECT pid, lbl, count(*) AS votes, min(nd) AS mind, sum(nd) AS sumd
         |  FROM ok GROUP BY pid, lbl),
         |win AS (SELECT pid, lbl AS wlbl, votes AS wc, mind AS cwd, sumd / votes AS mwd FROM (
         |  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY votes DESC, lbl ASC) AS rn
         |  FROM perlbl) WHERE rn = 1),
         |lose AS (SELECT p.pid, sum(p.votes) AS lc, min(p.mind) AS cld,
         |         sum(p.sumd) / sum(p.votes) AS mld
         |  FROM perlbl p JOIN win w ON p.pid = w.pid AND p.lbl <> w.wlbl GROUP BY p.pid),
         |tot AS (SELECT pid, count(*) AS oc, min(nd) AS cod FROM ok GROUP BY pid),
         |rep AS (SELECT (SELECT count(*) FROM probes) AS cnt,
         |               (SELECT count(*) FROM bad) AS failed)
         |SELECT w.pid AS vec_id, w.wlbl AS assigned,
         |  t.oc AS overall_count, CAST(w.wc AS BIGINT) AS winning_count,
         |  CAST(coalesce(l.lc, 0) AS BIGINT) AS losing_count,
         |  round(t.cod, 4) AS closest_overall, round(w.cwd, 4) AS closest_winning,
         |  round(w.mwd, 4) AS mean_winning, round(l.cld, 4) AS closest_losing,
         |  round(l.mld, 4) AS mean_losing,
         |  'label_ref' AS fields, 'label_ref' AS scope,
         |  rep.cnt AS rp_count, rep.cnt - rep.failed AS rp_succeeded,
         |  rep.failed AS rp_failed, 'completed' AS rp_status
         |FROM win w JOIN tot t ON w.pid = t.pid LEFT JOIN lose l ON w.pid = l.pid
         |CROSS JOIN rep
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = g(s, dir).collection("Embedding").df
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("lbl"))
      val base = emb
        .withColumn("label_ref", when(col("vec_id") % 5 =!= 0, array(col("lbl"))))
        .drop("lbl")
      val planted = base.filter(col("vec_id") === 0)
        .select(lit(100000L).as("vec_id"), col("embedding"),
          array(lit(1L), lit(2L)).as("label_ref"))
      val schema = CollectionSchema("ClsBed", "vec_id", Seq(
        Property("label_ref", PropType.Ref, refTarget = Some("ClsBed"))))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("clsjob"), schema)
      st.init(base.unionByName(planted))
      val run = Classify.knnJob(st, "embedding", "label_ref", k = 5,
        "run-t2", 1700000000000000L)
      val meta = col(Classify.refMetaCol("label_ref"))
      val cls = col(Classify.MetaCol)
      st.read()
        .filter(cls.isNotNull && cls.getField("id") === "run-t2" &&
          size(cls.getField("classifiedFields")) > 0)
        .select(col("vec_id"),
          element_at(col("label_ref"), 1).as("assigned"),
          meta.getField("overallCount").as("overall_count"),
          meta.getField("winningCount").as("winning_count"),
          meta.getField("losingCount").as("losing_count"),
          round(meta.getField("closestOverallDistance"), 4).as("closest_overall"),
          round(meta.getField("closestWinningDistance"), 4).as("closest_winning"),
          round(meta.getField("meanWinningDistance"), 4).as("mean_winning"),
          round(meta.getField("closestLosingDistance"), 4).as("closest_losing"),
          round(meta.getField("meanLosingDistance"), 4).as("mean_losing"),
          array_join(cls.getField("classifiedFields"), ",").as("fields"),
          array_join(cls.getField("scope"), ",").as("scope"),
          lit(run.count).as("rp_count"),
          lit(run.countSucceeded).as("rp_succeeded"),
          lit(run.countFailed).as("rp_failed"),
          lit(run.status).as("rp_status"))
        .orderBy(col("vec_id"))
    },

    // §2.7 _additional { generate } singleResult: per-row {prop} prompt
    // templating through the generative module boundary (echo stand-in makes
    // the assembled prompt the output — the templating is what's checked)
    // echo module ⇒ _generate is the templated prompt itself
    Gate("q_generate_single",
      """SELECT doc_id,
        |       'Summarize in ' || lang || ': ' || text ||
        |       ' [chars=' || CAST(n_chars AS VARCHAR) || ']' AS gen
        |FROM documents WHERE source = 'src3'
        |ORDER BY doc_id ASC LIMIT 20""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.eqText("source", "src3")),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        generate = Some(GenerateParams(singlePrompt =
          Some("Summarize in {lang}: {text} [chars={n_chars}]")))))
        .select(col("doc_id"), col(Generate.SingleCol).as("gen"))
    },

    // §2.7 _additional { generate } groupedResult: ONE prompt from the whole
    // page ({prop} from first result + sorted-key JSON of every result's
    // selected properties), attached to the first row only
    // grouped prompt = task ({lang} from the first page row) + ': ' + JSON
    // array of each page row's {lang, source} (keys sorted), first row only
    Gate("q_generate_grouped",
      """WITH page AS (
        |  SELECT doc_id, lang, source, row_number() OVER (ORDER BY doc_id ASC) AS rn
        |  FROM documents WHERE source = 'src3' ORDER BY doc_id ASC LIMIT 5),
        |j AS (SELECT string_agg('{"lang":"' || lang || '","source":"' || source || '"}',
        |                        ',' ORDER BY rn) AS arr,
        |             min_by(lang, rn) AS first_lang FROM page)
        |SELECT p.doc_id,
        |       CASE WHEN p.rn = 1
        |            THEN 'Summarize these ' || j.first_lang || ' docs: [' || j.arr || ']'
        |       END AS gen
        |FROM page p CROSS JOIN j
        |ORDER BY p.doc_id ASC""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.eqText("source", "src3")),
        pagination = Some(Pagination(limit = 5)),
        properties = Seq("doc_id"),
        generate = Some(GenerateParams(
          groupedTask = Some("Summarize these {lang} docs"),
          groupedProperties = Seq("lang", "source")))))
        .select(col("doc_id"), col(Generate.GroupedCol).as("gen"))
    },

    // pipeline: zero-shot classification (reference: usecases/classification
    // zeroshot — nearest label-prototype; pure map-side codegen'd argmin, no
    // join/shuffle: the label set is class-name-sized by definition)
    // zero-shot = 1-NN against the 8 label prototypes (cross join is 500×8
    // here; the engine side never materializes it — map-side least())
    Gate("q_classify_zeroshot",
      s"""WITH labels AS (
         |  SELECT 'L' || CAST(vec_id AS VARCHAR) AS lbl, embedding AS lv
         |  FROM embeddings WHERE vec_id < 8),
         |d AS (SELECT e.vec_id AS probe_id, l.lbl,
         |             ${sqlCosine("e.embedding", "l.lv")} AS dist
         |      FROM embeddings e CROSS JOIN labels l),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY probe_id ORDER BY dist ASC, lbl ASC) AS rn FROM d)
         |SELECT probe_id, lbl AS predicted_label, round(dist, 4) AS dist
         |FROM r WHERE rn = 1 ORDER BY probe_id""".stripMargin) { (s, dir) =>
      val emb = g(s, dir).collection("Embedding").df
      val labels = emb.filter(col("vec_id") < 8)
        .select(concat(lit("L"), col("vec_id")).as("lbl"), col("embedding"))
      Classify.zeroShot(emb, col("vec_id"), col("embedding"),
          labels, col("lbl"), col("embedding"), Metric.Cosine)
        .select(col("probe_id"), col("predicted_label"),
          round(col("dist"), 4).as("dist"))
        .orderBy(col("probe_id"))
    },

    // pipeline: TRAINED multinomial Naive Bayes classification — the
    // standard curation quality/domain/language classifier (beyond the
    // reference's training-free classification types). Trains token
    // likelihoods on the lang-labeled 80% of documents, scores the held-out
    // 20%; the oracle replays the WHOLE model (priors, Laplace-smoothed
    // counts, vocabulary, OOV drop, argmax with ascending-label ties) in SQL
    // full multinomial-NB model replay: train-split token counts, Laplace
    // alpha=1 likelihoods over the dense label×vocab grid, OOV-dropped probe
    // join, prior+sum argmax with ties to the smaller label — double math on
    // both sides (the CROSS JOINs are label-sized; the engine pivots the
    // model to per-label plan literals instead)
    Gate("q_classify_nb",
      """WITH train AS (
        |  SELECT lang AS lbl, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents WHERE doc_id % 5 != 0
        |    AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
        |stats AS (SELECT lbl, count(*) AS docs, sum(len(toks)) AS tot
        |          FROM train GROUP BY lbl),
        |n AS (SELECT CAST(sum(docs) AS DOUBLE) AS n FROM stats),
        |wc AS (SELECT lbl, w, count(*) AS cnt
        |       FROM (SELECT lbl, unnest(toks) AS w FROM train) GROUP BY lbl, w),
        |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM wc),
        |dense AS (SELECT s.lbl, vw.w,
        |            ln((coalesce(wc.cnt, 0) + 1.0) / (s.tot + v.v)) AS lik
        |          FROM stats s
        |          CROSS JOIN (SELECT DISTINCT w FROM wc) vw
        |          CROSS JOIN v
        |          LEFT JOIN wc ON wc.lbl = s.lbl AND wc.w = vw.w),
        |probe AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |          FROM documents WHERE doc_id % 5 = 0
        |          UNION ALL
        |          SELECT CAST(doc_id AS BIGINT),
        |                 regexp_extract_all(lower(text), '[a-z0-9]+')
        |          FROM (VALUES (9000001, 'spark zzqqxx'),
        |                       (9000002, 'zzqqxx wwvvkk')) AS pl(doc_id, text)),
        |ptok AS (SELECT doc_id, unnest(toks) AS w FROM probe),
        |sums AS (SELECT p.doc_id, d.lbl, sum(d.lik) AS s, count(*) AS m
        |         FROM ptok p JOIN dense d USING (w) GROUP BY 1, 2),
        |scored AS (SELECT pr.doc_id, st.lbl,
        |             ln(st.docs / n.n) + coalesce(su.s, 0.0) AS score,
        |             coalesce(su.m, 0) AS m
        |           FROM probe pr CROSS JOIN stats st CROSS JOIN n
        |           LEFT JOIN sums su ON su.doc_id = pr.doc_id AND su.lbl = st.lbl),
        |best AS (SELECT doc_id, lbl, score, m, row_number() OVER (
        |           PARTITION BY doc_id ORDER BY score DESC, lbl ASC) AS rn
        |         FROM scored)
        |SELECT doc_id, lbl AS predicted_label, round(score, 4) AS log_score,
        |       CAST(m AS BIGINT) AS matched_tokens
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = g(s, dir).collection("Document").df
      // planted probes force the OOV branches the natural bed never hits
      // (every natural probe token is in the training vocabulary): 9000001
      // mixes one known token with an OOV (must be DROPPED — an engine that
      // smooths unknowns shifts the score), 9000002 is all-OOV (prior-only
      // argmax, matched_tokens = 0 — a zero-overlap crash breaks the row)
      val probes = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(Seq((9000001L, "spark zzqqxx"),
          (9000002L, "zzqqxx wwvvkk")).toDF("doc_id", "text"))
      Classify.naiveBayes(
          docs.filter(col("doc_id") % 5 =!= 0), col("text"), col("lang"),
          probes, col("doc_id"), col("text"))
        .select(col("probe_id").as("doc_id"), col("predicted_label"),
          round(col("log_score"), 4).as("log_score"), col("matched_tokens"))
        .orderBy(col("doc_id"))
    },

    // pipeline: deterministic Lloyd k-means (k=4, 2 iterations) over the
    // embeddings — the trained upgrade of the seedAssign clustering that
    // SemDeDup / cluster-balanced selection bucket by; the oracle replays
    // the ENTIRE training run (seed init, both assign+update rounds with
    // the empty-cluster keep rule, final assignment + squared-L2) unrolled
    // in SQL — a fully correctness-gated iterative model, unlike the
    // RNG-seeded k-means++ trainer behind the IVF build
    // unrolled Lloyd replay: c0 = 4 smallest-id embeddings; per round,
    // nearest-centroid assignment (ties to the lower index), per-dim means
    // via a range(64) lateral, empty clusters keeping the previous centroid;
    // final assignment against c2 with double-math squared L2
    Gate("q_cluster_kmeans", {
      def round(i: Int, prev: String): String =
        s"""a$i AS (SELECT id, v, cl FROM (
           |  SELECT b.id, b.v, c.cl, row_number() OVER (PARTITION BY b.id
           |    ORDER BY ${sqlL2("b.v", "c.cv")} ASC, c.cl ASC) AS rn
           |  FROM b CROSS JOIN $prev c) WHERE rn = 1),
           |m$i AS (SELECT cl, i, avg(CAST(v[i] AS DOUBLE)) AS m
           |  FROM a$i CROSS JOIN range(1, 65) t(i) GROUP BY cl, i),
           |c$i AS (SELECT p.cl, coalesce(mm.cv, p.cv) AS cv
           |  FROM $prev p LEFT JOIN (SELECT cl, list(m ORDER BY i) AS cv
           |                          FROM m$i GROUP BY cl) mm ON p.cl = mm.cl)""".stripMargin
      s"""WITH b AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |  UNION ALL SELECT CAST(-1 AS BIGINT), embedding FROM embeddings WHERE vec_id = 0),
         |c0 AS (SELECT row_number() OVER (ORDER BY id ASC) - 1 AS cl,
         |         list_transform(v, x -> CAST(x AS DOUBLE)) AS cv
         |       FROM b ORDER BY id ASC LIMIT 4),
         |${round(1, "c0")},
         |${round(2, "c1")},
         |af AS (SELECT id, cl, dist FROM (
         |  SELECT b.id, c.cl, ${sqlL2("b.v", "c.cv")} AS dist,
         |    row_number() OVER (PARTITION BY b.id
         |      ORDER BY ${sqlL2("b.v", "c.cv")} ASC, c.cl ASC) AS rn
         |  FROM b CROSS JOIN c2 c) WHERE rn = 1)
         |SELECT id AS vec_id, cl AS cluster, round(dist, 4) AS dist
         |FROM af ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val emb = g(s, dir).collection("Embedding").df
      // planted vec -1 duplicates vec 0's embedding: both become seeds
      // (4 smallest ids), every point ties between the twin centroids and
      // the lower-cluster tie rule starves cluster 1 EMPTY in round 1 —
      // forcing the keep-previous-centroid rule the natural bed never
      // fires (re-seed / drop / NaN-poison implementations all diverge)
      val bed = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") === 0)
          .select(lit(-1L).cast(emb.schema("vec_id").dataType).as("vec_id"),
            col("embedding")))
      val (asg, _) = Cluster.lloyd(bed,
        col("vec_id"), col("embedding"), k = 4, iters = 2)
      asg.select(col("__id").as("vec_id"),
          col("__cluster").cast("long").as("cluster"),
          round(col("__dist"), 4).as("dist"))
        .orderBy(col("vec_id"))
    },

    // §2.3 nearImage/nearAudio/…: media payload → module embedding →
    // nearVector (reference: search_get.proto:42-47; the stub module is the
    // deterministic stand-in for multi2vec-bind/clip — the engine-side
    // resolution path is the real thing being exercised)
    // the stub media embedding is deterministic, so the oracle inlines the
    // resolved query vector as a literal — the comparison then checks the
    // whole nearMedia → nearVector → TopK path
    Gate("q_near_media", {
      val qv = Multimodal.stubEmbedder(64)(MediaKind.Image, MediaQueryPayload)
      val vlit = qv.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      s"""WITH qv AS (SELECT $vlit AS v),
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir).withMediaEmbedder(Multimodal.stubEmbedder(64))
      gg.get(GetParams("Embedding",
        nearMedia = Some(NearMedia(MediaKind.Image, MediaQueryPayload,
          metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // pipeline: ref2vec-centroid (mean vector per group)
    Gate("q_ref2vec",
      """SELECT d.lang,
        |  round(avg(CAST(e.embedding[1] AS DOUBLE)), 4) AS dim0,
        |  round(avg(CAST(e.embedding[2] AS DOUBLE)), 4) AS dim1
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
      Ref2Vec.centroid(g(s, dir).collection("DocVec").df, col("lang"), col("embedding"))
        .select(col("group").as("lang"),
          round(element_at(col("centroid"), 1), 4).as("dim0"),
          round(element_at(col("centroid"), 2), 4).as("dim1"))
        .orderBy(col("lang"))
    },

    // pipeline: multimodal binary-column plumbing (stub decode — model-backed
    // feature extraction needs a net this environment doesn't have;
    // deterministic md5-fake features, real schema/batching — and the fake
    // is engine-neutral, so the oracle replays it bit-exactly)
    // the md5 stub-feature rule replayed verbatim (payload = props UTF-8
    // bytes ‖ dim-index byte; chr(1) encodes as the single byte 0x01, same
    // bytes Spark's binary concat feeds md5); float32 cast mirrors the
    // engine's array<float> storage
    Gate("q_multimodal_stub",
      """SELECT event_id,
        |  round(CAST(CAST(('0x' || substr(md5(props || chr(1)), 1, 8))::UBIGINT % 100000
        |    AS DOUBLE) / 100000.0 AS REAL)::DOUBLE, 4) AS feat0
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = Fixtures.events(s, dir).withColumn("payload", col("props").cast("binary"))
      Multimodal.extractFeatures(ev, col("payload"), dim = 8)
        .select(col("event_id"),
          round(element_at(col("features"), 1).cast("double"), 4).as("feat0"))
        .orderBy(col("event_id"))
    },

    // pipeline: REAL image decode (javax.imageio, pure JVM): deterministic
    // synthetic PNGs keyed by doc_id round-trip the actual PNG codec; the
    // oracle recomputes width/height/mean-luminance as pure arithmetic —
    // the decode is genuinely verified, not stubbed
    // pure-arithmetic mirror of the real PNG round-trip: pixel i of doc d is
    // (d*31+i) mod 256 gray, so mean luminance = list mean of that sequence
    Gate("q_multimodal_decode",
      """SELECT doc_id,
        |  CAST(4 + doc_id % 5 AS INT) AS width,
        |  CAST(3 + doc_id % 7 AS INT) AS height,
        |  round(list_avg(list_transform(
        |    range((4 + doc_id % 5) * (3 + doc_id % 7)),
        |    i -> CAST((doc_id * 31 + i) % 256 AS DOUBLE))), 4) AS mean_lum
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mkPng = udf((id: Long) =>
        Multimodal.syntheticPng(id, (4 + id % 5).toInt, (3 + id % 7).toInt))
      val bed = g(s, dir).collection("Document").df.filter(col("doc_id") < 200)
        .select(col("doc_id"), mkPng(col("doc_id")).as("payload"))
      Multimodal.decodeImages(bed, col("doc_id"), col("payload"))
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("mean_lum"), 4).as("mean_lum"))
        .orderBy(col("doc_id"))
    },

    // pipeline: REAL audio decode (javax.sound.sampled PCM WAV parser, pure
    // JVM): synthetic 16-bit mono WAVs keyed by doc_id; oracle recomputes
    // sample count, duration and RMS as pure arithmetic
    // pure-arithmetic mirror of the real WAV round-trip: sample i of doc d is
    // ((d*7+i) mod 201 - 100)*327 / 32768, so RMS = sqrt(mean of squares)
    Gate("q_multimodal_wav",
      """SELECT doc_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(500 + doc_id % 300 AS BIGINT) AS n_samples,
        |  round((500 + doc_id % 300) * 1000.0 / 8000, 4) AS duration_ms,
        |  round(sqrt(list_avg(list_transform(
        |    range(500 + doc_id % 300),
        |    i -> pow(((doc_id * 7 + i) % 201 - 100) * 327 / 32768.0, 2)))), 4) AS rms
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val mkWav = udf((id: Long) =>
        Multimodal.syntheticWav(id, (500 + id % 300).toInt))
      val bed = g(s, dir).collection("Document").df.filter(col("doc_id") < 200)
        .select(col("doc_id"), mkWav(col("doc_id")).as("payload"))
      Multimodal.decodeWavs(bed, col("doc_id"), col("payload"))
        .select(col("id").as("doc_id"), col("sample_rate"), col("n_samples"),
          round(col("duration_ms"), 4).as("duration_ms"),
          round(col("rms"), 4).as("rms"))
        .orderBy(col("doc_id"))
    },

    // §2.3 nearText: concepts -> embedder -> centroid ± moveTo/moveAwayFrom
    // (deterministic hash embedder stands in for the vectorizer module; no
    // SQL oracle — MurmurHash isn't expressible in DuckDB)
    // the hash embedder + movement math are deterministic, so the oracle
    // inlines the RESOLVED query vector (centroid ± moveTo/moveAwayFrom) —
    // same pattern as q_near_media; this checks the whole nearText →
    // nearVector path including the reference's movement formulas
    Gate("q_neartext", {
      val embed = Fixtures.hashEmbedder(64)
      var qv = Movements.centroid(Seq(embed("spark join stream")))
      qv = Movements.moveTo(qv, Movements.centroid(Seq(embed("window batch"))), 0.6)
      qv = Movements.moveAwayFrom(qv, Movements.centroid(Seq(embed("error slow"))), 0.4)
      val vlit = qv.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      s"""WITH qv AS (SELECT $vlit AS v),
         |d AS (SELECT dv.doc_id, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM documents dv JOIN embeddings e ON dv.doc_id = e.vec_id
         |      CROSS JOIN qv q),
         |top AS (SELECT doc_id FROM d ORDER BY dist ASC, doc_id ASC LIMIT 10)
         |SELECT doc_id FROM top ORDER BY doc_id ASC""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("DocVec",
        nearText = Some(NearText(Seq("spark join stream"),
          moveTo = Some(MoveParams(Seq("window batch"), force = 0.6)),
          moveAwayFrom = Some(MoveParams(Seq("error slow"), force = 0.4)))),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.3 nearText moveTo with OBJECT moves (reference: retrieval.go:137-146
    // ObjectMove; searcher.go:99-139 — the move vector is the mean of [the
    // ONE combined values vector] ++ [each object's STORED vector]). The
    // object vector lives in the parquet table, so the oracle reproduces the
    // movement arithmetic in SQL (float-exact casts) over the same row.
    // movement arithmetic replayed in SQL: every binary float op is wrapped
    // in CAST(... AS FLOAT) — a single float32 op computed in double then
    // rounded to float is bit-identical to native float32 — so the moved
    // query vector matches the engine's Float math exactly. The object's
    // stored vector comes from the embeddings table (searcher.go:115-135
    // findVectorFn), the concepts-group vector is inlined.
    Gate("q_neartext_move_objects", {
      val embed = Fixtures.hashEmbedder(64)
      val base = Movements.centroid(Seq(embed("spark join stream")))
      val grp = Movements.centroid(Seq(embed("window batch")))
      val blit = base.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      val glit = grp.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      val w = 0.6f * 0.5f // force × the reference's 0.5 multiplier
      s"""WITH cg AS (SELECT $glit AS v),
         |ov AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 5),
         |mv AS (SELECT list_transform(range(1, 65),
         |         i -> CAST(CAST(c.v[i] + o.v[i] AS FLOAT) / CAST(2 AS FLOAT) AS FLOAT)) AS v
         |       FROM cg c CROSS JOIN ov o),
         |bs AS (SELECT $blit AS v),
         |qv AS (SELECT list_transform(range(1, 65),
         |         i -> CAST(CAST(b.v[i] * CAST(${1 - w} AS FLOAT) AS FLOAT)
         |            + CAST(m.v[i] * CAST($w AS FLOAT) AS FLOAT) AS FLOAT)) AS v
         |       FROM bs b CROSS JOIN mv m),
         |d AS (SELECT dv.doc_id, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM documents dv JOIN embeddings e ON dv.doc_id = e.vec_id
         |      CROSS JOIN qv q),
         |top AS (SELECT doc_id FROM d ORDER BY dist ASC, doc_id ASC LIMIT 10)
         |SELECT doc_id FROM top ORDER BY doc_id ASC""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("DocVec",
        nearText = Some(NearText(Seq("spark join stream"),
          moveTo = Some(MoveParams(Seq("window batch"), force = 0.6,
            objects = Seq(5L))))),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.3 nearText autocorrect: misspelled concepts run through the
    // registered spellchecker module BEFORE embedding (reference:
    // retrieval.go:152-160 Autocorrect; modules/text-spellcheck). The oracle
    // embeds the CORRECTED text — if the engine skipped the spellcheck the
    // vectors (and the result set) would differ.
    // the spellchecker + embedder are deterministic modules, so the oracle
    // inlines the vector of the CORRECTED concepts — an engine that skipped
    // autocorrect would embed the misspelled text and mismatch
    Gate("q_neartext_autocorrect", {
      val embed = Fixtures.hashEmbedder(64)
      val qv = Movements.centroid(Seq(embed(Fixtures.spellFix("sparrk joim strem"))))
      val vlit = qv.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      s"""WITH qv AS (SELECT $vlit AS v),
         |d AS (SELECT dv.doc_id, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM documents dv JOIN embeddings e ON dv.doc_id = e.vec_id
         |      CROSS JOIN qv q),
         |top AS (SELECT doc_id FROM d ORDER BY dist ASC, doc_id ASC LIMIT 10)
         |SELECT doc_id FROM top ORDER BY doc_id ASC""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("DocVec",
        nearText = Some(NearText(Seq("sparrk joim strem"), autocorrect = true)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.2 correlated nested-object filter: both predicates must hold on the
    // SAME tags[] element (reference: inverted/searcher_nested.go — And inside
    // one object[] path is per-element, not per-document)
    // the tags[] fixture is deterministic doc_id math, so the oracle inlines
    // the same element formula inside list_filter lambdas (correlated = one
    // lambda with the conjunction)
    Gate("q_filter_nested",
      """SELECT doc_id FROM documents
        |WHERE len(list_filter(range(0, CAST(doc_id % 3 AS INT) + 1),
        |  i -> 't' || CAST((doc_id + i) % 5 AS VARCHAR) = 't2'
        |       AND (doc_id * (i + 1)) % 100 > 50)) > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.and(
          Where.eqText("tags/k", "t2"),
          Where.gtInt("tags/v", 50))),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.2 nested-object filters under Or/Not: each leaf is its own
    // element-existential (uncorrelated), Not = "no element matches"
    Gate("q_filter_nested_mixed",
      """SELECT doc_id FROM documents
        |WHERE (len(list_filter(range(0, CAST(doc_id % 3 AS INT) + 1),
        |         i -> 't' || CAST((doc_id + i) % 5 AS VARCHAR) = 't1')) > 0
        |    OR len(list_filter(range(0, CAST(doc_id % 3 AS INT) + 1),
        |         i -> (doc_id * (i + 1)) % 100 > 90)) > 0)
        |  AND NOT len(list_filter(range(0, CAST(doc_id % 3 AS INT) + 1),
        |        i -> 't' || CAST((doc_id + i) % 5 AS VARCHAR) = 't4')) > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.and(
          Where.or(
            Where.eqText("tags/k", "t1"),
            Where.gtInt("tags/v", 90)),
          Where.not(Where.eqText("tags/k", "t4")))),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.2 ref-count filter: valueInt on a multi-edge cref = number of
    // outgoing edges (reference: inverted/searcher.go:694); null list = 0
    // links[] is deterministic doc_id math (see Fixtures), inlined here;
    // coalesce(len, 0) mirrors the engine's null-list = 0 edges
    Gate("q_ref_count",
      """WITH l AS (SELECT doc_id,
        |  coalesce(len(CASE WHEN doc_id % 10 = 0 THEN NULL
        |    ELSE list_transform(range(1, CAST(doc_id % 3 AS INT) + 2),
        |      i -> (doc_id * i * 37) % 500) END), 0) AS n_links
        |  FROM documents)
        |SELECT doc_id FROM l WHERE n_links >= 2 AND NOT n_links = 3
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.and(
          Where.geInt("links", 2L),
          Where.not(Where.eqInt("links", 3L)))),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.2 scalar-FK guard: Int Equal on a SCALAR ref column is FK equality,
    // not edge count (count semantics are array-cref-specific)
    Gate("q_ref_fk_equal",
      """SELECT o_orderkey FROM orders WHERE o_custkey = 101
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Order",
        where = Some(Where.eqInt("o_custkey", 101L)),
        properties = Seq("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },

    // §2.2 array-cref path filter (beacon-list semi-join) composed with Not:
    // docs linking to at least one German doc, themselves not German
    Gate("q_ref_filter_array",
      """SELECT d.doc_id FROM documents d
        |WHERE EXISTS (
        |  SELECT 1 FROM documents t WHERE t.lang = 'de' AND list_contains(
        |    CASE WHEN d.doc_id % 10 = 0 THEN NULL
        |      ELSE list_transform(range(1, CAST(d.doc_id % 3 AS INT) + 2),
        |        i -> (d.doc_id * i * 37) % 500) END,
        |    t.doc_id))
        |  AND NOT d.lang = 'de'
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.and(
          Where.eqText("links/Document/lang", "de"),
          Where.not(Where.eqText("lang", "de")))),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §1.1 multi-tenancy: tenant key = physical partition, pruned at scan
    Gate("q_tenant",
      """SELECT event_id FROM events WHERE event_type = 'click' AND value > 50
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("EventTenant",
        tenant = Some("click"),
        where = Some(Where.gtNum("value", 50.0)),
        properties = Seq("event_id")))
        .orderBy(col("event_id"))
    },

    // §2.4 explainScore: per-term BM25 contribution breakdown
    Gate("q_bm25_explain", {
      val (ctes, _) = sqlBm25(Seq("spark", "join"))
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score,
         |       round(c0, 4) AS c_spark, round(c1, 4) AS c_join
         |FROM scored WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 10""".stripMargin
    }) { (s, dir) =>
      // through the ENGINE facade: `_additional { explainScore }` forces the
      // scan/explain plan and projects the per-term _exp_* columns
      g(s, dir).get(GetParams("Document",
        bm25 = Some(Bm25("spark join", properties = Seq("text"))),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("doc_id"),
        additional = Set("score", "explainScore")))
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 4).as("score"),
          round(col(Bm25Search.explainCol("spark")), 4).as("c_spark"),
          round(col(Bm25Search.explainCol("join")), 4).as("c_join"))
    },

    // §2.4 multi-property BM25F with a non-1 boost and a repeated query
    // term: the reference's cross-prop merge (boost folded into frequency,
    // freq+distinct-len summed across props, ONE saturation with the pooled
    // avg length, idf × duplicateTextBoost — bm25_searcher.go:825,950-951,
    // 408-453,663; model pinned by Bm25fReferenceParitySpec). title's terms
    // are a prefix-slice of text's, so merges actually occur. Served from
    // the registered (text,title) postings index (full-set dictionary).
    // full BM25F model in SQL: title = first-4-words slice of text (the same
    // derivation as Fixtures), boost 1.5 multiplied into the raw frequency,
    // per-term dl = Σ of the matching props' DISTINCT-token counts, pooled
    // avgdl = mean of the two props' mean lengths, idf of 'spark' doubled
    // (the query repeats it)
    Gate("q_bm25f_multiprop", {
      val terms = Seq(("spark", 2), ("join", 1))
      val termExprs = terms.zipWithIndex.map { case ((t, dup), i) =>
        val f = s"(1.5 * len(list_filter(ttoks, x -> x = '$t')) + 1.0 * len(list_filter(toks, x -> x = '$t')))"
        val dl = s"((CASE WHEN list_contains(ttoks, '$t') THEN dlti ELSE 0 END) + (CASE WHEN list_contains(toks, '$t') THEN dlt ELSE 0 END))"
        s"""(CASE WHEN $f > 0 THEN $dup * ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5))
           |  * $f / ($f + 1.2 * (0.25 + 0.75 * $dl / avgdl)) ELSE 0 END) AS c$i,
           |(CASE WHEN $f > 0 THEN 1 ELSE 0 END) AS m$i""".stripMargin
      }.mkString(", ")
      val dfCols = terms.map(_._1).zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains(toks, '$t') OR list_contains(ttoks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
      }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id,
         |         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         |         list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 4) AS ttoks
         |  FROM documents),
         |feat AS (SELECT doc_id, toks, ttoks,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) AS dlt,
         |         CAST(len(list_distinct(ttoks)) AS DOUBLE) AS dlti FROM tok),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |          (avg(dlt) + avg(dlti)) / 2 AS avgdl, $dfCols FROM feat),
         |scored AS (SELECT doc_id, $termExprs FROM feat CROSS JOIN stats)
         |SELECT doc_id, round(c0 + c1, 4) AS score FROM scored
         |WHERE m0 + m1 >= 1
         |ORDER BY c0 + c1 DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        bm25 = Some(Bm25("spark join spark", properties = Seq("title^1.5", "text"))),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.4 BM25 via the materialized postings table (same math as q_bm25's
    // scan path — the oracle is the identical BM25 formula in SQL)
    Gate("q_bm25_postings", {
      val (ctes, _) = sqlBm25(Seq("spark", "join", "stream", "window"))
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      val idx = postingsFor(gg, dir)
      Postings.search(idx, "spark join stream window", 20, props = Some(Seq("text")))
        .select(col("doc_id"), round(col(Bm25Search.ScoreCol), 4).as("score"))
    },

    // §2.4 stopword configuration (reference: invertedIndexConfig.stopwords —
    // preset en ± additions/removals; the INDEX keeps stopwords, QUERY terms
    // drop them, bm25_searcher.go:381-390 + analyzer.go:178). The bed's
    // config adds 'spark' and removes 'the', so the query "the spark join"
    // effectively scores [the, join] — wrong term sets (unfiltered, or
    // preset-without-config) produce different scores and fail the hash.
    // effective terms after stopword config (en + spark − the) = [the, join]
    Gate("q_bm25_stopwords", {
      val (ctes, _) = sqlBm25(Seq("the", "join"))
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      if (!gg.hasCollection("DocStop")) {
        val d = gg.collection("Document")
        gg.register(d.schema.copy(name = "DocStop",
          properties = d.schema.properties.filter(_.name == "text"),
          stopwords = StopwordConfig(preset = "en",
            additions = Seq("spark"), removals = Seq("the"))), d.df)
      }
      gg.get(GetParams("DocStop",
        bm25 = Some(Bm25("the spark join", properties = Seq("text"))),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.4 accent folding (reference: textAnalyzer.asciiFold,
    // entities/tokenizer/ascii_fold.go — applied to indexed text AND query
    // terms). The bed maps vowels to accented forms (translate — exactly
    // reproducible); folding must recover the original text bit-for-bit, so
    // the oracle is the plain unaccented BM25 model: any folding defect
    // (missed mark, wrong NFD handling, unfolded query) changes the scores
    // and fails the hash. The query itself is accented to prove the
    // query-side fold.
    // folding recovers lower(text) exactly, so the oracle is the plain
    // unaccented BM25 model over documents
    Gate("q_bm25_asciifold", {
      val (ctes, _) = sqlBm25(Seq("spark", "join", "stream"))
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      if (!gg.hasCollection("DocAcc")) {
        val docs = gg.collection("Document").df
        gg.register(CollectionSchema("DocAcc", "doc_id", Seq(
          Property("text_acc", PropType.Text, asciiFold = true))),
          docs.select(col("doc_id"),
            translate(lower(col("text")), "aeo", "áéö").as("text_acc")))
      }
      gg.get(GetParams("DocAcc",
        bm25 = Some(Bm25("spárk jöin stréam", properties = Seq("text_acc"))),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.4 BM25 over a CJK corpus via the dictionary-free bigram fallback
    // (Lucene CJKAnalyzer semantics; reference gse_ch mode env-gated exactly
    // like Tokenize.cjkBigramFallback — tokenizer.go:42-46,243-247). The
    // query mixes a Han bigram term with Latin word terms, so both arms of
    // the mixed-script tokenizer are load-bearing on BOTH the corpus and
    // query side; scoring model identical to q_bm25 (same DuckDB CTEs with
    // the bigram tok expression swapped in). The Han term 一的 ('ea' under
    // the vowel translate) has REAL document frequency (391 docs at
    // sf0.01) — a df-0 bigram would make the query-side Han arm vacuous
    // (dropping it entirely would not change a single score).
    // same BM25 CTEs with the CJK bigram tokenization swapped in: Han runs →
    // overlapping bigrams (length-1 run stays a unigram), Latin runs → word
    // tokens; the bed is documents.text with vowels translate()d to Han —
    // byte-identical derivation on both sides
    Gate("q_bm25_cjk", {
      val cjkTok =
        """flatten(list_transform(
          |  regexp_extract_all(text, '[\p{Han}]+|[a-z0-9]+'),
          |  r -> CASE WHEN regexp_matches(r, '^[\p{Han}]')
          |       THEN CASE WHEN length(r) = 1 THEN [r]
          |            ELSE list_transform(range(1, length(r)), i -> substring(r, i, 2)) END
          |       ELSE [r] END))""".stripMargin
      val (ctes, _) = sqlBm25(Seq("一的", "str", "d"),
        source = "(SELECT doc_id, translate(lower(text), 'aeiou', '的一是不了') AS text FROM documents)",
        tokExpr = cjkTok)
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      cjkBedFor(gg)
      graft.text.Tokenize.withCjkFallback {
        gg.get(GetParams("DocCjk",
          bm25 = Some(Bm25("一的 str d", properties = Seq("text_cjk"))),
          pagination = Some(Pagination(limit = 20)),
          properties = Seq("doc_id"),
          additional = Set("score")))
          .select(col("doc_id"), round(col("_score"), 4).as("score"))
      }
    },

    // §2.4 dictionary-mode CJK keyword search (reference: tokenizer.go:122-173
    // gse user-dictionary loading): `tokenization: gse` + a user dictionary →
    // longest-match (FMM) segmentation instead of the bigram fallback; the
    // oracle replays the SAME rule as a longest-first regex alternation in
    // DuckDB — two independent formulations of forward maximum matching
    // user-dict FMM replayed as a longest-first regex alternation: RE2's
    // leftmost scan + the dict words before the '.' fallback IS forward
    // maximum matching (every dict word here is length 2; the 3-vs-2
    // priority is spec-pinned in TokenizeSpec)
    Gate("q_bm25_cjk_dict", {
      val dictTok =
        """flatten(list_transform(
          |  regexp_extract_all(text, '[\p{Han}]+|[a-z0-9]+'),
          |  r -> CASE WHEN regexp_matches(r, '^[\p{Han}]')
          |       THEN regexp_extract_all(r, '(一的|不了|了一|.)')
          |       ELSE [r] END))""".stripMargin
      val (ctes, _) = sqlBm25(Seq("一的", "str", "d"),
        source = "(SELECT doc_id, translate(lower(text), 'aeiou', '的一是不了') AS text FROM documents)",
        tokExpr = dictTok)
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      cjkDictBedFor(gg)
      graft.text.Tokenize.withCjkUserDict(CjkUserDict) {
        gg.get(GetParams("DocCjkDict",
          bm25 = Some(Bm25("一的 str d", properties = Seq("text_cjk"))),
          pagination = Some(Pagination(limit = 20)),
          properties = Seq("doc_id"),
          additional = Set("score")))
          .select(col("doc_id"), round(col("_score"), 4).as("score"))
      }
    },

    // §2.4 ranking-quality harness (reference: test/benchmark_bm25/lib/
    // scores.go — the one reference MEASUREMENT surface): BM25 top-10 pages
    // for a fixed 3-query workload scored against deterministic binary
    // qrels (first-term tf ≥ k on even doc_ids — moderate-size relevant
    // sets with real misses); nDCG / p@1 / p@5 via QualityMetrics, every
    // stage replayed in the oracle
    // full replay of the quality harness: per-query BM25 top-10 (each in its
    // own scoped WITH so the sqlBm25 CTE names don't collide), tf-based
    // qrels, then the scores.go math — natural-log binary DCG, IDCG over all
    // m matching (Σ_{j=2}^{m+1} 1/ln j), p@1 = h1/Q, p@5 = h5/(5Q)
    Gate("q_bm25_ndcg", {
      val workload = Seq((1, "spark", 5), (2, "window", 5), (3, "vector", 4))
      val resCtes = workload.map { case (qid, term, _) =>
        val (ctes, _) = sqlBm25(Seq(term))
        s"""r$qid AS (SELECT $qid AS query_id, doc_id,
           |  row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
           |  FROM (WITH $ctes
           |        SELECT doc_id, score_exact AS s FROM scored
           |        WHERE terms_matched >= 1
           |        ORDER BY score_exact DESC, doc_id LIMIT 10))""".stripMargin
      }.mkString(",\n")
      val qrelArms = workload.map { case (qid, term, k) =>
        s"""SELECT $qid AS query_id, doc_id FROM documents
           |WHERE len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           |      x -> x = '$term')) >= $k AND doc_id % 2 = 0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $resCtes,
         |res AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3),
         |qr AS ($qrelArms),
         |idcg AS (SELECT query_id, count(*) AS m FROM qr GROUP BY 1),
         |perq AS (SELECT r.query_id, sum(1.0 / ln(r.rnk + 1)) AS dcg,
         |         CAST(sum(CASE WHEN r.rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         |         CAST(sum(CASE WHEN r.rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5
         |         FROM res r JOIN qr q ON r.query_id = q.query_id AND r.doc_id = q.doc_id
         |         GROUP BY 1),
         |f AS (SELECT i.query_id,
         |      list_sum(list_transform(range(2, i.m + 2), j -> 1.0 / ln(j))) AS idcg_v,
         |      coalesce(p.dcg, 0) AS dcg, coalesce(p.h1, 0) AS h1, coalesce(p.h5, 0) AS h5
         |      FROM idcg i LEFT JOIN perq p USING (query_id))
         |SELECT round(avg(dcg / idcg_v), 4) AS ndcg,
         |       round(sum(h1) / count(*), 4) AS p_at_1,
         |       round(sum(h5) / (count(*) * 5), 4) AS p_at_5,
         |       count(*) AS num_queries FROM f""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      val workload = Seq((1L, "spark", 5), (2L, "window", 5), (3L, "vector", 4))
      val docs = gg.collection("Document").df
      val results = workload.map { case (qid, term, _) =>
        gg.get(GetParams("Document",
          bm25 = Some(Bm25(term, properties = Seq("text"))),
          pagination = Some(Pagination(limit = 10)),
          properties = Seq("doc_id"),
          additional = Set("score")))
          .select(lit(qid).as("query_id"), col("doc_id"),
            row_number().over(BoundedWindow.ordered(
              col("_score").desc, col("doc_id").asc)).as("rank"))
      }.reduce(_ unionByName _)
      val qrels = workload.map { case (qid, term, k) =>
        docs.filter(
            size(filter(graft.text.Tokenize.word(col("text")),
              x => x === lit(term))) >= k && col("doc_id") % 2 === 0)
          .select(lit(qid).as("query_id"), col("doc_id"))
      }.reduce(_ unionByName _)
      QualityMetrics.scores(results, col("query_id"), col("doc_id"), col("rank"),
          qrels, col("query_id"), col("doc_id"))
        .select(round(col("ndcg"), 4).as("ndcg"),
          round(col("p_at_1"), 4).as("p_at_1"),
          round(col("p_at_5"), 4).as("p_at_5"), col("num_queries"))
    },

    // §2.3 dynamic search breadth — the reference's ef = -1 "let Weaviate
    // pick" policy (hnsw/search.go:46-76, defaults config.go:29-32) as a
    // k-scaled IVF probe count. Bed sized SF-independently (vec_id < 400,
    // nlist=8 → mean list 50); k=63 → ef = clamp(8·63, 100, 500) = 500 →
    // all 8 lists probed → exact, so the brute-force oracle hash-matches;
    // AnnSpec pins the partial-probe arithmetic and the recall bar.
    // dynamic breadth policy demands all 8 lists at k=63 (ef cap 500 ≥ the
    // 400-row bed) → exact → brute-force oracle; the partial-probe regime
    // is spec territory (AnnSpec dynamic-probe arithmetic + recall)
    Gate("q_near_dynef",
      s"""WITH ${sqlQv(13)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q WHERE e.vec_id < 400)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 63""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      if (!gg.hasCollection("EmbDyn")) {
        val bed = gg.collection("Embedding").df.filter(col("vec_id") < 400)
        gg.register(CollectionSchema("EmbDyn", "vec_id", Seq(Property("label", PropType.Int)),
          vectors = Map("default" -> "embedding"), defaultVector = Some("default")), bed)
        gg.registerIndex("EmbDyn", "default",
          graft.ann.IvfIndex.build(bed, "vec_id", "embedding", nlist = 8)
            .copy(dynamicProbe = Some(graft.ann.DynamicProbeConfig())))
      }
      gg.get(GetParams("EmbDyn",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 13L), metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 63)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 ANN-index-served nearVector: Graft.get routes through the
    // registered IVF index (planner = IvfIndex.searchOrScan); full probe here
    // keeps it exact so the brute-force SQL oracle hash-matches, while the
    // probed plan reads centroid partitions (pruning asserted in AnnSpec)
    Gate("q_near_ivf",
      s"""WITH ${sqlQv(13)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 12""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      gg.registerIndex("Embedding", "default", ivfFor(gg, dir))
      gg.get(GetParams("Embedding",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 13L), metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 12)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 RNG-replica posting index (hfresh/SPFresh analogue — rng.go
    // replica selection at build, posting-pruned probe + id-dedup at search;
    // full probe ⇒ exact ⇒ brute-force oracle; the rejection rule and the
    // diversity effect are pinned in AnnSpec)
    // full probe + dedup over the RNG-replicated layout ≡ brute force
    // FULL RNG replay at nprobe=2 of 8 pinned centroids (vecs 0..7):
    // per-vector replica selection (first = nearest centroid; second =
    // nearest remaining centroid NOT within (1/f)·d² of the first — the
    // rng.go squared-distance rule, mirrored op-for-op incl. the 1/f-then-
    // multiply), probe ranking, candidate union, exact top-10. Posting
    // membership is load-bearing: nearest-2, inverted-condition and
    // replicas=1 assignments all produce a different page.
    Gate("q_near_ivf_rng",
      s"""WITH ${sqlQv(29)},
         |c AS (SELECT CAST(vec_id AS INTEGER) AS cl, embedding AS cv
         |      FROM embeddings WHERE vec_id < 8),
         |cd AS (SELECT a.cl AS ca, b.cl AS cb, ${sqlL2("a.cv", "b.cv")} AS dcc
         |       FROM c a CROSS JOIN c b),
         |vd AS (SELECT e.vec_id, c.cl, ${sqlL2("e.embedding", "c.cv")} AS d
         |       FROM embeddings e CROSS JOIN c),
         |s1 AS (SELECT vec_id, cl AS g1 FROM (
         |  SELECT vec_id, cl, d, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d ASC, cl ASC) AS rn FROM vd)
         |  WHERE rn = 1),
         |s2 AS (SELECT vec_id, cl AS g2 FROM (
         |  SELECT vd.vec_id, vd.cl, row_number() OVER (
         |    PARTITION BY vd.vec_id ORDER BY vd.d ASC, vd.cl ASC) AS rn
         |  FROM vd JOIN s1 USING (vec_id)
         |  JOIN cd ON cd.ca = vd.cl AND cd.cb = s1.g1
         |  WHERE vd.cl != s1.g1 AND NOT (cd.dcc <= (1.0 / $RngBedFactor) * vd.d))
         |  WHERE rn = 1),
         |pr AS (SELECT cl FROM (
         |  SELECT c.cl, ${sqlL2("q.v", "c.cv")} AS dq FROM c CROSS JOIN qv q)
         |  QUALIFY row_number() OVER (ORDER BY dq ASC, cl ASC) <= 2),
         |asg AS (SELECT vec_id, g1 AS g FROM s1
         |        UNION ALL SELECT vec_id, g2 FROM s2),
         |cand AS (SELECT DISTINCT a.vec_id FROM asg a JOIN pr ON a.g = pr.cl),
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q JOIN cand USING (vec_id))
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      ivfRngFor(gg, dir).search(Fixtures.anchorVector(gg, 29L),
          k = 10, Metric.L2Squared, nprobe = 2)
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 DYNAMIC index (reference: vector/dynamic/index.go + config.go:25
    // DefaultThreshold): built flat over the first 50 embeddings (below the
    // threshold of 100 — shouldUpgrade reports (true, 100)), then an append
    // of the remaining rows crosses the threshold and triggers the flat→IVF
    // rebuild; the search runs against the UPGRADED index at full probe over
    // the complete corpus, so the brute-force oracle hash-matches while the
    // whole flat→upgrade→probe transition is on the executed path. The
    // low-probe approximate regime + plan pruning live in DynamicIndexSpec.
    // the upgraded dynamic index serves the full corpus at full probe, so
    // the oracle is plain brute-force top-k (the flat→upgrade transition is
    // asserted engine-side by dynFor's requires + DynamicIndexSpec)
    Gate("q_near_dynamic",
      s"""WITH ${sqlQv(29)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 12""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val eng = new graft.engine.Graft(s)
      eng.register(gg.collection("Embedding"))
      eng.registerDynamicIndex("Embedding", "default", dynFor(gg, dir))
      eng.get(GetParams("Embedding",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 29L), metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 12)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 multi-target search served from PER-TARGET index probes (union of
    // per-target IVF candidate lists, exact backfill, Sum combine —
    // reference CombineMultiTargetResults, shard_combine_multi_target.go:89).
    // Full probes make the per-target lists exact, so the DuckDB pool oracle
    // reproduces the candidate-union semantics deterministically. An
    // ISOLATED engine instance carries the indexes: registering "rev" on the
    // shared fixture would flip q_near_multitarget's later runs from its
    // exact-scan oracle onto the pool semantics mid-session.
    // pool semantics: candidates = union of per-target exact top-10 (full
    // probes), Sum-combined and ranked WITHIN the pool — the reference's
    // candidate-union model, which can differ from the global-scan top-10
    Gate("q_near_multitarget_ivf",
      s"""WITH ${sqlQv(11)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS d0,
         |             ${sqlL2Rev("e.embedding", "q.v")} AS d1
         |      FROM embeddings e CROSS JOIN qv q),
         |t0 AS (SELECT vec_id FROM d ORDER BY d0 ASC, vec_id ASC LIMIT 10),
         |t1 AS (SELECT vec_id FROM d ORDER BY d1 ASC, vec_id ASC LIMIT 10),
         |pool AS (SELECT * FROM d
         |         WHERE vec_id IN (SELECT vec_id FROM t0 UNION SELECT vec_id FROM t1))
         |SELECT vec_id, round(d0 + d1, 4) AS dist FROM pool
         |ORDER BY d0 + d1 ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val eng = new graft.engine.Graft(s)
      eng.register(gg.collection("Embedding"))
      eng.registerIndex("Embedding", "default", ivfFor(gg, dir))
      eng.registerIndex("Embedding", "rev", ivfRevFor(gg, dir))
      eng.get(GetParams("Embedding",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 11L), metric = Metric.L2Squared,
          targetVectors = Seq("default", "rev"), combination = TargetCombination.Sum)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.7 `_additional { featureProjection }`: driver-side t-SNE over the
    // bounded result page (reference: projector module, projector.go Reduce).
    // The projected floats are engine-defined (seeded init — go-tsne's random
    // init makes the reference's floats unreproducible by design too), so the
    // oracle pins the CHECKABLE surface: the page itself (top-12 ids in
    // distance order — the decoration must not disturb it) plus projection
    // arity and per-coordinate finiteness, i.e. every page row got a real
    // 2-d projection. The float behavior (determinism, re-centering, cluster
    // separation) is pinned by FeatureProjectionSpec.
    // the page is q_near_l2-shaped; dims/finite are the projection's
    // oracle-checkable invariants (the floats are engine-defined)
    Gate("q_feature_projection",
      s"""WITH ${sqlQv(7)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist, 2 AS dims, true AS finite FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 12""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("Embedding",
        nearObject = Some(NearObject(7L, metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 12)),
        properties = Seq("vec_id"),
        additional = Set("distance", "featureProjection")))
        .select(col("vec_id"),
          round(col("_distance"), 4).as("dist"),
          size(col("_featureProjection")).as("dims"),
          forall(col("_featureProjection"),
            x => !isnan(x) && abs(x) < lit(Float.MaxValue)).as("finite"))
    },

    // §2.7 contextionary `_additional { nearestNeighbors }` (reference:
    // text2vec-contextionary/additional/nearestneighbors/extender.go — per
    // result, the nearest concept words; vocab = the registered module data,
    // Fixtures.conceptVocab): pure column expression over the bounded page,
    // the vocab rides the plan as a literal
    // per result, cosine-rank the literal-inlined vocabulary (the module
    // data), take the extender's DefaultLimit 10; same tie-break as the
    // engine's array_sort on (distance, concept)
    Gate("q_nearest_neighbors", {
      val vocLit = Fixtures.conceptVocab.map { case (w, v) =>
        s"('$w', ${v.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")})"
      }.mkString(",\n  ")
      s"""WITH voc(word, cv) AS (VALUES
         |  $vocLit),
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
         |d AS (SELECT dv.doc_id, e.embedding, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM documents dv JOIN embeddings e ON dv.doc_id = e.vec_id
         |      CROSS JOIN qv q),
         |top AS (SELECT doc_id, embedding FROM d ORDER BY dist ASC, doc_id ASC LIMIT 5),
         |nn AS (SELECT t.doc_id, voc.word, ${sqlCosine("voc.cv", "t.embedding")} AS cd
         |       FROM top t CROSS JOIN voc),
         |r AS (SELECT doc_id, word, cd,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY cd, word) AS rn FROM nn)
         |SELECT doc_id, CAST(rn AS BIGINT) AS step, word AS concept, round(cd, 4) AS dist
         |FROM r WHERE rn <= 10 ORDER BY doc_id, step""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("DocVec",
        nearObject = Some(NearObject(7L, metric = Metric.Cosine)),
        pagination = Some(Pagination(limit = 5)),
        properties = Seq("doc_id"),
        additional = Set("nearestNeighbors")))
        .select(col("doc_id"), posexplode(col("_nearestNeighbors")).as(Seq("i", "nn")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("step"),
          col("nn.concept").as("concept"), round(col("nn.distance"), 4).as("dist"))
        .orderBy(col("doc_id"), col("step"))
    },

    // §2.7 contextionary `_additional { semanticPath }` (reference:
    // additional/sempath/builder.go): greedy concept walk from the search
    // vector to each result + cosine annotations. The engine walks in the
    // ORIGINAL space (the reference projects through a time-seeded t-SNE —
    // non-reproducible by design; see Contextionary scaladoc), so the whole
    // walk is replayed step-by-step in the oracle
    // the greedy walk unrolled: the path visits each concept at most once
    // (a stepped-to concept fails its own strict dist-to-target bound), so
    // |vocab| chained step-CTEs cover every possible path; each step =
    // top-10-by-current-distance restriction, strict dist-to-target filter,
    // first survivor — exactly Contextionary.walk / builder.go buildPath
    Gate("q_semantic_path", {
      def l2s(a: String, b: String): String =
        s"sqrt(list_sum(list_transform(range(1, len($a)+1), i -> " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))))"
      val vocLit = Fixtures.conceptVocab.map { case (w, v) =>
        s"('$w', ${v.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")})"
      }.mkString(",\n  ")
      val maxSteps = Fixtures.conceptVocab.size
      val stepCtes = (1 to maxSteps).map { k =>
        val cand =
          if (k == 1)
            s"""cand$k AS (SELECT t.doc_id, v.word,
               |  ${l2s("v.cv", "q.v")} AS dcur,
               |  ${l2s("v.cv", "t.embedding")} AS dtgt, 1e308 AS mind
               |  FROM top t CROSS JOIN voc v CROSS JOIN qv q)""".stripMargin
          else
            s"""cand$k AS (SELECT t.doc_id, v.word,
               |  ${l2s("v.cv", "pv.cv")} AS dcur,
               |  ${l2s("v.cv", "t.embedding")} AS dtgt,
               |  ${l2s("pv.cv", "t.embedding")} AS mind
               |  FROM top t JOIN s${k - 1} s ON s.doc_id = t.doc_id
               |  JOIN voc pv ON pv.word = s.word CROSS JOIN voc v)""".stripMargin
        cand + ",\n" +
          s"""s$k AS (SELECT doc_id, word FROM (
             |  SELECT doc_id, word, dtgt, mind,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY dcur, word) AS r10
             |  FROM cand$k) x
             |  WHERE r10 <= 10 AND dtgt < mind
             |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY r10) = 1)""".stripMargin
      }.mkString(",\n")
      val pathUnion = (1 to maxSteps)
        .map(k => s"SELECT doc_id, $k AS step, word FROM s$k")
        .mkString("\nUNION ALL\n")
      s"""WITH voc(word, cv) AS (VALUES
         |  $vocLit),
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
         |d AS (SELECT dv.doc_id, e.embedding, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM documents dv JOIN embeddings e ON dv.doc_id = e.vec_id
         |      CROSS JOIN qv q),
         |top AS (SELECT doc_id, embedding FROM d ORDER BY dist ASC, doc_id ASC LIMIT 2),
         |$stepCtes,
         |path AS ($pathUnion),
         |ann AS (SELECT doc_id, step, word,
         |        lag(word) OVER w AS prevw, lead(word) OVER w AS nextw
         |        FROM path WINDOW w AS (PARTITION BY doc_id ORDER BY step)),
         |fin AS (SELECT a.doc_id, CAST(a.step AS BIGINT) AS step, a.word AS concept,
         |        ${sqlCosine("v.cv", "q.v")} AS d_query,
         |        ${sqlCosine("v.cv", "t.embedding")} AS d_result,
         |        CASE WHEN pv.word IS NULL THEN NULL
         |             ELSE ${sqlCosine("v.cv", "pv.cv")} END AS d_prev,
         |        CASE WHEN nv.word IS NULL THEN NULL
         |             ELSE ${sqlCosine("v.cv", "nv.cv")} END AS d_next
         |        FROM ann a JOIN voc v ON v.word = a.word
         |        LEFT JOIN voc pv ON pv.word = a.prevw
         |        LEFT JOIN voc nv ON nv.word = a.nextw
         |        JOIN top t ON t.doc_id = a.doc_id CROSS JOIN qv q)
         |SELECT doc_id, step, concept, round(d_query, 4) AS d_query,
         |       round(d_result, 4) AS d_result, round(d_prev, 4) AS d_prev,
         |       round(d_next, 4) AS d_next
         |FROM fin ORDER BY doc_id, step""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("DocVec",
        nearObject = Some(NearObject(7L, metric = Metric.Cosine)),
        pagination = Some(Pagination(limit = 2)),
        properties = Seq("doc_id"),
        additional = Set("semanticPath")))
        .select(col("doc_id"), posexplode(col("_semanticPath")).as(Seq("i", "p")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("step"),
          col("p.concept").as("concept"),
          round(col("p.distanceToQuery"), 4).as("d_query"),
          round(col("p.distanceToResult"), 4).as("d_result"),
          round(col("p.distanceToPrevious"), 4).as("d_prev"),
          round(col("p.distanceToNext"), 4).as("d_next"))
        .orderBy(col("doc_id"), col("step"))
    },

    // §2.7 contextionary `_additional { interpretation }` (reference:
    // additional/interpretation/interpretation.go — the source words behind
    // the object vector): per result, the distinct vectorizer-corpus tokens
    // in first-occurrence order with occurrence counts and weight shares;
    // the corpus is the SAME VectorizerCorpus rule the embedding uses
    // corpus replay: class name + lang/maybe_src/source/text/title in
    // prop-name order (concat_ws skips the NULL maybe_src), title = the
    // fixture's first-4-words derivation; first-occurrence order via
    // min(position) over a range-join tokenization with ordinality
    Gate("q_interpretation",
      """WITH page AS (SELECT doc_id, text, lang, source FROM documents
        |             WHERE doc_id > 10 ORDER BY doc_id LIMIT 5),
        |c AS (SELECT doc_id, concat_ws(' ', 'document', lower(lang),
        |      lower(CASE WHEN source = 'src13' THEN NULL ELSE source END),
        |      lower(source), lower(text),
        |      array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+')[1:4], ' '))
        |      AS corpus FROM page),
        |t AS (SELECT doc_id, regexp_extract_all(lower(corpus), '[a-z0-9]+') AS toks FROM c),
        |pos AS (SELECT doc_id, toks, u.p AS p FROM t
        |        CROSS JOIN (SELECT unnest(range(1, 2001)) AS p) u
        |        WHERE u.p <= len(toks)),
        |g AS (SELECT doc_id, toks[p] AS concept, count(*) AS occurrence,
        |      min(p) AS firstp, min(len(toks)) AS n FROM pos GROUP BY 1, 2),
        |r AS (SELECT doc_id, concept, occurrence,
        |      CAST(occurrence AS DOUBLE) / n AS weight,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY firstp) AS step FROM g)
        |SELECT doc_id, CAST(step AS BIGINT) AS step, concept,
        |       CAST(occurrence AS BIGINT) AS occurrence, round(weight, 4) AS weight
        |FROM r ORDER BY doc_id, step""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        cursor = Some(Cursor(after = Some(10L), limit = 5)),
        properties = Seq("doc_id"),
        additional = Set("interpretation")))
        .select(col("doc_id"), posexplode(col("_interpretation")).as(Seq("i", "e")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("step"),
          col("e.concept").as("concept"), col("e.occurrence").as("occurrence"),
          round(col("e.weight"), 4).as("weight"))
        .orderBy(col("doc_id"), col("step"))
    },

    // §2.10 contextual (training-data-free) classification — the reference's
    // text2vec-contextionary-contextual type (classifier_run_contextual.go:
    // IG-vs-targets word scoring, per-doc tf-idf + IG percentile cutoffs,
    // ln-decay boosts, boosted-corpus re-vectorization, cosine argmin). The
    // bed restricts text to the 12-word concept vocabulary so the oracle can
    // inline every word vector and replay the ENTIRE model in SQL.
    // full contextual-classification model replay: vocab + target vectors
    // inlined as literals, tf-idf (log10, per-doc length-normalized tf), IG
    // per word (ordered list_sum so the mean accumulates in the engine's
    // target order), per-doc percentile windows with integer-truncated
    // cutoffs, ln-decay boosts, dim-level weighted-sum corpus vector, cosine
    // argmin with the (dist, target) tie-break; zero-norm rows dropped
    Gate("q_classify_contextual", {
      val vocLit = Fixtures.conceptVocab.map { case (w, v) =>
        s"('$w', ${v.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")})"
      }.mkString(",\n  ")
      val vocNames = Fixtures.conceptVocab.map(w => s"'${w._1}'").mkString("[", ", ", "]")
      val tgtLit = ContextualTargets.zipWithIndex.map { case ((t, v), i) =>
        s"('$t', $i, ${v.map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")})"
      }.mkString(",\n  ")
      s"""WITH voc(word, v) AS (VALUES
         |  $vocLit),
         |tgt(tid, ord, tv) AS (VALUES
         |  $tgtLit),
         |src AS (SELECT doc_id,
         |        list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         |                    t -> list_contains($vocNames, t)) AS toks
         |        FROM documents WHERE doc_id % 5 = 0),
         |bed AS (SELECT doc_id, toks, len(toks) AS dl FROM src WHERE len(toks) > 0),
         |sn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bed),
         |occ AS (SELECT doc_id, dl, unnest(toks) AS word FROM bed),
         |occg AS (SELECT doc_id, dl, word, count(*) AS cnt FROM occ GROUP BY 1, 2, 3),
         |dfidf AS (SELECT word, log10(sn.n / count(DISTINCT doc_id)) AS idf
         |          FROM occg CROSS JOIN sn GROUP BY word, sn.n),
         |wdist AS (SELECT voc.word, tgt.ord, ${sqlCosine("voc.v", "tgt.tv")} AS cd
         |          FROM voc CROSS JOIN tgt),
         |wstat AS (SELECT word,
         |          list_sum(list(cd ORDER BY ord)) / count(*) - min(cd) AS ig
         |          FROM wdist GROUP BY word),
         |ranked AS (SELECT o.doc_id, o.word, o.cnt, w.ig,
         |           (CAST(o.cnt AS DOUBLE) / o.dl) * d.idf AS tfidf,
         |           row_number() OVER (PARTITION BY o.doc_id ORDER BY w.ig DESC, o.word) AS rn_ig,
         |           row_number() OVER (PARTITION BY o.doc_id ORDER BY (CAST(o.cnt AS DOUBLE) / o.dl) * d.idf DESC, o.word) AS rn_tf,
         |           count(*) OVER (PARTITION BY o.doc_id) AS nw
         |           FROM occg o JOIN wstat w ON w.word = o.word
         |           JOIN dfidf d ON d.word = o.word),
         |cutted AS (SELECT *,
         |           CAST(floor(50 / 100.0 * nw) AS INT) AS cut_ig,
         |           CAST(floor(80 / 100.0 * nw) AS INT) AS cut_tf FROM ranked),
         |weighted AS (SELECT doc_id, word,
         |             CASE WHEN sel_cnt >= 3
         |                  THEN CASE WHEN in_ig AND in_tf THEN boost * cnt ELSE 0 END
         |                  ELSE CASE WHEN rn_ig <= 3 THEN boost ELSE 0 END END AS weight
         |             FROM (SELECT *,
         |                   rn_ig <= cut_ig AS in_ig, rn_tf <= cut_tf AS in_tf,
         |                   CASE WHEN rn_ig > cut_ig THEN 1.0
         |                        WHEN rn_ig = 1 THEN 3.0
         |                        ELSE least(3.0, 1.0 - ln((rn_ig - 1.0) / cut_ig)) END AS boost,
         |                   sum(CASE WHEN rn_ig <= cut_ig AND rn_tf <= cut_tf
         |                            THEN cnt ELSE 0 END)
         |                     OVER (PARTITION BY doc_id) AS sel_cnt
         |                   FROM cutted) x),
         |dims AS (SELECT w.doc_id, u.i AS dim,
         |         sum(w.weight * CAST(voc.v[u.i] AS DOUBLE)) AS s
         |         FROM weighted w JOIN voc ON voc.word = w.word
         |         CROSS JOIN (SELECT unnest(range(1, 65)) AS i) u
         |         WHERE w.weight > 0
         |         GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sum(s * s) AS nrm2 FROM dims GROUP BY 1),
         |dots AS (SELECT d.doc_id, t.tid, sum(d.s * CAST(t.tv[d.dim] AS DOUBLE)) AS dot
         |         FROM dims d CROSS JOIN tgt t GROUP BY 1, 2),
         |tn AS (SELECT tid, sqrt(list_sum(list_transform(tv,
         |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS tnorm FROM tgt),
         |scoredc AS (SELECT dots.doc_id, dots.tid,
         |            1.0 - dots.dot / (sqrt(nrm.nrm2) * tn.tnorm) AS dist,
         |            row_number() OVER (PARTITION BY dots.doc_id
         |              ORDER BY 1.0 - dots.dot / (sqrt(nrm.nrm2) * tn.tnorm), dots.tid) AS rn
         |            FROM dots JOIN nrm ON nrm.doc_id = dots.doc_id
         |            JOIN tn ON tn.tid = dots.tid
         |            WHERE nrm.nrm2 > 0)
         |SELECT doc_id, tid AS target, round(dist, 4) AS dist FROM scoredc
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = g(s, dir).collection("Document").df.filter(col("doc_id") % 5 === 0)
      val vocList = Fixtures.conceptVocab.map(_._1)
      val bed = docs.select(col("doc_id"),
        array_join(filter(graft.text.Tokenize.word(col("text")),
          t => array_contains(typedLit(vocList), t)), " ").as("ctext"))
        .filter(length(col("ctext")) > 0)
      Classify.contextual(bed, col("doc_id"), col("ctext"),
          ContextualTargets, Fixtures.hashEmbedder(64))
        .select(col("id").as("doc_id"), col("target"),
          round(col("winning_distance"), 4).as("dist"))
        .orderBy(col("doc_id"))
    },

    // §2.3 multi-vector (ColBERT) search end-to-end: 2-token query bag vs the
    // MVec collection's array<array<float>> named vector, MaxSim ranking via
    // the codegen'd kernel (reference: shard_read.go:687-698)
    // MaxSim in list math: doc token bag is [e, reverse(e)], so per query
    // token the max-dot is greatest(dot(q, e), dot(q, reverse(e)))
    Gate("q_near_multivec",
      s"""WITH q1 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 9),
         |q2 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 21),
         |d AS (SELECT e.vec_id,
         |  -(greatest(${sqlDot("e.embedding", "a.v")}, ${sqlDot("list_reverse(e.embedding)", "a.v")})
         |  + greatest(${sqlDot("e.embedding", "b.v")}, ${sqlDot("list_reverse(e.embedding)", "b.v")})) AS dist
         |  FROM embeddings e CROSS JOIN q1 a CROSS JOIN q2 b)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("MVec",
        nearMultiVector = Some(NearMultiVector(Array(
          Fixtures.anchorVector(gg, 9L), Fixtures.anchorVector(gg, 21L)))),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.1 store CRUD end-to-end through the versioned parquet store:
    // init → upsert (replace + insert) → merge (PATCH one column) →
    // deleteWhere — the oracle replays the same mutations in SQL
    // replay init → upsert(replace+insert) → merge(PATCH) → delete in SQL;
    // the guard doc_id < 2000000 mirrors the patch frame targeting only
    // original ids
    Gate("q_store_crud",
      """WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |rep AS (SELECT doc_id, 'xx' AS lang, source, n_chars FROM documents WHERE doc_id % 100 = 0),
        |ins AS (SELECT doc_id + 2000000 AS doc_id, lang, source, n_chars FROM documents WHERE doc_id % 100 = 7),
        |v1 AS (SELECT * FROM base WHERE doc_id % 100 <> 0
        |       UNION ALL SELECT * FROM rep UNION ALL SELECT * FROM ins),
        |v2 AS (SELECT doc_id, lang, source,
        |       CASE WHEN doc_id % 97 = 0 AND doc_id < 2000000 THEN -1 ELSE n_chars END AS n_chars
        |       FROM v1)
        |SELECT doc_id, lang, n_chars FROM v2 WHERE source <> 'src13'
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val docs = gg.collection("Document").df
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val schema = CollectionSchema("DocStore", "doc_id", Seq(
        Property("text", PropType.Text),
        Property("lang", PropType.Text, Tokenization.Field),
        Property("source", PropType.Text, Tokenization.Field),
        Property("n_chars", PropType.Int)))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("crud"), schema)
      st.init(docs)
      st.upsert(docs.filter(col("doc_id") % 100 === 0).withColumn("lang", lit("xx"))
        .unionByName(docs.filter(col("doc_id") % 100 === 7)
          .withColumn("doc_id", col("doc_id") + 2000000L)))
      // the 7777777 patch row has no stored object: PATCH on a missing id is
      // a no-op, NOT an insert (merge.go requires an existing object) — an
      // upsert-shaped merge would add the row and break the oracle
      st.merge(docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"),
        lit(-1).cast(docs.schema("n_chars").dataType).as("n_chars"))
        .unionByName(docs.limit(1).select(lit(7777777L).as("doc_id"),
          lit(-1).cast(docs.schema("n_chars").dataType).as("n_chars"))))
      st.deleteWhere(Where.eqText("source", "src13"))
      st.read().select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // §2.1 object TTL expiry through the store (reference:
    // index_objects_ttl.go / usecases/object_ttl): rows older than the TTL
    // relative to a fixed `now` are deleted; the oracle keeps the complement
    // keep = complement of expired (unix_timestamp floors to seconds =
    // epoch_ns integer division)
    Gate("q_store_ttl",
      """SELECT event_id FROM (
        |  SELECT event_id, ts FROM events
        |  UNION ALL SELECT CAST(9000001 AS BIGINT), TIMESTAMP '2024-01-16 00:00:00'
        |  UNION ALL SELECT CAST(9000002 AS BIGINT), TIMESTAMP '2024-01-15 23:59:59.6')
        |WHERE epoch_ns(ts) // 1000000000 >= 1706659200 - 1296000
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = Fixtures.events(s, dir).select(col("event_id"), col("ts"),
        col("event_type"))
      val schema = CollectionSchema("EvStore", "event_id", Seq(
        Property("ts", PropType.Date),
        Property("event_type", PropType.Text, Tokenization.Field)))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("ttl"), schema)
      // boundary plants: 9000001 sits EXACTLY on the cutoff second (kept —
      // the expiry rule is strictly-before; a <= off-by-one deletes it) and
      // 9000002 at cutoff−0.4s (expired — flooring the sub-second part puts
      // it below the cutoff; a rounding implementation keeps it). The
      // natural events leave a ±2-minute dead zone around the cutoff.
      val planted = s.range(1).select(
          lit(9000001L).as("event_id"),
          timestamp_micros(lit(1705363200000000L)).as("ts"),
          lit("planted").as("event_type"))
        .unionByName(s.range(1).select(
          lit(9000002L).as("event_id"),
          timestamp_micros(lit(1705363199600000L)).as("ts"),
          lit("planted").as("event_type")))
      st.init(ev.unionByName(planted))
      // events span 2024-01-01..01-31; now = 01-31T00:00Z, ttl = 15 days
      st.expireTtl("ts", ttlSeconds = 1296000L, nowEpochSeconds = 1706659200L)
      st.read().select(col("event_id")).orderBy(col("event_id"))
    },

    // §2.1 BatchReferences: set-wise edge append onto a beacon-list cref
    // (reference: adapters/repos/db/batch.go:122) — first edge onto a null
    // list, IN-BATCH duplicate + second edge in the same batch (certifies
    // the per-id set collapse, not just dedup against the existing list),
    // duplicate-vs-existing no-op, plain append, unknown-source drop; the
    // oracle replays the same edge batch in list SQL
    // rebuild the deterministic links bed, replay the edge batch in list SQL
    Gate("q_store_refs",
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN NULL
        |         ELSE list_transform(range(1, CAST(doc_id % 3 AS INT) + 2),
        |                             i -> (doc_id * i * 37) % 500) END AS links
        |  FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 10 = 0 THEN [CAST(42 AS BIGINT), CAST(43 AS BIGINT)]
        |      WHEN doc_id % 10 = 5 THEN
        |        CASE WHEN list_contains(links, (doc_id * 37) % 500) THEN links
        |             ELSE list_append(links, (doc_id * 37) % 500) END
        |      WHEN doc_id % 10 = 3 THEN
        |        CASE WHEN list_contains(links, 123) THEN links
        |             ELSE list_append(links, CAST(123 AS BIGINT)) END
        |      ELSE links END AS links
        |  FROM base)
        |SELECT doc_id, array_to_string(list_sort(links), ',') AS links
        |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val docs = gg.collection("Document").df.select(col("doc_id"), col("links"))
      val schema = CollectionSchema("LinkStore", "doc_id", Seq(
        Property("links", PropType.Ref, refTarget = Some("LinkStore"))))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("refs"), schema)
      st.init(docs)
      val d = docs.select(col("doc_id"))
      val edges = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(42L).as("target"))                       // onto null
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), lit(42L).as("target")))                    // in-batch duplicate
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), lit(43L).as("target")))                    // 2nd edge, same batch
        .unionByName(d.filter(col("doc_id") % 10 === 5)
          .select(col("doc_id"), ((col("doc_id") * 37) % 500).as("target"))) // duplicate
        .unionByName(d.filter(col("doc_id") % 10 === 3)
          .select(col("doc_id"), lit(123L).as("target")))                   // append
        .unionByName(d.limit(1).select(lit(99999999L).as("doc_id"),
          lit(7L).as("target")))                                            // dropped
      st.addReferences("links", edges)
      // list rendered as a sorted CSV string — the compare layer hashes
      // scalar values, not arrays
      st.read().select(col("doc_id"),
        concat_ws(",", transform(array_sort(col("links")), x => x.cast("string")))
          .as("links"))
        .orderBy(col("doc_id"))
    },

    // §2.1 reference DELETE + PUT (reference: usecases/objects/
    // references_delete.go — every occurrence of the beacon leaves the
    // list, absent beacon / null list no-op, emptied list stays EMPTY not
    // null; references_update.go:162 — PUT replaces the whole list
    // verbatim): docs ≡15 (mod 30) delete their ONLY edge (the emptied-list
    // arm), %10==7 deletes an absent beacon, %10==2 replaces with a
    // two-edge list carrying an in-batch duplicate, one unknown source
    // drops; the oracle replays edge-wise in list SQL
    // edge-wise replay of the DELETE + PUT batch: list_filter removes every
    // occurrence, ≡15 (mod 30) empties to [] (rendered ""), %10==2 replaces
    // with [7,8], %10==0 stays NULL
    Gate("q_store_refs_ops",
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN NULL
        |         ELSE list_transform(range(1, CAST(doc_id % 3 AS INT) + 2),
        |                             i -> (doc_id * i * 37) % 500) END AS links
        |  FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 10 = 2 THEN [CAST(7 AS BIGINT), CAST(8 AS BIGINT)]
        |      WHEN doc_id % 10 = 5 THEN
        |        list_filter(links, x -> x <> (doc_id * 37) % 500)
        |      ELSE links END AS links
        |  FROM base)
        |SELECT doc_id,
        |  CASE WHEN links IS NULL THEN NULL
        |       -- duckdb array_to_string([]) is NULL; the emptied docs show ''
        |       ELSE coalesce(array_to_string(list_sort(links), ','), '') END AS links
        |FROM v ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val docs = gg.collection("Document").df.select(col("doc_id"), col("links"))
      val schema = CollectionSchema("LinkOps", "doc_id", Seq(
        Property("links", PropType.Ref, refTarget = Some("LinkOps"))))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("refops"), schema)
      st.init(docs)
      val d = docs.select(col("doc_id"))
      val dels = d.filter(col("doc_id") % 10 === 5)
        .select(col("doc_id"), ((col("doc_id") * 37) % 500).as("target"))    // present
        .unionByName(d.filter(col("doc_id") % 10 === 7)
          .select(col("doc_id"), lit(99999L).as("target")))                  // absent
        .unionByName(d.limit(1).select(lit(88888888L).as("doc_id"),
          lit(1L).as("target")))                                             // dropped
      st.deleteReferences("links", dels)
      val puts = d.filter(col("doc_id") % 10 === 2)
        .select(col("doc_id"), lit(7L).as("target"))
        .unionByName(d.filter(col("doc_id") % 10 === 2)
          .select(col("doc_id"), lit(7L).as("target")))                      // in-batch dup
        .unionByName(d.filter(col("doc_id") % 10 === 2)
          .select(col("doc_id"), lit(8L).as("target")))
      st.replaceReferences("links", puts)
      // null and EMPTY render differently (concat_ws would fold both to ""):
      // the emptied ≡15 (mod 30) docs must show "" while untouched %10==0
      // docs stay NULL — the empty-stays-empty rule is hash-visible
      st.read().select(col("doc_id"),
        when(col("links").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(",",
            transform(array_sort(col("links")), x => x.cast("string"))))
          .as("links"))
        .orderBy(col("doc_id"))
    },

    // §2.1 tenant offload/onload lifecycle through the store (reference:
    // modules/offload-s3 — FROZEN tenant's partition moves to the offload
    // backend and back): while offloaded the tenant is invisible to read()
    // (snapshot taken EAGERLY — a lazy frame would see the onloaded files),
    // after onload the collection is whole again
    // offloaded = all tenants but click; onloaded = all tenants
    Gate("q_tenant_offload",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n, 'offloaded' AS phase
        |FROM events WHERE event_type <> 'click' GROUP BY event_type
        |UNION ALL
        |SELECT event_type, CAST(count(*) AS BIGINT), 'onloaded'
        |FROM events GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
      val ev = Fixtures.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
      val schema = CollectionSchema("EvT", "event_id", Seq(
        Property("value", PropType.Number)), tenantColumn = Some("event_type"))
      val st = new graft.sources.CollectionStore(s,
        Gate.tempDir("offl"), schema)
      st.init(ev)
      val off = Gate.tempDir("offl-root")
      st.offloadTenant("click", off)
      val phase = st.read().groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).withColumn("phase", lit("offloaded"))
      val snapshot = phase.collect().toSeq
      st.onloadTenant("click", off)
      val back = st.read().groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).withColumn("phase", lit("onloaded"))
      s.createDataFrame(java.util.Arrays.asList(snapshot: _*), back.schema)
        .unionByName(back)
        .orderBy(col("phase"), col("event_type"))
    },

  )


  /** Fixed media payload for q_near_media — both the Spark query and the
   * oracle derive the query vector from it via the same stub module. */
  private[graft] val MediaQueryPayload: Array[Byte] =
    "graft-media-demo-payload".getBytes("UTF-8")



  /** Unrolled BPE training replay (see `pipeline/Bpe.scala` scaladoc for the
   * double-space segmentation representation both engines share): w0 is the
   * char-segmented word-frequency table; each round i computes
   * freq-weighted adjacent-pair counts (p_i), the (count desc, pair asc)
   * argmax among pairs meeting the trainer's minCount=2 early-stop rule
   * (b_i — empty once no pair occurs twice, and pair counts are unchanged
   * after a no-merge round, so an empty b_i stays empty: the same permanent
   * stop as Bpe.train), and the merged vocabulary (w_i) via the same literal
   * boundary-space replace the engine applies — a LEFT JOIN so a stopped
   * round carries the vocabulary forward unchanged. */
  private[graft] def bpeCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS MATERIALIZED (
        |  SELECT w, regexp_replace(w, '(.)', ' \1 ', 'g') || ' </w> ' AS seg,
        |         CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1, 2)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |p$i AS MATERIALIZED (SELECT l[i] || ' ' || l[i + 1] AS pair, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seg), '  ') AS l, freq FROM w$p) t,
        |       unnest(range(1, len(l))) AS u(i) GROUP BY 1),
        |b$i AS MATERIALIZED (SELECT pair, cnt, replace(pair, ' ', '') AS m,
        |               ' ' || replace(pair, ' ', '  ') || ' ' AS pat
        |        FROM p$i WHERE cnt >= 2 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |w$i AS MATERIALIZED (SELECT w,
        |          CASE WHEN b.pat IS NULL THEN seg
        |               ELSE replace(seg, b.pat, ' ' || b.m || ' ') END AS seg, freq
        |        FROM w$p LEFT JOIN b$i b ON TRUE)""".stripMargin)
    }
    sb.append("\n")
    sb.toString
  }

  /** [[bpeCtes]] with the WordPiece selection rule: each round adds a
   * freq-weighted symbol-count CTE (s_i) and the argmax ranks by
   * count(ab)/(count(a)·count(b)) in the identical IEEE-double math the
   * engine computes (exact BIGINT inputs → bit-identical scores), still
   * gated on the raw-count minCount=2 early stop and tie-broken on the pair
   * string. */
  private[graft] def wpCtes(k: Int): String = {
    val sb = new StringBuilder
    // the same planted digit document the engine unions in (see WpPlant)
    sb.append(
      """WITH docs_wp AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT 900001 AS doc_id,
        |    repeat('23 ', 400) || repeat('12 ', 200) ||
        |    repeat('3 ', 50) || repeat('1 ', 50) || '123' AS text),
        |w0 AS MATERIALIZED (
        |  SELECT w, regexp_replace(w, '(.)', ' \1 ', 'g') || ' </w> ' AS seg,
        |         CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM docs_wp)
        |  WHERE w <> '' GROUP BY 1, 2)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |p$i AS MATERIALIZED (SELECT l[i] || ' ' || l[i + 1] AS pair, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seg), '  ') AS l, freq FROM w$p) t,
        |       unnest(range(1, len(l))) AS u(i) GROUP BY 1),
        |s$i AS MATERIALIZED (SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt
        |  FROM (SELECT unnest(string_split(trim(seg), '  ')) AS sym, freq FROM w$p)
        |  GROUP BY 1),
        |b$i AS MATERIALIZED (SELECT pair, cnt, replace(pair, ' ', '') AS m,
        |               ' ' || replace(pair, ' ', '  ') || ' ' AS pat
        |        FROM (SELECT p.pair, p.cnt,
        |                CAST(p.cnt AS DOUBLE) /
        |                  (CAST(sa.scnt AS DOUBLE) * CAST(sb.scnt AS DOUBLE)) AS score
        |              FROM p$i p
        |              JOIN s$i sa ON sa.sym = string_split(p.pair, ' ')[1]
        |              JOIN s$i sb ON sb.sym = string_split(p.pair, ' ')[2]
        |              WHERE p.cnt >= 2)
        |        ORDER BY score DESC, pair ASC LIMIT 1),
        |w$i AS MATERIALIZED (SELECT w,
        |          CASE WHEN b.pat IS NULL THEN seg
        |               ELSE replace(seg, b.pat, ' ' || b.m || ' ') END AS seg, freq
        |        FROM w$p LEFT JOIN b$i b ON TRUE)""".stripMargin)
    }
    sb.append("\n")
    sb.toString
  }

  /**
   * Full unigram-LM hard-EM replay (see `pipeline/UnigramLm.scala` for the
   * determinism pins): `wf`/`wl` are the word-frequency table and its
   * symbol lists; `sp`/`sr`/`v0`/`q0` the substring seed (rank = count
   * desc, piece asc; kept = rank ≤ seedSize OR single symbol; p = cnt /
   * Σcnt). Each round r unrolls the Viterbi DP over word positions
   * (d{r}_j: best prefix probability + argmax last-piece length at symbol
   * position j under q{r-1}, tie = (prob desc, len desc)), backtracks
   * (t{r}_s walking da{r}, the per-position length table), and
   * re-estimates (c{r} freq-weighted piece usage, q{r} renormalized).
   * With `withEncode`, one extra DP+backtrack round under the FINAL probs
   * produces per-word segmentations, joined back through word positions
   * into per-document streams (dw/jt/enc). `positions` must cover the
   * longest word + 1. All CTEs MATERIALIZED (they are re-referenced; DuckDB
   * would otherwise inline them exponentially).
   */
  private[graft] def unigramCtes(seedSize: Int, maxL: Int, rounds: Int,
                          positions: Int, withEncode: Boolean): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH wf AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1),
      |wl AS MATERIALIZED (
      |  SELECT w, regexp_extract_all(w, '.') || ['</w>'] AS l FROM wf),
      |sp AS MATERIALIZED (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT array_to_string(wl.l[i:j], '') AS piece, wf.freq
      |    FROM wl JOIN wf USING (w),
      |         unnest(range(1, len(wl.l) + 1)) AS u(i),
      |         unnest(range(i, least(i + ${maxL - 1}, len(wl.l)) + 1)) AS v(j))
      |  GROUP BY 1),
      |sr AS MATERIALIZED (
      |  SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn,
      |         CASE WHEN piece LIKE '%</w>' THEN length(piece) - 3
      |              ELSE length(piece) END AS k
      |  FROM sp),
      |v0 AS MATERIALIZED (SELECT piece, cnt FROM sr WHERE rn <= $seedSize OR k = 1),
      |q0 AS MATERIALIZED (SELECT piece, CAST(cnt AS DOUBLE) /
      |       (SELECT CAST(sum(cnt) AS DOUBLE) FROM v0) AS p FROM v0)""".stripMargin)
    val lastRound = if (withEncode) rounds + 1 else rounds
    for (r <- 1 to lastRound) {
      val prev = s"q${r - 1}"
      sb.append(s""",
        |d${r}_0 AS MATERIALIZED (SELECT w, l, CAST(1.0 AS DOUBLE) AS v, 0 AS len FROM wl)""".stripMargin)
      for (j <- 1 to positions) {
        val branches = (math.max(0, j - maxL) until j).map { i =>
          s"""      SELECT w, l, v, ${j - i} AS len,
             |             array_to_string(l[${i + 1}:$j], '') AS piece
             |      FROM d${r}_$i WHERE len(l) >= $j""".stripMargin
        }.mkString("\n      UNION ALL\n")
        sb.append(s""",
          |d${r}_$j AS MATERIALIZED (
          |  SELECT w, l, v, len FROM (
          |    SELECT w, l, v, len,
          |           row_number() OVER (PARTITION BY w ORDER BY v DESC, len DESC) AS rn
          |    FROM (SELECT x.w, x.l, x.v * q.p AS v, x.len AS len FROM (
          |$branches
          |    ) x JOIN $prev q ON q.piece = x.piece) y
          |  ) WHERE rn = 1)""".stripMargin)
      }
      sb.append(s""",
        |da$r AS MATERIALIZED (${(1 to positions).map(j =>
          s"SELECT w, $j AS j, len FROM d${r}_$j").mkString("\n  UNION ALL ")}),
        |t${r}_0 AS MATERIALIZED (
        |  SELECT w, l, len(l) AS pos, []::VARCHAR[] AS toks FROM wl)""".stripMargin)
      for (s <- 1 to positions) {
        sb.append(s""",
          |t${r}_$s AS MATERIALIZED (
          |  SELECT t.w, t.l, t.pos - d.len AS pos,
          |         [array_to_string(t.l[(t.pos - d.len + 1):t.pos], '')] || t.toks AS toks
          |  FROM t${r}_${s - 1} t JOIN da$r d ON d.w = t.w AND d.j = t.pos
          |  WHERE t.pos > 0
          |  UNION ALL SELECT w, l, pos, toks FROM t${r}_${s - 1} WHERE pos = 0)""".stripMargin)
      }
      if (r <= rounds) sb.append(s""",
        |c$r AS MATERIALIZED (
        |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT t.w, unnest(t.toks) AS piece FROM t${r}_$positions t WHERE t.pos = 0) s
        |  JOIN wf ON wf.w = s.w GROUP BY 1),
        |q$r AS MATERIALIZED (SELECT piece, CAST(cnt AS DOUBLE) /
        |       (SELECT CAST(sum(cnt) AS DOUBLE) FROM c$r) AS p FROM c$r)""".stripMargin)
    }
    // unroll-depth guard: `positions` must cover the longest word + 1. A
    // word still mid-backtrack after the unrolled steps would otherwise
    // surface as confusing value diffs (training counts) or truncated token
    // streams (encode); scan_ok collapses the result to ZERO rows instead —
    // an unmistakable "unroll too short for this data" signal at the gate.
    sb.append(s""",
      |scan_ok AS MATERIALIZED (SELECT ${(1 to lastRound).map(r =>
        s"NOT EXISTS (SELECT 1 FROM t${r}_$positions WHERE pos > 0)")
        .mkString(" AND ")} AS ok)""".stripMargin)
    if (withEncode) sb.append(s""",
      |dw AS MATERIALIZED (SELECT doc_id, i, ws[i] AS w FROM (
      |    SELECT doc_id,
      |           list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
      |    FROM documents) d, unnest(range(1, len(ws) + 1)) AS u(i)),
      |jt AS MATERIALIZED (SELECT dw.doc_id, dw.i, tk.toks
      |       FROM dw JOIN t${rounds + 1}_$positions tk ON dw.w = tk.w AND tk.pos = 0
      |       WHERE (SELECT ok FROM scan_ok)),
      |enc AS MATERIALIZED (SELECT doc_id, flatten(list(toks ORDER BY i)) AS toks
      |        FROM jt GROUP BY doc_id)""".stripMargin)
    sb.append("\n")
    sb.toString
  }

  /** Greedy maximal-munch replay over the round-`k` vocabulary: per distinct
   * word, `steps` unrolled longest-match steps in SYMBOL space (single
   * characters + the atomic trailing marker; matching a vocabulary entry's
   * symbol span keeps stray `<`/`w` characters from matching inside the
   * marker text, exactly like GreedyPieces). Each step joins the open scan
   * states against the vocabulary on the concatenated span and keeps the
   * longest via a windowed rank; finished words carry through unchanged.
   * `steps` must cover the longest word + 1 (each step consumes ≥ 1
   * symbol). No [UNK] arm: encoding the training corpus itself, every
   * character is in the vocabulary. */
  private[graft] def wpGreedyCtes(k: Int, steps: Int): String = {
    val sb = new StringBuilder
    sb.append(s""",
      |v AS MATERIALIZED (SELECT DISTINCT unnest(string_split(trim(seg), '  ')) AS sym FROM w$k),
      |vk AS MATERIALIZED (SELECT sym, CASE WHEN sym LIKE '%</w>'
      |                        THEN length(sym) - 4 + 1 ELSE length(sym) END AS k
      |       FROM v),
      |dw AS MATERIALIZED (SELECT doc_id, i, ws[i] AS w FROM (
      |    SELECT doc_id,
      |           list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
      |    FROM docs_wp) d, unnest(range(1, len(ws) + 1)) AS u(i)),
      |g0 AS MATERIALIZED (SELECT w, regexp_extract_all(w, '.') || ['</w>'] AS l,
      |              1 AS pos, []::VARCHAR[] AS toks
      |       FROM (SELECT DISTINCT w FROM dw))""".stripMargin)
    for (i <- 1 to steps) {
      val p = i - 1
      sb.append(s""",
        |g$i AS MATERIALIZED (
        |  SELECT w, l, pos + k AS pos, toks || [piece] AS toks FROM (
        |    SELECT g.w, g.l, g.pos, g.toks, vk.k,
        |           array_to_string(g.l[g.pos:g.pos + vk.k - 1], '') AS piece,
        |           row_number() OVER (PARTITION BY g.w ORDER BY vk.k DESC) AS rn
        |    FROM g$p g JOIN vk ON vk.k <= len(g.l) - g.pos + 1
        |         AND array_to_string(g.l[g.pos:g.pos + vk.k - 1], '') = vk.sym
        |    WHERE g.pos <= len(g.l))
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT w, l, pos, toks FROM g$p WHERE pos > len(l))""".stripMargin)
    }
    // unroll-depth guard (see unigramCtes): a word still mid-scan after
    // `steps` would silently truncate its stream — collapse to ZERO rows
    sb.append(s""",
      |jt AS MATERIALIZED (SELECT dw.doc_id, dw.i, gk.toks FROM dw
      |       JOIN g$steps gk ON dw.w = gk.w
      |       WHERE NOT EXISTS (SELECT 1 FROM g$steps WHERE pos <= len(l))),
      |enc AS MATERIALIZED (SELECT doc_id, flatten(list(toks ORDER BY i)) AS toks
      |        FROM jt GROUP BY doc_id)
      |""".stripMargin)
    sb.toString
  }
}
