package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup
import graft.text.Tokenize

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select($"doc_id", $"text")

  /** Brute-force shingle-Jaccard ground truth (test scale only). */
  private def bruteforcePairs(threshold: Double): Set[(Long, Long)] = {
    val sh = docs.select($"doc_id".as("id"),
      array_distinct(Tokenize.tokenNgrams(Tokenize.word($"text"), 3)).as("sh"))
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .withColumn("j", Dedup.jaccard(col("a.sh"), col("b.sh")))
      .filter($"j" >= threshold)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("incremental minhash = full minhash restricted to pairs touching a new doc") {
    // old corpus + a planted increment: every 25th doc re-enters as a copy,
    // every 50th TWICE — so new<->old AND new<->new pairs both fire
    val bed = docs.withColumn("__new", lit(false))
      .unionByName(docs.filter($"doc_id" % 25 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
        .withColumn("__new", lit(true)))
      .unionByName(docs.filter($"doc_id" % 50 === 0)
        .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
        .withColumn("__new", lit(true)))
    val full = Dedup.minhashDuplicates(bed, $"doc_id", $"text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter { case (a, b, _) => a >= 1000000L || b >= 1000000L }
    val got = Dedup.minhashIncrementalDuplicates(bed, $"doc_id", $"text", $"__new",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"got ${got.size} vs expected ${expected.size}")
    // old<->old pairs exist in the full run and are genuinely excluded
    assert(full.exists { case (a, b, _) => a < 1000000L && b < 1000000L })
    assert(!got.exists { case (a, b, _) => a < 1000000L && b < 1000000L })
    // and the new<->new arm genuinely fires (copy1 vs copy2 of the same doc)
    assert(got.exists { case (a, b, _) => a >= 1000000L && b >= 2000000L },
      "bed must produce at least one new<->new pair")
  }

  /** The driver bounds that send clusterPairs down each arm: the default
   * (driver union-find) and 0 (distributed label propagation). */
  private val arms = Seq("driver" -> Dedup.DriverClusterMaxPairs, "distributed" -> 0)

  test("minhashDuplicates leaves no cache entry behind once its pairs are written") {
    // planted exact copies, on a bed no other test builds (a plan that is
    // already cached would hide a new entry)
    val bed = docs.unionByName(docs.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 3000000L).as("doc_id"), $"text"))
    def cacheEntries = org.apache.spark.sql.graft.CacheEntries.count(spark)
    val before = cacheEntries
    val pairs = Dedup.minhashDuplicates(bed, $"doc_id", $"text",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
    def collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = collected
    val kept = arms.map { case (arm, bound) =>
      val dir = Gate.tempDir("dedup-cache")
      Dedup.selectCanonical(bed, $"doc_id", length($"text"), pairs, $"id_a", $"id_b", bound)
        .write.mode("overwrite").parquet(dir)
      assert(cacheEntries == before, arm)
      arm -> spark.read.parquet(dir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    }
    assert(kept.map(_._2).distinct.size == 1, "the two arms keep different docs")
    assert(collected == want)
    val copies = bed.filter($"doc_id" >= 3000000L && size(Tokenize.word($"text")) > 0)
      .select($"doc_id").as[Long].collect()
    assert(copies.nonEmpty)
    assert(copies.forall(c => want.contains((c - 3000000L, c, 1.0))))
    // each planted copy shares its original's cluster, and the cluster keeps
    // one doc, so not both
    val verdicts = kept.head._2.map(r => r._1 -> (r._2, r._4)).toMap
    assert(copies.forall { c =>
      val (orig, copy) = (verdicts(c - 3000000L), verdicts(c))
      orig._1 == copy._1 && !(orig._2 && copy._2)
    })
    assert(kept.head._2.filter(_._4).groupBy(_._2).values.forall(_.size == 1))
  }

  test("minhash-LSH finds exactly the brute-force near-dup pairs (recall 1 here)", SlowTests) {
    val got = Dedup.minhashDuplicates(docs, $"doc_id", $"text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteforcePairs(0.7)
    assert(want.nonEmpty, "testdata should contain planted near-dups")
    assert(got == want) // verify step removes false positives; LSH recall is 1 at s≈0.9
  }

  test("hot-band star cap: mega-cluster stays one connected component at Σ-bucket cost", SlowTests) {
    // 40 near-identical docs (one appended unique token each) — every band
    // bucket is hot at cap 8, so candidates come from the star arm only
    val base = docs.filter($"doc_id" === 8).head().getString(1)
    val mega = spark.range(40).select(
      ($"id" + 9000).as("doc_id"),
      concat(lit(base), lit(" unique"), $"id".cast("string")).as("text"))
    val pairs = Dedup.minhashDuplicates(mega, $"doc_id", $"text",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7,
      hotBandCap = Some(8))
    val clusters = Dedup.clusterPairs(pairs, $"id_a", $"id_b")
      .select($"cluster_id").distinct().collect()
    assert(clusters.length == 1 && clusters.head.getLong(0) == 9000L,
      s"mega-cluster fragmented: ${clusters.mkString(",")}")
    // and the candidate volume is star-shaped: at most n-1 verified pairs
    // per the hub, never the 40·39/2 all-pairs explosion
    assert(pairs.count() <= 39L * 32)
  }

  test("exact text dedup groups identical copies") {
    val withCopy = docs.unionByName(
      docs.filter($"doc_id" === 8).select(($"doc_id" + 5000).as("doc_id"), $"text"))
    val groups = Dedup.exactText(withCopy, $"text", $"doc_id")
      .filter($"dup_count" > 1).collect()
    assert(groups.exists(r => r.getAs[Long]("canonical_id") == 8L && r.getAs[Long]("dup_count") == 2L))
  }

  test("simhash: near-miss pairs (hamming 1-3) match brute force, not just copies") {
    // perturbed copies: appending a few unique tokens nudges per-bit votes,
    // landing most signatures a FEW bits from their originals — the arm
    // maxHamming = 3 actually exists for (an exact-copy bed would stay
    // green with the bucketing broken for every nonzero distance)
    val base = docs.limit(40)
    val perturbed = (1 to 6).map { k =>
      base.filter($"doc_id" === k * 7)
        .select(($"doc_id" + 5000).as("doc_id"),
          concat($"text", lit((1 to k).map(i => s" zz$k$i").mkString)).as("text"))
    }.reduce(_ unionByName _)
    val bed = base.unionByName(perturbed)
    // brute force over the engine's own signature kernel
    val sigs = bed.select($"doc_id",
        Dedup.simhash(Tokenize.word($"text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    val got = Dedup.simhashDuplicates(bed, $"doc_id", $"text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(brute.exists { case (_, _, h) => h >= 1 && h <= 3 },
      s"bed must contain a genuine near-miss pair; distances were " +
      sigs.combinations(2).map { case Array((_, a), (_, b)) =>
        java.lang.Long.bitCount(a ^ b) }.toSeq.sorted.take(10).mkString(","))
  }

  test("simhash: identical copies at hamming 0; detected as dups") {
    val withCopy = docs.limit(50).unionByName(
      docs.filter($"doc_id" === 8).select(($"doc_id" + 5000).as("doc_id"), $"text"))
    val pairs = Dedup.simhashDuplicates(withCopy, $"doc_id", $"text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 8L && p._2 == 5008L && p._3 == 0L))
  }

  test("clusterPairs: chains collapse to min-id components, disjoint stay apart") {
    // a 6-node chain (diameter 5 — forces several propagation rounds), a
    // triangle, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // chain
      (10L, 11L), (11L, 12L), (10L, 12L),               // triangle
      (20L, 21L)                                        // pair
    ).toDF("id_a", "id_b")
    for ((arm, bound) <- arms) {
      val got = Dedup.clusterPairs(pairs, $"id_a", $"id_b", bound)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert((1L to 6L).forall(got(_) == 1L), arm)
      assert(Seq(10L, 11L, 12L).forall(got(_) == 10L), arm)
      assert(Seq(20L, 21L).forall(got(_) == 20L), arm)
      assert(got.size == 11, arm)
      // keep-set predicate: exactly one survivor per cluster
      assert(got.count { case (id, c) => id == c } == 3, arm)
    }
  }

  test("clusterPairs: a 40-node path converges to one label in both arms") {
    // diameter 39: label propagation needs about 38 rounds to reach the
    // path's tail, beyond any fixed round cap of 20
    val path = (1L until 40L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    for ((arm, bound) <- arms) {
      val got = Dedup.clusterPairs(path, $"id_a", $"id_b", bound)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == (1L to 40L).map(_ -> 1L).toMap, s"$arm: $got")
    }
    // selectCanonical keeps exactly one doc of the path, the best
    val docs = (1L to 40L).map(i => (i, (i * 7) % 40)).toDF("doc_id", "q")
    for ((arm, bound) <- arms) {
      val kept = Dedup.selectCanonical(docs, $"doc_id", $"q", path, $"id_a", $"id_b", bound)
        .filter($"kept").select($"id").as[Long].collect()
      assert(kept.toSeq == Seq(17L), arm) // 17 · 7 = 119 ≡ 39 (mod 40), the top quality
    }
  }

  test("embedding LSH dedup matches brute force on planted copies") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select($"vec_id", $"embedding")
    val uni = emb.unionByName(emb.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val got = Dedup.embeddingDuplicates(uni, $"vec_id", $"embedding", dim = 64,
        planes = 16, maxCosineDistance = 0.05)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.embeddingDuplicatesBruteForce(uni, $"vec_id", $"embedding", 0.05)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want)
  }

  test("SemDeDup: keep-farthest-from-centroid within duplicate groups, cluster-bucketed") {
    // two tight semantic groups + one singleton, 4-dim vectors; seeds (k=2)
    // are ids 1 and 2 → group A clusters to seed 1, group B to seed 2.
    // Group A is a clique at sim≈1: only its lowest-centroid-sim member
    // survives. The singleton (id 5, same cluster as B but far) is kept.
    val rows = Seq(
      (1L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),   // A: seed, csim=1 → dropped
      (3L, Seq(1.0f, 0.00f, 0.0f, 0.0f)),   // A: near seed → dropped or kept by csim
      (4L, Seq(1.0f, 0.10f, 0.0f, 0.0f)),   // A: farthest from seed → kept
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),    // B: seed, dup pair with 6
      (6L, Seq(0.0f, 0.0f, 1.0f, 0.01f)),   // B: slightly off seed → kept (lower csim)
      (5L, Seq(0.0f, 0.0f, 0.5f, 0.9f))     // B cluster, sim < eps to both → kept
    ).toDF("id", "v")
    val out = Dedup.semantic(rows, $"id", $"v", k = 2, epsSimilarity = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 3L -> false, 4L -> true,
      2L -> false, 6L -> true, 5L -> true), s"got $out")
  }

  test("substring coverage: planted spans, overlap union, within-doc repetition excluded") {
    val span8 = "alpha beta gamma delta epsilon zeta eta theta"          // 8 tokens
    val span10 = "one two three four five six seven eight nine ten"      // 10 tokens
    val docs = Seq(
      // docs 1+2 share exactly the 8-token span (1 shared 8-gram each)
      (1L, s"pre1 pre2 pre3 pre4 $span8 tail1 tail2"),                   // 14 tokens
      (2L, s"$span8 sfx1 sfx2 sfx3 sfx4 sfx5"),                          // 13 tokens
      // doc 3 repeats ITS OWN 8-gram twice — one doc, not a cross-doc dup
      (3L, s"c1 c2 c3 c4 c5 c6 c7 c8 mid c1 c2 c3 c4 c5 c6 c7 c8"),      // 17 tokens
      // docs 4+5 are full copies — coverage 1.0
      (4L, span10),
      (5L, span10),
      // docs 6+7 share a 10-token span: 3 overlapping 8-grams whose union
      // is 10 tokens (8 + min(8,1) + min(8,1))
      (6L, s"$span10 u1 u2 u3 u4"),                                      // 14 tokens
      (7L, s"w1 w2 $span10 w3 w4"))                                      // 14 tokens
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.substringCoverage(df, $"doc_id", $"text", n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((1L, 8.0 / 14)))
    assert(got(2L) == ((1L, 8.0 / 13)))
    assert(got(3L) == ((0L, 0.0)), "within-doc repetition must not count as duplication")
    assert(got(4L) == ((3L, 1.0)), "full copy must be fully covered")
    assert(got(5L) == ((3L, 1.0)))
    assert(got(6L) == ((3L, 10.0 / 14)), "overlapping spans must union, not sum")
    assert(got(7L) == ((3L, 10.0 / 14)))
  }

  test("CDC chunking: boundaries re-align on shared content regardless of prefix; copies fully dup") {
    val tail = (1 to 60).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"head1 head2 head3 $tail"),        // same tail, different heads —
      (2L, s"other prefix tokens go here $tail"), // interior chunks must align
      (3L, "totally unique content with no twin anywhere at all"),
      (4L, "copy of this exact document"),
      (5L, "copy of this exact document")       // full copies → frac 1.0
    ).toDF("doc_id", "text")
    val got = Dedup.cdcChunkDedup(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._2 > 0, s"shared-tail doc 1 must carry duplicated chunks: ${got(1L)}")
    assert(got(2L)._2 > 0, s"shared-tail doc 2 must carry duplicated chunks: ${got(2L)}")
    assert(got(3L)._2 == 0 && got(3L)._3 == 0.0)
    assert(got(4L)._3 == 1.0 && got(5L)._3 == 1.0, s"full copies: ${got(4L)} ${got(5L)}")
    assert(got(4L)._1 == got(4L)._2, "every chunk of a full copy is duplicated")
    // the CDC property quantified: docs 1+2 share 60 tail tokens; at expected
    // chunk length 16 the unshared junction chunk costs at most ~2 chunks, so
    // well over half the tail tokens must sit in duplicated chunks
    assert(got(1L)._3 * (3 + 60) > 20, s"dup tokens too few: ${got(1L)}")
  }

  test("substring removal: every occurrence excised, survivors keep order, clean docs untouched") {
    val span8 = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, s"pre1 pre2 $span8 tail1 tail2"),  // loses the span from the middle
      (2L, s"$span8 sfx1 sfx2"),              // loses the span from the front
      (3L, span8),                            // full copy → empty clean text
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8 n9")      // no cross-doc dup → untouched
    ).toDF("doc_id", "text")
    val got = Dedup.substringRemove(docs, $"doc_id", $"text", n = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("pre1 pre2 tail1 tail2", 4L, 8L)))
    assert(got(2L) == (("sfx1 sfx2", 2L, 8L)))
    assert(got(3L) == (("", 0L, 8L)), "fully-duplicated doc empties out")
    assert(got(4L) == (("n1 n2 n3 n4 n5 n6 n7 n8 n9", 9L, 0L)))
  }

  test("editDistanceDuplicates: subs/indels within k pair up, beyond k and unrelated don't") {
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumpz"),  // 1 substitution from 1
      (3L, "the quick brwn fox jumps"),   // 1 deletion from 1
      (4L, "completely different sentence"),
      (5L, "th quick brwn fox jumpz")     // 3 edits from 1; 2 from both 2 and 3
    ).toDF("id", "s")
    val got = Dedup.editDistanceDuplicates(df, $"id", $"s", maxEdits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 1L)
    assert(got((1L, 3L)) == 1L)
    assert(got((2L, 3L)) == 2L)
    assert(got((2L, 5L)) == 2L)
    assert(got((3L, 5L)) == 2L)
    assert(!got.contains((1L, 5L)), "3 edits must not qualify at k=2")
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // short strings (< (maxEdits+1)·q chars) keep FULL recall via the
    // length-band fallback: short↔short within maxEdits, and short↔long
    // across the prefix-lemma boundary
    val short = Seq((1L, "ab"), (2L, "ab"), (3L, "ax"), (4L, "zz"),
      (5L, "abcde"), (6L, "abcdef"), (7L, "abcdefg")).toDF("id", "s")
    val sp = Dedup.editDistanceDuplicates(short, $"id", $"s", maxEdits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sp == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L), (6L, 7L)),
      "exact twins, 1-edit shorts, the short-vs-long boundary pair, and the " +
      "long-long prefix pair all surface; 'zz' and the len-diff-2 pair don't")
  }

  test("substringContamination: bench span coverage, clean docs zero, short bench ignored") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),    // leading 8 tokens are a bench item
      (2L, "z y x w v u t s r q"),    // clean
      (3L, "a b c d e f g h a b c d e f g h") // two covered spans, merged union
    ).toDF("id", "text")
    val bench = Seq(Tuple1("a b c d e f g h"), Tuple1("too short")).toDF("text")
    val got = Dedup.substringContamination(corpus, $"id", $"text", bench, $"text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((1L, 0.8)))  // one gram, 8 of 10 tokens covered
    assert(got(2L) == ((0L, 0.0)))
    assert(got(3L) == ((2L, 1.0)))  // positions 0 and 8 → 8 + min(8,8) = 16/16
  }

  test("bloomDuplicates: exact vs corpus at any fpp; normalization load-bearing") {
    val corpus = Seq(
      (10L, "alpha beta gamma"),
      (11L, "delta epsilon"),
      (12L, "alpha beta gamma")  // same content, larger id — dup_of picks 10
    ).toDF("id", "text")
    val inc = Seq(
      (20L, "alpha beta gamma"),       // verbatim dup → 10 (not 12)
      (21L, "  ALPHA  beta GAMMA "),   // case/space variant → 10
      (22L, "delta epsilon zeta"),     // superstring, NOT a dup
      (23L, "brand new content"),      // new
      (24L, "brand new content")       // repeats an INCREMENT row: still new
    ).toDF("id", "text")
    for (fpp <- Seq(0.01, 0.9)) {      // verify join makes the sketch moot
      val got = Dedup.bloomDuplicates(corpus, $"id", $"text", inc, $"id", $"text",
          expectedItems = 3L, fpp = fpp)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
      assert(got(20L) == ((true, Some(10L))))
      assert(got(21L) == ((true, Some(10L))))
      assert(got(22L) == ((false, None)))
      assert(got(23L) == ((false, None)))
      assert(got(24L) == ((false, None)))
    }
  }
}
