package graft

import org.apache.spark.sql.functions._

import graft.engine.Graft
import graft.model._
import graft.operators.Contextionary

/** Contextionary additional props: nearestNeighbors extender semantics
 * (extender.go) and the semanticPath greedy walk + cosine annotations
 * (sempath/builder.go), both against the pluggable concept vocabulary. */
class ContextionarySpec extends SparkSpecBase {
  import spark.implicits._

  private val vocab: Contextionary.Vocab = Seq(
    "east"  -> Array(1.0f, 0.0f),
    "north" -> Array(0.0f, 1.0f),
    "ne"    -> Array(0.7f, 0.7f),
    "ene"   -> Array(0.9f, 0.45f),
    "$doc"  -> Array(0.99f, 0.01f)) // internal marker, must never surface

  private def gg: Graft = {
    val g = new Graft(spark).withConcepts(vocab)
    val df = Seq(
      (1L, Seq(1.0f, 0.05f)),  // ~east
      (2L, Seq(0.05f, 1.0f)))  // ~north
      .toDF("id", "vec")
    g.register(CollectionSchema("Ctx", "id", Nil,
      vectors = Map("default" -> "vec"), defaultVector = Some("default"),
      vectorMetrics = Map("default" -> Metric.Cosine)), df)
    g
  }

  test("nearestNeighbors: cosine-ranked vocabulary words, $-markers dropped, limit honored") {
    val page = gg.get(GetParams("Ctx",
      nearObject = Some(NearObject(1L, metric = Metric.Default)),
      pagination = Some(Pagination(limit = 2)),
      properties = Seq("id"),
      additional = Set("nearestNeighbors")))
      .select(col("id"), col("_nearestNeighbors")).collect()
    val byId = page.map(r => r.getLong(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(x => x.getString(0))).toMap
    // doc 1 (~east): east first, then ene, ne, north; $doc absent everywhere
    assert(byId(1L).take(3) == Seq("east", "ene", "ne"))
    assert(byId(2L).head == "north")
    assert(!byId.values.exists(_.contains("$doc")))
    // distances are cosine and ascending
    val d1 = page.find(_.getLong(0) == 1L).get
      .getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1))
    assert(d1 == d1.sorted && d1.head < 0.01)
    // module gate: without a vocabulary the request fails loudly
    val g2 = new Graft(spark)
    g2.register(CollectionSchema("C2", "id", Nil,
      vectors = Map("default" -> "vec"), defaultVector = Some("default")),
      Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "vec"))
    val e = intercept[IllegalStateException] {
      g2.get(GetParams("C2", pagination = Some(Pagination(limit = 1)),
        additional = Set("nearestNeighbors")))
    }
    assert(e.getMessage.contains("withConcepts"))
  }

  test("semanticPath: greedy walk replayed independently, cosine annotations, gates") {
    // independent reimplementation of the walk rule over the raw vocab
    def l2(a: Array[Float], b: Array[Float]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
    def replay(sv: Array[Float], target: Array[Float]): Seq[String] = {
      val voc = vocab.filterNot(_._1.startsWith("$"))
      var cur = sv; var minD = Double.MaxValue
      val out = Seq.newBuilder[String]
      var go = true
      while (go) {
        val survivors = voc.map { case (w, v) => (w, v, l2(v, cur)) }
          .sortBy { case (w, _, d) => (d, w) }.take(10)
          .filter { case (_, v, _) => l2(v, target) < minD }
        if (survivors.isEmpty) go = false
        else {
          val (w, v, _) = survivors.minBy { case (w, _, d) => (d, w) }
          out += w; cur = v; minD = l2(v, target)
        }
      }
      out.result()
    }
    val sv = Seq(0.0f, 1.0f) // query points north; target doc 1 points east
    val page = gg.get(GetParams("Ctx",
      nearVector = Some(NearVector(sv.toArray, metric = Metric.Default)),
      pagination = Some(Pagination(limit = 2)),
      properties = Seq("id"),
      additional = Set("semanticPath")))
      .select(col("id"), col("_semanticPath")).collect()
    val doc1 = page.find(_.getLong(0) == 1L).get.getSeq[org.apache.spark.sql.Row](1)
    val target1 = Array(1.0f, 0.05f)
    assert(doc1.map(_.getString(0)) == replay(sv.toArray, target1))
    assert(doc1.nonEmpty, "north→east walk must pass through concepts")
    // annotations: distanceToQuery/Result are cosine distances in the
    // ORIGINAL space; next/previous chain consistently
    def cos(a: Array[Float], b: Array[Float]) = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      1.0 - dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val byWord = vocab.toMap
    doc1.zipWithIndex.foreach { case (row, i) =>
      val v = byWord(row.getString(0))
      assert(math.abs(row.getDouble(3) - cos(v, sv.toArray)) < 1e-9)  // query
      assert(math.abs(row.getDouble(4) - cos(v, target1)) < 1e-9)    // result
      if (i == 0) assert(row.isNullAt(2)) else assert(!row.isNullAt(2))
      if (i == doc1.length - 1) assert(row.isNullAt(1)) else assert(!row.isNullAt(1))
    }
    // first element's distanceToNext == second element's distanceToPrevious
    if (doc1.length >= 2) assert(doc1(0).getDouble(1) == doc1(1).getDouble(2))
    // deterministic across runs
    val again = gg.get(GetParams("Ctx",
      nearVector = Some(NearVector(sv.toArray, metric = Metric.Default)),
      pagination = Some(Pagination(limit = 2)),
      properties = Seq("id"), additional = Set("semanticPath")))
      .select(col("id"), col("_semanticPath")).collect()
    assert(again.map(_.toString).sorted.toSeq == page.map(_.toString).sorted.toSeq)
    // gates: needs a near leg; needs a bounded page
    val e1 = intercept[IllegalArgumentException] {
      gg.get(GetParams("Ctx", pagination = Some(Pagination(limit = 1)),
        additional = Set("semanticPath")))
    }
    assert(e1.getMessage.contains("no valid search vector present"))
    val e2 = intercept[IllegalArgumentException] {
      gg.get(GetParams("Ctx",
        nearVector = Some(NearVector(sv.toArray, metric = Metric.Default,
          distance = Some(2.0))),
        additional = Set("semanticPath")))
    }
    assert(e2.getMessage.contains("bounded page"))
  }

  test("semanticPath walks from the nearText leg's vector without embedding it again") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val g = gg.withEmbedder { t => calls.incrementAndGet(); vocab.toMap.apply(t) }
    def embeddings(additional: Set[String]): Int = {
      calls.set(0)
      g.get(GetParams("Ctx", nearText = Some(NearText(Seq("north", "ne"), metric = Metric.Default)),
        pagination = Some(Pagination(limit = 2)), properties = Seq("id"),
        additional = additional)).collect()
      calls.get
    }
    val plain = embeddings(Set.empty)
    assert(plain == 2)
    assert(embeddings(Set("semanticPath")) == plain)
  }

  test("interpretation: corpus tokens with occurrence and weight, first-occurrence order") {
    val g2 = new Graft(spark)
    g2.register(CollectionSchema("Article", "id", Seq(
      Property("title", PropType.Text), Property("body", PropType.Text))),
      Seq((1L, "Spark Spark", "fast spark engine")).toDF("id", "title", "body"))
    val r = g2.get(GetParams("Article", pagination = Some(Pagination(limit = 1)),
      properties = Seq("id"), additional = Set("interpretation")))
      .select(col("_interpretation")).head().getSeq[org.apache.spark.sql.Row](0)
    // corpus = "article" (class) + body + title (prop-name order) =
    // "article fast spark engine spark spark"
    assert(r.map(_.getString(0)) == Seq("article", "fast", "spark", "engine"))
    assert(r.map(_.getLong(1)) == Seq(1L, 1L, 3L, 1L))
    assert(math.abs(r.map(_.getDouble(2)).sum - 1.0) < 1e-12,
      "weights are occurrence shares and sum to 1")
    assert(math.abs(r(2).getDouble(2) - 0.5) < 1e-12)
  }

  test("the per-step 10-nearest candidate cut is load-bearing: an excluded " +
      "word that still beats the strict bound must NOT extend the walk") {
    // Crafted 2-d geometry (builder.go restricts candidates to the 10
    // nearest of the CURRENT position before the strictly-closer filter —
    // an unrestricted argmin walk is a plausible wrong implementation):
    //   search S=(0,0), target T=(10,0)
    //   w1=(1,0): nearest to S, steps first; minDist becomes l2(w1,T)=9
    //   d1..d9 at (1, ±0.41..0.49): the 9 nearest to w1, all with
    //     dist-to-T = sqrt(81+y²) > 9 → none survives the strict bound
    //   far=(5,0): dist-to-T=5 < 9 SURVIVES the bound, but ranks 11th by
    //     distance to w1 (4.0 vs <= 0.49) → OUTSIDE the candidate cut
    //   dud=(-6,0): fails both (padding so the cut excludes two words)
    // Correct walk: [w1] then stop. Unrestricted walk: continues to far.
    val voc: Contextionary.Vocab =
      Seq("w1" -> Array(1.0f, 0.0f),
          "far" -> Array(5.0f, 0.0f),
          "dud" -> Array(-6.0f, 0.0f)) ++
      (1 to 9).map { i =>
        val y = (0.40 + i * 0.01).toFloat * (if (i % 2 == 0) 1 else -1)
        s"d$i" -> Array(1.0f, y)
      }
    val path = Contextionary.walk(Array(0.0f, 0.0f), Array(10.0f, 0.0f), voc)
    assert(path == Seq("w1"),
      s"walk must stop when no 10-nearest candidate survives (got $path)")
    // sanity that the bed is what the comment claims: 'far' DOES satisfy
    // the strict bound an unrestricted walk would act on
    assert(math.abs(5.0 - 10.0) < 9.0)
  }

  test("walk terminates and never repeats a concept (strict-decrease bound)") {
    val voc = (0 until 8).map(i =>
      s"w$i" -> Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat))
    val path = Contextionary.walk(Array(1.0f, 0.0f), Array(-1.0f, 0.1f), voc)
    assert(path.nonEmpty && path.length <= voc.length)
    assert(path.distinct == path, "a stepped-to concept can never repeat")
  }
}
