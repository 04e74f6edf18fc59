package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Graft
import graft.model._
import graft.operators._

/**
 * Driver contract (see SURVEY.md §7): `gates` declares every oracle gate
 * once, as `Gate(name, oracle) { (spark, dir) => query }`. The query
 * exercises an operator family from SURVEY §2 through the engine API; the
 * oracle is the DuckDB-equivalent SQL, run on the same parquet tables
 * (`scripts/verify_local.py` is the local compare). Each registry file (this
 * one and the other `SparkEntry*` objects) keeps its oracles beside their
 * queries; `gates` concatenates the files and rejects a duplicate name.
 * Verify, Bench, PlanAudit and PlanGuardSpec iterate it.
 *
 * Determinism rules used throughout:
 *  - every result has a total order (trailing id tie-break) on BOTH sides;
 *  - float outputs are rounded to 4 decimals on BOTH sides, but ordering is
 *    always by the EXACT value (rounding only affects the printed column);
 *  - oracle float math is forced to DOUBLE (DuckDB list_* functions compute in
 *    float32, which would diverge from our double-precision kernels).
 */
object SparkEntry {

  import Gate.g

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
   * filtered hybrid search (BM25 + vector legs, RRF fusion) over DocVec. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val g = Fixtures.graft(spark, dir)
    g.get(GetParams("DocVec",
      where = Some(Where.gtInt("n_chars", 100)),
      hybrid = Some(Hybrid("spark join stream", vector = Some(Fixtures.anchorVector(g, 7)),
        metric = Metric.Cosine, alpha = 0.5, fusionType = FusionType.Ranked)),
      pagination = Some(Pagination(limit = 10)),
      properties = Seq("text", "lang"),
      additional = Set("id", "score")))
  }

  // --- shared helpers -------------------------------------------------------

  /** Lineitem ∪ a planted 'Z' group whose top mode count TIES (l_linenumber
   * 9×2, 4×2, 2×1): every natural l_returnflag group has a unique maximal
   * count at sf0.01, so the deterministic-mode tie rule (count desc, value
   * asc → 4) was never exercised — a max-value or first-seen tie-break
   * hash-matched. The group's quantities (10..50) also pin exact-median=30
   * on a crafted odd set. */
  private def lineitemTieBedFor(gg: Graft, s: SparkSession): Unit =
    if (!gg.hasCollection("LineitemTie")) {
      val li = gg.collection("Lineitem").df
      val lns = Seq(9, 9, 4, 4, 2); val qtys = Seq(10.0, 20.0, 30.0, 40.0, 50.0)
      val plants = s.range(5).select(
        (col("id") + 99000001L).as("l_id"),
        lit(9900000L).as("l_orderkey"), lit(1L).as("l_partkey"),
        lit(1L).as("l_suppkey"),
        element_at(typedLit(lns), (col("id") + 1).cast("int")).as("l_linenumber"),
        element_at(typedLit(qtys), (col("id") + 1).cast("int")).as("l_quantity"),
        lit(0.0).as("l_extendedprice"), lit(0.0).as("l_discount"),
        lit(0.0).as("l_tax"), lit("Z").as("l_returnflag"),
        lit("O").as("l_linestatus"),
        lit(null).cast("timestamp").as("l_shipdate"), lit(false).as("is_high"))
      gg.register(CollectionSchema("LineitemTie", "l_id", Seq(
        Property("l_linenumber", PropType.Int),
        Property("l_quantity", PropType.Number),
        Property("l_returnflag", PropType.Text, Tokenization.Field))),
        li.unionByName(plants, allowMissingColumns = false))
    }

  /** documents ∪ one planted short doc repeating two of q_bm25_and's three
   * query terms ("table"/"dup" ×20, no "merge"): "dup" is the corpus's one
   * rare word (df 25, idf ≈ 3.0 vs ≈ 0.24 for the rest), and the plant's
   * 2-distinct-token length norm saturates both tf factors — score ≈ 3.2
   * vs ≤ 2.1 for any natural full match, so it LEADS the Or ordering but
   * carries terms_matched = 2 and the And page MUST exclude it. Probed at
   * sf0.01: no natural term triple separates And from Or (full matches
   * dominate every top-15), so without the plant an engine treating AndOp
   * as Or hash-matched. */
  private[graft] def bmAndBedFor(gg: Graft, s: SparkSession): Unit =
    if (!gg.hasCollection("DocAnd")) {
      import s.implicits._
      val docs = gg.collection("Document").df.select(col("doc_id"), col("text"))
      val plant = Seq((9000001L, ("table " * 20) + ("dup " * 19) + "dup"))
        .toDF("doc_id", "text")
      gg.register(CollectionSchema("DocAnd", "doc_id", Seq(
        Property("text", PropType.Text, Tokenization.Word))),
        docs.unionByName(plant))
      gg.registerPostings("DocAnd", Seq("text"))
    }

  /** DuckDB can't reference subqueries inside lambdas, so vector oracles
   * CROSS JOIN a one-row `qv(v)` CTE holding the anchor embedding. Fragments
   * assume aliases `e` (embeddings row) and `q` (the qv row) and compute in
   * DOUBLE (DuckDB's list_distance & co are float32 — would diverge from our
   * double-precision kernels). */
  private[graft] def sqlQv(vecId: Long): String =
    s"qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = $vecId)"

  private[graft] def sqlL2(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> " +
    s"power(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE), 2)))"

  /** L2 squared against the element-reversed `a` (the "rev" named vector). */
  private[graft] def sqlL2Rev(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> " +
    s"power(CAST($a[len($a)+1-i] AS DOUBLE) - CAST($b[i] AS DOUBLE), 2)))"

  private[graft] def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private[graft] def sqlCosine(a: String, b: String): String =
    s"(1.0 - ${sqlDot(a, b)} / sqrt(${sqlDot(a, a)} * ${sqlDot(b, b)}))"

  /** DuckDB BM25 oracle over `source`.text (word tokenization), mirroring
   * Bm25Search exactly: same idf/tf formulas, same term order, double math.
   * `source` must be the SAME corpus the engine-side collection scores over —
   * hybrid queries run on DocVec (documents ⋈ embeddings), whose N/avgLen/df
   * stats differ from plain documents whenever the join is not 1:1 (it is
   * 1:1 at sf0.01 but 5000:2000 at sf0.1 — masked until the sf0.1 audit). */
  /** The DocVec corpus (documents that HAVE an embedding) as an oracle
   * source — what every hybrid query's sparse leg must score over. */
  private[graft] val sqlDocVec =
    "(SELECT d.* FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)"

  /** Shared single-Word-prop BM25 oracle CTEs in the reference's scoring
   * model (see operators/Bm25.scala header): `dl` is the DISTINCT token
   * count, the pooled averagePropLength is the mean of the scored props'
   * mean lengths. `fieldPropMeans` lists the mean lengths of additional
   * Field-tokenized props in the scored set (each doc's field value is one
   * token → mean 1.0 when every doc has the prop): they join the pooled
   * average but can never match a Word-tokenized query term, so the
   * per-term frequencies stay text-only (queries with properties=Nil score
   * ALL searchable props — e.g. DocVec's text+lang+source). Query terms are
   * assumed distinct here; duplicate-term boost has its own dedicated
   * oracle (q_bm25f_multiprop). */
  private[graft] def sqlBm25(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                             source: String = "documents",
                             fieldPropMeans: Seq[Double] = Nil,
                             tokExpr: String = "regexp_extract_all(lower(text), '[a-z0-9]+')"): (String, String) = {
    val fCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS f$i" }.mkString(", ")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i" }.mkString(", ")
    val pooled =
      if (fieldPropMeans.isEmpty) "avg(CAST(len(list_distinct(toks)) AS DOUBLE))"
      else s"(avg(CAST(len(list_distinct(toks)) AS DOUBLE)) + ${fieldPropMeans.sum}) / ${1 + fieldPropMeans.size}"
    val termExprs = terms.indices.map { i =>
      s"(ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * (f$i / (f$i + $k1 * (${1.0 - b} + $b * dl / avgdl))))"
    }
    val score = termExprs.mkString(" + ")
    val contribCols = termExprs.zipWithIndex.map { case (e, i) => s"$e AS c$i" }.mkString(", ")
    val tok =
      s"""tok AS (SELECT doc_id, $tokExpr AS toks FROM $source),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, $pooled AS avgdl, $dfCols FROM tok),
         |feat AS (SELECT doc_id, CAST(len(list_distinct(toks)) AS DOUBLE) AS dl, $fCols FROM tok),
         |scored AS (SELECT doc_id, ($score) AS score_exact, $contribCols, ${terms.indices.map(i => s"f$i").mkString(" + ")} AS nmatch,
         |           ${terms.indices.map(i => s"CASE WHEN f$i > 0 THEN 1 ELSE 0 END").mkString(" + ")} AS terms_matched
         |           FROM feat CROSS JOIN stats)""".stripMargin
    (tok, score)
  }

  // --- the gate registry ----------------------------------------------------

  /** Every gate, in declaration order; a duplicate name fails here. */
  lazy val gates: Seq[Gate] = Gate.registry(base ++ SparkEntryExt.gates ++
    SparkEntryExt2.gates ++ SparkEntryFixtures.gates ++ SparkEntryWire2.gates ++
    SparkEntryGrpc.gates ++ SparkEntryObjects.gates ++ SparkEntryActions.gates)

  def gate(name: String): Gate =
    gates.find(_.name == name).getOrElse(throw new NoSuchElementException(s"no gate $name"))

  private def base: Seq[Gate] = Seq(

    // §2.2 filters: And + numeric/date ranges + (field-tokenized) text equal
    Gate("q_filter_and_range",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 30 AND l_shipdate < TIMESTAMP '1995-06-17'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Lineitem",
        where = Some(Where.and(
          Where.eqText("l_returnflag", "R"),
          Where.gtNum("l_quantity", 30.0),
          Where.ltDate("l_shipdate", "1995-06-17"))),
        properties = Seq("l_orderkey", "l_linenumber")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // §2.2 Or / Not combinators. Bound 25000 (not 1000): min totalprice is
    // ~1014, so the numeric disjunct matched ZERO rows and a first-arm-only
    // Or passed — at 25000 it contributes 402 non-'F' rows of its own
    Gate("q_filter_or_not",
      """SELECT o_orderkey FROM orders
        |WHERE (o_orderstatus = 'F' OR o_totalprice < 25000) AND NOT o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Order",
        where = Some(Where.and(
          Where.or(
            Where.eqText("o_orderstatus", "F"),
            Where.ltNum("o_totalprice", 25000.0)),
          Where.not(Where.eqText("o_orderpriority", "1-URGENT")))),
        properties = Seq("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },

    // §2.2 Like wildcards + ContainsAny(int/text)
    Gate("q_filter_like_contains",
      """SELECT p_partkey FROM part
        |WHERE (p_name LIKE '%widget' OR p_type IN ('PROMO','LARGE'))
        |  AND p_size IN (5,10,15,20,25,30)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Part",
        where = Some(Where.and(
          Where.or(
            Where.like("p_name", "*widget"),
            Where.containsAnyText("p_type", Seq("PROMO", "LARGE"))),
          Where.containsAnyInt("p_size", Seq(5L, 10L, 15L, 20L, 25L, 30L)))),
        properties = Seq("p_partkey")))
        .orderBy(col("p_partkey"))
    },

    // §2.2 IsNull + len(prop)
    Gate("q_filter_isnull_len",
      """SELECT doc_id FROM documents
        |WHERE (CASE WHEN source = 'src13' THEN NULL ELSE source END) IS NULL
        |   OR length(text) > 350
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        where = Some(Where.or(
          Where.isNull("maybe_src"),
          Where.gtInt("len(text)", 350))),
        properties = Seq("doc_id")))
        .orderBy(col("doc_id"))
    },

    // §2.2 WithinGeoRange (haversine ≤ radius)
    Gate("q_filter_geo",
      """WITH pts AS (
        |  SELECT c_custkey,
        |         ((c_custkey * 7) % 17000) / 100.0 - 85.0 AS lat,
        |         ((c_custkey * 13) % 35000) / 100.0 - 175.0 AS lon
        |  FROM customer)
        |SELECT c_custkey FROM pts
        |WHERE 2 * 6371000.0 * asin(least(1.0, sqrt(
        |        pow(sin(radians(10.0 - lat) / 2), 2)
        |      + cos(radians(lat)) * cos(radians(10.0)) * pow(sin(radians(20.0 - lon) / 2), 2))))
        |      <= 6000000.0
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Customer",
        where = Some(Where.withinGeoRange("geo", 10.0, 20.0, 6.0e6)),
        properties = Seq("c_custkey")))
        .orderBy(col("c_custkey"))
    },

    // §2.2 cross-reference filter (1 hop: Order → Customer)
    Gate("q_ref_filter",
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND o_totalprice > 100000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Order",
        where = Some(Where.and(
          Where.eqText("o_custkey/Customer/c_mktsegment", "BUILDING"),
          Where.gtNum("o_totalprice", 100000.0))),
        properties = Seq("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },

    // §2.2 cross-reference filter, 2 hops (Order → Customer → Nation)
    Gate("q_ref_filter_2hop",
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE list_contains(regexp_extract_all(lower(n_name), '[a-z0-9]+'), 'nation')
        |      AND list_contains(regexp_extract_all(lower(n_name), '[a-z0-9]+'), '7')))
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Order",
        where = Some(Where(WhereOp.Equal,
          Seq("o_custkey", "Customer", "c_nationkey", "Nation", "n_name"),
          Some(FilterValue.TextV("NATION_7")))),
        properties = Seq("o_orderkey")))
        .orderBy(col("o_orderkey"))
    },

    // §2.7 multi-key sort + offset/limit pagination
    Gate("q_sort_page",
      """SELECT p_partkey, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 20 OFFSET 5""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Part",
        sort = Seq(SortBy.desc("p_retailprice"), SortBy.asc("p_partkey")),
        pagination = Some(Pagination(offset = 5, limit = 20)),
        properties = Seq("p_partkey", "p_retailprice")))
    },

    // §2.7 keyset cursor pagination
    Gate("q_cursor",
      "SELECT o_orderkey FROM orders WHERE o_orderkey > 700 ORDER BY o_orderkey LIMIT 15") { (s, dir) =>
      g(s, dir).get(GetParams("Order",
        cursor = Some(Cursor(after = Some(700L), limit = 15)),
        properties = Seq("o_orderkey")))
    },

    // §2.6 grouped numeric aggregations
    Gate("q_agg_group_numeric",
      """SELECT o_orderstatus, count(*) AS meta_count, count(o_totalprice) AS cnt,
        |  round(sum(o_totalprice), 4) AS sum_price, round(avg(o_totalprice), 4) AS mean_price,
        |  round(min(o_totalprice), 4) AS min_price, round(max(o_totalprice), 4) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      g(s, dir).aggregate(AggregateParams("Order",
        groupBy = Some(Seq("o_orderstatus")),
        properties = Map("o_totalprice" -> Seq(
          Aggregator.Count, Aggregator.Sum, Aggregator.Mean,
          Aggregator.Minimum, Aggregator.Maximum))))
        .select(
          col("groupedBy_value").as("o_orderstatus"),
          col("meta_count"),
          col("o_totalprice_count").as("cnt"),
          round(col("o_totalprice_sum"), 4).as("sum_price"),
          round(col("o_totalprice_mean"), 4).as("mean_price"),
          round(col("o_totalprice_minimum"), 4).as("min_price"),
          round(col("o_totalprice_maximum"), 4).as("max_price"))
        .orderBy(col("o_orderstatus"))
    },

    // §2.6 exact median + deterministic mode (over the tie-planted bed —
    // see lineitemTieBedFor)
    Gate("q_agg_median_mode",
      """WITH li AS (
        |  SELECT l_returnflag, l_linenumber, l_quantity FROM lineitem
        |  UNION ALL SELECT * FROM (VALUES
        |    ('Z', 9, 10.0), ('Z', 9, 20.0), ('Z', 4, 30.0),
        |    ('Z', 4, 40.0), ('Z', 2, 50.0)) v(l_returnflag, l_linenumber, l_quantity)),
        |modes AS (
        |  SELECT l_returnflag, l_linenumber AS mode_linenumber,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY count(*) DESC, l_linenumber ASC) AS rn
        |  FROM li GROUP BY l_returnflag, l_linenumber)
        |SELECT l.l_returnflag, round(median(l.l_quantity), 4) AS median_qty, any_value(m.mode_linenumber) AS mode_linenumber
        |FROM li l JOIN modes m ON l.l_returnflag = m.l_returnflag AND m.rn = 1
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      lineitemTieBedFor(gg, s)
      val c = gg.collection("LineitemTie")
      val med = gg.aggregate(AggregateParams("LineitemTie",
        groupBy = Some(Seq("l_returnflag")),
        properties = Map("l_quantity" -> Seq(Aggregator.Median))))
        .select(col("groupedBy_value").as("l_returnflag"),
          round(col("l_quantity_median"), 4).as("median_qty"))
      val mode = Aggregations.modeExact(c.df, Seq(col("l_returnflag")), col("l_linenumber"))
        .select(col("l_returnflag"), col("mode").as("mode_linenumber"))
      med.join(mode, Seq("l_returnflag")).orderBy(col("l_returnflag"))
    },

    // §2.6 boolean aggregations
    Gate("q_agg_bool",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS total_true,
        |  CAST(sum(CASE WHEN l_quantity > 25 THEN 0 ELSE 1 END) AS BIGINT) AS total_false,
        |  round(avg(CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END), 4) AS pct_true,
        |  round(avg(CASE WHEN l_quantity > 25 THEN 0.0 ELSE 1.0 END), 4) AS pct_false
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      g(s, dir).aggregate(AggregateParams("Lineitem",
        groupBy = Some(Seq("l_linestatus")),
        properties = Map("is_high" -> Seq(
          Aggregator.TotalTrue, Aggregator.TotalFalse,
          Aggregator.PercentageTrue, Aggregator.PercentageFalse))))
        .select(col("groupedBy_value").as("l_linestatus"),
          col("is_high_totalTrue").cast("long").as("total_true"),
          col("is_high_totalFalse").cast("long").as("total_false"),
          round(col("is_high_percentageTrue"), 4).as("pct_true"),
          round(col("is_high_percentageFalse"), 4).as("pct_false"))
        .orderBy(col("l_linestatus"))
    },

    // §2.6 date aggregations (min/max/median on timestamps)
    Gate("q_agg_date",
      """SELECT o_orderstatus,
        |  CAST(min(o_orderdate) AS VARCHAR) AS min_date,
        |  CAST(max(o_orderdate) AS VARCHAR) AS max_date,
        |  round(median(epoch_us(o_orderdate)), 4) AS median_micros
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val c = g(s, dir).collection("Order")
      c.df.groupBy(col("o_orderstatus"))
        .agg(
          min(col("o_orderdate")).cast("string").as("min_date"),
          max(col("o_orderdate")).cast("string").as("max_date"),
          round(median(unix_micros(col("o_orderdate").cast("timestamp"))), 4).as("median_micros"))
        .orderBy(col("o_orderstatus"))
    },

    // §2.6 topOccurrences per group
    Gate("q_agg_topoccurrences",
      """SELECT source, value, occurs, rank FROM (
        |  SELECT source, lang AS value, count(*) AS occurs,
        |         row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rank
        |  FROM documents GROUP BY source, lang)
        |WHERE rank <= 3 ORDER BY source, rank""".stripMargin) { (s, dir) =>
      val c = g(s, dir).collection("Document")
      Aggregations.topOccurrences(c.df, Seq(col("source")), col("lang"), 3)
        .select(col("source"), col("value"), col("occurs"), col("rank").cast("long").as("rank"))
        .orderBy(col("source"), col("rank"))
    },

    // §2.3 nearObject + l2-squared top-k
    Gate("q_near_l2",
      s"""WITH ${sqlQv(7)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Embedding",
        nearObject = Some(NearObject(7L, metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 SearchByVectorDistance: unlimited, threshold only (cosine)
    Gate("q_near_cosine_radius",
      s"""WITH ${sqlQv(3)},
         |d AS (SELECT e.vec_id, ${sqlCosine("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id FROM d WHERE dist <= 0.8 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Embedding",
        nearObject = Some(NearObject(3L, metric = Metric.Cosine, distance = Some(0.8))),
        properties = Seq("vec_id")))
        .orderBy(col("vec_id"))
    },

    // §2.3 multi-target search (Sum combination over named vectors)
    Gate("q_near_multitarget",
      s"""WITH ${sqlQv(11)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} + ${sqlL2Rev("e.embedding", "q.v")} AS dist
         |      FROM embeddings e CROSS JOIN qv q)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("Embedding",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 11L), metric = Metric.L2Squared,
          targetVectors = Seq("default", "rev"), combination = TargetCombination.Sum)),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 multi-target search with PER-TARGET query vectors (the
    // reference's `Vectors []models.Vector` aligned with targetVectors —
    // retrieval.go:33-39, shard_read.go:675 searchVectors[i]): each target
    // scored with its own query embedding, Sum-combined over the full scan
    Gate("q_near_multitarget_pervec",
      s"""WITH qa AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 11),
         |qb AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 23),
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "a.v")} + ${sqlL2Rev("e.embedding", "b.v")} AS dist
         |      FROM embeddings e CROSS JOIN qa a CROSS JOIN qb b)
         |SELECT vec_id, round(dist, 4) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("Embedding",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 11L), metric = Metric.L2Squared,
          targetVectors = Seq("default", "rev"), combination = TargetCombination.Sum,
          vectors = TargetQuery.singles(Seq(Fixtures.anchorVector(gg, 11L), Fixtures.anchorVector(gg, 23L))))),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 multi-target RelativeScore combination: pool = union of per-target
    // top-k, min-max normalized per target OVER THE POOL, weighted sum
    // (reference: shard_combine_multi_target.go:118-183 + hybrid_fusion.go)
    Gate("q_near_multitarget_rel",
      s"""WITH ${sqlQv(11)},
         |d AS (SELECT e.vec_id, ${sqlL2("e.embedding", "q.v")} AS d0,
         |             ${sqlL2Rev("e.embedding", "q.v")} AS d1
         |      FROM embeddings e CROSS JOIN qv q),
         |t0 AS (SELECT vec_id FROM d ORDER BY d0 ASC, vec_id ASC LIMIT 10),
         |t1 AS (SELECT vec_id FROM d ORDER BY d1 ASC, vec_id ASC LIMIT 10),
         |pool AS (SELECT * FROM d
         |         WHERE vec_id IN (SELECT vec_id FROM t0 UNION SELECT vec_id FROM t1)),
         |stats AS (SELECT min(d0) AS mn0, max(d0) AS mx0, min(d1) AS mn1, max(d1) AS mx1 FROM pool),
         |f AS (SELECT vec_id,
         |        (CASE WHEN mx0 = mn0 THEN 0.7 ELSE (d0 - mn0) / (mx0 - mn0) * 0.7 END)
         |      + (CASE WHEN mx1 = mn1 THEN 0.3 ELSE (d1 - mn1) / (mx1 - mn1) * 0.3 END) AS dist
         |      FROM pool CROSS JOIN stats)
         |SELECT vec_id, round(dist, 4) AS dist FROM f
         |ORDER BY f.dist ASC, vec_id ASC LIMIT 10""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("Embedding",
        nearVector = Some(NearVector(Fixtures.anchorVector(gg, 11L), metric = Metric.L2Squared,
          targetVectors = Seq("default", "rev"),
          combination = TargetCombination.RelativeScore(Seq(0.7, 0.3)))),
        pagination = Some(Pagination(limit = 10)),
        properties = Seq("vec_id"),
        additional = Set("distance")))
        .select(col("vec_id"), round(col("_distance"), 4).as("dist"))
    },

    // §2.3 vector-search groupBy (greedy rank-order grouping)
    Gate("q_group_near",
      s"""WITH ${sqlQv(11)},
         |ranked AS (
         |  SELECT e.vec_id, e.label,
         |         row_number() OVER (ORDER BY ${sqlL2("e.embedding", "q.v")} ASC, e.vec_id ASC) AS rnk
         |  FROM embeddings e CROSS JOIN qv q),
         |grouped AS (
         |  SELECT vec_id, label, rnk,
         |         row_number() OVER (PARTITION BY label ORDER BY rnk ASC) AS group_hit_rank,
         |         min(rnk) OVER (PARTITION BY label) AS gmin
         |  FROM (SELECT * FROM ranked ORDER BY rnk LIMIT 50)),
         |idx AS (SELECT *, dense_rank() OVER (ORDER BY gmin ASC) AS group_index FROM grouped)
         |SELECT group_index, label, group_hit_rank, vec_id FROM idx
         |WHERE group_index <= 5 AND group_hit_rank <= 3
         |ORDER BY group_index, group_hit_rank""".stripMargin) { (s, dir) =>
      g(s, dir).get(GetParams("Embedding",
        nearObject = Some(NearObject(11L, metric = Metric.L2Squared)),
        pagination = Some(Pagination(limit = 50)),
        groupBy = Some(GroupByParams("label", groups = 5, objectsPerGroup = 3)),
        properties = Seq("vec_id")))
        .select(col("group_index").cast("long").as("group_index"), col("group_value").as("label"),
          col("group_hit_rank").cast("long").as("group_hit_rank"), col("vec_id"))
        .orderBy(col("group_index"), col("group_hit_rank"))
    },

    // §2.4 BM25 top-k (searchOperator Or)
    Gate("q_bm25", {
      val terms = Seq("spark", "join", "stream", "window")
      val (ctes, _) = sqlBm25(terms)
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= 1
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 20""".stripMargin
    }) { (s, dir) =>
      g(s, dir).get(GetParams("Document",
        bm25 = Some(Bm25("spark join stream window", properties = Seq("text"))),
        pagination = Some(Pagination(limit = 20)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.4 BM25 searchOperator And (all terms required)
    Gate("q_bm25_and", {
      val terms = Seq("table", "dup", "merge")
      // same planted bed as bmAndBedFor: the 2-of-3 plant would LEAD an Or
      // ordering (its saturated two-term score beats every full match) but
      // terms_matched=2 keeps it out of this And page
      val (ctes, _) = sqlBm25(terms, source =
        "(SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT 9000001, repeat('table ', 20) || repeat('dup ', 19) || 'dup')")
      s"""WITH $ctes
         |SELECT doc_id, round(score_exact, 4) AS score FROM scored
         |WHERE terms_matched >= ${terms.size}
         |ORDER BY score_exact DESC, doc_id ASC LIMIT 15""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      bmAndBedFor(gg, s)
      gg.get(GetParams("DocAnd",
        bm25 = Some(Bm25("table dup merge", properties = Seq("text"),
          searchOperator = SearchOperator.AndOp)),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.5 hybrid rankedFusion (RRF)
    // alpha 0.7 (not 0.5): at 0.5 the RRF weight expression is symmetric
    // under a sparse/dense leg swap, so an engine applying alpha to the
    // WRONG leg hash-matched every Ranked gate — 0.7 pins alpha to the
    // vector leg (reference: hybrid alpha weights the vector side)
    Gate("q_hybrid_rrf", {
      val terms = Seq("spark", "join", "stream")
      // properties=Nil scores ALL DocVec searchable props: lang+source are
      // Field-tokenized (mean length 1.0) and join the pooled avgdl
      val (ctes, _) = sqlBm25(terms, source = sqlDocVec, fieldPropMeans = Seq(1.0, 1.0))
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
         |         coalesce(0.3 / (60 + s.r), 0.0) + coalesce(0.7 / (60 + de.r), 0.0) AS score_exact,
         |         coalesce(s.score_exact, de.sdense) AS secondary
         |  FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id)
         |SELECT doc_id, round(score_exact, 4) AS score FROM fused
         |ORDER BY score_exact DESC, secondary DESC, doc_id ASC LIMIT 15""".stripMargin
    }) { (s, dir) =>
      val gg = g(s, dir)
      gg.get(GetParams("DocVec",
        hybrid = Some(Hybrid("spark join stream", vector = Some(Fixtures.anchorVector(gg, 7L)),
          metric = Metric.Cosine, alpha = 0.7, fusionType = FusionType.Ranked)),
        pagination = Some(Pagination(limit = 15)),
        properties = Seq("doc_id"),
        additional = Set("score")))
        .select(col("doc_id"), round(col("_score"), 4).as("score"))
    },

    // §2.1 TPC-H Q1-style relational aggregation (M0 generic runner)
    Gate("q1_tpch",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1996-06-30'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.filter(col("l_shipdate") <= lit(Where.utcTs("1996-06-30")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // §2.10 streaming-shaped windowed aggregation (batch parity of the
    // Structured Streaming job in graft.streaming)
    Gate("q_events_window",
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Fixtures.events(s, dir)
      ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("w.start").cast("string").as("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // kNN join: for each probe (vec_id % 100 == 0), its 3 nearest neighbours.
    // IVF-bucketed join (probes and data equi-joined on shared centroids) at
    // full probe, so the result is exact and the brute-force SQL oracle
    // hash-matches; the pruned-nprobe regime is covered by KnnJoinSpec
    Gate("q_knn_join",
      """WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_vec FROM embeddings WHERE vec_id % 100 = 0),
        |pairs AS (
        |  SELECT p.probe_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(e.embedding)+1),
        |      i -> power(CAST(e.embedding[i] AS DOUBLE) - CAST(p.probe_vec[i] AS DOUBLE), 2))) AS dist
        |  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, dist,
        |         row_number() OVER (PARTITION BY probe_id ORDER BY dist ASC, vec_id ASC) AS rank
        |  FROM pairs)
        |SELECT probe_id, rank, vec_id AS neighbor_id, round(dist, 4) AS dist
        |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      val gg = g(s, dir)
      val emb = gg.collection("Embedding").df
      val probes = emb.filter(col("vec_id") % 100 === 0)
      KnnJoin.bucketed(SparkEntryExt.ivfFor(gg, dir),
          probes, col("vec_id"), col("embedding"),
          k = 3, metric = Metric.L2Squared, nprobe = 8)
        .select(col("probe_id"), col("rank").cast("long").as("rank"),
          col("data_id").as("neighbor_id"), round(col("dist"), 4).as("dist"))
        .orderBy(col("probe_id"), col("rank"))
    }
  )
}
