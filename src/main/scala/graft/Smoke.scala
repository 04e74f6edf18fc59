package graft

import org.apache.spark.sql.functions._

import graft.ann.IvfIndex
import graft.model._
import graft.sources.{AutoSchema, CollectionStore}
import graft.streaming.Ingest

/** t1-style smoke: flagship query + CRUD store + streaming ingest + IVF —
 * every non-query surface driven end-to-end on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Fixtures.spark()
    import spark.implicits._

    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows = ${rows.length}")
    rows.take(3).foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry() returned no rows")

    // CRUD store round-trip (upsert → merge → deleteWhere → ttl)
    val storeDir = Gate.tempDir("smoke-store")
    val store = new CollectionStore(spark, storeDir,
      AutoSchema.infer("SmokeItems", Seq((1L, "a", 5L)).toDF("id", "name", "qty"), "id"))
    store.init(Seq((1L, "a", 5L), (2L, "b", 50L)).toDF("id", "name", "qty"))
    store.upsert(Seq((3L, "c", 7L)).toDF("id", "name", "qty"))
    store.merge(Seq((1L, 6L)).toDF("id", "qty"))
    // the merge must actually land (patched column updated, others kept) —
    // count-only checks would pass a no-op merge
    val mergedRow = store.read().filter($"id" === 1L)
      .select($"qty", $"name").head()
    require(mergedRow.getLong(0) == 6L && mergedRow.getString(1) == "a",
      s"merge did not apply: $mergedRow")
    val deleted = store.deleteWhere(Where.gtInt("qty", 40L))
    println(s"[smoke] store v${store.version} rows=${store.read().count()} deleted=$deleted")
    require(store.read().count() == 2 && deleted == 1)

    // streaming file ingest
    val in = Gate.tempDir("smoke-in")
    val out = Gate.tempDir("smoke-out")
    val cp = Gate.tempDir("smoke-cp")
    val batch = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    batch.write.mode("append").parquet(in)
    Ingest.fileIngest(spark, in, out, batch.schema, cp).awaitTermination(60000)
    val ingested = spark.read.parquet(out).count()
    println(s"[smoke] streaming ingested rows = $ingested")
    require(ingested == 2)

    // IVF index probe
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val hits = ivf.search(Fixtures.anchorVector(Fixtures.graft(spark, "/root/testdata/sf0.001"), 7L),
      5, Metric.L2Squared, nprobe = 4).collect()
    println(s"[smoke] ivf top-5 = ${hits.map(_.getAs[Long]("vec_id")).mkString(",")}")
    require(hits.nonEmpty && hits.head.getAs[Long]("vec_id") == 7L)

    println("[smoke] OK")
    spark.stop()
  }
}
