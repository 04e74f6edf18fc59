package graft

import org.apache.spark.sql.functions._

import graft.model._
import graft.sources.{CollectionStore, ExportSnapshot}

/**
 * Concurrent-writer linearization: the store's read-modify-write mutations
 * serialize under the write lock (reference: usecases/objects batch manager
 * serializes per shard), readers pin the version they opened, and a
 * prepared export anchors a point-in-time version no racing writer moves.
 */
class StoreRaceSpec extends SparkSpecBase {
  import spark.implicits._

  private def newStore(name: String): CollectionStore =
    new CollectionStore(spark,
      java.nio.file.Files.createTempDirectory(s"graft-race-$name").toString,
      CollectionSchema(name, "id", Seq(Property("payload", PropType.Int))))

  test("N racing upsert batches all land: no lost update, version count exact") {
    val st = newStore("RaceA")
    st.init(Seq((0L, 0)).toDF("id", "payload"))
    assert(st.version == 0)
    val threads = 4; val batchesPerThread = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // start barrier: align every writer's first read-modify-write window so
    // a removed lock fails deterministically, not only under lucky timing
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        try {
          start.await()
          (0 until batchesPerThread).foreach { b =>
            // disjoint id ranges per (thread, batch): a lost update is visible
            // as a missing range, not a coincidental overwrite
            val lo = 1000L * (t * batchesPerThread + b + 1)
            st.upsert(spark.range(lo, lo + 10).select(col("id"), lit(t).as("payload")))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.foreach(_.start()); start.countDown(); pool.foreach(_.join(300000))
    assert(errs.isEmpty, s"writer thread failed: ${Option(errs.peek()).map(_.toString)}")
    // every mutation claimed its own version — none clobbered
    assert(st.version == threads * batchesPerThread)
    // every batch's rows are present exactly once
    assert(st.read().count() == 1L + threads * batchesPerThread * 10L)
    assert(st.read().select("id").distinct().count() == 1L + threads * batchesPerThread * 10L)
  }

  test("reader pins its version; prepared export anchors against racing writers") {
    val st = newStore("RaceB")
    st.init(spark.range(0, 50).select(col("id"), lit(1).as("payload")))
    val pinned = st.collection.df // reader opened at v0
    val ex = new ExportSnapshot()
    val prep = ex.prepare("race-exp", Seq("RaceB" -> st))

    // racing writers land BETWEEN prepare and commit
    val w = (0 until 2).map { t =>
      new Thread(() => st.upsert(
        spark.range(100L + t * 100, 100L + t * 100 + 25)
          .select(col("id"), lit(9).as("payload"))))
    }
    w.foreach(_.start()); w.foreach(_.join(300000))
    assert(st.version == 2 && st.read().count() == 100)

    val dest = java.nio.file.Files.createTempDirectory("graft-race-dst").toString
    val m = ex.commit(prep, dest)
    // the export scanned the PREPARED version — racing writes never leak in
    assert(m.objectsExported("RaceB") == 50L)
    assert(spark.read.parquet(s"$dest/race-exp/RaceB").count() == 50L)
    // and the pinned reader still serves its open-time version
    assert(pinned.count() == 50L)
  }

  test("two store instances on the same root serialize through one shared lock") {
    // addProperty (and any re-open) hands out a SECOND CollectionStore on
    // the same root; instance-private locks would race straight back into
    // the lost-update hole — the lock is keyed per canonical root
    val root = java.nio.file.Files.createTempDirectory("graft-race-shared").toString
    val schema = CollectionSchema("RaceD", "id", Seq(Property("payload", PropType.Int)))
    val st1 = new CollectionStore(spark, root, schema)
    st1.init(Seq((0L, 0)).toDF("id", "payload"))
    val st2 = new CollectionStore(spark, root, schema)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(st1, st2).zipWithIndex.flatMap { case (st, si) =>
      (0 until 3).map { b =>
        new Thread(() => {
          try {
            start.await()
            val lo = 1000L * (si * 3 + b + 1)
            st.upsert(spark.range(lo, lo + 5).select(col("id"), lit(si).as("payload")))
          } catch { case e: Throwable => errs.add(e) }
        })
      }
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(st1.version == 6 && st2.version == 6)
    assert(st1.read().count() == 1L + 6 * 5)
  }

  test("delete racing upserts: interleaved mutations serialize to a consistent final state") {
    val st = newStore("RaceC")
    st.init(spark.range(0, 40).select(col("id"), lit(1).as("payload")))
    val start = new java.util.concurrent.CountDownLatch(1)
    def aligned(body: => Unit) = new Thread(() => { start.await(); body })
    val ops = Seq(
      aligned(st.deleteWhere(Where.ltInt("id", 10L))),
      aligned(st.upsert(spark.range(200, 220).select(col("id"), lit(2).as("payload")))),
      aligned(st.merge(spark.range(30, 40).select(col("id"), lit(7).as("payload")))))
    ops.foreach(_.start()); start.countDown(); ops.foreach(_.join(300000))
    assert(st.version == 3)
    val fin = st.read()
    // serial-order invariants that hold under EVERY interleaving
    assert(fin.filter(col("id") < 10).count() == 0)                     // delete landed
    assert(fin.filter(col("id") >= 200).count() == 20)                  // upsert landed
    assert(fin.filter(col("id") >= 30 && col("id") < 40)
      .filter(col("payload") === 7).count() == 10)                      // merge landed
    assert(fin.count() == 50) // 40 init − 10 deleted + 20 upserted (merge patches in place)
  }

  test("mutations never change the conf a concurrent reader plans or reads with") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.types.{DataType, StringType}
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.sources.partitionColumnTypeInference.enabled",
      "spark.sql.shuffle.partitions")
    val before = keys.map(k => k -> spark.conf.get(k)).toMap
    val written = newStore("ConfW")
    written.init(spark.range(0, 200).select(col("id"), lit(0).as("payload")))
    val other = newStore("ConfR")
    other.init(spark.range(0, 50).select(col("id"), (col("id") % 5).cast("int").as("payload")))
    val tenants = new CollectionStore(spark,
      java.nio.file.Files.createTempDirectory("graft-race-tenant").toString,
      CollectionSchema("ConfT", "id", Seq(Property("payload", PropType.Int)),
        tenantColumn = Some("tenant")))
    tenants.init(Seq((1L, 1, "007"), (2L, 2, "acme")).toDF("id", "payload", "tenant"))

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val upserts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writer = new Thread(() => {
      try {
        while (!stop.get()) {
          val lo = 1000L * (upserts.get() + 1)
          written.upsert(spark.range(lo, lo + 200).select(col("id"), lit(1).as("payload")))
          upserts.incrementAndGet()
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    writer.start()
    try {
      var rounds = 0
      while (errs.isEmpty && (rounds < 10 || upserts.get() < 3)) {
        val plan = other.read().groupBy("payload").count().queryExecution.executedPlan
        assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
          s"round $rounds planned without AQE:\n$plan")
        keys.foreach(k => assert(spark.conf.get(k) == before(k), s"round $rounds: $k changed"))
        val v = tenants.version
        val reads = (0 until 4).map { _ =>
          pool.submit(new java.util.concurrent.Callable[(DataType, Set[Any])] {
            def call() = {
              val df = tenants.readAt(v)
              (df.schema("tenant").dataType, df.select("tenant").collect().map(_.get(0)).toSet)
            }
          })
        }
        reads.map(_.get()).foreach { case (dt, values) =>
          assert(dt == StringType && values.contains("007"),
            s"round $rounds: tenant read as $dt with $values")
        }
        rounds += 1
      }
    } finally {
      stop.set(true); writer.join(300000); pool.shutdown()
    }
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    keys.foreach(k => assert(spark.conf.get(k) == before(k), s"$k left changed"))
  }
}
