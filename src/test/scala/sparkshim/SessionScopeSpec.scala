package org.apache.spark.sql.graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

class SessionScopeSpec extends _root_.graft.SparkSpecBase {

  test("a conf set on a clone is invisible to the parent") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val child = SessionScope.cloned(spark, key -> "3")
    assert(child.conf.get(key) == "3")
    assert(spark.conf.get(key) == before)
    assert(SessionScope.cloned(spark).conf.get(key) == before)
  }

  test("rebind keeps the row set and plans in the target session") {
    val child = SessionScope.cloned(spark, "spark.sql.adaptive.enabled" -> "false")
    val df = spark.range(0, 100).select((col("id") % 7).as("k")).groupBy("k").count()
    val moved = SessionScope.rebind(df, child)
    assert(moved.sparkSession eq child)
    assert(moved.collect().toSet == df.collect().toSet)
    assert(!moved.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
    assert(SessionScope.rebind(df, spark) eq df)
  }

  test("a rebound persisted frame reads the existing cache entry and adds none") {
    val child = SessionScope.cloned(spark, "spark.sql.adaptive.enabled" -> "false")
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v")).persist()
    try {
      df.count()
      val entries = CacheEntries.count(spark)
      val moved = SessionScope.rebind(df, child)
      assert(moved.count() == 1000L)
      assert(moved.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.nonEmpty)
      assert(CacheEntries.count(spark) == entries)
    } finally { df.unpersist(); () }
  }

  test("src/main sets Spark conf only on a fresh clone inside SessionScope") {
    val confWrite = """\.conf\s*\.\s*(set|unset)\s*\(""".r
    // the check can see a write: the removed shared-session flips had this form
    assert(confWrite.findFirstIn("""spark.conf.set("spark.sql.adaptive.enabled", "false")""").isDefined)
    assert(confWrite.findFirstIn("spark.conf.unset(key)").isDefined)
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"no source tree at ${main.toAbsolutePath}")
    val files = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if confWrite.findFirstIn(line).isDefined
      if !(f.getFileName.toString == "SessionScope.scala" && line.contains("child.conf.set("))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "set the conf on SessionScope.cloned instead:\n" + offenders.mkString("\n"))
  }
}
