package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.Graft

/** One oracle gate: the engine query `build` runs on a dataset dir, and
 * `oracle` is the DuckDB SQL that computes the expected result from the
 * same parquet tables. `build` is only called by a consumer; the
 * registry itself evaluates nothing but the oracle strings. `build` takes
 * its own parameter list so a declaration reads
 * `Gate(name, oracle) { (s, dir) => ... }`. */
final case class Gate(name: String, oracle: String)(
    val build: (SparkSession, String) => DataFrame)

object Gate {

  /** The registry: every gate in declaration order. A name declared twice
   * fails here instead of one declaration silently replacing the other. */
  private[graft] def registry(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  // --- helpers the registry files share ----------------------------------

  private[graft] def g(spark: SparkSession, dir: String): Graft = Fixtures.graft(spark, dir)

  /** A fresh directory `<root>/<tag>-<random>` for a gate's side tables,
   * stores and replay files. Every one lives under one per-JVM root
   * (`graft-<random>` in the temp dir) that a shutdown hook deletes:
   * nothing reads a gate's dirs after its JVM exits. */
  private[graft] def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tempRoot, s"$tag-").toString

  private lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-")
    sys.addShutdownHook(deleteRecursively(root.toFile))
    root
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Scripted-gate step outcomes, shared by every control-plane walk gate:
   * "ok" (or the value) on success, the thrown message on failure. */
  private[graft] def okOr(body: => Any): String =
    try { body; "ok" } catch { case e: Throwable => e.getMessage }
  private[graft] def valueOr(body: => Any): String =
    try { body.toString } catch { case e: Throwable => e.getMessage }

  /** A scripted gate's (step, result) rows, in step order. */
  private[graft] def steps(s: SparkSession, rows: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("step", "result").orderBy(col("step"))
  }
}
