package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.gates result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Fixtures.spark()
    new java.io.File(outDir).mkdirs()
    // local-iteration convenience: SPARK_GRAFT_ONLY=q_a,q_b runs a subset
    // (the driver never sets it, so its runs always cover every query)
    // subset runs dump only the selected oracles too: the local mirror
    // iterates oracle_sql.json, so a full dump would FAIL every unselected
    // query (or worse, compare stale result dirs from an older run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.gates.filter(gt => only.forall(_.contains(gt.name)))
    // a reused outDir must not leave a STALE result dir behind a now-failing
    // query — the compare would silently grade old output as a PASS. Every
    // selected query's dir is removed up front; a failure mid-write removes
    // the partial dir too, so "dir exists" always means "this run succeeded".
    def rmTree(path: String): Unit = {
      val root = Paths.get(path)
      if (Files.exists(root)) {
        val walk = Files.walk(root) // must close: holds directory handles
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { gt =>
      val name = gt.name
      rmTree(s"$outDir/$name")
      try gt.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        rmTree(s"$outDir/$name")
      }
    }
    val q = Fixtures.jsonString _
    val json = selected
      .map(gt => s"${q(gt.name)}: ${q(gt.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failed queries must leave a durable per-query error record (round-9
    // lesson: stderr-only reporting let 99 broken queries vanish from the
    // driver's CORRECTNESS file without a trace) — _errors.json carries
    // name → message for every query that produced no result dir
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
