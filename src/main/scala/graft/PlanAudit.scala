package graft

import org.apache.spark.sql.functions._

/** Prints formatted physical plans for representative queries — the working
 * check that filters push into the parquet scan (PushedFilters), small sides
 * broadcast, and the hot path stays inside WholeStageCodegen. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Fixtures.spark()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    def show(name: String): Unit = {
      println(s"\n================ $name ================")
      println(SparkEntry.gate(name).build(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    Seq("q_filter_and_range", "q_ref_filter", "q_near_l2", "q_bm25").foreach(show)
    spark.stop()
  }
}
