package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/**
 * Per-query Spark conf without touching the caller's session. A query that
 * needs a non-default conf runs on a [[cloned]] child session: it shares the
 * SparkContext, the cache manager and the catalog, but its conf is its own,
 * so no other thread ever plans under the changed value. [[rebind]] moves a
 * frame's analyzed plan into another session, the way Spark binds a plan to a
 * chosen session internally (`Dataset.ofRows`).
 */
object SessionScope {

  /** A child of `spark` with `confs` set on the child only. */
  def cloned(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val child = spark.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** `df`'s analyzed plan, planned and run by `spark` under its conf. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
