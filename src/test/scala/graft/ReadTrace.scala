package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block ran on Spark from the calling thread, attributed by job
 * group: the number of jobs it started and the physical plan of every query
 * it executed, eager fetches at plan build included. */
final case class ReadTrace(jobs: Int, plans: Seq[String]) {
  /** Some query scanned with a partition filter on `column`. */
  def partitionFilters(column: String): Boolean = plans.exists(_.linesIterator.exists(l =>
    l.contains("PartitionFilters: [") && l.contains(column)))
}

object ReadTrace {

  /** Runs `body` under a fresh job group and returns its trace. A marker job
   * run afterwards in its own group proves the listener bus delivered every
   * earlier event. */
  def apply[T](spark: SparkSession)(body: => T): (T, ReadTrace) = {
    val sc = spark.sparkContext
    val group = s"traced-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val plans = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "traced read")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker job")
      (out, ReadTrace(jobs.get, plans.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
