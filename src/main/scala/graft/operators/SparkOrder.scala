package graft.operators

import org.apache.spark.unsafe.types.UTF8String

/** Spark's sort order, replayed on the driver for top-k lists ranked off the
 * cluster (driver-scored BM25 in `Postings.search`, driver-fused hybrid in
 * `HybridSearch`): floating-point keys compare with -0.0 == 0.0 and NaN
 * greatest (SQLOrderingUtil), ids ascending with string ids by UTF-8 bytes
 * (UTF8String.compareTo) and a null id first. A float key compares through
 * its exact widening to double. */
private[graft] object SparkOrder {

  def compareDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  def compareId(x: Any, y: Any): Int = (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (a: String, b: String) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    case (a: Comparable[_], b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** `score desc, id asc` over (id, score) pairs. */
  val byScoreThenId: Ordering[(Any, Double)] = (x, y) => {
    val byScore = compareDouble(y._2, x._2)
    if (byScore != 0) byScore else compareId(x._1, y._1)
  }
}
