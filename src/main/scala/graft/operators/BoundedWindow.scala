package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/**
 * Partition-less windows over frames PROVEN bounded by construction.
 *
 * Spark logs `WindowExec: No Partition Defined for Window operation!` for
 * every global window — a legitimate scale warning when the input is a
 * table, and a false alarm when the input is a top-k pool. Every call site
 * in this engine is the latter, and routes through this helper to say so:
 *
 *  - autocut (`Hybrid.autocut`): runs over an already-ranked top-k frame;
 *  - result grouping (`ResultGroupBy`, `Graft.get`'s groupBy arm): the rank
 *    pool is `limit`ed to max(limit, groups × objectsPerGroup) BEFORE the
 *    window (Graft.scala "Bound the rank pool BEFORE the global window");
 *  - boost rescoring (`Boost`): runs over the depth-bounded
 *    search pool (Graft.scala boost overfetch, capped at
 *    queryMaximumResults).
 *
 * A single task ranking k rows (k ≤ a few hundred at the API's pagination
 * bounds) is the CORRECT plan — the reference performs the same autocut
 * driver-side over the merged top-k list (entities/autocut/autocut.go).
 * At 100 TB the bounded pool size is unchanged: k rows cross the exchange
 * per partition (TakeOrderedAndProject), then one task ranks them.
 *
 * If a NEW call site cannot prove its input bounded, do not use this helper —
 * partition the window or bound the frame first.
 */
object BoundedWindow {

  /** Global ordered window over a bounded frame (rank/lag/lead/cumsum). */
  def ordered(cols: Column*): WindowSpec = Window.partitionBy().orderBy(cols: _*)

  /** Global ordered window spanning the whole (bounded) frame — for
   * first/last/count over the entire pool. */
  def orderedAll(cols: Column*): WindowSpec =
    ordered(cols: _*).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** Global unordered window over a bounded frame (min/max/count). */
  def all(): WindowSpec = Window.partitionBy()
}
