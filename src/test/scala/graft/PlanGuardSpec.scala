package graft

/**
 * Plan-shape regression gate over the ENTIRE declared query surface: builds
 * every SparkEntry query at sf0.001 and rejects physical plans containing a
 * cartesian product or unhinted nested-loop join — the two shapes that
 * silently turn a working sf0.01 query into an O(N²) scan at 100 TB. Driver-
 * side post-processing (MMR, merge-group, autocut pools) returns bounded
 * local frames, so their trivial plans pass vacuously; everything that runs
 * distributed is covered.
 */
class PlanGuardSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  /** Nested-loop joins whose broadcast side is a provably tiny frame are the
   * scalar-subquery pattern (O(N), not O(N²)) — reviewed and allowed. */
  private val allowedNestedLoop = Map(
    // one aggregated stats row (per-target min/max over the bounded pool)
    // crossed onto the pool for min-max normalization
    "q_near_multitarget_rel" -> "single-row stats broadcast",
    // DSIR model build: the single-row corpus total crossed onto the
    // B-row (B = hash buckets, a model constant) distribution frame
    "q_dsir_weights" -> "single-row total onto B-row model frame",
    "q_dsir_select" -> "single-row total onto B-row model frame",
    // the single-row rate normalizer crossed onto the domain-count frame
    // (domain cardinality ≪ rows)
    "q_curate_temperature" -> "single-row normalizer onto domain counts",
    // the single-row corpus size N crossed onto the vocabulary-sized df
    // frame for idf
    "q_text_tfidf" -> "single-row N onto vocabulary-sized df frame")

  test("every allowlisted name is a gate") {
    val names = SparkEntry.gates.map(_.name).toSet
    assert(allowedNestedLoop.keySet.subsetOf(names), allowedNestedLoop.keySet -- names)
  }

  test("no cartesian product or nested-loop join in any declared query plan") {
    val offenders = SparkEntry.gates.sortBy(_.name).flatMap { gt =>
      val name = gt.name
      try {
        val plan = gt.build(spark, dir).queryExecution.executedPlan.toString
        val hits = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
          .filterNot(h => h == "BroadcastNestedLoopJoin" && allowedNestedLoop.contains(name))
        if (hits.nonEmpty) Some(s"$name: ${hits.mkString(",")}") else None
      } catch {
        case e: Throwable => Some(s"$name: failed to plan (${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    }
    assert(offenders.isEmpty, "scale-hostile plans:\n" + offenders.mkString("\n"))
  }
}
