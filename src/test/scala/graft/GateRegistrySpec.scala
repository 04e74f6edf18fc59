package graft

import org.apache.spark.sql.functions.lit

/** The gate registry (`SparkEntry.gates`) and the session-keyed fixture
 * memo (`Fixtures.cached`) the gates build their beds through. */
class GateRegistrySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("every gate has a distinct name and a non-empty oracle") {
    val gates = SparkEntry.gates
    assert(gates.size == 274)
    assert(gates.map(_.name).distinct.size == gates.size)
    assert(gates.forall(_.oracle.trim.nonEmpty), gates.filter(_.oracle.trim.isEmpty).map(_.name))
  }

  test("a name declared twice fails when the registry is built") {
    def gate(name: String) = Gate(name, "SELECT 1")((s, _) => s.range(1).select(lit(1)))
    assert(Gate.registry(Seq(gate("a"), gate("b"))).map(_.name) == Seq("a", "b"))
    val e = intercept[IllegalArgumentException](Gate.registry(Seq(gate("a"), gate("b"), gate("a"))))
    assert(e.getMessage.contains("duplicate gate names: a"))
  }

  test("bed helpers memoize per session, not per dataset dir") {
    // warm both beds on the shared session first, as an earlier suite would
    val base = Fixtures.graft(spark, dir)
    SparkEntryExt.bqFor(base, dir)
    SparkEntryExt.muveraBedFor(base, dir)
    val other = spark.newSession()
    val gg = Fixtures.graft(other, dir)
    assert(gg ne base)
    assert(SparkEntryExt.bqFor(gg, dir).sparkSession eq other)
    assert(!(SparkEntryExt.bqFor(base, dir).sparkSession eq other))
    SparkEntryExt.muveraBedFor(gg, dir)
    assert(gg.hasCollection("MVecBed"))
  }

  test("a nested build may call the memo for another key, and a failed build is retried") {
    val s = spark.newSession()
    val outer = Fixtures.cached(s, "test:outer")(Fixtures.cached(s, "test:inner")(1) + 1)
    assert(outer == 2 && Fixtures.cached(s, "test:inner")(99) == 1)
    var calls = 0
    def flaky: Int = { calls += 1; if (calls == 1) throw new IllegalStateException("first"); calls }
    intercept[IllegalStateException](Fixtures.cached(s, "test:flaky")(flaky))
    assert(Fixtures.cached(s, "test:flaky")(flaky) == 2)
    assert(Fixtures.cached(s, "test:flaky")(flaky) == 2)
  }
}
