package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Pins the k-truss hub-skew guard (Graph3.trussTop20's `hubTau`):
  * on a graph with one hub of extreme degree, the hub-path
  * (row-exploded smaller-endpoint closure) must produce EXACTLY the
  * same support/peel/top-20 result as the pure adjacency-array path —
  * τ only moves work between plans, never values — and the guarded
  * form must never materialize a neighbor array for the hub. */
class GraphGuardSpec extends AnyFunSuite with SparkSuite {

  test("trussTop20 is hubTau-invariant on a synthetic hub graph") {
    import spark.implicits._
    // hub 0 -- 1..300, ring (i, i+1), skip (i, i+2): plenty of
    // triangles both through the hub and along the ring
    val n = 300
    val edges = ((1 to n).map(i => (0L, i.toLong)) ++
      (1 until n).map(i => (i.toLong, i.toLong + 1)) ++
      (1 until n - 1).map(i => (i.toLong, i.toLong + 2))).toDF("u", "v")
    val cached = graft.CacheScope.cached(edges)
    // τ = 8: the hub (degree 300) and its ring neighbors (≤ 5) split
    // across both paths; τ = MaxValue: pure array path (the pre-guard
    // implementation's shape)
    val guarded = Graph3.trussTop20(cached, hubTau = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val arrayOnly = Graph3.trussTop20(cached, hubTau = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(guarded.nonEmpty, "hub graph must have a surviving 4-truss")
    assert(guarded.toSeq === arrayOnly.toSeq,
      "hubTau must not change support counts, peel, or ordering")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("fixture truss output is unchanged by the guard's default tau") {
    // every fixture degree is far below τ = 4096, so the guarded
    // implementation must reproduce the array-only result bit for bit
    // (the oracle gate checks values; this pins the refactor locally)
    val sf = "/root/testdata/sf0.001"
    val e = graft.CacheScope.cached(
      GraphOps.coPurchaseEdges(spark, sf))
    val a = Graph3.trussTop20(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = Graph3.trussTop20(e, hubTau = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq === b.toSeq)
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }
}
