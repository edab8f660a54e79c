package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** PageRank operator semantics beyond the oracle-verified catalog queries:
  * the tol-based early stop must (a) spend fewer rounds than the cap on a
  * graph that converges, (b) leave the ranks the fixed-round form would
  * have produced at that depth (same recurrence, just a data-dependent
  * stop), and (c) conserve rank mass under dangling redistribution. */
class PageRankSpec extends AnyFunSuite with SparkSuite {

  // a 4-cycle converges to the uniform fixpoint IMMEDIATELY (every node
  // has in-degree 1 from a node of rank 1/N): delta is 0 after round 1
  private def cycle = {
    import spark.implicits._
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
  }

  // a star + tail needs several rounds to settle
  private def star = {
    import spark.implicits._
    Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 5L), (5L, 6L))
      .toDF("src", "dst")
  }

  test("tol early-stop: converged graph spends fewer rounds than the cap") {
    val (ranks, rounds) = PageRank.runCounted(cycle, iters = 20, tol = 1e-9)
    assert(rounds < 20, s"cycle should converge early, ran $rounds rounds")
    assert(rounds <= 2)
    // uniform fixpoint: every rank = 1/4
    val vals = ranks.select(round(col("rank"), 9).as("r"))
      .distinct().collect().map(_.getDouble(0)).toSeq
    assert(vals === Seq(0.25))
  }

  test("tol run matches the fixed-round run at the depth it stopped") {
    val (tolRanks, rounds) = PageRank.runCounted(star, iters = 50, tol = 1e-8)
    assert(rounds < 50, s"star should converge before the cap, ran $rounds")
    val fixed = PageRank.run(star, iters = rounds)
    val diff = tolRanks.select(col("node"), col("rank").as("a"))
      .join(fixed.select(col("node"), col("rank").as("b")), "node")
      .agg(sum(abs(col("a") - col("b"))).as("d"))
      .head().getDouble(0)
    assert(diff < 1e-12,
      s"early-stop ranks must equal fixed-round ranks at depth $rounds")
  }

  test("dangling redistribution conserves rank mass under tol") {
    val (ranks, _) = PageRank.runCounted(star, iters = 50,
      redistributeDangling = true, tol = 1e-10)
    val mass = ranks.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9,
      s"rank mass must stay 1.0 with dangling redistribution, got $mass")
  }
}
