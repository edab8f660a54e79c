package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 bounded-graph array-fold helpers (Graph3.natBfs /
  * allPairsSigma) against hand-computed truths on a known graph — the
  * BFS/centrality family (q_graph_diameter, q_betweenness,
  * q_eccentricity, q_closeness, q_bfs_dist) rides these folds, and the
  * oracle gate only exercises them on the fixture's thinned trade
  * graph, so edge semantics (sentinels, σ path counting, horizon) get
  * a direct unit pin here. The detector [[LoopInvariants]], which
  * `PlanSpec` runs over those keys' plans, is pinned here too.
  *
  * Test graph (undirected, stored once per edge like
  * GraphOps.significantEdges output):
  *
  *   1 — 2 — 4 — 5        diamond 1-2-4 / 1-3-4 plus a tail (5) and
  *   1 — 3 — 4            an isolated pair 6 — 7
  *   6 — 7
  */
class ArrayGraphSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("array-graph-spec")
    .getOrCreate()

  /** 1-row (ns, es) frame in natGraph's exact shape. */
  private def gFrame = {
    import spark.implicits._
    Seq((Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),
        Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (6L, 7L))))
      .toDF("ns", "es0")
      .select(col("ns"), transform(col("es0"), p =>
        struct(p.getField("_1").as("a"), p.getField("_2").as("b")))
        .as("es"))
  }

  test("natBfs: exact hop distances, 999 sentinel for unreachable") {
    val d = gFrame.select(Graph3.natBfs(Graph3.natNbrIdx,
        Graph3.natIdxs, lit(1), 6).as("d"))
      .head.getSeq[Long](0)
    // from node 1: d(1)=0, d(2)=d(3)=1, d(4)=2, d(5)=3; 6,7 unreachable
    assert(d === Seq(0L, 1L, 1L, 2L, 3L, 999L, 999L))
  }

  test("natBfs horizon caps settled distances") {
    val d = gFrame.select(Graph3.natBfs(Graph3.natNbrIdx,
        Graph3.natIdxs, lit(1), 2).as("d"))
      .head.getSeq[Long](0)
    // 2 hops: node 5 (true distance 3) must still read unreached
    assert(d === Seq(0L, 1L, 1L, 2L, 999L, 999L, 999L))
  }

  test("allPairsSigma: shortest-path counts match the diamond") {
    val rows = gFrame.select(posexplode(
        Graph3.allPairsSigma(Graph3.natNbrIdx, Graph3.natIdxs)))
      .select(col("pos").as("si"), posexplode(col("col")))
      .select(col("si"), col("pos").as("vi"),
        col("col.d").as("d"), col("col.sg").as("sg"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // diamond: two shortest 1→4 paths of length 2 (via 2 and via 3)
    assert(rows((0, 3)) === ((2L, 2L)))
    assert(rows((3, 0)) === ((2L, 2L)))
    // 1→5 runs through the diamond: still two shortest paths, length 3
    assert(rows((0, 4)) === ((3L, 2L)))
    // single-path pairs and self pairs
    assert(rows((0, 1)) === ((1L, 1L)))
    assert(rows((0, 0)) === ((0L, 1L)))
    assert(rows((5, 6)) === ((1L, 1L)))
    // cross-component pairs stay at the sentinel with σ = 0
    assert(rows((0, 5)) === ((999L, 0L)))
    assert(rows((6, 0)) === ((999L, 0L)))
  }

  test("loop-invariant detector flags unbound array work, not let-bound") {
    val xs = spark.range(1).select(array(col("id"), col("id") + 1).as("xs"),
      array(col("id") + 2, col("id") + 3).as("ys"))
    val bad = xs.select(transform(col("xs"), x =>
      x + array_position(col("ys"), lit(3L))).as("r"))
    assert(LoopInvariants.find(bad).size === 1)
    val bound = xs.select(graft.functions.Hof.let(
      array_position(col("ys"), lit(3L))) { p =>
        transform(col("xs"), x => x + p) }.as("r"))
    assert(LoopInvariants.find(bound).isEmpty)
    // work that reads the loop variable, or a variable bound inside the
    // loop, is per-element by nature
    val perElem = xs.select(transform(col("xs"), x =>
      graft.functions.Hof.let(x * 2) { y =>
        size(filter(col("ys"), z => z > y)) }).as("r"))
    assert(LoopInvariants.find(perElem).isEmpty)
  }
}
