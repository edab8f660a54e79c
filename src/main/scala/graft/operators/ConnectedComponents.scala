package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components — the iterative-graph operator class (dedup's
  * final step: near-dup *pairs* → canonical *groups*, keep one
  * representative per component).
  *
  * Two paths with one result, component = min node id reachable:
  *
  *   - Bounded graphs (at most [[MaxLocalEdges]] edges, no null
  *     endpoint, integral ids): the edges are read once with one
  *     `limit(MaxLocalEdges + 1).collect()` — a single Spark job — and a
  *     driver-side union-find returns the components as a local frame.
  *     The catalog's match graphs are this case (at sf0.1 q_er_cluster
  *     has 2,000 nodes, q_dedup_groups 835), where every distributed
  *     round was pure job latency.
  *   - Anything larger runs [[rounds]], min-label propagation with
  *     pointer jumping: every node starts labeled with itself; each
  *     round, a node takes the minimum label among itself and its
  *     neighbors, then jumps to its label's label; stop when no label
  *     changes. Deterministic — no RNG, min is order-independent.
  *
  * Rounds scale shape: per round, one shuffle (join edges⋈labels on the
  * node key) + one aggregation (min per node); pointer jumping makes the
  * round count O(log diameter).
  */
object ConnectedComponents {

  /** Most edges the bounded path solves on the driver: 65,536 edges are
    * at most 131,072 boxed ids plus one `Row` per edge, a few MB of
    * driver heap, and a union-find over them takes milliseconds — far
    * past the catalog's match graphs, far below a corpus-sized graph.
    * A fixed bound like [[GlobalRank.MaxBroadcastKeys]], not a knob. */
  val MaxLocalEdges: Int = 1 << 16

  /** @param edges DataFrame with two integral columns `src`, `dst`
    *              (undirected; each pair listed once is enough). Pass a
    *              checkpointed frame: the rounds path reads it again.
    * @param maxIters hard stop for the rounds path (safety; convergence
    *              usually comes first)
    * @return DataFrame(node, component) — component = min node id
    *         reachable */
  def run(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val schema = labelSchema(edges)
    val bounded = schema("node").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // coalesce(1): the limit then reads the partitions in ONE task,
        // so collecting a bounded edge set is one job, not executeTake's
        // growing batches of partitions
        val got = edges.select("src", "dst").coalesce(1)
          .limit(MaxLocalEdges + 1).collect()
        if (got.length <= MaxLocalEdges &&
            got.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) Some(got)
        else None
      case _ => None
    }
    bounded.fold(rounds(edges, maxIters))(local(edges, schema, _))
  }

  /** The schema both paths return: `node` has the type the two endpoint
    * columns widen to (their union); `component` comes out of a `min`
    * aggregate in every round, so it is nullable. */
  private def labelSchema(edges: DataFrame): StructType = {
    val u = edges.select(col("src").as("u"))
      .union(edges.select(col("dst").as("u"))).schema("u")
    StructType(Seq(StructField("node", u.dataType, u.nullable),
      StructField("component", u.dataType, nullable = true)))
  }

  /** Union-find over collected edges; every root is the minimum of its
    * set, because a union always hangs the larger root under the
    * smaller. */
  private def local(edges: DataFrame, schema: StructType,
      got: Array[Row]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    for (row <- got) {
      val a = row.get(0).asInstanceOf[Number].longValue
      val b = row.get(1).asInstanceOf[Number].longValue
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val box: Long => Any = schema("node").dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val rows = parent.keys.toArray.sorted.map(n => Row(box(n), box(find(n))))
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Distributed min-label propagation with pointer jumping: the path
    * for graphs past [[MaxLocalEdges]] (or with null or non-integral
    * endpoints). */
  private[operators] def rounds(edges: DataFrame, maxIters: Int = 20)
      : DataFrame = {
    // localCheckpoint (NOT cache): iterative plans reference the previous
    // round's frame multiple times, so without lineage TRUNCATION the
    // logical plan doubles every round and Catalyst analysis time explodes
    // exponentially — the classic iterative-DataFrame pitfall. Checkpointing
    // materializes each round and restarts the plan from the stored blocks.
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(true)
    // seed labels with min(self, neighbors) — the same aggregation shape
    // the plain self-init would need for its distinct, but it fuses the
    // first propagation round into initialization (one fewer loop round)
    var labels = sym.groupBy(col("u").as("node"))
      .agg(min("v").as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("component"))
      .localCheckpoint(true)
    // convergence via the label-sum invariant: propagation is monotone
    // decreasing (labels only ever take a smaller value), so the rounds
    // have converged exactly when sum(component) stops falling. One narrow
    // scan+agg of the checkpointed frame per round — replaces the r1 form's
    // join-against-previous-labels + count.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head()
        .getDecimal(0)) // null on an empty graph
        .map(_.stripTrailingZeros())
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      // candidate label per node: min of own and neighbors' labels
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), col("component"))
      val propagated = labels.select("node", "component")
        .union(viaNeighbors)
        .groupBy("node")
        .agg(min("component").as("component"))
      // pointer jump: component ← component's own component. Min-label
      // alone needs diameter-many rounds (a 40-long dup chain = 40 rounds);
      // jumping halves remaining depth each round → O(log diameter).
      val parents = propagated
        .select(col("node").as("p_node"), col("component").as("p_comp"))
      val next = propagated
        .join(parents, propagated("component") === parents("p_node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("p_comp"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels
  }
}
