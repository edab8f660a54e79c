package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic k-means (Lloyd) over `array<double>` vector columns — the
  * trained-centroid path for IVF-style ANN partitioning (SURVEY §7 M5; the
  * per-label centroids in q_ivf_assign are the untrained stand-in).
  *
  * Scale shape (the standard distributed k-means):
  *  - vectors NEVER leave executors; per iteration one narrow assignment
  *    pass + one aggregation (k·dim partial sums merged map-side);
  *  - only the k×dim centroid matrix moves (collected, then re-broadcast
  *    as literals into the next iteration's plan);
  *  - distances use the codegen'd `dot_product` expression (the typed
  *    Column [[graft.functions.DotProduct.col]]) via the
  *    ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² expansion — the ‖x‖² term is constant
  *    per row and dropped from the argmin.
  *
  * Determinism: init picks the k lexicographically-smallest md5(id)
  * vectors (content-defined, no RNG); a FIXED iteration count (no
  * data-dependent convergence test); argmin ties break on centroid index.
  * Two runs produce identical assignments — required for replicated-run
  * verification.
  */
object KMeans {

  final case class Model(centroids: Array[Array[Double]])

  /** @param vecs DataFrame with `id` (long) and `v` (array<double>)
    * @return (model, assignment DataFrame: id, cluster, d2) */
  def fit(vecs: DataFrame, k: Int, iters: Int): (Model, DataFrame) = {
    require(k >= 1 && iters >= 1)
    val dot = (a: Column, b: Column) => graft.functions.DotProduct.col(a, b)

    // deterministic seeds: k smallest md5(id)
    var centroids: Array[Array[Double]] = vecs
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy("h").limit(k)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)

    if (centroids.isEmpty) // empty input: nothing to fit, empty assignment
      return (Model(Array.empty),
        vecs.select(col("id"), lit(0).cast("int").as("cluster"),
          lit(0.0).as("d2")))

    def assignExpr(cs: Array[Array[Double]]): Column = {
      val scored = cs.zipWithIndex.map { case (c, j) =>
        val c2 = c.map(x => x * x).sum
        struct(
          (lit(c2) - lit(2.0) * dot(col("v"), typedlit(c.toSeq))).as("d"),
          lit(j).as("j"))
      }
      array_min(array(scored.toIndexedSeq: _*))
    }

    for (_ <- 1 to iters) {
      val assigned = vecs
        .withColumn("cluster", assignExpr(centroids).getField("j"))
      // element-wise means: explode to (cluster, dim) partial sums —
      // k·dim result rows, data-side combine is map-side partial agg
      val sums = assigned
        .select(col("cluster"), posexplode(col("v")))
        .groupBy("cluster", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val (cl, pos) = (r.getInt(0), r.getInt(1))
        next(cl)(pos) = r.getDouble(2) / r.getLong(3)
      }
      centroids = next // clusters with no members keep their centroid
    }

    val model = Model(centroids)
    val finalAssign = vecs
      .withColumn("a", assignExpr(centroids))
      .select(col("id"), col("a.j").as("cluster"),
        round(col("a.d") + dot(col("v"), col("v")), 6).as("d2"))
    (model, finalAssign)
  }

  /** Total within-cluster sum of squares for a fitted assignment. */
  def cost(assigned: DataFrame): Double =
    assigned.agg(sum("d2")).head().getDouble(0)
}
