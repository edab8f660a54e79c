package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.dec

/** Round-11 density/geometry batch: exact grid-bucketed closest pair
  * over a deterministic 2-D point cloud, Epanechnikov kernel density at
  * a fixed evaluation grid, histogram-based outlier scoring (HBOS), and
  * COPOD-style two-sided ECDF tail scores.
  *
  * The point cloud is synthesized from customer keys by two coprime
  * LCG multipliers mod 2¹⁶ — pure integer arithmetic, bit-identical in
  * any engine, no RNG. The closest-pair grid join is the textbook
  * distributed shape: bucket to cells of side 512, hash-join each cell
  * against its 9-cell neighborhood (a broadcast 9-row offset table —
  * never an n² cross join), take the global argmin with a deterministic
  * (d², k1, k2) tiebreak. Exactness holds whenever the true minimum
  * distance is below the cell side; the fixture minimum is orders of
  * magnitude below it at every SF (≈ 2¹⁶/n), and the same-grid oracle
  * makes the comparison algorithm-identical regardless.
  *
  * KDE/HBOS/COPOD discipline: counts and kernel numerators are exact
  * integers (Epanechnikov's h²−(c−t)² is integral in cents²), log
  * scores are quantized to micro-nats per row before any cross-row
  * ordering, and the float tail is fixed-order one-row ops mirrored in
  * the oracle.
  */
object Density {
  private type Q = (SparkSession, String) => DataFrame

  /** Deterministic 2-D scatter of the customer base: two coprime LCG
    * multipliers mod 65536. Pure integer ops, engine-portable. */
  private def points(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").cast(LongType).as("k"),
      (col("c_custkey").cast(LongType) * 48271L % 65536L).as("x"),
      (col("c_custkey").cast(LongType) * 69621L % 65536L).as("y"))

  val queries: Map[String, Q] = Map(
    // ---- Exact closest pair via the grid method: cell side 512,
    // each point joins its 9-cell neighborhood through a broadcast
    // offset table, candidate pairs keyed k1 < k2, global argmin with
    // a deterministic tiebreak. One shuffle on the cell key — the
    // plan a 1000-executor cluster wants (no quadratic blowup).
    "q_closest_pair" -> ((s, d) => {
      val p = graft.CacheScope.cached(points(s, d)
        .withColumn("cx", expr("x div 512"))
        .withColumn("cy", expr("y div 512")))
      val offsets = s.range(1).select(explode(sequence(lit(-1), lit(1)))
          .as("dx"))
        .crossJoin(s.range(1).select(explode(sequence(lit(-1), lit(1)))
          .as("dy")))
      val probes = p.crossJoin(broadcast(offsets))
        .select(col("k").as("k1"), col("x").as("x1"), col("y").as("y1"),
          (col("cx") + col("dx")).as("cx"),
          (col("cy") + col("dy")).as("cy"))
      val cand = probes.join(
          p.select(col("k").as("k2"), col("x").as("x2"),
            col("y").as("y2"), col("cx"), col("cy")),
          Seq("cx", "cy"))
        .filter(col("k1") < col("k2"))
        .select(col("k1"), col("k2"),
          ((col("x1") - col("x2")) * (col("x1") - col("x2")) +
            (col("y1") - col("y2")) * (col("y1") - col("y2")))
            .as("d2"))
      cand.orderBy(col("d2").asc, col("k1").asc, col("k2").asc)
        .limit(1)
        .select(col("k1"), col("k2"), col("d2"),
          round(sqrt(col("d2").cast("double")), 6).as("dist"))
    }),

    // ---- Epanechnikov KDE of order totals at 20 fixed grid points
    // (25k$ spacing, 50k$ bandwidth): the kernel numerator
    // h² − (c−t)² is an exact integer in cents², summed per grid point
    // (map-only scan + broadcast 20-row grid + partial agg);
    // f(t) = 0.75·S/(n·h³), reported ×10⁹ for legibility.
    "q_kde_grid" -> ((s, d) => {
      val h = 5000000L
      val o = Tables.orders(s, d).select(
        round(col("o_totalprice") * 100).cast(LongType).as("c"))
      val tot = o.agg(count(lit(1)).as("n"))
      val grid = s.range(1).select(explode(sequence(lit(1L), lit(20L)))
        .as("j")).select(col("j"), (col("j") * 2500000L).as("t"))
      val sums = o.crossJoin(broadcast(grid))
        .filter(abs(col("c") - col("t")) < h)
        .groupBy("j", "t")
        .agg(count(lit(1)).as("n_in"),
          sum((lit(h) * h - dec(col("c") - col("t")) *
            (col("c") - col("t"))).cast("decimal(38,0)")).as("sk"))
      sums.crossJoin(broadcast(tot))
        .select(col("j"), round(col("t") / 100.0, 2).as("t_dollars"),
          col("n_in"),
          round(lit(0.75) * col("sk").cast("double") /
            (col("n").cast("double") * lit(h.toDouble) *
              lit(h.toDouble) * lit(h.toDouble)) * 1.0e9, 6)
            .as("density_e9"))
        .orderBy("j")
    }),

    // ---- HBOS over the (50k$ price bucket × order priority) grid:
    // score = ln(n/cnt_bucket) + ln(n/cnt_priority), quantized to
    // micro-nats per cell; the 5 most anomalous cells. Three
    // corpus-collapses to bounded grids, broadcast fan-ins.
    "q_hbos" -> ((s, d) => {
      val o = graft.CacheScope.cached(Tables.orders(s, d).select(
        expr("cast(round(o_totalprice * 100) as bigint) div 5000000")
          .as("pb"),
        col("o_orderpriority").as("prio")))
      val tot = o.agg(count(lit(1)).as("n"))
      val byPb = o.groupBy("pb").agg(count(lit(1)).as("c_pb"))
      val byPr = o.groupBy("prio").agg(count(lit(1)).as("c_pr"))
      val cells = o.groupBy("pb", "prio").agg(count(lit(1)).as("n_cell"))
      cells.join(broadcast(byPb), "pb").join(broadcast(byPr), "prio")
        .crossJoin(broadcast(tot))
        .select(col("pb"), col("prio"), col("n_cell"),
          (round(lit(1000000.0) *
            log(col("n").cast("double") / col("c_pb").cast("double")))
            .cast(LongType) +
           round(lit(1000000.0) *
            log(col("n").cast("double") / col("c_pr").cast("double")))
            .cast(LongType)).as("hbos_micro"))
        .orderBy(col("hbos_micro").desc, col("pb").asc, col("prio").asc)
        .limit(5)
    }),

    // ---- COPOD-style tail score of each order in the (total, order
    // day) plane: per dimension the two-sided empirical tail
    // min(F_left, F_right) from value-domain prefix counts (GlobalRank
    // two-phase routing — no corpus-growing window), score =
    // −ln(tail_x) − ln(tail_y) in micro-nats; top 10 most extreme
    // orders with a deterministic key tiebreak.
    "q_copod" -> ((s, d) => {
      val o = graft.CacheScope.cached(Tables.orders(s, d).select(
        col("o_orderkey").cast(LongType).as("k"),
        round(col("o_totalprice") * 100).cast(LongType).as("cx"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast(LongType)
          .as("cy")))
      val tot = o.agg(count(lit(1)).as("n"))
      def tails(vcol: String, fl: String, fr: String): DataFrame = {
        val hist = o.groupBy(vcol).agg(count(lit(1)).as("cnt"))
        GlobalRank.withPrefixAggs(hist, Seq(col(vcol).asc),
            Seq(PrefixAgg("cnt", "f", inclusive = true)))
          .crossJoin(broadcast(tot))
          .select(col(vcol), col("f").as(fl),
            (col("n") - col("f") + col("cnt")).as(fr))
      }
      val tx = tails("cx", "flx", "frx")
      val ty = tails("cy", "fly", "fry")
      o.join(tx, "cx").join(ty, "cy").crossJoin(broadcast(tot))
        .select(col("k"), col("cx"), col("cy"),
          (round(lit(-1000000.0) *
            log(least(col("flx"), col("frx")).cast("double") /
              col("n").cast("double"))).cast(LongType) +
           round(lit(-1000000.0) *
            log(least(col("fly"), col("fry")).cast("double") /
              col("n").cast("double"))).cast(LongType))
            .as("copod_micro"))
        .orderBy(col("copod_micro").desc, col("k").asc)
        .limit(10)
        .select(col("k").as("o_orderkey"),
          round(col("cx") / 100.0, 2).as("total_dollars"),
          col("cy").as("order_day"), col("copod_micro"))
    }))

  val oracle: Map[String, String] = Map(
    "q_closest_pair" ->
      """WITH p AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    CAST(c_custkey AS BIGINT) * 48271 % 65536 AS x,
        |    CAST(c_custkey AS BIGINT) * 69621 % 65536 AS y
        |  FROM customer),
        |g AS (SELECT k, x, y, x // 512 AS cx, y // 512 AS cy FROM p),
        |offsets AS (SELECT dx, dy
        |  FROM (SELECT unnest(range(-1, 2)) AS dx),
        |       (SELECT unnest(range(-1, 2)) AS dy)),
        |cand AS (
        |  SELECT a.k AS k1, b.k AS k2,
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM g a CROSS JOIN offsets o
        |  JOIN g b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        |  WHERE a.k < b.k)
        |SELECT k1, k2, CAST(d2 AS BIGINT) AS d2,
        |  round(sqrt(CAST(d2 AS DOUBLE)), 6) AS dist
        |FROM cand ORDER BY d2, k1, k2 LIMIT 1""".stripMargin,

    "q_kde_grid" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |grid AS (SELECT j, j * 2500000 AS t
        |  FROM (SELECT unnest(range(1, 21)) AS j)),
        |sums AS (
        |  SELECT g.j, g.t, CAST(count(*) AS BIGINT) AS n_in,
        |    sum(CAST(5000000 AS HUGEINT) * 5000000 -
        |      CAST(o.c - g.t AS HUGEINT) * (o.c - g.t)) AS sk
        |  FROM o JOIN grid g ON abs(o.c - g.t) < 5000000
        |  GROUP BY g.j, g.t)
        |SELECT CAST(j AS BIGINT) AS j,
        |  round(t / 100.0, 2) AS t_dollars, n_in,
        |  round(0.75 * CAST(sk AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * 5000000.0 * 5000000.0 * 5000000.0) *
        |    1.0e9, 6) AS density_e9
        |FROM sums, t ORDER BY j""".stripMargin,

    "q_hbos" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000
        |      AS pb,
        |    o_orderpriority AS prio
        |  FROM orders),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |bp AS (SELECT pb, CAST(count(*) AS BIGINT) AS c_pb
        |  FROM o GROUP BY pb),
        |pr AS (SELECT prio, CAST(count(*) AS BIGINT) AS c_pr
        |  FROM o GROUP BY prio),
        |cells AS (SELECT pb, prio, CAST(count(*) AS BIGINT) AS n_cell
        |  FROM o GROUP BY pb, prio)
        |SELECT cells.pb, cells.prio, cells.n_cell,
        |  CAST(round(1000000.0 * ln(CAST(n AS DOUBLE) /
        |      CAST(c_pb AS DOUBLE))) AS BIGINT) +
        |  CAST(round(1000000.0 * ln(CAST(n AS DOUBLE) /
        |      CAST(c_pr AS DOUBLE))) AS BIGINT) AS hbos_micro
        |FROM cells JOIN bp ON bp.pb = cells.pb
        |JOIN pr ON pr.prio = cells.prio CROSS JOIN t
        |ORDER BY hbos_micro DESC, cells.pb, cells.prio
        |LIMIT 5""".stripMargin,

    "q_copod" ->
      """WITH o AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cx,
        |    CAST(datediff('day', DATE '1992-01-01', o_orderdate)
        |      AS BIGINT) AS cy
        |  FROM orders),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |hx AS (SELECT cx, CAST(count(*) AS BIGINT) AS cnt
        |  FROM o GROUP BY cx),
        |tx AS (SELECT cx, sum(cnt) OVER (ORDER BY cx) AS flx,
        |    n - sum(cnt) OVER (ORDER BY cx) + cnt AS frx
        |  FROM hx, t),
        |hy AS (SELECT cy, CAST(count(*) AS BIGINT) AS cnt
        |  FROM o GROUP BY cy),
        |ty AS (SELECT cy, sum(cnt) OVER (ORDER BY cy) AS fly,
        |    n - sum(cnt) OVER (ORDER BY cy) + cnt AS fry
        |  FROM hy, t)
        |SELECT o.k AS o_orderkey,
        |  round(o.cx / 100.0, 2) AS total_dollars,
        |  o.cy AS order_day,
        |  CAST(round(-1000000.0 *
        |      ln(CAST(least(flx, frx) AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT) +
        |  CAST(round(-1000000.0 *
        |      ln(CAST(least(fly, fry) AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT) AS copod_micro
        |FROM o JOIN tx ON tx.cx = o.cx JOIN ty ON ty.cy = o.cy
        |CROSS JOIN t
        |ORDER BY copod_micro DESC, o.k LIMIT 10""".stripMargin)
}
