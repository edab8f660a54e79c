package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.dec

/** Round-11 structure/independence batch: V-measure
  * (homogeneity/completeness) between the market-segment and region
  * partitions, the Wallis–Moore turning-points randomness test, the von
  * Neumann successive-difference ratio, and exact 4-clique counting on
  * the significant-trade graph.
  *
  * House discipline: entropy terms are quantized to micro-nats per cell
  * BEFORE the cross-cell integer sum (reduce-order-proof); turning
  * points and K4s are pure integer counting; von Neumann is integer
  * moments with the centering multiplied out (n·Σd² / (nΣx²−(Σx)²)) —
  * one final division.
  *
  * Scale shapes: V-measure collapses the corpus once to the ≤125-cell
  * contingency grid; turning points and von Neumann live on the
  * bounded calendar frames (broadcast day+1/day+2 self-joins — no
  * window); K4 joins the bounded distilled nation graph against itself
  * entirely under broadcast.
  */
object Stats18 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  /** (segment, region, n) contingency of the customer base. */
  private def contingency(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
    Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("nk"))
      .groupBy(col("c_mktsegment").as("seg"), col("rk"))
      .agg(count(lit(1)).as("nij"))
  }

  val queries: Map[String, Q] = Map(
    // ---- V-measure (Rosenberg & Hirschberg 2007) of the region
    // clustering against the segment classes: the four entropies
    // H(C), H(K), H(C|K), H(K|C) are integer micro-nat sums of
    // per-cell/per-margin quantized terms; h, c, V are fixed-order
    // scalar ops on those integers.
    "q_v_measure" -> ((s, d) => {
      val ct = graft.CacheScope.cached(contingency(s, d))
      val tot = ct.agg(sum("nij").as("n"))
      def ent(cnt: String): Column =
        round(lit(-1000000.0) *
          (col(cnt).cast("double") / col("n").cast("double")) *
          log(col(cnt).cast("double") / col("n").cast("double")))
          .cast(LongType)
      val hc = ct.groupBy("seg").agg(sum("nij").as("ni"))
        .crossJoin(broadcast(tot))
        .select(ent("ni").as("t")).agg(sum("t").as("hc"))
      val hk = ct.groupBy("rk").agg(sum("nij").as("nj"))
        .crossJoin(broadcast(tot))
        .select(ent("nj").as("t")).agg(sum("t").as("hk"))
      val margK = ct.groupBy("rk").agg(sum("nij").as("nj"))
      val hck = ct.join(broadcast(margK), "rk").crossJoin(broadcast(tot))
        .select(round(lit(-1000000.0) *
          (col("nij").cast("double") / col("n").cast("double")) *
          log(col("nij").cast("double") / col("nj").cast("double")))
          .cast(LongType).as("t"))
        .agg(sum("t").as("hck"))
      val margC = ct.groupBy("seg").agg(sum("nij").as("ni"))
      val hkc = ct.join(broadcast(margC), "seg")
        .crossJoin(broadcast(tot))
        .select(round(lit(-1000000.0) *
          (col("nij").cast("double") / col("n").cast("double")) *
          log(col("nij").cast("double") / col("ni").cast("double")))
          .cast(LongType).as("t"))
        .agg(sum("t").as("hkc"))
      val h = lit(1.0) -
        col("hck").cast("double") / col("hc").cast("double")
      val c = lit(1.0) -
        col("hkc").cast("double") / col("hk").cast("double")
      hc.crossJoin(broadcast(hk)).crossJoin(broadcast(hck))
        .crossJoin(broadcast(hkc)).crossJoin(broadcast(tot))
        .select(col("n").as("n_customers"),
          round(h, 6).as("homogeneity"),
          round(c, 6).as("completeness"),
          round(lit(2.0) * h * c / (h + c), 6).as("v_measure"))
    }),

    // ---- Wallis–Moore turning-points test on the daily revenue
    // series: TP = #{t: x_t a strict local extremum}, E = 2(n−2)/3,
    // Var = (16n−29)/90, z = (TP − E)/√Var. Broadcast day+1/day+2
    // self-joins of the calendar frame, pure counting.
    "q_turning_points" -> ((s, d) => {
      val agg = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x")))
      val span = agg.agg(min("day").as("mn"), max("day").as("mx"))
      val dl = graft.CacheScope.cached(span
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
        .join(agg, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x")))
      val tot = dl.agg(count(lit(1)).as("n"))
      val d1 = dl.select((col("day") - 1).as("day"), col("x").as("x1"))
      val d2 = dl.select((col("day") - 2).as("day"), col("x").as("x2"))
      val tp = dl.join(broadcast(d1), "day").join(broadcast(d2), "day")
        .agg(sum(when(
          (col("x1") > col("x") && col("x1") > col("x2")) ||
          (col("x1") < col("x") && col("x1") < col("x2")), 1L)
          .otherwise(0L)).as("tp"))
      val nD = col("n").cast("double")
      tp.crossJoin(broadcast(tot))
        .select(col("n").as("n_days"), col("tp"),
          round(lit(2.0) * (nD - 2.0) / 3.0, 4).as("expected"),
          round((col("tp").cast("double") -
            lit(2.0) * (nD - 2.0) / 3.0) /
            sqrt((lit(16.0) * nD - 29.0) / 90.0), 4).as("z"))
    }),

    // ---- Von Neumann ratio on the hourly revenue series:
    // VN = n·Σ(x_{t+1}−x_t)² / (n·Σx² − (Σx)²) — exact integer
    // numerator and denominator, one division; VN ≈ 2 under
    // independence, < 2 under positive serial correlation.
    "q_von_neumann" -> ((s, d) => {
      val agg = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $HourUs").as("hr"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x")))
      val span = agg.agg(min("hr").as("mn"), max("hr").as("mx"))
      val dl = graft.CacheScope.cached(span
        .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
        .join(agg, Seq("hr"), "left")
        .select(col("hr"), coalesce(col("x"), lit(0L)).as("x")))
      val mom = dl.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(dec(col("x")) * col("x")).as("sxx"))
      val d1 = dl.select((col("hr") - 1).as("hr"), col("x").as("x1"))
      val sd2 = dl.join(broadcast(d1), "hr")
        .agg(sum((dec(col("x1") - col("x")) * (col("x1") - col("x")))
          .cast("decimal(38,0)")).as("sd2"))
      sd2.crossJoin(broadcast(mom))
        .select(col("n").as("n_points"),
          round((dec(col("n")) * col("sd2")).cast("double") /
            (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
            .cast("double"), 6).as("von_neumann"))
    }),

    // ---- Exact 4-clique count on the significant-trade graph:
    // triangles (u<v<w) from three broadcast edge joins, then a
    // fourth vertex x>w adjacent to all three — entirely
    // broadcast-bounded on the distilled ≤300-edge nation graph.
    "q_k4_count" -> ((s, d) => {
      val e = graft.CacheScope.cached(GraphOps.significantEdges(s, d))
      val tri = e
        .join(broadcast(e.select(col("u").as("v"), col("v").as("w"))),
          "v")
        .join(broadcast(e.select(col("u"), col("v").as("w"))),
          Seq("u", "w"))
        .select(col("u"), col("v"), col("w"))
      val triC = graft.CacheScope.cached(tri)
      val k4 = triC
        .join(broadcast(e.select(col("u").as("w"), col("v").as("x"))),
          "w")
        .join(broadcast(e.select(col("u"), col("v").as("x"))),
          Seq("u", "x"))
        .join(broadcast(e.select(col("u").as("v"), col("v").as("x"))),
          Seq("v", "x"))
        .agg(count(lit(1)).as("k4"))
      triC.agg(count(lit(1)).as("triangles"))
        .crossJoin(broadcast(k4))
        .select(col("triangles"), col("k4"))
    }))

  private val ctSql: String =
    """SELECT c.c_mktsegment AS seg, n.n_regionkey AS rk,
      |  CAST(count(*) AS BIGINT) AS nij
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin

  private val sigEdgesSql: String =
    """w AS MATERIALIZED (
      |  SELECT CAST(least(c.c_nationkey, s.s_nationkey) AS BIGINT) AS u,
      |    CAST(greatest(c.c_nationkey, s.s_nationkey) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2),
      |thr AS (SELECT CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |        AS thr FROM w),
      |e AS MATERIALIZED (SELECT u, v FROM w, thr
      |     WHERE CAST(cnt AS DOUBLE) > thr)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_v_measure" ->
      s"""WITH ct AS ($ctSql),
        |tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
        |hc AS (SELECT CAST(sum(CAST(round(-1000000.0 *
        |    (CAST(ni AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(ni AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT))
        |    AS BIGINT) AS hc
        |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS ni FROM ct
        |        GROUP BY seg), tot),
        |hk AS (SELECT CAST(sum(CAST(round(-1000000.0 *
        |    (CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT))
        |    AS BIGINT) AS hk
        |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS nj FROM ct
        |        GROUP BY rk), tot),
        |margk AS (SELECT rk, CAST(sum(nij) AS BIGINT) AS nj FROM ct
        |  GROUP BY rk),
        |hck AS (SELECT CAST(sum(CAST(round(-1000000.0 *
        |    (CAST(nij AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(nij AS DOUBLE) / CAST(nj AS DOUBLE))) AS BIGINT))
        |    AS BIGINT) AS hck
        |  FROM ct JOIN margk USING (rk), tot),
        |margc AS (SELECT seg, CAST(sum(nij) AS BIGINT) AS ni FROM ct
        |  GROUP BY seg),
        |hkc AS (SELECT CAST(sum(CAST(round(-1000000.0 *
        |    (CAST(nij AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE))) AS BIGINT))
        |    AS BIGINT) AS hkc
        |  FROM ct JOIN margc USING (seg), tot)
        |SELECT n AS n_customers,
        |  round(1.0 - CAST(hck AS DOUBLE) / CAST(hc AS DOUBLE), 6)
        |    AS homogeneity,
        |  round(1.0 - CAST(hkc AS DOUBLE) / CAST(hk AS DOUBLE), 6)
        |    AS completeness,
        |  round(2.0 * (1.0 - CAST(hck AS DOUBLE) / CAST(hc AS DOUBLE)) *
        |    (1.0 - CAST(hkc AS DOUBLE) / CAST(hk AS DOUBLE)) /
        |    ((1.0 - CAST(hck AS DOUBLE) / CAST(hc AS DOUBLE)) +
        |     (1.0 - CAST(hkc AS DOUBLE) / CAST(hk AS DOUBLE))), 6)
        |    AS v_measure
        |FROM hc, hk, hck, hkc, tot""".stripMargin,

    "q_turning_points" ->
      """WITH dl AS (
        |  SELECT dd.day, coalesce(dx.x, 0) AS x
        |  FROM (SELECT unnest(range(
        |      (SELECT min(epoch_us(ts) // 86400000000) FROM events),
        |      (SELECT max(epoch_us(ts) // 86400000000) FROM events)
        |        + 1)) AS day) dd
        |  LEFT JOIN (
        |    SELECT epoch_us(ts) // 86400000000 AS day,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |        AS x
        |    FROM events GROUP BY 1) dx ON dx.day = dd.day),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dl),
        |tp AS (
        |  SELECT CAST(sum(CASE WHEN
        |      (d1.x > d0.x AND d1.x > d2.x) OR
        |      (d1.x < d0.x AND d1.x < d2.x) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tp
        |  FROM dl d0 JOIN dl d1 ON d1.day = d0.day + 1
        |  JOIN dl d2 ON d2.day = d0.day + 2)
        |SELECT n AS n_days, tp,
        |  round(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, 4) AS expected,
        |  round((CAST(tp AS DOUBLE) -
        |    2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0) /
        |    sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 4) AS z
        |FROM tp, tot""".stripMargin,

    "q_von_neumann" ->
      """WITH dl AS (
        |  SELECT dd.hr, coalesce(dx.x, 0) AS x
        |  FROM (SELECT unnest(range(
        |      (SELECT min(epoch_us(ts) // 3600000000) FROM events),
        |      (SELECT max(epoch_us(ts) // 3600000000) FROM events)
        |        + 1)) AS hr) dd
        |  LEFT JOIN (
        |    SELECT epoch_us(ts) // 3600000000 AS hr,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |        AS x
        |    FROM events GROUP BY 1) dx ON dx.hr = dd.hr),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx FROM dl),
        |sd2 AS (
        |  SELECT sum(CAST(d1.x - d0.x AS HUGEINT) * (d1.x - d0.x))
        |    AS sd2
        |  FROM dl d0 JOIN dl d1 ON d1.hr = d0.hr + 1)
        |SELECT n AS n_points,
        |  round(CAST(CAST(n AS HUGEINT) * sd2 AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * sxx -
        |      CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) AS von_neumann
        |FROM sd2, mom""".stripMargin,

    "q_k4_count" ->
      s"""WITH $sigEdgesSql,
        |tri AS (
        |  SELECT e1.u, e1.v, e2.v AS w
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |k4 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k4
        |  FROM tri t
        |  JOIN e e4 ON e4.u = t.w
        |  JOIN e e5 ON e5.u = t.u AND e5.v = e4.v
        |  JOIN e e6 ON e6.u = t.v AND e6.v = e4.v),
        |tric AS (SELECT CAST(count(*) AS BIGINT) AS triangles FROM tri)
        |SELECT triangles, k4 FROM tric, k4""".stripMargin)
}
