package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.dec

/** Round-11 distribution-geometry batch: exact 1-D Wasserstein distance,
  * Brunner–Munzel rank-Welch test, Chatterjee's ξ rank correlation, GPD
  * peaks-over-threshold tail fit, and Moran's I / Geary's C network
  * autocorrelation over the significant-trade graph.
  *
  * Discipline: every statistic reduces to exact integer sufficient
  * statistics first (cents quantization, value-domain histograms with
  * two-phase prefix sums, decimal(38,0) for cubic-count products), and
  * the floating-point tail is a handful of fixed-order scalar ops on a
  * one-row frame — the oracle computes the same doubles from the same
  * integers in the same textual order, so parity is by construction.
  *
  * Scale shapes: the two-sample tests and ξ ride the value-domain
  * histogram (distinct cents values, GlobalRank prefix sums — no
  * corpus-growing single-partition window); the POT fit is two global
  * rank passes; Moran/Geary iterate nothing — one edge join against a
  * broadcast 25-row node frame.
  *
  * Reference analog: bacalhau ships these workloads to per-shard
  * containers (`pkg/executor/docker`); here each is one declarative
  * Spark plan end to end.
  */
object Stats14 {
  private type Q = (SparkSession, String) => DataFrame

  /** Per-nation total customer balance in cents (LEFT join keeps
    * customer-less nations at 0) — the node attribute for the spatial
    * autocorrelation pair. 25 rows at every scale. */
  private def nationWealth(s: SparkSession, d: String): DataFrame = {
    val w = Tables.customer(s, d)
      .groupBy(col("c_nationkey").cast(LongType).as("node"))
      .agg(sum(round(col("c_acctbal") * 100).cast(LongType)).as("t"))
    Tables.nation(s, d)
      .select(col("n_nationkey").cast(LongType).as("node"))
      .join(w, Seq("node"), "left")
      .select(col("node"), coalesce(col("t"), lit(0L)).as("t"))
  }

  val queries: Map[String, Q] = Map(
    // ---- Exact 1-D Wasserstein (earth-mover) distance between the
    // click and view spend distributions: W₁ = ∫|F₁−F₂| dv over the
    // cents value domain = Σ over consecutive distinct values of
    // |C₁·n₂ − C₂·n₁|·Δv / (n₁·n₂). Histogram → two-phase prefix
    // counts → rank self-join for the successor value: everything is
    // exact integers until ONE final division, and no window ever sees
    // a corpus-growing frame.
    "q_wasserstein_1d" -> ((s, d) => {
      val v = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(round(col("value") * 100).cast(LongType).as("c"),
          when(col("event_type") === "click", 0L).otherwise(1L).as("g"))
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("c0", "f0", inclusive = true),
          PrefixAgg("c1", "f1", inclusive = true)))
      val rn = GlobalRank.withRowNumber(pre, "rn", Seq(col("c").asc))
      val nxt = rn.select((col("rn") - 1).as("rn"), col("c").as("cn"))
      val tot = hist.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      val num = rn.join(nxt, "rn")
        .crossJoin(broadcast(tot))
        .select(((abs(dec(col("f0")) * col("n1") -
          dec(col("f1")) * col("n0"))).cast("decimal(38,0)") *
          (col("cn") - col("c"))).cast("decimal(38,0)").as("seg"))
        .agg(sum("seg").as("w1num"))
      num.crossJoin(broadcast(tot))
        .select(col("n0"), col("n1"),
          round(col("w1num").cast("double") /
            (col("n0").cast("double") * col("n1").cast("double")) /
            lit(100.0), 6).as("w1_dollars"))
    }),

    // ---- Brunner–Munzel test (rank Welch) between the two event-id
    // parity arms: midranks from the pooled and per-arm value-domain
    // prefix counts, doubled to stay integer (2R = 2·prefix + ties + 1);
    // the variance term Σc·A² rides decimal(38,0) (A ~ n·2R ~ 1e12,
    // squared past a Long). Statistic, Welch df, and p̂ = P(X₀<X₁)+½ties
    // are fixed-order doubles on the one-row moment frame —
    // Brunner & Munzel (2000), the lawstat reference implementation.
    "q_brunner_munzel" -> ((s, d) => {
      val v = Tables.events(s, d).select(
        round(col("value") * 100).cast(LongType).as("c"),
        (col("event_id") % 2).as("g"))
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
        .withColumn("cp", col("c0") + col("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("cp", "pp", inclusive = false),
          PrefixAgg("c0", "p0", inclusive = false),
          PrefixAgg("c1", "p1", inclusive = false)))
        .withColumn("twoR", lit(2L) * col("pp") + col("cp") + 1L)
        .withColumn("twoR0", lit(2L) * col("p0") + col("c0") + 1L)
        .withColumn("twoR1", lit(2L) * col("p1") + col("c1") + 1L)
      val tot = pre.agg(
        sum("c0").as("n0"), sum("c1").as("n1"),
        sum(dec(col("c0")) * col("twoR")).as("s2r0"),
        sum(dec(col("c1")) * col("twoR")).as("s2r1"))
      val ssq = pre.crossJoin(broadcast(tot))
        .select(col("n0"), col("n1"), col("s2r0"), col("s2r1"),
          (dec(col("c0")) *
            ((dec(col("n0")) * (col("twoR") - col("twoR0")) -
              (col("s2r0") - dec(col("n0")) * (col("n0") + 1L)))
              .cast("decimal(38,0)") *
             (dec(col("n0")) * (col("twoR") - col("twoR0")) -
              (col("s2r0") - dec(col("n0")) * (col("n0") + 1L)))
              .cast("decimal(38,0)")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("a0"),
          (dec(col("c1")) *
            ((dec(col("n1")) * (col("twoR") - col("twoR1")) -
              (col("s2r1") - dec(col("n1")) * (col("n1") + 1L)))
              .cast("decimal(38,0)") *
             (dec(col("n1")) * (col("twoR") - col("twoR1")) -
              (col("s2r1") - dec(col("n1")) * (col("n1") + 1L)))
              .cast("decimal(38,0)")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("a1"))
        .groupBy("n0", "n1", "s2r0", "s2r1")
        .agg(sum("a0").as("ssq0"), sum("a1").as("ssq1"))
      val n0D = col("n0").cast("double"); val n1D = col("n1").cast("double")
      val m0 = col("s2r0").cast("double") / (lit(2.0) * n0D)
      val m1 = col("s2r1").cast("double") / (lit(2.0) * n1D)
      val v0 = col("ssq0").cast("double") /
        (lit(4.0) * n0D * n0D * (n0D - 1.0))
      val v1 = col("ssq1").cast("double") /
        (lit(4.0) * n1D * n1D * (n1D - 1.0))
      val pooled = n0D * v0 + n1D * v1
      val bm = n0D * n1D * (m1 - m0) / ((n0D + n1D) * sqrt(pooled))
      val df = (pooled * pooled) /
        ((n0D * v0) * (n0D * v0) / (n0D - 1.0) +
         (n1D * v1) * (n1D * v1) / (n1D - 1.0))
      val pHat = (m1 - (n1D + 1.0) / 2.0) / n0D
      ssq.select(col("n0"), col("n1"), round(pHat, 6).as("p_hat"),
        round(bm, 4).as("bm_stat"), round(df, 2).as("df"))
    }),

    // ---- Chatterjee's ξ (JASA 2020) of spend against time: sort by
    // (ts, event_id), r_i = #{y_j ≤ y_i} from the value-domain prefix,
    // ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σ l(n−l)) — the ties form, with the
    // deterministic id tiebreak standing in for Chatterjee's random
    // one. Adjacency comes from a rank self-join (rn ↔ rn+1), not a
    // global window; every sum is an exact integer.
    "q_chatterjee_xi" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("ts_us"),
        round(col("value") * 100).cast(LongType).as("c"))
      val hist = ev.groupBy("c").agg(count(lit(1)).as("cnt"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("cnt", "f", inclusive = true)))
      val tot = hist.agg(sum("cnt").as("n"))
      val denom = pre.crossJoin(broadcast(tot))
        .select((dec(col("cnt")) *
          ((col("n") - col("f") + col("cnt")) *
           (col("f") - col("cnt"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("term"))
        .agg(sum("term").as("dnm"))
      val ranked = GlobalRank.withRowNumber(
        ev.join(pre.select(col("c"), col("f")), "c"),
        "rn", Seq(col("ts_us").asc, col("event_id").asc))
      val nxt = ranked.select((col("rn") - 1).as("rn"), col("f").as("fn"))
      val sAbs = ranked.join(nxt, "rn")
        .agg(sum(abs(col("fn") - col("f"))).as("s"))
      sAbs.crossJoin(broadcast(denom)).crossJoin(broadcast(tot))
        .select(col("n"), col("s").as("sum_jumps"),
          round(lit(1.0) - col("n").cast("double") *
            col("s").cast("double") /
            (lit(2.0) * col("dnm").cast("double")), 6).as("xi"))
    }),

    // ---- Generalized-Pareto tail fit by probability-weighted moments
    // (Hosking & Wallis 1987) on order totals: threshold u = the exact
    // rank-⌊0.9n⌋ order statistic (integer spec, no float percentile),
    // exceedances y = v−u ranked ascending, b₀ = Σy/m,
    // b₁ = Σ(i−1)y/(m(m−1)); ξ̂ = 2 − b₀/(b₀−2b₁),
    // σ̂ = 2·b₀·b₁/(b₀−2b₁). Tied y's contribute a constant Σ(i−1) over
    // their block, so the id tiebreak cannot move b₁. Two GlobalRank
    // passes, integer sums, four final double ops.
    "q_gpd_pot" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        round(col("o_totalprice") * 100).cast(LongType).as("c"),
        col("o_orderkey"))
      val tot = o.agg(count(lit(1)).as("n"))
      val ranked = GlobalRank.withRowNumber(o, "rn",
        Seq(col("c").asc, col("o_orderkey").asc))
      val u = ranked.crossJoin(broadcast(tot))
        .filter(col("rn").cast("long") === expr("(9 * n) div 10"))
        .select(col("c").as("uc"))
      val exc = o.crossJoin(broadcast(u)).filter(col("c") > col("uc"))
        .select((col("c") - col("uc")).as("y"), col("o_orderkey"),
          col("uc"))
      val ex = GlobalRank.withRowNumber(exc, "i",
        Seq(col("y").asc, col("o_orderkey").asc))
      val mom = ex.groupBy("uc").agg(count(lit(1)).as("m"),
        sum(dec(col("y"))).as("sy"),
        sum((dec(col("i").cast("long") - 1L) * col("y"))
          .cast("decimal(38,0)")).as("swy"))
      val mD = col("m").cast("double")
      val b0 = col("sy").cast("double") / mD
      val b1 = col("swy").cast("double") / (mD * (mD - 1.0))
      val den = b0 - lit(2.0) * b1
      mom.select(col("m").as("n_exceed"),
        round(col("uc").cast("double") / 100.0, 2).as("threshold"),
        round(lit(2.0) - b0 / den, 6).as("xi_hat"),
        round(lit(2.0) * b0 * b1 / den / 100.0, 4).as("sigma_dollars"))
    }),

    // ---- Moran's I spatial autocorrelation of nation wealth over the
    // significant-trade graph: z_i = n·t_i − T (mean-centering
    // multiplied out to stay integer), I = (n/W)·Σ_dir z_u z_v / Σz²
    // — the n² scale factors cancel. One 25-row broadcast node frame
    // joined onto the edge list twice; the only corpus-sized work is
    // distilling the graph (the q_pagerank shape).
    "q_moran_i" -> ((s, d) => {
      val nodes = nationWealth(s, d)
      val tot = nodes.agg(count(lit(1)).as("n"), sum("t").as("tt"))
      val z = nodes.crossJoin(broadcast(tot))
        .select(col("node"), col("n"),
          (col("n") * col("t") - col("tt")).as("z"))
      val denz = z.select((dec(col("z")) * col("z"))
          .cast("decimal(38,0)").as("zz"), col("n"))
        .groupBy("n").agg(sum("zz").as("denz"))
      val e = GraphOps.significantEdges(s, d)
      val num = e
        .join(broadcast(z.select(col("node").as("u"), col("z").as("zu"))),
          "u")
        .join(broadcast(z.select(col("node").as("v"), col("z").as("zv"))),
          "v")
        .agg(count(lit(1)).as("ne"),
          sum((dec(col("zu")) * col("zv")).cast("decimal(38,0)"))
            .as("numE"))
      num.crossJoin(broadcast(denz))
        .select(col("n").as("n_nodes"),
          (lit(2L) * col("ne")).as("w_edges"),
          round((col("n").cast("double") /
            (lit(2.0) * col("ne").cast("double"))) *
            (lit(2.0) * col("numE").cast("double")) /
            col("denz").cast("double"), 6).as("moran_i"),
          round(lit(-1.0) / (col("n").cast("double") - 1.0), 6)
            .as("e_i"))
    }),

    // ---- Geary's C — the local-contrast sibling: C = (n−1)·n²·
    // Σ_E (t_u−t_v)² / (W·Σz²) with the same multiplied-out centering
    // and the same broadcast node frame; C < 1 ⇒ positive spatial
    // association (wealth clusters along trade links).
    "q_geary_c" -> ((s, d) => {
      val nodes = nationWealth(s, d)
      val tot = nodes.agg(count(lit(1)).as("n"), sum("t").as("tt"))
      val z = nodes.crossJoin(broadcast(tot))
        .select(col("node"), col("n"), col("t"),
          (col("n") * col("t") - col("tt")).as("z"))
      val denz = z.select((dec(col("z")) * col("z"))
          .cast("decimal(38,0)").as("zz"), col("n"))
        .groupBy("n").agg(sum("zz").as("denz"))
      val e = GraphOps.significantEdges(s, d)
      val num = e
        .join(broadcast(z.select(col("node").as("u"), col("t").as("tu"))),
          "u")
        .join(broadcast(z.select(col("node").as("v"), col("t").as("tv"))),
          "v")
        .agg(count(lit(1)).as("ne"),
          sum((dec(col("tu") - col("tv")) * (col("tu") - col("tv")))
            .cast("decimal(38,0)")).as("gnum"))
      num.crossJoin(broadcast(denz))
        .select(col("n").as("n_nodes"),
          (lit(2L) * col("ne")).as("w_edges"),
          round((col("n").cast("double") - 1.0) *
            col("n").cast("double") * col("n").cast("double") *
            col("gnum").cast("double") /
            ((lit(2.0) * col("ne").cast("double")) *
              col("denz").cast("double")), 6).as("geary_c"))
    }))

  val oracle: Map[String, String] = Map(
    "q_wasserstein_1d" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g
        |  FROM events WHERE event_type IN ('click', 'view')),
        |h AS (
        |  SELECT c,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM v GROUP BY c),
        |p AS (
        |  SELECT c,
        |    sum(c0) OVER (ORDER BY c) AS f0,
        |    sum(c1) OVER (ORDER BY c) AS f1,
        |    lead(c) OVER (ORDER BY c) AS cn
        |  FROM h),
        |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |        CAST(sum(c1) AS BIGINT) AS n1 FROM h)
        |SELECT n0, n1,
        |  round(CAST(sum(abs(CAST(f0 AS HUGEINT) * n1 -
        |      CAST(f1 AS HUGEINT) * n0) * (cn - c)) AS DOUBLE) /
        |    (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) / 100.0, 6)
        |    AS w1_dollars
        |FROM p, t WHERE cn IS NOT NULL GROUP BY n0, n1""".stripMargin,

    "q_brunner_munzel" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_id % 2 AS g FROM events),
        |h AS (
        |  SELECT c,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM v GROUP BY c),
        |p AS (
        |  SELECT c, c0, c1,
        |    2 * coalesce(sum(c0 + c1) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c0 + c1 + 1 AS twoR,
        |    2 * coalesce(sum(c0) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c0 + 1 AS twoR0,
        |    2 * coalesce(sum(c1) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c1 + 1 AS twoR1
        |  FROM h),
        |t AS (
        |  SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c1) AS BIGINT) AS n1,
        |    sum(CAST(c0 AS HUGEINT) * twoR) AS s2r0,
        |    sum(CAST(c1 AS HUGEINT) * twoR) AS s2r1
        |  FROM p),
        |q AS (
        |  SELECT n0, n1, s2r0, s2r1,
        |    sum(CAST(c0 AS HUGEINT) *
        |      (CAST(n0 AS HUGEINT) * (twoR - twoR0) -
        |        (s2r0 - CAST(n0 AS HUGEINT) * (n0 + 1))) *
        |      (CAST(n0 AS HUGEINT) * (twoR - twoR0) -
        |        (s2r0 - CAST(n0 AS HUGEINT) * (n0 + 1)))) AS ssq0,
        |    sum(CAST(c1 AS HUGEINT) *
        |      (CAST(n1 AS HUGEINT) * (twoR - twoR1) -
        |        (s2r1 - CAST(n1 AS HUGEINT) * (n1 + 1))) *
        |      (CAST(n1 AS HUGEINT) * (twoR - twoR1) -
        |        (s2r1 - CAST(n1 AS HUGEINT) * (n1 + 1)))) AS ssq1
        |  FROM p, t GROUP BY n0, n1, s2r0, s2r1)
        |SELECT n0, n1,
        |  round((CAST(s2r1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) -
        |    (CAST(n1 AS DOUBLE) + 1.0) / 2.0) / CAST(n0 AS DOUBLE), 6)
        |    AS p_hat,
        |  round(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |    (CAST(s2r1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) -
        |     CAST(s2r0 AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE))) /
        |    ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |     sqrt(CAST(n0 AS DOUBLE) * (CAST(ssq0 AS DOUBLE) /
        |        (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) *
        |          (CAST(n0 AS DOUBLE) - 1.0))) +
        |      CAST(n1 AS DOUBLE) * (CAST(ssq1 AS DOUBLE) /
        |        (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |          (CAST(n1 AS DOUBLE) - 1.0))))), 4) AS bm_stat,
        |  round(((CAST(n0 AS DOUBLE) * (CAST(ssq0 AS DOUBLE) /
        |      (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) *
        |        (CAST(n0 AS DOUBLE) - 1.0))) +
        |     CAST(n1 AS DOUBLE) * (CAST(ssq1 AS DOUBLE) /
        |      (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |        (CAST(n1 AS DOUBLE) - 1.0)))) *
        |    (CAST(n0 AS DOUBLE) * (CAST(ssq0 AS DOUBLE) /
        |      (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) *
        |        (CAST(n0 AS DOUBLE) - 1.0))) +
        |     CAST(n1 AS DOUBLE) * (CAST(ssq1 AS DOUBLE) /
        |      (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |        (CAST(n1 AS DOUBLE) - 1.0))))) /
        |    ((CAST(n0 AS DOUBLE) * (CAST(ssq0 AS DOUBLE) /
        |       (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) *
        |         (CAST(n0 AS DOUBLE) - 1.0)))) *
        |     (CAST(n0 AS DOUBLE) * (CAST(ssq0 AS DOUBLE) /
        |       (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) *
        |         (CAST(n0 AS DOUBLE) - 1.0)))) /
        |      (CAST(n0 AS DOUBLE) - 1.0) +
        |     (CAST(n1 AS DOUBLE) * (CAST(ssq1 AS DOUBLE) /
        |       (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |         (CAST(n1 AS DOUBLE) - 1.0)))) *
        |     (CAST(n1 AS DOUBLE) * (CAST(ssq1 AS DOUBLE) /
        |       (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |         (CAST(n1 AS DOUBLE) - 1.0)))) /
        |      (CAST(n1 AS DOUBLE) - 1.0)), 2) AS df
        |FROM q""".stripMargin,

    "q_chatterjee_xi" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |h AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt
        |      FROM ev GROUP BY c),
        |p AS (SELECT c, cnt, sum(cnt) OVER (ORDER BY c) AS f FROM h),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |dnm AS (
        |  SELECT sum(CAST(cnt AS HUGEINT) *
        |    ((n - f + cnt) * (f - cnt))) AS dnm
        |  FROM p, t),
        |r AS (
        |  SELECT f, row_number() OVER (ORDER BY ts_us, event_id) AS rn
        |  FROM ev JOIN p USING (c)),
        |s AS (
        |  SELECT CAST(sum(abs(b.f - a.f)) AS BIGINT) AS s
        |  FROM r a JOIN r b ON b.rn = a.rn + 1)
        |SELECT n, s AS sum_jumps,
        |  round(1.0 - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) /
        |    (2.0 * CAST(dnm AS DOUBLE)), 6) AS xi
        |FROM t, s, dnm""".stripMargin,

    "q_gpd_pot" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |    o_orderkey FROM orders),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |r AS (SELECT c,
        |    row_number() OVER (ORDER BY c, o_orderkey) AS rn FROM o),
        |u AS (SELECT c AS uc FROM r, t WHERE rn = (9 * n) // 10),
        |exc AS (
        |  SELECT o.c - u.uc AS y, o.o_orderkey, u.uc
        |  FROM o, u WHERE o.c > u.uc),
        |ex AS (SELECT y, uc,
        |    row_number() OVER (ORDER BY y, o_orderkey) AS i FROM exc),
        |mom AS (
        |  SELECT uc, CAST(count(*) AS BIGINT) AS m,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(i - 1 AS HUGEINT) * y) AS swy
        |  FROM ex GROUP BY uc)
        |SELECT m AS n_exceed,
        |  round(CAST(uc AS DOUBLE) / 100.0, 2) AS threshold,
        |  round(2.0 - (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)) /
        |    (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE) -
        |     2.0 * (CAST(swy AS DOUBLE) / (CAST(m AS DOUBLE) *
        |       (CAST(m AS DOUBLE) - 1.0)))), 6) AS xi_hat,
        |  round(2.0 * (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)) *
        |    (CAST(swy AS DOUBLE) / (CAST(m AS DOUBLE) *
        |      (CAST(m AS DOUBLE) - 1.0))) /
        |    (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE) -
        |     2.0 * (CAST(swy AS DOUBLE) / (CAST(m AS DOUBLE) *
        |       (CAST(m AS DOUBLE) - 1.0)))) / 100.0, 4) AS sigma_dollars
        |FROM mom""".stripMargin,

    "q_moran_i" ->
      """WITH nw AS (
        |  SELECT CAST(n.n_nationkey AS BIGINT) AS node,
        |    coalesce(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
        |      AS BIGINT), 0) AS t
        |  FROM nation n LEFT JOIN customer c
        |    ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS tt FROM nw),
        |z AS (SELECT node, n * t - tt AS z FROM nw, tot),
        |denz AS (SELECT sum(CAST(z AS HUGEINT) * z) AS denz FROM z),
        |w AS (
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
        |e AS (SELECT u, v FROM w, thr WHERE CAST(cnt AS DOUBLE) > thr),
        |num AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ne,
        |    sum(CAST(zu.z AS HUGEINT) * zv.z) AS numE
        |  FROM e JOIN z zu ON zu.node = e.u JOIN z zv ON zv.node = e.v)
        |SELECT n AS n_nodes, 2 * ne AS w_edges,
        |  round((CAST(n AS DOUBLE) / (2.0 * CAST(ne AS DOUBLE))) *
        |    (2.0 * CAST(numE AS DOUBLE)) / CAST(denz AS DOUBLE), 6)
        |    AS moran_i,
        |  round(-1.0 / (CAST(n AS DOUBLE) - 1.0), 6) AS e_i
        |FROM num, denz, tot""".stripMargin,

    "q_geary_c" ->
      """WITH nw AS (
        |  SELECT CAST(n.n_nationkey AS BIGINT) AS node,
        |    coalesce(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
        |      AS BIGINT), 0) AS t
        |  FROM nation n LEFT JOIN customer c
        |    ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS tt FROM nw),
        |z AS (SELECT node, t, n * t - tt AS z FROM nw, tot),
        |denz AS (SELECT sum(CAST(z AS HUGEINT) * z) AS denz FROM z),
        |w AS (
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
        |e AS (SELECT u, v FROM w, thr WHERE CAST(cnt AS DOUBLE) > thr),
        |num AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ne,
        |    sum(CAST(zu.t - zv.t AS HUGEINT) * (zu.t - zv.t)) AS gnum
        |  FROM e JOIN z zu ON zu.node = e.u JOIN z zv ON zv.node = e.v)
        |SELECT n AS n_nodes, 2 * ne AS w_edges,
        |  round((CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE) *
        |    CAST(n AS DOUBLE) * CAST(gnum AS DOUBLE) /
        |    ((2.0 * CAST(ne AS DOUBLE)) * CAST(denz AS DOUBLE)), 6)
        |    AS geary_c
        |FROM num, denz, tot""".stripMargin)
}
