package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.queries.Kernels.dec

/** Round-13 batch 2 — survival-analysis completion and classical
  * statistical process control: the Gehan–Breslow–Wilcoxon test (the
  * early-difference-weighted companion to q_log_rank), the actuarial
  * life table (interval-grouped hazards with the half-interval
  * censoring convention), and Shewhart control charts (X̄-R and p).
  *
  * Exactness strategy: every survival count (deaths, censorings,
  * at-risk) is an exact integer off one user-keyed aggregate; weighted
  * expectations/variances and log-survival factors quantize to
  * nano/micro integers per grid row before any sum (the q_log_rank /
  * q_kaplan_meier discipline), so cumulative statistics are
  * partition-order-proof. Control-chart subgroups are the FIRST 5
  * events per day under the deterministic (ts_us, event_id) order —
  * subgroup sums, ranges, and OOC flags are integers compared against
  * broadcast one-row float limits computed identically in both
  * engines.
  *
  * Scale shapes: one corpus collapse each (user-keyed for survival,
  * day-keyed for charts); every window runs on a calendar- or
  * interval-bounded grid (≤ days × arms rows — the documented
  * bounded-frame exemption), with the per-day top-5 routed through
  * GlobalRank's keyed row numbers (day keys are few, day slices are
  * corpus-sized — its designed regime).
  */
object Reliab {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  val queries: Map[String, Q] = Map(
    // ---- Gehan–Breslow–Wilcoxon: q_log_rank's grid with weight
    // w_t = n_t (total at risk) — the test that prices EARLY schedule
    // differences, where the at-risk set is large. Z = Σ w(d₁−e₁),
    // Var = Σ w²v; numerator/variance terms quantize to nano-ints per
    // grid row (the grid is calendar-bounded, the single-partition
    // reverse cumsum documented-correct on it).
    "q_gehan" -> ((s, d) => {
      val deaths = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(expr(s"ts_us div $DayUs")).as("dday"))
        .groupBy(col("dday"), (col("user_id") % 2 === 1).as("g1"))
        .agg(count(lit(1)).as("deaths"))
        .localCheckpoint(true) // calendar×2-bounded grid
      val grid = deaths.select("dday").distinct()
        .join(deaths.filter(col("g1")).select(col("dday"),
          col("deaths").as("d1")), Seq("dday"), "left")
        .join(deaths.filter(!col("g1")).select(col("dday"),
          col("deaths").as("d0")), Seq("dday"), "left")
        .select(col("dday"), coalesce(col("d1"), lit(0L)).as("d1"),
          coalesce(col("d0"), lit(0L)).as("d0"))
      val w = Window.orderBy(col("dday").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = grid
        .withColumn("r1", sum("d1").over(w))
        .withColumn("r0", sum("d0").over(w))
      val nt = (col("r1") + col("r0")).cast("double")
      val dt = (col("d1") + col("d0")).cast("double")
      val e1 = dt * col("r1") / nt
      val vt = when(col("r1") + col("r0") <= 1, lit(0.0)).otherwise(
        dt * (col("r1") / nt) * (col("r0") / nt) *
          (nt - dt) / (nt - lit(1.0)))
      // w·(d−e) ~ N·d_t and w²·v ~ N²·d_t at nano scale overflow Long
      // by the 30× sweep point — decimal(38,0), like the oracle's
      // HUGEINT (rounding a double past 2⁵³ is the identity in both
      // engines, so the quantization stays deterministic there)
      val sums = risk.agg(
        (sum("d1") + sum("d0")).as("n_users"),
        sum(round(nt * (col("d1").cast("double") - e1) * 1e9)
          .cast("decimal(38,0)")).as("num9"),
        sum(round(nt * nt * vt * 1e9).cast("decimal(38,0)")).as("var9"))
      val numD = col("num9").cast("double") / 1e9
      val varD = col("var9").cast("double") / 1e9
      sums.select(col("n_users"),
        round(numD, 4).as("w_obs_minus_exp"),
        round(varD, 4).as("var_g"),
        round(when(varD <= 0.0, lit(null)).otherwise(
          numD * numD / varD), 4).as("chi2"))
    }),

    // ---- actuarial life table over 7-day lifetime intervals:
    // lifetime = last − first activity day; users last seen within
    // 3 days of the corpus end are CENSORED (still-active convention).
    // Effective exposure n′ = n − c/2 (the half-interval convention
    // that distinguishes the actuarial estimator from KM); q = d/n′;
    // S by cumulative micro-nat log-sums over the ≤ bounded interval
    // grid.
    "q_life_table" -> ((s, d) => {
      val ue = Tables.events(s, d).groupBy("user_id")
        .agg(min(expr(s"ts_us div $DayUs")).as("fd"),
          max(expr(s"ts_us div $DayUs")).as("ld"))
      val mx = ue.agg(max("ld").as("mxd"))
      val iv = ue.crossJoin(broadcast(mx))
        .select(expr("(ld - fd) div 7").as("interval"),
          when(col("ld") >= col("mxd") - 2L, 1L).otherwise(0L)
            .as("cen"))
        .groupBy("interval")
        .agg(count(lit(1)).as("m"),
          sum(lit(1L) - col("cen")).as("d"), sum("cen").as("c"))
        .localCheckpoint(true) // lifetime-interval-bounded grid
      val wDesc = Window.orderBy(col("interval").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = iv.withColumn("n_risk", sum("m").over(wDesc))
      val nEff = col("n_risk").cast("double") -
        col("c").cast("double") / 2.0
      val q = when(nEff <= 0.0, lit(0.0))
        .otherwise(col("d").cast("double") / nEff)
      // ln(1−q) per interval, micro-quantized; S(i) = exp(Σ_{j<i}) —
      // EXCLUSIVE prefix (survival entering the interval)
      val step = when(q >= 1.0, lit(null).cast(LongType))
        .otherwise(round(log(lit(1.0) - q) * 1e6).cast(LongType))
      val wAsc = Window.orderBy(col("interval").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      risk.withColumn("q6", round(q * 1e6).cast(LongType))
        .withColumn("st", step)
        .withColumn("cum", coalesce(sum("st").over(wAsc), lit(0L)))
        .select(col("interval"), col("n_risk"), col("d").as("n_deaths"),
          col("c").as("n_censored"), round(nEff, 1).as("n_eff"),
          round(col("q6") / 1e6, 6).as("q_i"),
          round(exp(col("cum") / 1e6), 6).as("surv_enter"))
        .orderBy("interval")
    }),

    // ---- Shewhart X̄-R chart: subgroup = the FIRST 5 events of each
    // day by (ts_us, event_id) — the rational subgroup a process
    // engineer samples each period; days with ≥ 5 events qualify.
    // Center lines and A₂/D₄ limits (n = 5: A₂ = 0.577, D₃ = 0,
    // D₄ = 2.114) come from one bounded aggregate; OOC counts compare
    // exact integer subgroup sums/ranges against the broadcast float
    // limits.
    "q_xbar_chart" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr(s"ts_us div $DayUs").as("day"), col("ts_us"),
        col("event_id"),
        round(col("value") * 100).cast(LongType).as("c"))
      val top5 = GlobalRank.withKeyedRowNumber(ev, "rn", Seq("day"),
        Seq(col("ts_us").asc, col("event_id").asc))
        .filter(col("rn") <= 5L)
      val sub = top5.groupBy("day")
        .agg(count(lit(1)).as("k"), sum("c").as("s5"),
          max("c").as("mx"), min("c").as("mn"))
        .filter(col("k") === 5L)
        .select(col("day"), col("s5"), (col("mx") - col("mn")).as("r"))
      val cached = graft.CacheScope.cached(sub)
      val ctr = cached.agg(count(lit(1)).as("n_days"),
        sum(dec(col("s5"))).as("ssum"), sum(dec(col("r"))).as("rsum"))
      val dD = col("n_days").cast("double")
      val xbb = col("ssum").cast("double") / (dD * 5.0)
      val rb = col("rsum").cast("double") / dD
      val lims = ctr.select(col("n_days"), xbb.as("xbb"), rb.as("rb"),
        (xbb - lit(0.577) * rb).as("lclx"),
        (xbb + lit(0.577) * rb).as("uclx"),
        (lit(2.114) * rb).as("uclr"))
      cached.crossJoin(broadcast(lims))
        .groupBy("n_days").agg(
          max(round(col("xbb") / 100.0, 4)).as("xbar_center_dollars"),
          max(round(col("rb") / 100.0, 4)).as("rbar_dollars"),
          max(round(col("lclx") / 100.0, 4)).as("lcl_x_dollars"),
          max(round(col("uclx") / 100.0, 4)).as("ucl_x_dollars"),
          max(round(col("uclr") / 100.0, 4)).as("ucl_r_dollars"),
          sum(when(col("s5").cast("double") / 5.0 < col("lclx") ||
            col("s5").cast("double") / 5.0 > col("uclx"), 1L)
            .otherwise(0L)).as("n_ooc_xbar"),
          sum(when(col("r").cast("double") > col("uclr"), 1L)
            .otherwise(0L)).as("n_ooc_r"))
        .orderBy("n_days")
    }),

    // ---- p-chart of the daily purchase share: per-day binomial
    // limits p̄ ± 3·√(p̄(1−p̄)/n_d) around the pooled proportion —
    // variable subgroup sizes give each day its own limits. One
    // day-keyed aggregate; per-day counts exact, limits identical
    // doubles; output is the bounded calendar.
    "q_p_chart" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
      val cached = graft.CacheScope.cached(daily)
      val tot = cached.agg(sum("n").as("tn"), sum("x").as("tx"))
        .select((col("tx").cast("double") / col("tn").cast("double"))
          .as("pbar"))
      cached.crossJoin(broadcast(tot))
        .select(col("day"), col("n"), col("x"),
          round(col("x").cast("double") / col("n").cast("double"), 6)
            .as("p_day"),
          round(col("pbar"), 6).as("p_center"),
          round(greatest(lit(0.0), col("pbar") - lit(3.0) *
            sqrt(col("pbar") * (lit(1.0) - col("pbar")) /
              col("n").cast("double"))), 6).as("lcl"),
          round(least(lit(1.0), col("pbar") + lit(3.0) *
            sqrt(col("pbar") * (lit(1.0) - col("pbar")) /
              col("n").cast("double"))), 6).as("ucl"),
          (col("x").cast("double") / col("n").cast("double") <
            col("pbar") - lit(3.0) * sqrt(col("pbar") *
              (lit(1.0) - col("pbar")) / col("n").cast("double")) ||
           col("x").cast("double") / col("n").cast("double") >
            col("pbar") + lit(3.0) * sqrt(col("pbar") *
              (lit(1.0) - col("pbar")) / col("n").cast("double")))
            .as("ooc"))
        .orderBy("day")
    }))

  val oracle: Map[String, String] = Map(
    "q_gehan" ->
      """WITH deaths AS (
        |  SELECT dday, g1, CAST(count(*) AS BIGINT) AS deaths
        |  FROM (
        |    SELECT max(epoch_us(ts) // 86400000000) AS dday,
        |      user_id % 2 = 1 AS g1
        |    FROM events GROUP BY user_id) u
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT dday,
        |    coalesce(max(CASE WHEN g1 THEN deaths END), 0) AS d1,
        |    coalesce(max(CASE WHEN NOT g1 THEN deaths END), 0) AS d0
        |  FROM deaths GROUP BY 1),
        |risk AS (
        |  SELECT dday, d1, d0,
        |    sum(d1) OVER (ORDER BY dday DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1,
        |    sum(d0) OVER (ORDER BY dday DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r0
        |  FROM grid),
        |terms AS (
        |  SELECT d1, d0,
        |    CAST(round((r1 + r0) * (CAST(d1 AS DOUBLE) -
        |      CAST(d1 + d0 AS DOUBLE) * r1 / (r1 + r0)) * 1e9)
        |      AS HUGEINT) AS num9,
        |    CAST(round(CASE WHEN r1 + r0 <= 1 THEN 0.0
        |      ELSE CAST(r1 + r0 AS DOUBLE) * (r1 + r0) *
        |        (CAST(d1 + d0 AS DOUBLE) *
        |          (CAST(r1 AS DOUBLE) / (r1 + r0)) *
        |          (CAST(r0 AS DOUBLE) / (r1 + r0)) *
        |          (CAST(r1 + r0 AS DOUBLE) - (d1 + d0)) /
        |          (CAST(r1 + r0 AS DOUBLE) - 1.0)) END * 1e9)
        |      AS HUGEINT) AS var9
        |  FROM risk)
        |SELECT CAST(sum(d1) + sum(d0) AS BIGINT) AS n_users,
        |  round(CAST(sum(num9) AS DOUBLE) / 1e9, 4) AS w_obs_minus_exp,
        |  round(CAST(sum(var9) AS DOUBLE) / 1e9, 4) AS var_g,
        |  round(CASE WHEN sum(var9) <= 0 THEN NULL
        |    ELSE (CAST(sum(num9) AS DOUBLE) / 1e9) *
        |      (CAST(sum(num9) AS DOUBLE) / 1e9) /
        |      (CAST(sum(var9) AS DOUBLE) / 1e9) END, 4) AS chi2
        |FROM terms""".stripMargin,

    "q_life_table" ->
      """WITH ue AS (
        |  SELECT min(epoch_us(ts) // 86400000000) AS fd,
        |    max(epoch_us(ts) // 86400000000) AS ld
        |  FROM events GROUP BY user_id),
        |mx AS (SELECT max(ld) AS mxd FROM ue),
        |iv AS (
        |  SELECT (ld - fd) // 7 AS interval,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CASE WHEN ld >= mxd - 2 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN ld >= mxd - 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM ue CROSS JOIN mx GROUP BY 1),
        |risk AS (
        |  SELECT interval, m, d, c,
        |    CAST(sum(m) OVER (ORDER BY interval DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_risk
        |  FROM iv),
        |qq AS (
        |  SELECT interval, n_risk, d, c,
        |    CAST(n_risk AS DOUBLE) - CAST(c AS DOUBLE) / 2.0 AS neff,
        |    CASE WHEN CAST(n_risk AS DOUBLE) - CAST(c AS DOUBLE) / 2.0
        |        <= 0.0 THEN 0.0
        |      ELSE CAST(d AS DOUBLE) /
        |        (CAST(n_risk AS DOUBLE) - CAST(c AS DOUBLE) / 2.0)
        |      END AS q
        |  FROM risk),
        |st AS (
        |  SELECT interval, n_risk, d, c, neff, q,
        |    CASE WHEN q >= 1.0 THEN NULL
        |      ELSE CAST(round(ln(1.0 - q) * 1e6) AS BIGINT) END AS stp
        |  FROM qq),
        |cm AS (
        |  SELECT interval, n_risk, d, c, neff, q,
        |    coalesce(sum(stp) OVER (ORDER BY interval
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM st)
        |SELECT CAST(interval AS BIGINT) AS interval, n_risk,
        |  d AS n_deaths, c AS n_censored, round(neff, 1) AS n_eff,
        |  round(CAST(round(q * 1e6) AS BIGINT) / 1e6, 6) AS q_i,
        |  round(exp(cum / 1e6), 6) AS surv_enter
        |FROM cm ORDER BY interval""".stripMargin,

    "q_xbar_chart" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |top5 AS (
        |  SELECT day, c FROM (
        |    SELECT day, c, row_number() OVER (PARTITION BY day
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM ev) WHERE rn <= 5),
        |sub AS (
        |  SELECT day, CAST(sum(c) AS BIGINT) AS s5,
        |    CAST(max(c) - min(c) AS BIGINT) AS r
        |  FROM top5 GROUP BY 1 HAVING count(*) = 5),
        |ctr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    sum(CAST(s5 AS HUGEINT)) AS ssum,
        |    sum(CAST(r AS HUGEINT)) AS rsum
        |  FROM sub),
        |lims AS (
        |  SELECT n_days,
        |    CAST(ssum AS DOUBLE) / (n_days * 5.0) AS xbb,
        |    CAST(rsum AS DOUBLE) / n_days AS rb
        |  FROM ctr)
        |SELECT n_days,
        |  round(xbb / 100.0, 4) AS xbar_center_dollars,
        |  round(rb / 100.0, 4) AS rbar_dollars,
        |  round((xbb - 0.577 * rb) / 100.0, 4) AS lcl_x_dollars,
        |  round((xbb + 0.577 * rb) / 100.0, 4) AS ucl_x_dollars,
        |  round(2.114 * rb / 100.0, 4) AS ucl_r_dollars,
        |  (SELECT CAST(sum(CASE WHEN CAST(s5 AS DOUBLE) / 5.0 <
        |      xbb - 0.577 * rb OR CAST(s5 AS DOUBLE) / 5.0 >
        |      xbb + 0.577 * rb THEN 1 ELSE 0 END) AS BIGINT) FROM sub)
        |    AS n_ooc_xbar,
        |  (SELECT CAST(sum(CASE WHEN CAST(r AS DOUBLE) >
        |      2.114 * rb THEN 1 ELSE 0 END) AS BIGINT) FROM sub)
        |    AS n_ooc_r
        |FROM lims ORDER BY n_days""".stripMargin,

    "q_p_chart" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(x) AS DOUBLE) / sum(n) AS pbar FROM daily)
        |SELECT day, n, x,
        |  round(CAST(x AS DOUBLE) / n, 6) AS p_day,
        |  round(pbar, 6) AS p_center,
        |  round(greatest(0.0, pbar - 3.0 *
        |    sqrt(pbar * (1.0 - pbar) / n)), 6) AS lcl,
        |  round(least(1.0, pbar + 3.0 *
        |    sqrt(pbar * (1.0 - pbar) / n)), 6) AS ucl,
        |  (CAST(x AS DOUBLE) / n < pbar - 3.0 *
        |     sqrt(pbar * (1.0 - pbar) / n) OR
        |   CAST(x AS DOUBLE) / n > pbar + 3.0 *
        |     sqrt(pbar * (1.0 - pbar) / n)) AS ooc
        |FROM daily CROSS JOIN tot ORDER BY day""".stripMargin)
}
