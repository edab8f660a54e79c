package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.{dec, dailyRev}

/** Round-12 financial-risk / trend diagnostics on the zero-filled
  * daily revenue calendar (the SeqMl2/Stats17 frame): maximum
  * drawdown, historical VaR/CVaR, annualized Sharpe/Sortino, and the
  * Mann–Kendall trend test with tie-corrected variance.
  *
  * Exactness strategy: the corpus collapses ONCE to the ≤31-day
  * integer-cent calendar array; drawdown is an integer prefix-max fold
  * (bit-identical in any engine), VaR/CVaR are exact order statistics
  * on the sorted loss array (k = ceil(0.8·m), CVaR = mean of the top
  * m−k+1 — deterministic under ties by construction), Sharpe/Sortino
  * reduce to the integer sums (Σr, Σr², Σmin(r,0)²) carried in
  * decimal(38,0) with doubles only in the final one-row formula, and
  * Mann–Kendall's S is an exact ±1 pair count over the broadcast
  * calendar frame with the tie term Σt(t−1)(2t+5) from the value
  * histogram.
  *
  * Scale shapes: every query is one corpus collapse + bounded-frame
  * math; the only join is Mann–Kendall's calendar×calendar pair frame
  * (≤31×31 rows, broadcast — the ScaleGen calendar densifies, never
  * widens). Nothing collected, nothing windowed outside the one-row
  * array fold.
  */
object Risk {
  private type Q = (SparkSession, String) => DataFrame

  /** Day-over-day revenue differences (m = days − 1; slice element i
    * is 1-based position i+2, so the predecessor is 0-based xs[i]). */
  private def diffs(xs: Column): Column =
    expr("transform(slice(xs, 2, greatest(size(xs) - 1, 0)), " +
      "(e, i) -> e - xs[i])")

  val queries: Map[String, Q] = Map(
    // ---- maximum drawdown of the DAILY revenue level (cumulative
    // revenue is monotone, so the meaningful drawdown is the worst
    // decline of the daily level from its running peak): one integer
    // fold carrying (t, last, peak, mdd, trough_t) — the peak seeds at
    // Long.MinValue so day 1 dominates it REGARDLESS of sign (a
    // 0-seeded peak would silently clamp a negative-revenue day while
    // the oracle's pure window max would not — ADVICE r12); mdd seeds
    // at −1 so a never-declining series still reports trough_t = 1
    // with mdd 0 (the oracle's dd DESC, t ASC argmax).
    "q_max_drawdown" -> ((s, d) => {
      val st0 = struct(lit(0L).as("t"), lit(0L).as("last"),
        lit(Long.MinValue).as("peak"), lit(-1L).as("mdd"), lit(0L).as("tt"))
      dailyRev(s, d).select(size(col("xs")).cast(LongType).as("n_days"),
          aggregate(col("xs"), st0, (st, x) => {
            val peak = greatest(st.getField("peak"), x)
            val dd = peak - x
            val better = dd > st.getField("mdd")
            struct((st.getField("t") + 1L).as("t"), x.as("last"),
              peak.as("peak"),
              when(better, dd).otherwise(st.getField("mdd")).as("mdd"),
              when(better, st.getField("t") + 1L)
                .otherwise(st.getField("tt")).as("tt"))
          }).as("st"))
        .select(col("n_days"),
          round(col("st.last").cast("double") / 100.0, 2)
            .as("final_dollars"),
          round(col("st.peak").cast("double") / 100.0, 2)
            .as("peak_dollars"),
          round(col("st.mdd").cast("double") / 100.0, 2)
            .as("mdd_dollars"),
          col("st.tt").as("trough_t"))
    }),

    // ---- historical VaR / CVaR at the 80% level on daily revenue
    // LOSSES (−diff): VaR is the exact k-th order statistic
    // (k = ceil(0.8·m)), CVaR the mean of the top m−k+1 sorted losses
    // — both defined on the sorted integer array, so ties cannot move
    // either number.
    "q_cvar" -> ((s, d) => {
      val base = dailyRev(s, d).select(diffs(col("xs")).as("rs"))
        .select(sort_array(expr("transform(rs, r -> -r)")).as("ls"),
          size(col("rs")).cast(LongType).as("m"))
        .filter(col("m") >= 1L)
      base.select(col("m").as("n_returns"),
          expr("cast(ceil(0.8 * m) as bigint)").as("k"),
          col("ls"))
        .select(col("n_returns"), col("k"),
          round(element_at(col("ls"), col("k").cast("int"))
            .cast("double") / 100.0, 2).as("var80_dollars"),
          round(expr("aggregate(slice(ls, cast(k as int), " +
            "cast(n_returns - k + 1 as int)), cast(0 as bigint), " +
            "(acc, x) -> acc + x)").cast("double") /
            (col("n_returns") - col("k") + 1L).cast("double") / 100.0,
            2).as("cvar80_dollars"))
    }),

    // ---- annualized Sharpe and Sortino ratios of daily revenue
    // changes: integer sums Σr, Σr², Σmin(r,0)² in decimal(38,0)
    // (r² ~ 3e15 per day at 30× already brushes the Long headroom at
    // larger sweeps), doubles only in the final one-row formula.
    // Sortino uses the POPULATION downside second moment about zero
    // (the standard target-0 form), documented here and mirrored in
    // the oracle.
    "q_sharpe" -> ((s, d) => {
      val z38 = lit(0).cast("decimal(38,0)")
      val agg = dailyRev(s, d).select(diffs(col("xs")).as("rs"))
        .select(size(col("rs")).cast(LongType).as("m"),
          expr("aggregate(rs, cast(0 as bigint), (a, r) -> a + r)")
            .as("s1"),
          aggregate(col("rs"), z38,
            (a, r) => (a + (dec(r) * r).cast("decimal(38,0)"))
              .cast("decimal(38,0)")).as("s2"),
          aggregate(col("rs"), z38,
            (a, r) => (a + (dec(least(r, lit(0L))) * least(r, lit(0L)))
              .cast("decimal(38,0)")).cast("decimal(38,0)")).as("sd2"))
        .filter(col("m") >= 2L)
      val mD = col("m").cast("double")
      val mean = col("s1").cast("double") / mD
      val varr = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / mD) /
        (mD - 1.0)
      val dsd = sqrt(col("sd2").cast("double") / mD)
      agg.select(col("m").as("n_returns"),
        round(mean / 100.0, 4).as("mean_dollars"),
        round(when(varr <= 0.0, lit(null).cast("double"))
          .otherwise(mean / sqrt(varr) * sqrt(lit(365.0))), 6)
          .as("sharpe_ann"),
        round(when(dsd <= 0.0, lit(null).cast("double"))
          .otherwise(mean / dsd * sqrt(lit(365.0))), 6)
          .as("sortino_ann"))
    }),

    // ---- Mann–Kendall trend test on daily revenue: S = Σ_{i<j}
    // sgn(x_j − x_i) over the broadcast ≤31×31 calendar pair frame
    // (exact ±1 integers), Var(S) = [m(m−1)(2m+5) − Σt(t−1)(2t+5)]/18
    // with the tie term from the value histogram, continuity-corrected
    // z. The pair frame is calendar-bounded — ScaleGen densifies days,
    // never widens the range.
    "q_mann_kendall" -> ((s, d) => {
      val dl = graft.CacheScope.cached(dailyRev(s, d)
        .select(posexplode(col("xs")).as(Seq("t", "x")))
        .select((col("t") + 1).cast(LongType).as("t"), col("x")))
      val pairs = dl.crossJoin(broadcast(
          dl.select(col("t").as("t2"), col("x").as("x2"))))
        .filter(col("t2") > col("t"))
      val sAgg = pairs.agg(sum(signum((col("x2") - col("x"))
        .cast("double")).cast(LongType)).as("s_stat"))
      val mAgg = dl.agg(count(lit(1)).as("m"))
      val tieAgg = dl.groupBy("x").agg(count(lit(1)).as("tc"))
        .agg(coalesce(sum((dec(col("tc")) * (col("tc") - 1L) *
          (lit(2L) * col("tc") + 5L)).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("tie"))
      val one = sAgg.crossJoin(broadcast(mAgg))
        .crossJoin(broadcast(tieAgg))
      val mD = col("m").cast("double")
      val varS = (mD * (mD - 1.0) * (lit(2.0) * mD + 5.0) -
        col("tie").cast("double")) / 18.0
      val sD = col("s_stat").cast("double")
      val zNum = when(col("s_stat") > 0L, sD - 1.0)
        .when(col("s_stat") < 0L, sD + 1.0).otherwise(lit(0.0))
      one.select(col("m").as("n_days"), col("s_stat"),
        round(varS, 4).as("var_s"),
        round(when(varS <= 0.0, lit(null).cast("double"))
          .otherwise(zNum / sqrt(varS)), 6).as("z"))
    }))

  private val dailyXSql: String =
    """SELECT dd.day, coalesce(dl.rev, 0) AS x,
      |  dd.day - (SELECT min(epoch_us(ts) // 86400000000) FROM events)
      |    + 1 AS t
      |FROM (SELECT unnest(range(
      |    (SELECT min(epoch_us(ts) // 86400000000) FROM events),
      |    (SELECT max(epoch_us(ts) // 86400000000) FROM events) + 1))
      |    AS day) dd
      |LEFT JOIN (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM events GROUP BY 1) dl ON dl.day = dd.day""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_max_drawdown" ->
      s"""WITH dl AS ($dailyXSql),
        |dd AS (
        |  SELECT t, x,
        |    max(x) OVER (ORDER BY t) AS peak,
        |    max(x) OVER (ORDER BY t) - x AS drawdown
        |  FROM dl),
        |best AS (
        |  SELECT t AS tt, drawdown AS mdd FROM dd
        |  ORDER BY drawdown DESC, t ASC LIMIT 1),
        |fin AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    max(CASE WHEN t = (SELECT max(t) FROM dd) THEN x END)
        |      AS flast,
        |    max(peak) AS peak
        |  FROM dd)
        |SELECT n_days, round(flast / 100.0, 2) AS final_dollars,
        |  round(peak / 100.0, 2) AS peak_dollars,
        |  round(mdd / 100.0, 2) AS mdd_dollars,
        |  CAST(tt AS BIGINT) AS trough_t
        |FROM fin, best""".stripMargin,

    "q_cvar" ->
      s"""WITH dl AS ($dailyXSql),
        |ls AS (
        |  SELECT -(x - lag(x) OVER (ORDER BY t)) AS loss
        |  FROM dl QUALIFY lag(x) OVER (ORDER BY t) IS NOT NULL),
        |r AS (
        |  SELECT loss, row_number() OVER (ORDER BY loss) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM ls),
        |k AS (SELECT m, CAST(ceil(0.8 * m) AS BIGINT) AS k
        |  FROM r LIMIT 1)
        |SELECT k.m AS n_returns, k.k,
        |  round(max(CASE WHEN rk = k.k THEN loss END) / 100.0, 2)
        |    AS var80_dollars,
        |  round(sum(CASE WHEN rk >= k.k THEN loss ELSE 0 END) /
        |    CAST(k.m - k.k + 1 AS DOUBLE) / 100.0, 2)
        |    AS cvar80_dollars
        |FROM r, k GROUP BY k.m, k.k""".stripMargin,

    "q_sharpe" ->
      s"""WITH dl AS ($dailyXSql),
        |rs AS (
        |  SELECT x - lag(x) OVER (ORDER BY t) AS r
        |  FROM dl QUALIFY lag(x) OVER (ORDER BY t) IS NOT NULL),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(r) AS BIGINT) AS s1,
        |    sum(CAST(r AS HUGEINT) * r) AS s2,
        |    sum(CAST(least(r, 0) AS HUGEINT) * least(r, 0)) AS sd2
        |  FROM rs)
        |SELECT m AS n_returns,
        |  round(CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) / 100.0, 4)
        |    AS mean_dollars,
        |  round(CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) /
        |      (CAST(m AS DOUBLE) - 1.0) <= 0.0 THEN NULL
        |    ELSE CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) /
        |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |        CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) /
        |        (CAST(m AS DOUBLE) - 1.0)) * sqrt(365.0) END, 6)
        |    AS sharpe_ann,
        |  round(CASE WHEN sqrt(CAST(sd2 AS DOUBLE) /
        |      CAST(m AS DOUBLE)) <= 0.0 THEN NULL
        |    ELSE CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE) /
        |      sqrt(CAST(sd2 AS DOUBLE) / CAST(m AS DOUBLE)) *
        |      sqrt(365.0) END, 6) AS sortino_ann
        |FROM agg WHERE m >= 2""".stripMargin,

    "q_mann_kendall" ->
      s"""WITH dl AS ($dailyXSql),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM dl a JOIN dl b ON b.t > a.t),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM dl),
        |tie AS (
        |  SELECT coalesce(sum(CAST(tc AS HUGEINT) * (tc - 1) *
        |    (2 * tc + 5)), 0) AS tie
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS tc
        |        FROM dl GROUP BY x) g)
        |SELECT m AS n_days, s_stat,
        |  round((CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0) *
        |    (2.0 * CAST(m AS DOUBLE) + 5.0) - CAST(tie AS DOUBLE)) /
        |    18.0, 4) AS var_s,
        |  round(CASE WHEN (CAST(m AS DOUBLE) * (CAST(m AS DOUBLE)
        |      - 1.0) * (2.0 * CAST(m AS DOUBLE) + 5.0) -
        |      CAST(tie AS DOUBLE)) / 18.0 <= 0.0 THEN NULL
        |    ELSE (CASE WHEN s_stat > 0 THEN CAST(s_stat AS DOUBLE)
        |        - 1.0
        |      WHEN s_stat < 0 THEN CAST(s_stat AS DOUBLE) + 1.0
        |      ELSE 0.0 END) /
        |      sqrt((CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0) *
        |        (2.0 * CAST(m AS DOUBLE) + 5.0) -
        |        CAST(tie AS DOUBLE)) / 18.0) END, 6) AS z
        |FROM s, m, tie""".stripMargin)
}
