package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.queries.Kernels.dec

/** Round-11 econometrics/regression-diagnostics batch: the Wald IV
  * (instrumental-variable) estimator with a user-parity instrument, an
  * event-study leads-and-lags panel around the calendar midpoint,
  * Goldfeld–Quandt heteroskedasticity, Cook's distance influence
  * ranking, the PRESS statistic / predicted R², and the jackknife
  * standard error of the OLS slope.
  *
  * House discipline: regressions never iterate — every OLS quantity is
  * a closed form over exact integer moments (n, Σx, Σy, Σx², Σxy, Σy²
  * in cents), with the scaled centered forms A = nΣx²−(Σx)²,
  * B = nΣxy−ΣxΣy, C = nΣy²−(Σy)² kept in decimal(38,0); leverage is
  * h = 1/n + (nx−Σx)²/(nA) with an integer numerator. Per-row float
  * quantities that must be SUMMED (PRESS terms, jackknife pseudo-value
  * slopes) are quantized to integers per row first, so the cross-row
  * sum is reduce-order-proof. The event-study coefficients are exact
  * integer cents end to end.
  *
  * Scale shapes: IV and the event study collapse the corpus once
  * (per-user / per-(group,week) sums); the four diagnostics live on the
  * ≤366-row calendar frame with the one-row moment frame broadcast
  * back — no corpus-growing window anywhere; Cook's top-k is a
  * TakeOrdered, not a global sort.
  */
object Econ2 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L
  private val WeekUs = 604800000000L

  /** Dense daily (day, x = clicks, y = revenue cents) calendar frame. */
  private def daily(s: SparkSession, d: String): DataFrame = {
    val agg = graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("x"),
        sum(round(col("value") * 100).cast(LongType)).as("y")))
    val span = agg.agg(min("day").as("mn"), max("day").as("mx"))
    span.select(explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(agg, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
  }

  /** One-row integer moment frame of the daily regression y ~ x. */
  private def moments(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("y")).as("sxy"),
      sum(dec(col("y")) * col("y")).as("syy"))

  // Scaled centered forms over the broadcast moment frame.
  private def aCol: Column =
    (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
      .cast("decimal(38,0)")
  private def bCol: Column =
    (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
      .cast("decimal(38,0)")
  private def cCol: Column =
    (dec(col("n")) * col("syy") - dec(col("sy")) * col("sy"))
      .cast("decimal(38,0)")

  val queries: Map[String, Q] = Map(
    // ---- Wald IV estimator: instrument z = user parity, treatment
    // x = user's click count, outcome y = user's purchase cents.
    // β̂_IV = (n₀·Σy₁ − n₁·Σy₀)/(n₀·Σx₁ − n₁·Σx₀) — the ratio of the
    // reduced form to the first stage, exact integers until ONE
    // division; the two stage means are reported alongside.
    "q_iv_wald" -> ((s, d) => {
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(count(when(col("event_type") === "click", 1)).as("x"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("y"))
        .select((col("user_id") % 2).as("z"), col("x"), col("y"))
      val m = u.groupBy("z")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"))
      val r = m.agg(
        sum(when(col("z") === 0, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("z") === 1, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("z") === 0, col("sx")).otherwise(0L)).as("sx0"),
        sum(when(col("z") === 1, col("sx")).otherwise(0L)).as("sx1"),
        sum(when(col("z") === 0, col("sy")).otherwise(0L)).as("sy0"),
        sum(when(col("z") === 1, col("sy")).otherwise(0L)).as("sy1"))
      r.select(col("n0"), col("n1"),
        round((dec(col("n0")) * col("sx1") - dec(col("n1")) * col("sx0"))
          .cast("double") /
          (dec(col("n0")) * col("n1")).cast("double"), 6)
          .as("first_stage_clicks"),
        round((dec(col("n0")) * col("sy1") - dec(col("n1")) * col("sy0"))
          .cast("double") /
          (dec(col("n0")) * col("n1")).cast("double") / 100.0, 6)
          .as("itt_dollars"),
        round((dec(col("n0")) * col("sy1") - dec(col("n1")) * col("sy0"))
          .cast("double") /
          (dec(col("n0")) * col("sx1") - dec(col("n1")) * col("sx0"))
          .cast("double") / 100.0, 6).as("beta_iv_dollars_per_click"))
    }),

    // ---- Event study: leads/lags −4..+4 weeks around the integer
    // calendar midpoint week, treated = odd users. γ_k = (T_k − C_k) −
    // (T₋₁ − C₋₁), normalized to the k = −1 reference — exact integer
    // cents end to end (the q_diff_in_diff midpoint discipline).
    "q_event_study" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr(s"ts_us div $WeekUs").as("wk"),
        (col("user_id") % 2).as("g"),
        round(col("value") * 100).cast(LongType).as("c"))
      val span = ev.agg(min("wk").as("mn"), max("wk").as("mx"))
      val rel = ev.crossJoin(broadcast(span))
        .select((col("wk") - expr("(mn + mx + 1) div 2")).as("rel"),
          col("g"), col("c"))
        .filter(col("rel").between(-4L, 4L))
      val cell = rel.groupBy("rel").agg(
        sum(when(col("g") === 1, col("c")).otherwise(0L)).as("t"),
        sum(when(col("g") === 0, col("c")).otherwise(0L)).as("ctl"))
      val ref = cell.filter(col("rel") === -1L)
        .select(col("t").as("tr"), col("ctl").as("cr"))
      cell.crossJoin(broadcast(ref))
        .select(col("rel"), col("t"), col("ctl"),
          ((col("t") - col("ctl")) - (col("tr") - col("cr")))
            .as("gamma_cents"),
          round(((col("t") - col("ctl")) - (col("tr") - col("cr")))
            .cast("double") / 100.0, 2).as("gamma_dollars"))
        .orderBy("rel")
    }),

    // ---- Goldfeld–Quandt: order the daily frame by the regressor,
    // drop the middle third, fit OLS on each tail; with the scaled
    // centered forms, m·RSS = (C·A − B²)/A, so
    // GQ = (RSS₂/(m₂−2))/(RSS₁/(m₁−2)) is integers until two divisions.
    "q_goldfeld_quandt" -> ((s, d) => {
      val dl = daily(s, d)
      val rn = GlobalRank.withRowNumber(dl, "rn",
        Seq(col("x").asc, col("day").asc))
      val tot = dl.agg(count(lit(1)).as("nAll"))
      val sides = rn.crossJoin(broadcast(tot))
        .select(col("x"), col("y"),
          when(col("rn").cast("long") <= expr("nAll div 3"), 1L)
            .when(col("rn").cast("long") > col("nAll") -
              expr("nAll div 3"), 2L).otherwise(0L).as("side"))
        .filter(col("side") =!= 0L)
      val m = sides.groupBy("side")
        .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
          sum(dec(col("x")) * col("x")).as("sxx"),
          sum(dec(col("x")) * col("y")).as("sxy"),
          sum(dec(col("y")) * col("y")).as("syy"))
        .select(col("side"), col("m"),
          (dec(col("m")) * col("sxx") - dec(col("sx")) * col("sx"))
            .cast("decimal(38,0)").as("a"),
          (dec(col("m")) * col("sxy") - dec(col("sx")) * col("sy"))
            .cast("decimal(38,0)").as("b"),
          (dec(col("m")) * col("syy") - dec(col("sy")) * col("sy"))
            .cast("decimal(38,0)").as("c"))
        .select(col("side"), col("m"),
          ((col("c") * col("a") - col("b") * col("b")).cast("double") /
            col("a").cast("double") / col("m").cast("double") /
            (col("m").cast("double") - 2.0)).as("mse"))
      val wide = m.agg(
        sum(when(col("side") === 1L, col("m")).otherwise(0L)).as("m1"),
        sum(when(col("side") === 2L, col("m")).otherwise(0L)).as("m2"),
        sum(when(col("side") === 1L, col("mse")).otherwise(0.0))
          .as("mse1"),
        sum(when(col("side") === 2L, col("mse")).otherwise(0.0))
          .as("mse2"))
      wide.select(col("m1"), col("m2"),
        round(col("mse1") / 10000.0, 4).as("mse_low_dollars2"),
        round(col("mse2") / 10000.0, 4).as("mse_high_dollars2"),
        round(col("mse2") / col("mse1"), 6).as("gq_stat"))
    }),

    // ---- Cook's distance of each day in the daily revenue-on-clicks
    // OLS: h = 1/n + (nx−Σx)²/(nA) (integer numerator),
    // e = y − α − βx, D = e²h/(2s²(1−h)²) with s² = ((CA−B²)/(nA))/(n−2)
    // — one broadcast moment frame, per-day fixed-order doubles, top-5
    // via TakeOrdered on the rounded value with a day tiebreak.
    "q_cooks_distance" -> ((s, d) => {
      val dl = graft.CacheScope.cached(daily(s, d))
      val mom = moments(dl)
        .select(col("n"), col("sx"), col("sy"), aCol.as("a"),
          bCol.as("b"), cCol.as("c"))
      val nD = col("n").cast("double")
      val beta = col("b").cast("double") / col("a").cast("double")
      val alpha = (col("sy").cast("double") -
        beta * col("sx").cast("double")) / nD
      val e = col("y").cast("double") - alpha -
        beta * col("x").cast("double")
      val dx = (dec(col("n")) * col("x") - col("sx"))
        .cast("decimal(38,0)")
      val h = lit(1.0) / nD +
        (dx * dx).cast("decimal(38,0)").cast("double") /
          (nD * col("a").cast("double"))
      val s2 = (col("c") * col("a") - col("b") * col("b"))
        .cast("double") /
        (nD * col("a").cast("double")) / (nD - 2.0)
      dl.crossJoin(broadcast(mom))
        .select(col("day"), round(e / 100.0, 2).as("resid_dollars"),
          round(h, 8).as("leverage"),
          round(e * e * h / (lit(2.0) * s2 * (lit(1.0) - h) *
            (lit(1.0) - h)), 8).as("cooks_d"))
        .orderBy(col("cooks_d").desc, col("day").asc)
        .limit(5)
    }),

    // ---- PRESS / predicted R²: the leave-one-out residual is
    // e/(1−h) in closed form; each is quantized to whole cents BEFORE
    // the cross-row sum (reduce-order-proof), so PRESS is an exact
    // integer sum; R²_pred = 1 − n·PRESS/C, R² = B²/(A·C).
    "q_press" -> ((s, d) => {
      val dl = graft.CacheScope.cached(daily(s, d))
      val mom = moments(dl)
        .select(col("n"), col("sx"), col("sy"), aCol.as("a"),
          bCol.as("b"), cCol.as("c"))
      val nD = col("n").cast("double")
      val beta = col("b").cast("double") / col("a").cast("double")
      val alpha = (col("sy").cast("double") -
        beta * col("sx").cast("double")) / nD
      val e = col("y").cast("double") - alpha -
        beta * col("x").cast("double")
      val dx = (dec(col("n")) * col("x") - col("sx"))
        .cast("decimal(38,0)")
      val h = lit(1.0) / nD +
        (dx * dx).cast("decimal(38,0)").cast("double") /
          (nD * col("a").cast("double"))
      val per = dl.crossJoin(broadcast(mom))
        .select(col("n"), col("a"), col("b"), col("c"),
          round(e / (lit(1.0) - h)).cast(LongType).as("pq"))
      per.groupBy("n", "a", "b", "c")
        .agg(sum((dec(col("pq")) * col("pq")).cast("decimal(38,0)"))
          .as("press_c2"))
        .select(col("n").as("n_days"),
          round(col("press_c2").cast("double") / 10000.0, 2)
            .as("press_dollars2"),
          round(col("b").cast("double") * col("b").cast("double") /
            (col("a").cast("double") * col("c").cast("double")), 6)
            .as("r2"),
          round(lit(1.0) - col("n").cast("double") *
            col("press_c2").cast("double") / col("c").cast("double"),
            6).as("r2_pred"))
    }),

    // ---- Jackknife SE of the OLS slope: each leave-one-out slope is
    // a closed form over the global moments minus the row's own
    // contribution — exact integer numerators/denominators per row —
    // quantized to micro-(cents/click) before the cross-row moment
    // sums, so the jackknife variance is exact integer arithmetic up
    // to the final scalar ops.
    "q_jackknife_slope" -> ((s, d) => {
      val dl = graft.CacheScope.cached(daily(s, d))
      val mom = moments(dl)
      val bq = dl.crossJoin(broadcast(mom))
        .select(col("n"),
          round(((dec(col("n") - 1L) *
            (col("sxy") - dec(col("x")) * col("y")) -
            dec(col("sx") - col("x")) * (col("sy") - col("y")))
            .cast("decimal(38,0)").cast("double") /
            (dec(col("n") - 1L) *
              (col("sxx") - dec(col("x")) * col("x")) -
              dec(col("sx") - col("x")) * (col("sx") - col("x")))
              .cast("decimal(38,0)").cast("double")) * 1000000.0)
            .cast(LongType).as("bq"))
      val agg = bq.groupBy("n").agg(sum("bq").as("s1"),
        sum((dec(col("bq")) * col("bq")).cast("decimal(38,0)"))
          .as("s2"))
      val full = moments(dl).select(
        (bCol.cast("double") / aCol.cast("double")).as("beta"))
      val nD = col("n").cast("double")
      agg.crossJoin(broadcast(full))
        .select(col("n").as("n_days"),
          round(col("beta") / 100.0, 6).as("beta_dollars_per_click"),
          round(sqrt((nD - 1.0) / nD *
            (col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") / nD))
            / 1000000.0 / 100.0, 6).as("jack_se_dollars_per_click"))
    }))

  private val dailySql: String =
    """SELECT dd.day,
      |  coalesce(dl.x, 0) AS x, coalesce(dl.y, 0) AS y
      |FROM (SELECT unnest(range(
      |    (SELECT min(epoch_us(ts) // 86400000000) FROM events),
      |    (SELECT max(epoch_us(ts) // 86400000000) FROM events) + 1))
      |    AS day) dd
      |LEFT JOIN (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1) dl ON dl.day = dd.day""".stripMargin

  private val momSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  sum(CAST(x AS HUGEINT) * x) AS sxx,
      |  sum(CAST(x AS HUGEINT) * y) AS sxy,
      |  sum(CAST(y AS HUGEINT) * y) AS syy
      |FROM daily""".stripMargin

  private val abcSql: String =
    """SELECT n, sx, sy,
      |  CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS a,
      |  CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS b,
      |  CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS c
      |FROM mom""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_iv_wald" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS z,
        |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |m AS (SELECT z, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
        |  FROM u GROUP BY z),
        |r AS (SELECT
        |    CAST(sum(CASE WHEN z = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN z = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN z = 0 THEN sx ELSE 0 END) AS BIGINT)
        |      AS sx0,
        |    CAST(sum(CASE WHEN z = 1 THEN sx ELSE 0 END) AS BIGINT)
        |      AS sx1,
        |    CAST(sum(CASE WHEN z = 0 THEN sy ELSE 0 END) AS BIGINT)
        |      AS sy0,
        |    CAST(sum(CASE WHEN z = 1 THEN sy ELSE 0 END) AS BIGINT)
        |      AS sy1
        |  FROM m)
        |SELECT n0, n1,
        |  round(CAST(CAST(n0 AS HUGEINT) * sx1 -
        |      CAST(n1 AS HUGEINT) * sx0 AS DOUBLE) /
        |    CAST(CAST(n0 AS HUGEINT) * n1 AS DOUBLE), 6)
        |    AS first_stage_clicks,
        |  round(CAST(CAST(n0 AS HUGEINT) * sy1 -
        |      CAST(n1 AS HUGEINT) * sy0 AS DOUBLE) /
        |    CAST(CAST(n0 AS HUGEINT) * n1 AS DOUBLE) / 100.0, 6)
        |    AS itt_dollars,
        |  round(CAST(CAST(n0 AS HUGEINT) * sy1 -
        |      CAST(n1 AS HUGEINT) * sy0 AS DOUBLE) /
        |    CAST(CAST(n0 AS HUGEINT) * sx1 -
        |      CAST(n1 AS HUGEINT) * sx0 AS DOUBLE) / 100.0, 6)
        |    AS beta_iv_dollars_per_click
        |FROM r""".stripMargin,

    "q_event_study" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 604800000000 AS wk, user_id % 2 AS g,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |span AS (SELECT min(wk) AS mn, max(wk) AS mx FROM ev),
        |rel AS (
        |  SELECT wk - (mn + mx + 1) // 2 AS rel, g, c FROM ev, span
        |  WHERE wk - (mn + mx + 1) // 2 BETWEEN -4 AND 4),
        |cell AS (
        |  SELECT rel,
        |    CAST(sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT)
        |      AS ctl
        |  FROM rel GROUP BY rel),
        |ref AS (SELECT t AS tr, ctl AS cr FROM cell WHERE rel = -1)
        |SELECT CAST(rel AS BIGINT) AS rel, t, ctl,
        |  CAST((t - ctl) - (tr - cr) AS BIGINT) AS gamma_cents,
        |  round(CAST((t - ctl) - (tr - cr) AS DOUBLE) / 100.0, 2)
        |    AS gamma_dollars
        |FROM cell, ref ORDER BY rel""".stripMargin,

    "q_goldfeld_quandt" ->
      s"""WITH daily AS ($dailySql),
        |rn AS (SELECT x, y, row_number() OVER (ORDER BY x, day) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS nAll
        |  FROM daily),
        |sides AS (
        |  SELECT x, y, CASE WHEN rn <= nAll // 3 THEN 1
        |    WHEN rn > nAll - nAll // 3 THEN 2 ELSE 0 END AS side
        |  FROM rn),
        |m AS (
        |  SELECT side, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM sides WHERE side <> 0 GROUP BY side),
        |abc AS (
        |  SELECT side, m,
        |    CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS a,
        |    CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS b,
        |    CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS c
        |  FROM m),
        |mse AS (
        |  SELECT side, m,
        |    CAST(c * a - b * b AS DOUBLE) / CAST(a AS DOUBLE) /
        |      CAST(m AS DOUBLE) / (CAST(m AS DOUBLE) - 2.0) AS mse
        |  FROM abc)
        |SELECT
        |  CAST(sum(CASE WHEN side = 1 THEN m ELSE 0 END) AS BIGINT)
        |    AS m1,
        |  CAST(sum(CASE WHEN side = 2 THEN m ELSE 0 END) AS BIGINT)
        |    AS m2,
        |  round(sum(CASE WHEN side = 1 THEN mse ELSE 0 END) / 10000.0,
        |    4) AS mse_low_dollars2,
        |  round(sum(CASE WHEN side = 2 THEN mse ELSE 0 END) / 10000.0,
        |    4) AS mse_high_dollars2,
        |  round(sum(CASE WHEN side = 2 THEN mse ELSE 0 END) /
        |    sum(CASE WHEN side = 1 THEN mse ELSE 0 END), 6) AS gq_stat
        |FROM mse""".stripMargin,

    "q_cooks_distance" ->
      s"""WITH daily AS ($dailySql),
        |mom AS ($momSql),
        |abc AS ($abcSql)
        |SELECT day,
        |  round((CAST(y AS DOUBLE) -
        |    (CAST(sy AS DOUBLE) - CAST(b AS DOUBLE) /
        |      CAST(a AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |      CAST(n AS DOUBLE) -
        |    CAST(b AS DOUBLE) / CAST(a AS DOUBLE) * CAST(x AS DOUBLE))
        |    / 100.0, 2) AS resid_dollars,
        |  round(1.0 / CAST(n AS DOUBLE) +
        |    CAST((CAST(n AS HUGEINT) * x - sx) *
        |      (CAST(n AS HUGEINT) * x - sx) AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(a AS DOUBLE)), 8) AS leverage,
        |  round((CAST(y AS DOUBLE) -
        |      (CAST(sy AS DOUBLE) - CAST(b AS DOUBLE) /
        |        CAST(a AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        CAST(n AS DOUBLE) -
        |      CAST(b AS DOUBLE) / CAST(a AS DOUBLE) *
        |        CAST(x AS DOUBLE)) *
        |    (CAST(y AS DOUBLE) -
        |      (CAST(sy AS DOUBLE) - CAST(b AS DOUBLE) /
        |        CAST(a AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        CAST(n AS DOUBLE) -
        |      CAST(b AS DOUBLE) / CAST(a AS DOUBLE) *
        |        CAST(x AS DOUBLE)) *
        |    (1.0 / CAST(n AS DOUBLE) +
        |      CAST((CAST(n AS HUGEINT) * x - sx) *
        |        (CAST(n AS HUGEINT) * x - sx) AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(a AS DOUBLE))) /
        |    (2.0 * (CAST(c * a - b * b AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(a AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) - 2.0)) *
        |     (1.0 - (1.0 / CAST(n AS DOUBLE) +
        |       CAST((CAST(n AS HUGEINT) * x - sx) *
        |         (CAST(n AS HUGEINT) * x - sx) AS DOUBLE) /
        |       (CAST(n AS DOUBLE) * CAST(a AS DOUBLE)))) *
        |     (1.0 - (1.0 / CAST(n AS DOUBLE) +
        |       CAST((CAST(n AS HUGEINT) * x - sx) *
        |         (CAST(n AS HUGEINT) * x - sx) AS DOUBLE) /
        |       (CAST(n AS DOUBLE) * CAST(a AS DOUBLE))))), 8)
        |    AS cooks_d
        |FROM daily, abc
        |ORDER BY cooks_d DESC, day LIMIT 5""".stripMargin,

    "q_press" ->
      s"""WITH daily AS ($dailySql),
        |mom AS ($momSql),
        |abc AS ($abcSql),
        |per AS (
        |  SELECT n, a, b, c,
        |    CAST(round((CAST(y AS DOUBLE) -
        |      (CAST(sy AS DOUBLE) - CAST(b AS DOUBLE) /
        |        CAST(a AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        CAST(n AS DOUBLE) -
        |      CAST(b AS DOUBLE) / CAST(a AS DOUBLE) *
        |        CAST(x AS DOUBLE)) /
        |      (1.0 - (1.0 / CAST(n AS DOUBLE) +
        |        CAST((CAST(n AS HUGEINT) * x - sx) *
        |          (CAST(n AS HUGEINT) * x - sx) AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * CAST(a AS DOUBLE)))))
        |      AS BIGINT) AS pq
        |  FROM daily, abc)
        |SELECT n AS n_days,
        |  round(CAST(sum(CAST(pq AS HUGEINT) * pq) AS DOUBLE) /
        |    10000.0, 2) AS press_dollars2,
        |  round(CAST(b AS DOUBLE) * CAST(b AS DOUBLE) /
        |    (CAST(a AS DOUBLE) * CAST(c AS DOUBLE)), 6) AS r2,
        |  round(1.0 - CAST(n AS DOUBLE) *
        |    CAST(sum(CAST(pq AS HUGEINT) * pq) AS DOUBLE) /
        |    CAST(c AS DOUBLE), 6) AS r2_pred
        |FROM per GROUP BY n, a, b, c""".stripMargin,

    "q_jackknife_slope" ->
      s"""WITH daily AS ($dailySql),
        |mom AS ($momSql),
        |bq AS (
        |  SELECT n,
        |    CAST(round((CAST(CAST(n - 1 AS HUGEINT) *
        |        (sxy - CAST(x AS HUGEINT) * y) -
        |        CAST(sx - x AS HUGEINT) * (sy - y) AS DOUBLE) /
        |      CAST(CAST(n - 1 AS HUGEINT) *
        |        (sxx - CAST(x AS HUGEINT) * x) -
        |        CAST(sx - x AS HUGEINT) * (sx - x) AS DOUBLE)) *
        |      1000000.0) AS BIGINT) AS bq
        |  FROM daily, mom),
        |agg AS (SELECT n, CAST(sum(bq) AS BIGINT) AS s1,
        |    sum(CAST(bq AS HUGEINT) * bq) AS s2
        |  FROM bq GROUP BY n),
        |full0 AS (
        |  SELECT CAST(CAST(n AS HUGEINT) * sxy -
        |      CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * sxx -
        |      CAST(sx AS HUGEINT) * sx AS DOUBLE) AS beta
        |  FROM mom)
        |SELECT n AS n_days,
        |  round(beta / 100.0, 6) AS beta_dollars_per_click,
        |  round(sqrt((CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE) *
        |    (CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
        |      CAST(n AS DOUBLE))) / 1000000.0 / 100.0, 6)
        |    AS jack_se_dollars_per_click
        |FROM agg, full0""".stripMargin)
}
