package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Kernels.dec

/** Round-11 robust-ML / survival batch: Huber robust regression (two
  * IRLS rounds with micro-quantized weights), a lasso
  * coordinate-descent sweep on the standardized moment matrix, and the
  * Aalen–Johansen cumulative-incidence estimator for competing risks.
  *
  * House disciplines: the corpus collapses ONCE per query (per-customer
  * order moments / per-user first-event ledger); every "iteration" is
  * either another keyed aggregate with the previous fit broadcast back
  * (Huber) or pure closed-form arithmetic on a 1-row moment frame
  * (lasso — the whole sweep is an expression tree, zero extra passes);
  * IRLS weights quantize to exact micro-units so weighted moments are
  * integers and reduce-order-proof; survival log-products ride the
  * micro-nat prefix-sum trick (q_kaplan_meier's) over the
  * calendar-bounded day grid.
  */
object MlOps3 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** Per-customer (orders, spend-cents) regression frame — one scan. */
  private def custXY(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.cached(Tables.orders(s, d)
      .transform(Tables.fanoutReady)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100)
          .cast("long")).as("y")))

  val queries: Map[String, Q] = Map(
    // ---- Huber robust regression of spend on order count: OLS fit,
    // then two IRLS reweightings with w = min(1, δ/|r|), δ = 50 000
    // cents. Weights quantize to micro-units (round(w·10⁶) — exact
    // integers), so every weighted moment is an integer sum through
    // decimal/HUGEINT and the refit is reduce-order-proof; each round
    // is ONE more keyed aggregate over the cached frame with the
    // previous (a, b) broadcast back as a 1-row literal — nothing
    // collected, no driver loop.
    "q_huber_reg" -> ((s, d) => {
      val pts = custXY(s, d)
      val m0 = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"),
        sum((dec(col("x")) * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((dec(col("x")) * col("y")).cast("decimal(38,0)")).as("sxy"))
      def fit(m: DataFrame, sw: String, swx: String, swy: String,
          swxx: String, swxy: String): DataFrame = {
        val b = (col(sw).cast("double") * col(swxy).cast("double") -
          col(swx).cast("double") * col(swy).cast("double")) /
          (col(sw).cast("double") * col(swxx).cast("double") -
            col(swx).cast("double") * col(swx).cast("double"))
        m.select(b.as("b"),
          ((col(swy).cast("double") - b * col(swx).cast("double")) /
            col(sw).cast("double")).as("a"))
      }
      val fit0 = fit(m0, "n", "sx", "sy", "sxx", "sxy")
      def irls(prev: DataFrame): DataFrame = {
        val r = col("y").cast("double") -
          (col("a") + col("b") * col("x").cast("double"))
        val w = when(abs(r) <= 50000.0, lit(1.0))
          .otherwise(lit(50000.0) / abs(r))
        pts.crossJoin(broadcast(prev))
          .select(col("x"), col("y"),
            round(w * 1e6).cast("long").as("wq"))
          .agg(sum("wq").as("sw"),
            sum((dec(col("wq")) * col("x")).cast("decimal(38,0)"))
              .as("swx"),
            sum((dec(col("wq")) * col("y")).cast("decimal(38,0)"))
              .as("swy"),
            sum((dec(col("wq")) * col("x") * col("x"))
              .cast("decimal(38,0)")).as("swxx"),
            sum((dec(col("wq")) * col("x") * col("y"))
              .cast("decimal(38,0)")).as("swxy"),
            sum(when(col("wq") < 1000000L, 1L).otherwise(0L))
              .as("n_down"),
            count(lit(1)).as("n"))
      }
      val w1 = irls(fit0)
      val fit1 = fit(w1, "sw", "swx", "swy", "swxx", "swxy")
      val w2 = irls(fit1)
      val fit2 = fit(w2, "sw", "swx", "swy", "swxx", "swxy")
      w2.select(col("n"), col("n_down"))
        .crossJoin(broadcast(fit0.select(round(col("b"), 6).as("b_ols"),
          round(col("a"), 4).as("a_ols"))))
        .crossJoin(broadcast(fit2.select(round(col("b"), 6).as("b_huber"),
          round(col("a"), 4).as("a_huber"))))
        .select("n", "n_down", "b_ols", "a_ols", "b_huber", "a_huber")
    }),

    // ---- lasso coordinate-descent sweep (λ = 0.1 on the correlation
    // scale) for spend ~ (order count, max price, min price): ALL
    // cross-moments come from ONE corpus pass of exact integer sums;
    // standardization and the full three-coordinate soft-threshold
    // sweep are closed-form arithmetic on the 1-row moment frame — the
    // iteration costs zero additional corpus passes at any scale.
    "q_lasso_cd" -> ((s, d) => {
      val f = Tables.orders(s, d)
        .transform(Tables.fanoutReady)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("x1"),
          max(round(col("o_totalprice") * 100).cast("long")).as("x2"),
          min(round(col("o_totalprice") * 100).cast("long")).as("x3"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
      def cross(a: String, b: String) =
        sum((dec(col(a)) * col(b)).cast("decimal(38,0)"))
          .as(s"s_${a}_$b")
      val aggs = Seq(sum("x1").as("s_x1"), sum("x2").as("s_x2"),
        sum("x3").as("s_x3"), sum("y").as("s_y")) ++
        Seq(("x1", "x1"), ("x2", "x2"), ("x3", "x3"), ("y", "y"),
          ("x1", "x2"), ("x1", "x3"), ("x2", "x3"),
          ("x1", "y"), ("x2", "y"), ("x3", "y"))
          .map { case (a, b) => cross(a, b) }
      val m = f.agg(count(lit(1)).as("n"), aggs: _*)
      def cov(a: String, b: String): Column = {
        val nD = col("n").cast("double")
        (col(s"s_${a}_$b").cast("double") -
          col(s"s_$a").cast("double") * col(s"s_$b").cast("double") /
            nD) / nD
      }
      def corr2(a: String, b: String): Column =
        cov(a, b) / (sqrt(cov(a, a)) * sqrt(cov(b, b)))
      val lam = lit(0.1)
      def soft(rho: Column): Column =
        when(rho > 0, greatest(rho - lam, lit(0.0)))
          .otherwise(-greatest(-rho - lam, lit(0.0)))
      val b1 = soft(corr2("x1", "y"))
      val b2 = soft(corr2("x2", "y") - b1 * corr2("x1", "x2"))
      val b3 = soft(corr2("x3", "y") - b1 * corr2("x1", "x3") -
        b2 * corr2("x2", "x3"))
      m.select(col("n"),
        round(corr2("x1", "y"), 6).as("r1y"),
        round(corr2("x2", "y"), 6).as("r2y"),
        round(corr2("x3", "y"), 6).as("r3y"),
        round(b1, 6).as("beta1"), round(b2, 6).as("beta2"),
        round(b3, 6).as("beta3"))
    }),

    // ---- matching estimator of the ATT: does starting with a signup
    // (treatment = the user's FIRST event is 'signup', deterministic
    // min-key tie rule) change spend? Each treated activity level
    // matches the NEAREST control activity level (predecessor /
    // successor scan over the bounded covariate domain — ties to the
    // predecessor), controls matched with replacement and averaged
    // within a level. The corpus collapses ONCE to the per-user
    // (treated, activity, spend) ledger; matching runs on the
    // value-domain frame; per-level terms quantize to micro-cents so
    // the ATT cumulation is an exact integer sum.
    "q_psm_att" -> ((s, d) => {
      val k2 = col("ts_us") * 1000L + col("event_id") % 1000L
      val peru = Tables.events(s, d)
        .transform(Tables.fanoutReady)
        .groupBy("user_id").agg(
          min(k2).as("mk"),
          min(when(col("event_type") === "signup", k2)).as("mks"),
          sum(when(col("event_type").isin("click", "view"), 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("y"))
        .select(col("a"), col("y"),
          (col("mks").isNotNull && col("mks") === col("mk"))
            .as("treated"))
      val cached = graft.CacheScope.cached(peru)
      val tstats = cached.filter(col("treated")).groupBy("a")
        .agg(count(lit(1)).as("nt"), sum("y").as("syt"))
      val cstats = cached.filter(!col("treated")).groupBy("a")
        .agg(count(lit(1)).as("nc"), sum("y").as("syc"))
      val dom = tstats.join(cstats, Seq("a"), "full_outer")
      val wUp = Window.orderBy("a")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDn = Window.orderBy("a")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val scanned = dom
        .withColumn("pred",
          max(when(col("nc").isNotNull, col("a"))).over(wUp))
        .withColumn("succ",
          min(when(col("nc").isNotNull, col("a"))).over(wDn))
      val am = when(col("pred").isNull, col("succ"))
        .when(col("succ").isNull, col("pred"))
        .when(col("a") - col("pred") <= col("succ") - col("a"),
          col("pred"))
        .otherwise(col("succ"))
      val matched = scanned.filter(col("nt").isNotNull)
        .select(col("a"), col("nt"), col("syt"), am.as("am"))
        .join(cstats.toDF("am", "ncm", "sycm"), "am")
      val tot = matched.agg(sum("nt").as("n_t"), sum("syt").as("sy_t"),
        sum(round(col("nt").cast("double") *
          (col("sycm").cast("double") / col("ncm").cast("double")) *
          1e6).cast("long")).as("cf_micro"))
      val nCtl = cached.filter(!col("treated"))
        .agg(count(lit(1)).as("n_c"))
      tot.crossJoin(broadcast(nCtl)).select(
        col("n_t").as("n_treated"), col("n_c").as("n_control"),
        round(col("sy_t").cast("double") / col("n_t").cast("double") /
          100.0, 4).as("mean_treated_dollars"),
        round(col("cf_micro").cast("double") / 1e6 /
          col("n_t").cast("double") / 100.0, 4)
          .as("mean_matched_dollars"),
        round((col("sy_t").cast("double") / col("n_t").cast("double") -
          col("cf_micro").cast("double") / 1e6 /
            col("n_t").cast("double")) / 100.0, 4).as("att_dollars"))
    }),

    // ---- Aalen–Johansen cumulative incidence for competing risks:
    // first 'purchase' (cause 1) vs first 'error' (cause 2) per user,
    // censored at the last observed event. CIF_j(t) = Σ_{u≤t}
    // Ŝ(u−)·d_j(u)/Y(u) — the quantity naive "1 − KM per cause"
    // overestimates. The corpus collapses ONCE to the per-user
    // first-event ledger; the day grid is calendar-bounded (≤31 rows),
    // so risk suffix sums and both cumulations are single tiny
    // windows; the overall-survival log-product rides the micro-nat
    // integer prefix (q_kaplan_meier's trick) and the CIF increments
    // quantize to nano-units, so every cumulation is an exact integer
    // sum.
    "q_cum_incidence" -> ((s, d) => {
      val u = Tables.events(s, d)
        .transform(Tables.fanoutReady)
        .groupBy("user_id").agg(
          min("ts_us").as("t0"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("tp"),
          min(when(col("event_type") === "error", col("ts_us")))
            .as("te"),
          max("ts_us").as("tl"))
      val cause = when(col("tp").isNotNull &&
          (col("te").isNull || col("tp") <= col("te")), 1L)
        .when(col("te").isNotNull, 2L).otherwise(0L)
      val tev = when(cause === 1L, col("tp"))
        .when(cause === 2L, col("te")).otherwise(col("tl"))
      val rec = u.select(cause.as("cause"), tev.as("tev"), col("t0"))
        .select(col("cause"), expr(s"(tev - t0) div $DayUs")
          .as("time_d"))
      val byT = rec.groupBy("time_d").agg(count(lit(1)).as("m"),
        sum(when(col("cause") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(col("cause") === 2L, 1L).otherwise(0L)).as("d2"))
      val wDesc = Window.orderBy(col("time_d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wEx = Window.orderBy("time_d")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wIn = Window.orderBy("time_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = byT.withColumn("y", sum("m").over(wDesc))
      val dd = col("d1") + col("d2")
      val withT = risk.withColumn("t_int",
          when(dd < col("y"),
            round(log(lit(1.0) - dd.cast("double") /
              col("y").cast("double")) * 1e6).cast("long"))
            .otherwise(lit(0L)))
        .withColumn("cum_ex",
          coalesce(sum("t_int").over(wEx), lit(0L)))
        .withColumn("s_prev", exp(col("cum_ex").cast("double") / 1e6))
      val withI = withT
        .withColumn("i1", round(col("s_prev") *
          col("d1").cast("double") / col("y").cast("double") * 1e9)
          .cast("long"))
        .withColumn("i2", round(col("s_prev") *
          col("d2").cast("double") / col("y").cast("double") * 1e9)
          .cast("long"))
        .withColumn("c1", sum("i1").over(wIn))
        .withColumn("c2", sum("i2").over(wIn))
      withI.filter(dd > 0)
        .select(col("time_d"), col("y").as("n_risk"), col("d1"),
          col("d2"),
          when(dd === col("y"), lit(0.0))
            .otherwise(round(exp((col("cum_ex") + col("t_int"))
              .cast("double") / 1e6), 6)).as("surv"),
          round(col("c1").cast("double") / 1e9, 6).as("cif_purchase"),
          round(col("c2").cast("double") / 1e9, 6).as("cif_error"))
        .orderBy("time_d")
    }))

  val oracle: Map[String, String] = Map(
    "q_huber_reg" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |m0 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM pts),
        |f0 AS (
        |  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
        |    (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) *
        |        CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |        CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
        |  FROM m0),
        |w1 AS (
        |  SELECT CAST(sum(wq) AS BIGINT) AS sw,
        |    sum(CAST(wq AS HUGEINT) * x) AS swx,
        |    sum(CAST(wq AS HUGEINT) * y) AS swy,
        |    sum(CAST(wq AS HUGEINT) * x * x) AS swxx,
        |    sum(CAST(wq AS HUGEINT) * x * y) AS swxy,
        |    CAST(sum(CASE WHEN wq < 1000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_down,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT x, y, CAST(round((CASE WHEN
        |        abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
        |          <= 50000.0 THEN 1.0
        |        ELSE 50000.0 /
        |          abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
        |        END) * 1e6) AS BIGINT) AS wq
        |    FROM pts CROSS JOIN f0) t),
        |f1 AS (
        |  SELECT (CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE) -
        |      CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE)) /
        |    (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE) -
        |      CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b,
        |    (CAST(swy AS DOUBLE) - (CAST(sw AS DOUBLE) *
        |        CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE) *
        |        CAST(swy AS DOUBLE)) /
        |      (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE) -
        |        CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) *
        |      CAST(swx AS DOUBLE)) / CAST(sw AS DOUBLE) AS a
        |  FROM w1),
        |w2 AS (
        |  SELECT CAST(sum(wq) AS BIGINT) AS sw,
        |    sum(CAST(wq AS HUGEINT) * x) AS swx,
        |    sum(CAST(wq AS HUGEINT) * y) AS swy,
        |    sum(CAST(wq AS HUGEINT) * x * x) AS swxx,
        |    sum(CAST(wq AS HUGEINT) * x * y) AS swxy,
        |    CAST(sum(CASE WHEN wq < 1000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_down,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT x, y, CAST(round((CASE WHEN
        |        abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
        |          <= 50000.0 THEN 1.0
        |        ELSE 50000.0 /
        |          abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
        |        END) * 1e6) AS BIGINT) AS wq
        |    FROM pts CROSS JOIN f1) t),
        |f2 AS (
        |  SELECT (CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE) -
        |      CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE)) /
        |    (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE) -
        |      CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b,
        |    (CAST(swy AS DOUBLE) - (CAST(sw AS DOUBLE) *
        |        CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE) *
        |        CAST(swy AS DOUBLE)) /
        |      (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE) -
        |        CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) *
        |      CAST(swx AS DOUBLE)) / CAST(sw AS DOUBLE) AS a
        |  FROM w2)
        |SELECT w2.n, w2.n_down,
        |  round(f0.b, 6) AS b_ols, round(f0.a, 4) AS a_ols,
        |  round(f2.b, 6) AS b_huber, round(f2.a, 4) AS a_huber
        |FROM w2 CROSS JOIN f0 CROSS JOIN f2""".stripMargin,
    "q_lasso_cd" ->
      """WITH f AS MATERIALIZED (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS x1,
        |    CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS x2,
        |    CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS x3,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS BIGINT) AS s_x1,
        |    CAST(sum(x2) AS BIGINT) AS s_x2,
        |    CAST(sum(x3) AS BIGINT) AS s_x3,
        |    CAST(sum(y) AS BIGINT) AS s_y,
        |    sum(CAST(x1 AS HUGEINT) * x1) AS s_x1_x1,
        |    sum(CAST(x2 AS HUGEINT) * x2) AS s_x2_x2,
        |    sum(CAST(x3 AS HUGEINT) * x3) AS s_x3_x3,
        |    sum(CAST(y AS HUGEINT) * y) AS s_y_y,
        |    sum(CAST(x1 AS HUGEINT) * x2) AS s_x1_x2,
        |    sum(CAST(x1 AS HUGEINT) * x3) AS s_x1_x3,
        |    sum(CAST(x2 AS HUGEINT) * x3) AS s_x2_x3,
        |    sum(CAST(x1 AS HUGEINT) * y) AS s_x1_y,
        |    sum(CAST(x2 AS HUGEINT) * y) AS s_x2_y,
        |    sum(CAST(x3 AS HUGEINT) * y) AS s_x3_y
        |  FROM f),
        |c AS (
        |  SELECT n,
        |    ((CAST(s_x1_y AS DOUBLE) - CAST(s_x1 AS DOUBLE) *
        |      CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(s_x1_x1 AS DOUBLE) - CAST(s_x1 AS DOUBLE) *
        |      CAST(s_x1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) *
        |     sqrt((CAST(s_y_y AS DOUBLE) - CAST(s_y AS DOUBLE) *
        |      CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE))) AS r1y,
        |    ((CAST(s_x2_y AS DOUBLE) - CAST(s_x2 AS DOUBLE) *
        |      CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(s_x2_x2 AS DOUBLE) - CAST(s_x2 AS DOUBLE) *
        |      CAST(s_x2 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) *
        |     sqrt((CAST(s_y_y AS DOUBLE) - CAST(s_y AS DOUBLE) *
        |      CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE))) AS r2y,
        |    ((CAST(s_x3_y AS DOUBLE) - CAST(s_x3 AS DOUBLE) *
        |      CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(s_x3_x3 AS DOUBLE) - CAST(s_x3 AS DOUBLE) *
        |      CAST(s_x3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) *
        |     sqrt((CAST(s_y_y AS DOUBLE) - CAST(s_y AS DOUBLE) *
        |      CAST(s_y AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE))) AS r3y,
        |    ((CAST(s_x1_x2 AS DOUBLE) - CAST(s_x1 AS DOUBLE) *
        |      CAST(s_x2 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(s_x1_x1 AS DOUBLE) - CAST(s_x1 AS DOUBLE) *
        |      CAST(s_x1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) *
        |     sqrt((CAST(s_x2_x2 AS DOUBLE) - CAST(s_x2 AS DOUBLE) *
        |      CAST(s_x2 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE))) AS r12,
        |    ((CAST(s_x1_x3 AS DOUBLE) - CAST(s_x1 AS DOUBLE) *
        |      CAST(s_x3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(s_x1_x1 AS DOUBLE) - CAST(s_x1 AS DOUBLE) *
        |      CAST(s_x1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) *
        |     sqrt((CAST(s_x3_x3 AS DOUBLE) - CAST(s_x3 AS DOUBLE) *
        |      CAST(s_x3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE))) AS r13,
        |    ((CAST(s_x2_x3 AS DOUBLE) - CAST(s_x2 AS DOUBLE) *
        |      CAST(s_x3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) /
        |    (sqrt((CAST(s_x2_x2 AS DOUBLE) - CAST(s_x2 AS DOUBLE) *
        |      CAST(s_x2 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE)) *
        |     sqrt((CAST(s_x3_x3 AS DOUBLE) - CAST(s_x3 AS DOUBLE) *
        |      CAST(s_x3 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      CAST(n AS DOUBLE))) AS r23
        |  FROM m),
        |cd AS (
        |  SELECT n, r1y, r2y, r3y,
        |    CASE WHEN r1y > 0 THEN greatest(r1y - 0.1, 0.0)
        |      ELSE -greatest(-r1y - 0.1, 0.0) END AS b1
        |  FROM c),
        |cd2 AS (
        |  SELECT cd.*,
        |    CASE WHEN c.r2y - cd.b1 * c.r12 > 0
        |      THEN greatest(c.r2y - cd.b1 * c.r12 - 0.1, 0.0)
        |      ELSE -greatest(-(c.r2y - cd.b1 * c.r12) - 0.1, 0.0)
        |    END AS b2,
        |    c.r13, c.r23
        |  FROM cd CROSS JOIN c)
        |SELECT n, round(r1y, 6) AS r1y, round(r2y, 6) AS r2y,
        |  round(r3y, 6) AS r3y, round(b1, 6) AS beta1,
        |  round(b2, 6) AS beta2,
        |  round(CASE WHEN r3y - b1 * r13 - b2 * r23 > 0
        |    THEN greatest(r3y - b1 * r13 - b2 * r23 - 0.1, 0.0)
        |    ELSE -greatest(-(r3y - b1 * r13 - b2 * r23) - 0.1, 0.0)
        |  END, 6) AS beta3
        |FROM cd2""".stripMargin,
    "q_psm_att" ->
      """WITH peru AS MATERIALIZED (
        |  SELECT user_id,
        |    min(epoch_us(ts) * 1000 + event_id % 1000) AS mk,
        |    min(CASE WHEN event_type = 'signup'
        |      THEN epoch_us(ts) * 1000 + event_id % 1000 END) AS mks,
        |    CAST(sum(CASE WHEN event_type IN ('click', 'view')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |flags AS MATERIALIZED (
        |  SELECT a, y, mks IS NOT NULL AND mks = mk AS treated
        |  FROM peru),
        |tstats AS (
        |  SELECT a, CAST(count(*) AS BIGINT) AS nt,
        |    CAST(sum(y) AS BIGINT) AS syt
        |  FROM flags WHERE treated GROUP BY 1),
        |cstats AS MATERIALIZED (
        |  SELECT a, CAST(count(*) AS BIGINT) AS nc,
        |    CAST(sum(y) AS BIGINT) AS syc
        |  FROM flags WHERE NOT treated GROUP BY 1),
        |dom AS (
        |  SELECT coalesce(t.a, c.a) AS a, t.nt, t.syt, c.nc, c.syc
        |  FROM tstats t FULL OUTER JOIN cstats c ON t.a = c.a),
        |scanned AS (
        |  SELECT *,
        |    max(CASE WHEN nc IS NOT NULL THEN a END) OVER (ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS pred,
        |    min(CASE WHEN nc IS NOT NULL THEN a END) OVER (ORDER BY a
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS succ
        |  FROM dom),
        |matched AS (
        |  SELECT a, nt, syt,
        |    CASE WHEN pred IS NULL THEN succ
        |         WHEN succ IS NULL THEN pred
        |         WHEN a - pred <= succ - a THEN pred
        |         ELSE succ END AS am
        |  FROM scanned WHERE nt IS NOT NULL),
        |j AS (
        |  SELECT m.*, c.nc AS ncm, c.syc AS sycm
        |  FROM matched m JOIN cstats c ON c.a = m.am),
        |tot AS (
        |  SELECT CAST(sum(nt) AS BIGINT) AS n_t,
        |    CAST(sum(syt) AS BIGINT) AS sy_t,
        |    CAST(sum(CAST(round(CAST(nt AS DOUBLE) *
        |      (CAST(sycm AS DOUBLE) / CAST(ncm AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS cf_micro
        |  FROM j),
        |nctl AS (SELECT CAST(count(*) AS BIGINT) AS n_c
        |         FROM flags WHERE NOT treated)
        |SELECT n_t AS n_treated, n_c AS n_control,
        |  round(CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) / 100.0, 4)
        |    AS mean_treated_dollars,
        |  round(CAST(cf_micro AS DOUBLE) / 1e6 / CAST(n_t AS DOUBLE) /
        |    100.0, 4) AS mean_matched_dollars,
        |  round((CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE) -
        |    CAST(cf_micro AS DOUBLE) / 1e6 / CAST(n_t AS DOUBLE)) /
        |    100.0, 4) AS att_dollars
        |FROM tot CROSS JOIN nctl""".stripMargin,
    "q_cum_incidence" ->
      """WITH u AS MATERIALIZED (
        |  SELECT user_id, min(epoch_us(ts)) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) END) AS tp,
        |    min(CASE WHEN event_type = 'error'
        |      THEN epoch_us(ts) END) AS te,
        |    max(epoch_us(ts)) AS tl
        |  FROM events GROUP BY 1),
        |rec AS (
        |  SELECT CASE
        |      WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
        |      WHEN te IS NOT NULL THEN 2 ELSE 0 END AS cause,
        |    ((CASE
        |      WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN tp
        |      WHEN te IS NOT NULL THEN te ELSE tl END) - t0)
        |      // 86400000000 AS time_d
        |  FROM u),
        |byt AS (
        |  SELECT time_d, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d2
        |  FROM rec GROUP BY 1),
        |risk AS (
        |  SELECT *, CAST(sum(m) OVER (ORDER BY time_d DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS y
        |  FROM byt),
        |witht AS (
        |  SELECT *,
        |    CASE WHEN d1 + d2 < y THEN CAST(round(ln(1.0 -
        |      CAST(d1 + d2 AS DOUBLE) / CAST(y AS DOUBLE)) * 1e6)
        |      AS BIGINT) ELSE 0 END AS t_int
        |  FROM risk),
        |cum AS (
        |  SELECT *,
        |    CAST(coalesce(sum(t_int) OVER (ORDER BY time_d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_ex
        |  FROM witht),
        |inc AS (
        |  SELECT *, exp(CAST(cum_ex AS DOUBLE) / 1e6) AS s_prev,
        |    CAST(round(exp(CAST(cum_ex AS DOUBLE) / 1e6) *
        |      CAST(d1 AS DOUBLE) / CAST(y AS DOUBLE) * 1e9) AS BIGINT)
        |      AS i1,
        |    CAST(round(exp(CAST(cum_ex AS DOUBLE) / 1e6) *
        |      CAST(d2 AS DOUBLE) / CAST(y AS DOUBLE) * 1e9) AS BIGINT)
        |      AS i2
        |  FROM cum),
        |cif AS (
        |  SELECT *,
        |    CAST(sum(i1) OVER (ORDER BY time_d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c1,
        |    CAST(sum(i2) OVER (ORDER BY time_d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c2
        |  FROM inc)
        |SELECT time_d, y AS n_risk, d1, d2,
        |  CASE WHEN d1 + d2 = y THEN 0.0
        |    ELSE round(exp(CAST(cum_ex + t_int AS DOUBLE) / 1e6), 6)
        |  END AS surv,
        |  round(CAST(c1 AS DOUBLE) / 1e9, 6) AS cif_purchase,
        |  round(CAST(c2 AS DOUBLE) / 1e9, 6) AS cif_error
        |FROM cif WHERE d1 + d2 > 0
        |ORDER BY time_d""".stripMargin)
}
