package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.dec

/** Round-11 survival / time-series / nonparametric batch: restricted mean
  * survival time (the KM area), a one-covariate Cox proportional-hazards
  * fit (two Newton steps on the Breslow partial likelihood), Ansari–
  * Bradley and two-sample Cramér–von Mises (both on exact two-phase
  * global ranks), a Dickey–Fuller unit-root test, the Theta forecasting
  * method (M3 baseline; recursive-CTE oracle twin like q_croston), and
  * spectral entropy off the q_periodogram DFT grid.
  *
  * House disciplines: the corpus collapses ONCE per query to a per-user
  * or calendar/death-time frame; every prefix/rank over a corpus-growing
  * domain routes through GlobalRank (never a single-partition window);
  * cross-row double sums quantize per-row to micro-units first so both
  * engines reduce identical integers in any order; squared/cubic count
  * products route decimal(38,0) ↔ HUGEINT before multiplying (the
  * ADVICE r10 q_jonckheere rule).
  */
object Stats10 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** 14-day RMST horizon in seconds. */
  private val TauS = 1209600L

  /** Per-user time-to-first-high-value-purchase collapse shared by RMST
    * and Cox PH — the q_kaplan_meier convention (deaths = first ≥$99
    * purchase; users who never convert are censored at their last
    * event), plus the binary covariate z = user_id % 2 for the PH fit. */
  private def survUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy("user_id").agg(
        min("ts_us").as("t0"),
        min(when(col("event_type") === "purchase" &&
          round(col("value") * 100) >= 9900, col("ts_us"))).as("tp"),
        max("ts_us").as("tl"))
      .select(
        expr("(coalesce(tp, tl) - t0) div 1000000").as("time_s"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("obs"),
        (col("user_id") % 2).as("z"))

  /** Death-time frame with per-arm at-risk suffix counts: one keyed
    * aggregate to distinct times, then TWO GlobalRank suffix sums (total
    * and z=1 arm) under time DESC — the KM ties convention (censored at
    * t still count in n(t)). */
  private def deathFrame(s: SparkSession, d: String): DataFrame = {
    val byT = survUsers(s, d).groupBy("time_s").agg(
      count(lit(1)).as("m"), sum("obs").as("dd"),
      sum("z").as("m1"), sum(col("obs") * col("z")).as("d1"))
    GlobalRank.withPrefixAggs(byT, Seq(col("time_s").desc),
        Seq(PrefixAgg("m", "n_risk", inclusive = true),
          PrefixAgg("m1", "n1", inclusive = true)))
      .filter(col("dd") > 0)
  }

  val queries: Map[String, Q] = Map(
    // ---- Restricted mean survival time at τ = 14 days: the area under
    // the KM step curve, ∫₀^τ S dt = τ − Σ_{tᵢ<τ} (S(tᵢ⁻) − S(tᵢ))(τ−tᵢ).
    // S rides the micro-nat log-sum (q_kaplan_meier discipline), both S
    // values quantize to integer micro-survival, and each drop term is
    // then an EXACT integer product — the corpus-growing death-time frame
    // reduces with no FP-order drift. Clinically the τ-truncated mean
    // beats the median when censoring is heavy (the fixture's is).
    "q_rmst" -> ((s, d) => {
      val withT = deathFrame(s, d).withColumn("t_int",
        when(col("dd") < col("n_risk"),
          round(log(lit(1.0) - col("dd").cast("double") /
            col("n_risk").cast("double")) * 1e6).cast(LongType))
          .otherwise(lit(0L)))
      val cum = GlobalRank.withPrefixAggs(withT, Seq(col("time_s")),
        Seq(PrefixAgg("t_int", "cum", inclusive = true)))
      val s6 = when(col("dd") === col("n_risk"), lit(0L))
        .otherwise(round(exp(col("cum").cast("double") / 1e6) * 1e6)
          .cast(LongType))
      val sPrev6 = round(exp((col("cum") - col("t_int")).cast("double")
        / 1e6) * 1e6).cast(LongType)
      cum.select(col("time_s"), (sPrev6 - s6).as("drop6"))
        .agg(count(lit(1)).as("n_death_times"),
          coalesce(sum(when(col("time_s") < TauS,
            (col("drop6").cast("decimal(38,0)") * (lit(TauS) -
              col("time_s"))).cast("decimal(38,0)"))),
            lit(0).cast("decimal(38,0)")).as("lost6"))
        .select(col("n_death_times"),
          round(lit(TauS.toDouble) - col("lost6").cast("double") / 1e6, 4)
            .as("rmst_s"),
          round((lit(TauS.toDouble) - col("lost6").cast("double") / 1e6)
            / 86400.0, 6).as("rmst_days"))
    }),

    // ---- Cox proportional hazards, one binary covariate (z = user
    // parity), Breslow ties, TWO Newton steps from β=0 on the partial
    // likelihood: U(β) = Σ_t d1−d·p, I(β) = Σ_t d·p(1−p), p = n1·e^β /
    // (n1·e^β + n0). The corpus pays one collapse + two suffix prefix-
    // aggs; each Newton pass is an aggregate over the CACHED death frame
    // with micro-quantized terms (integer reduce), and β broadcasts back
    // as a 1-row frame — nothing sequential, nothing collected.
    "q_cox_ph" -> ((s, d) => {
      val df0 = graft.CacheScope.cached(deathFrame(s, d)
        .select(col("time_s"), col("dd"), col("d1"), col("n1"),
          (col("n_risk") - col("n1")).as("n0")))
      def pass(eb: Column): DataFrame = {
        val w1 = col("n1").cast("double") * eb
        val p = w1 / (w1 + col("n0").cast("double"))
        df0.agg(
          sum(round((col("d1").cast("double") - col("dd").cast("double")
            * p) * 1e6).cast(LongType)).as("u6"),
          sum(round(col("dd").cast("double") * p * (lit(1.0) - p) * 1e6)
            .cast(LongType)).as("i6"))
      }
      val b1f = pass(lit(1.0))
        .select((col("u6").cast("double") / col("i6").cast("double"))
          .as("b1"))
      val b2f = df0.crossJoin(broadcast(b1f))
        .select(col("dd"), col("d1"), col("n1"), col("n0"), col("b1"),
          (col("n1").cast("double") * exp(col("b1"))).as("w1"))
        .withColumn("p", col("w1") / (col("w1") + col("n0").cast("double")))
        .agg(max("b1").as("b1"),
          sum(round((col("d1").cast("double") - col("dd").cast("double")
            * col("p")) * 1e6).cast(LongType)).as("u6"),
          sum(round(col("dd").cast("double") * col("p") *
            (lit(1.0) - col("p")) * 1e6).cast(LongType)).as("i6"),
          count(lit(1)).as("n_death_times"))
      b2f.select(col("n_death_times"), round(col("b1"), 6).as("beta1"),
        round(col("b1") + col("u6").cast("double") /
          col("i6").cast("double"), 6).as("beta"),
        round(exp(col("b1") + col("u6").cast("double") /
          col("i6").cast("double")), 6).as("hazard_ratio"))
    }),

    // ---- Ansari–Bradley scale test: are even-id and odd-id event values
    // equally dispersed? Scores a(r) = min(r, N+1−r) over the EXACT
    // pooled rank (two-phase GlobalRank; ties broken by event_id so both
    // engines rank identically), summed over the even arm; the normal
    // approximation splits on N's parity. Rank sums route decimal(38,0)
    // — O(N²) magnitude wraps a Long past ~3e9 rows (ADVICE r10 rule).
    "q_ansari_bradley" -> ((s, d) => {
      val v = Tables.events(s, d).select(
        round(col("value") * 100).cast(LongType).as("c"),
        col("event_id"), (col("event_id") % 2).as("g"))
      val ranked = GlobalRank.withRowNumber(v, "r",
        Seq(col("c").asc, col("event_id").asc))
      val agg = ranked
        .crossJoin(broadcast(v.agg(count(lit(1)).as("nn"))))
        .select(col("g"),
          least(col("r").cast("long"), col("nn") + 1L - col("r"))
            .as("score"))
        .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("m"),
          sum(when(col("g") === 0L,
            col("score").cast("decimal(38,0)")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("ab"))
      val nD = col("n").cast("double")
      val mD = col("m").cast("double")
      val tD = nD + mD
      val even = ((col("n") + col("m")) % 2) === 0L
      val mean = when(even, nD * (tD + 2.0) / 4.0)
        .otherwise(nD * (tD + 1.0) * (tD + 1.0) / (lit(4.0) * tD))
      val varr = when(even,
        nD * mD * (tD + 2.0) * (tD - 2.0) / (lit(48.0) * (tD - 1.0)))
        .otherwise(nD * mD * (tD + 1.0) * (lit(3.0) + tD * tD) /
          (lit(48.0) * tD * tD))
      agg.select(col("n"), col("m"),
        col("ab").cast("long").as("ab_stat"),
        round((col("ab").cast("double") - mean) / sqrt(varr), 4).as("z"))
    }),

    // ---- Two-sample Cramér–von Mises via the rank formula: T =
    // U/(nm(n+m)) − (4nm−1)/(6(n+m)), U = n·Σ(rᵢ−i)² + m·Σ(sⱼ−j)² with
    // pooled ranks r,s and within-arm ranks i,j. The pooled rank is one
    // GlobalRank pass; the within-arm rank is withKeyedRowNumber in its
    // designed regime (2 keys, corpus-sized slices — a partitioned
    // window would funnel each arm through one task). Σ(r−i)² is O(N³):
    // decimal(38,0) end to end.
    "q_cvm_2sample" -> ((s, d) => {
      val v = Tables.events(s, d).select(
        round(col("value") * 100).cast(LongType).as("c"),
        col("event_id"), (col("event_id") % 2).as("g"))
      // r14: one fused range+rank pass for both the pooled and the
      // within-arm rank (was two full GlobalRank passes over the corpus)
      val both = GlobalRank.withPooledAndKeyedRowNumber(v, "r", "i",
        Seq("g"), Seq(col("c").asc, col("event_id").asc))
      val agg = both.select(col("g"),
          ((col("r").cast("long") - col("i")).cast("decimal(38,0)") *
            (col("r").cast("long") - col("i"))).cast("decimal(38,0)")
            .as("sq"))
        .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("m"),
          sum(when(col("g") === 0L, col("sq")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("sa"),
          sum(when(col("g") === 1L, col("sq")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("sb"))
      val u = (col("n").cast("decimal(38,0)") * col("sa") +
        col("m").cast("decimal(38,0)") * col("sb")).cast("decimal(38,0)")
      val nD = col("n").cast("double")
      val mD = col("m").cast("double")
      val t = u.cast("double") / (nD * mD * (nD + mD)) -
        (lit(4.0) * nD * mD - 1.0) / (lit(6.0) * (nD + mD))
      agg.select(col("n"), col("m"), round(t, 6).as("t_stat"),
        (t > 0.461).as("differs"))
    }),

    // ---- Dickey–Fuller unit-root test (with constant) on the daily
    // revenue series: Δy_t = α + ρ·y_{t−1}; DF = ρ̂/se(ρ̂), reject unit
    // root below the 5% asymptotic cut −2.86. The corpus collapses to
    // the CALENDAR-bounded daily frame (≈30 rows at every sweep point —
    // ScaleGen densifies days, never widens the range), so the lag
    // window and the closed-form OLS run on a constant-size frame; all
    // cross products of daily cents route decimal(38,0) (~1.5e10 cents/
    // day at 30× squares past a Long).
    "q_adf" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("y"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      val lagged = daily.withColumn("x", lag("y", 1).over(w))
        .filter(col("x").isNotNull)
        .select(col("x"), (col("y") - col("x")).as("dy"))
      val mo = lagged.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("dy"))).as("sy"),
        sum((dec(col("x")) * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((dec(col("x")) * col("dy")).cast("decimal(38,0)")).as("sxy"),
        sum((dec(col("dy")) * col("dy")).cast("decimal(38,0)")).as("syy"))
      val nD = col("n").cast("double")
      val sxxC = nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val sxyC = nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val syyC = nD * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      val rho = sxyC / sxxC
      // RSS·n² = syyC − ρ·sxyC (centered identities on the n-scaled sums)
      val s2 = (syyC - rho * sxyC) / (nD * (nD - 2.0))
      val dfStat = rho / sqrt(s2 * nD / sxxC)
      mo.select(col("n").as("n_obs"), round(rho, 6).as("rho"),
        round(dfStat, 4).as("df_stat"), (dfStat < -2.86).as("stationary"))
    }),

    // ---- Theta-method forecast (M3 baseline) of daily signups, h = 7:
    // the average of (a) the linear trend extrapolated to n+7 and (b)
    // SES (α = 0.3) on the θ=2 line Qᵢ = 2xᵢ − (a + b·i). The dense
    // daily series builds exactly like q_croston (calendar array, gaps
    // = 0); the trend fits in closed form from exact integer moments;
    // the SES recursion is ONE bounded array fold whose oracle twin is
    // a recursive CTE with textually matching IEEE op order.
    "q_theta_forecast" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(count(lit(1)).as("x"))
      val series = daily
        .agg(min("day").as("mn"), max("day").as("mx"),
          collect_list(struct(col("day"), col("x"))).as("raw"))
        .select(transform(sequence(col("mn"), col("mx")), dd =>
          coalesce(element_at(map_from_entries(col("raw")), dd)
            .cast("double"), lit(0.0))).as("a"))
        .select(col("a"), size(col("a")).cast("long").as("nd"))
      // exact integer trend moments over i = 1..n: Σi, Σi², Σi·xᵢ
      val mom = series.select(col("a"), col("nd"),
        aggregate(sequence(lit(1), col("nd").cast("int")),
          struct(lit(0.0).as("sx"), lit(0.0).as("six")),
          (acc, i) => struct(
            (acc.getField("sx") + element_at(col("a"), i)).as("sx"),
            (acc.getField("six") + i.cast("double") *
              element_at(col("a"), i)).as("six"))).as("m"))
        .select(col("a"), col("nd"),
          col("m").getField("sx").as("sx"),
          col("m").getField("six").as("six"))
      val nD = col("nd").cast("double")
      val si = nD * (nD + 1.0) / 2.0
      val sii = nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 6.0
      val b = (nD * col("six") - si * col("sx")) /
        (nD * sii - si * si)
      val a0 = (col("sx") - b * si) / nD
      val fit = mom.select(col("a"), col("nd"), b.as("b"), a0.as("a0"))
      // SES(0.3) fold over the θ=2 line, left-associated like q_croston
      val ses = aggregate(sequence(lit(1), col("nd").cast("int")),
        struct(lit(0.0).as("l"), lit(0L).as("seen")),
        (acc, i) => {
          val q = lit(2.0) * element_at(col("a"), i) -
            (col("a0") + col("b") * i.cast("double"))
          when(acc.getField("seen") === 0L,
            struct(q.as("l"), lit(1L).as("seen")))
            .otherwise(struct(
              (lit(0.3) * q + lit(0.7) * acc.getField("l")).as("l"),
              (acc.getField("seen") + 1L).as("seen")))
        })
      fit.select(col("nd").as("n_days"), round(col("b"), 6).as("slope"),
        round(ses.getField("l"), 6).as("ses_level"),
        round(lit(0.5) * (col("a0") + col("b") * (nD + 7.0)) +
          lit(0.5) * ses.getField("l"), 4).as("forecast_h7"))
    }),

    // ---- Spectral entropy of the daily arrival series over the
    // q_periodogram frequency grid (periods 2..14): H = −Σ pₖ ln pₖ /
    // ln K, pₖ = Pₖ/ΣP. The DFT sums micro-quantize per (day, period)
    // cell exactly like q_periodogram; the 13-row power frame then
    // normalizes and quantizes each entropy term to nano-units so the
    // final reduce is an exact integer sum. Low H = one dominant cycle;
    // H near 1 = white arrivals.
    "q_spectral_entropy" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(count(lit(1)).as("c")))
      val mn = daily.agg(min("day").as("mn"), sum("c").as("n"))
      val periods = s.range(2, 15).toDF("p")
      val ang = lit(6.283185307179586) *
        (col("day") - col("mn")).cast("double") / col("p")
      val pw = daily.crossJoin(broadcast(mn))
        .crossJoin(broadcast(periods))
        .select(col("p"), col("n"),
          round(col("c") * cos(ang) * 1e6).cast(LongType).as("ca6"),
          round(col("c") * sin(ang) * 1e6).cast(LongType).as("sb6"))
        .groupBy("p", "n")
        .agg(sum("ca6").as("a6"), sum("sb6").as("b6"))
        .select(col("p"),
          ((col("a6") / 1e6 * (col("a6") / 1e6)) +
            (col("b6") / 1e6 * (col("b6") / 1e6))).as("pw"))
      val tot = pw.agg(sum(round(col("pw") * 1e6)).as("tot6"))
      pw.crossJoin(broadcast(tot))
        .select((round(col("pw") * 1e6) / col("tot6")).as("pk"))
        .agg(count(lit(1)).as("n_freqs"),
          sum(when(col("pk") > 0.0,
            round(-col("pk") * log(col("pk")) * 1e9).cast(LongType))
            .otherwise(0L)).as("h9"))
        .select(col("n_freqs"),
          round(col("h9").cast("double") / 1e9 /
            log(lit(13.0)), 6).as("spec_entropy"))
    }))

  /** Shared survival CTE prefix (per-user collapse + death frame with
    * per-arm suffix risk counts) — the DuckDB twin of [[deathFrame]]. */
  private val survSql =
    """su AS (
      |  SELECT user_id, min(epoch_us(ts)) AS t0,
      |    min(CASE WHEN event_type = 'purchase'
      |          AND round(value * 100) >= 9900
      |        THEN epoch_us(ts) END) AS tp,
      |    max(epoch_us(ts)) AS tl
      |  FROM events GROUP BY 1),
      |u AS (SELECT (coalesce(tp, tl) - t0) // 1000000 AS time_s,
      |        CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS obs,
      |        user_id % 2 AS z
      |      FROM su),
      |byt AS (SELECT time_s, CAST(count(*) AS BIGINT) AS m,
      |          CAST(sum(obs) AS BIGINT) AS dd,
      |          CAST(sum(z) AS BIGINT) AS m1,
      |          CAST(sum(obs * z) AS BIGINT) AS d1
      |        FROM u GROUP BY 1),
      |risk AS (
      |  SELECT time_s, dd, d1,
      |    CAST(sum(m) OVER (ORDER BY time_s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_risk,
      |    CAST(sum(m1) OVER (ORDER BY time_s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n1
      |  FROM byt),
      |deaths AS (SELECT time_s, dd, d1, n_risk, n1, n_risk - n1 AS n0
      |           FROM risk WHERE dd > 0)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_rmst" ->
      s"""WITH $survSql,
         |dd2 AS (
         |  SELECT time_s, n_risk, dd,
         |    CASE WHEN dd < n_risk THEN
         |      CAST(round(ln(1 - CAST(dd AS DOUBLE) /
         |        CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
         |    ELSE 0 END AS t_int
         |  FROM deaths),
         |cm AS (SELECT time_s, n_risk, dd, t_int,
         |         sum(t_int) OVER (ORDER BY time_s
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum
         |       FROM dd2),
         |sv AS (
         |  SELECT time_s,
         |    CAST(round(exp(CAST(cum - t_int AS DOUBLE) / 1e6) * 1e6)
         |      AS BIGINT) -
         |    CASE WHEN dd = n_risk THEN 0
         |    ELSE CAST(round(exp(CAST(cum AS DOUBLE) / 1e6) * 1e6)
         |      AS BIGINT) END AS drop6
         |  FROM cm)
         |SELECT CAST(count(*) AS BIGINT) AS n_death_times,
         |  round(1209600.0 - CAST(coalesce(sum(CASE WHEN time_s < 1209600
         |    THEN CAST(drop6 AS HUGEINT) * (1209600 - time_s) END), 0)
         |    AS DOUBLE) / 1e6, 4) AS rmst_s,
         |  round((1209600.0 - CAST(coalesce(sum(CASE WHEN time_s < 1209600
         |    THEN CAST(drop6 AS HUGEINT) * (1209600 - time_s) END), 0)
         |    AS DOUBLE) / 1e6) / 86400.0, 6) AS rmst_days
         |FROM sv""".stripMargin,
    "q_cox_ph" ->
      s"""WITH $survSql,
         |p1 AS (
         |  SELECT CAST(sum(CAST(round((CAST(d1 AS DOUBLE) -
         |      CAST(dd AS DOUBLE) * (CAST(n1 AS DOUBLE) /
         |        (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))) * 1e6)
         |      AS BIGINT)) AS BIGINT) AS u6,
         |    CAST(sum(CAST(round(CAST(dd AS DOUBLE) *
         |      (CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) +
         |        CAST(n0 AS DOUBLE))) *
         |      (1.0 - CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) +
         |        CAST(n0 AS DOUBLE))) * 1e6) AS BIGINT)) AS BIGINT) AS i6
         |  FROM deaths),
         |b1 AS (SELECT CAST(u6 AS DOUBLE) / CAST(i6 AS DOUBLE) AS b1
         |       FROM p1),
         |p2 AS (
         |  SELECT max(b1) AS b1,
         |    CAST(sum(CAST(round((CAST(d1 AS DOUBLE) -
         |      CAST(dd AS DOUBLE) * (CAST(n1 AS DOUBLE) * exp(b1) /
         |        (CAST(n1 AS DOUBLE) * exp(b1) + CAST(n0 AS DOUBLE))))
         |      * 1e6) AS BIGINT)) AS BIGINT) AS u6,
         |    CAST(sum(CAST(round(CAST(dd AS DOUBLE) *
         |      (CAST(n1 AS DOUBLE) * exp(b1) /
         |        (CAST(n1 AS DOUBLE) * exp(b1) + CAST(n0 AS DOUBLE))) *
         |      (1.0 - CAST(n1 AS DOUBLE) * exp(b1) /
         |        (CAST(n1 AS DOUBLE) * exp(b1) + CAST(n0 AS DOUBLE)))
         |      * 1e6) AS BIGINT)) AS BIGINT) AS i6,
         |    CAST(count(*) AS BIGINT) AS n_death_times
         |  FROM deaths CROSS JOIN b1)
         |SELECT n_death_times, round(b1, 6) AS beta1,
         |  round(b1 + CAST(u6 AS DOUBLE) / CAST(i6 AS DOUBLE), 6) AS beta,
         |  round(exp(b1 + CAST(u6 AS DOUBLE) / CAST(i6 AS DOUBLE)), 6)
         |    AS hazard_ratio
         |FROM p2""".stripMargin,
    "q_ansari_bradley" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c, event_id,
        |    event_id % 2 AS g
        |  FROM events),
        |rk AS (
        |  SELECT g,
        |    row_number() OVER (ORDER BY c, event_id) AS r,
        |    CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM v),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m,
        |    sum(CASE WHEN g = 0
        |      THEN CAST(least(r, nn + 1 - r) AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS ab
        |  FROM rk)
        |SELECT n, m, CAST(ab AS BIGINT) AS ab_stat,
        |  round((CAST(ab AS DOUBLE) -
        |    CASE WHEN (n + m) % 2 = 0
        |    THEN CAST(n AS DOUBLE) * (CAST(n + m AS DOUBLE) + 2.0) / 4.0
        |    ELSE CAST(n AS DOUBLE) * (CAST(n + m AS DOUBLE) + 1.0) *
        |      (CAST(n + m AS DOUBLE) + 1.0) /
        |      (4.0 * CAST(n + m AS DOUBLE)) END) /
        |  sqrt(CASE WHEN (n + m) % 2 = 0
        |    THEN CAST(n AS DOUBLE) * CAST(m AS DOUBLE) *
        |      (CAST(n + m AS DOUBLE) + 2.0) *
        |      (CAST(n + m AS DOUBLE) - 2.0) /
        |      (48.0 * (CAST(n + m AS DOUBLE) - 1.0))
        |    ELSE CAST(n AS DOUBLE) * CAST(m AS DOUBLE) *
        |      (CAST(n + m AS DOUBLE) + 1.0) *
        |      (3.0 + CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE)) /
        |      (48.0 * CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE))
        |    END), 4) AS z
        |FROM agg""".stripMargin,
    "q_cvm_2sample" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c, event_id,
        |    event_id % 2 AS g
        |  FROM events),
        |rk AS (
        |  SELECT g,
        |    row_number() OVER (ORDER BY c, event_id) AS r,
        |    row_number() OVER (PARTITION BY g ORDER BY c, event_id) AS i
        |  FROM v),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m,
        |    sum(CASE WHEN g = 0
        |      THEN CAST(r - i AS HUGEINT) * (r - i)
        |      ELSE CAST(0 AS HUGEINT) END) AS sa,
        |    sum(CASE WHEN g = 1
        |      THEN CAST(r - i AS HUGEINT) * (r - i)
        |      ELSE CAST(0 AS HUGEINT) END) AS sb
        |  FROM rk)
        |SELECT n, m,
        |  round(CAST(CAST(n AS HUGEINT) * sa + CAST(m AS HUGEINT) * sb
        |      AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(m AS DOUBLE) *
        |      (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))) -
        |    (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0) /
        |    (6.0 * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))), 6) AS t_stat,
        |  CAST(CAST(n AS HUGEINT) * sa + CAST(m AS HUGEINT) * sb
        |      AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(m AS DOUBLE) *
        |      (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))) -
        |    (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0) /
        |    (6.0 * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))) > 0.461
        |    AS differs
        |FROM agg""".stripMargin,
    "q_adf" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |lagged AS (
        |  SELECT lag(y) OVER (ORDER BY day) AS x,
        |    y - lag(y) OVER (ORDER BY day) AS dy
        |  FROM daily
        |  QUALIFY lag(y) OVER (ORDER BY day) IS NOT NULL),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * dy) AS sxy,
        |    sum(CAST(dy AS HUGEINT) * dy) AS syy
        |  FROM lagged)
        |SELECT n AS n_obs,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS rho,
        |  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) /
        |    sqrt((((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) -
        |      ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
        |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
        |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 2.0))) *
        |      CAST(n AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 4) AS df_stat,
        |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) /
        |    sqrt((((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) -
        |      ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
        |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
        |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 2.0))) *
        |      CAST(n AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) < -2.86
        |    AS stationary
        |FROM mo""".stripMargin,
    "q_theta_forecast" ->
      """WITH RECURSIVE dly AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM dly),
        |cal AS (
        |  SELECT row_number() OVER (ORDER BY d.day) AS i,
        |    CAST(coalesce(dly.x, 0) AS DOUBLE) AS x
        |  FROM (SELECT unnest(generate_series(mn, mx)) AS day
        |        FROM bounds) d
        |  LEFT JOIN dly ON dly.day = d.day),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM cal),
        |mo AS (SELECT sum(x) AS sx, sum(CAST(i AS DOUBLE) * x) AS six
        |       FROM cal),
        |fit AS (
        |  SELECT nd,
        |    (CAST(nd AS DOUBLE) * six -
        |      (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 1.0) / 2.0)
        |        * sx) /
        |    (CAST(nd AS DOUBLE) *
        |      (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 1.0) *
        |        (2.0 * CAST(nd AS DOUBLE) + 1.0) / 6.0) -
        |      (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 1.0) / 2.0) *
        |      (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 1.0) / 2.0))
        |      AS b,
        |    0.0 AS a0_pre, sx
        |  FROM n CROSS JOIN mo),
        |fit2 AS (
        |  SELECT nd, b,
        |    (sx - b * (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 1.0)
        |      / 2.0)) / CAST(nd AS DOUBLE) AS a0
        |  FROM fit),
        |rec AS (
        |  SELECT CAST(1 AS BIGINT) AS i,
        |    2.0 * (SELECT x FROM cal WHERE i = 1) -
        |      (f.a0 + f.b * 1.0) AS l,
        |    f.nd, f.b, f.a0
        |  FROM fit2 f
        |  UNION ALL
        |  SELECT r.i + 1,
        |    0.3 * (2.0 * (SELECT x FROM cal WHERE cal.i = r.i + 1) -
        |      (r.a0 + r.b * CAST(r.i + 1 AS DOUBLE))) + 0.7 * r.l,
        |    r.nd, r.b, r.a0
        |  FROM rec r WHERE r.i < r.nd)
        |SELECT nd AS n_days, round(b, 6) AS slope,
        |  round(l, 6) AS ses_level,
        |  round(0.5 * (a0 + b * (CAST(nd AS DOUBLE) + 7.0)) + 0.5 * l, 4)
        |    AS forecast_h7
        |FROM rec WHERE i = nd""".stripMargin,
    "q_spectral_entropy" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |mnn AS (SELECT min(day) AS mn, CAST(sum(c) AS BIGINT) AS n
        |        FROM daily),
        |grid AS (SELECT unnest(generate_series(2, 14)) AS p),
        |cells AS (
        |  SELECT p,
        |    CAST(round(c * cos(6.283185307179586 *
        |      CAST(day - mn AS DOUBLE) / p) * 1e6) AS BIGINT) AS ca6,
        |    CAST(round(c * sin(6.283185307179586 *
        |      CAST(day - mn AS DOUBLE) / p) * 1e6) AS BIGINT) AS sb6
        |  FROM daily CROSS JOIN mnn CROSS JOIN grid),
        |pw AS (
        |  SELECT p,
        |    (CAST(sum(ca6) AS DOUBLE) / 1e6) *
        |      (CAST(sum(ca6) AS DOUBLE) / 1e6) +
        |    (CAST(sum(sb6) AS DOUBLE) / 1e6) *
        |      (CAST(sum(sb6) AS DOUBLE) / 1e6) AS pw
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT sum(round(pw * 1e6)) AS tot6 FROM pw),
        |pk AS (SELECT round(pw * 1e6) / tot6 AS pk
        |       FROM pw CROSS JOIN tot)
        |SELECT CAST(count(*) AS BIGINT) AS n_freqs,
        |  round(CAST(sum(CASE WHEN pk > 0.0
        |      THEN CAST(round(-pk * ln(pk) * 1e9) AS BIGINT)
        |      ELSE 0 END) AS DOUBLE) / 1e9 / ln(13.0), 6)
        |    AS spec_entropy
        |FROM pk""".stripMargin)
}
