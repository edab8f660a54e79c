package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.twoSidedP

/** Round-10 seventh batch: time-series *diagnostics over forecasts and
  * trends* — KPSS stationarity, Newey–West HAC standard errors,
  * Breusch–Pagan heteroskedasticity, Diebold–Mariano forecast
  * comparison, the Hampel robust outlier filter, and the matrix profile
  * (all-subsequence nearest neighbors / motif discovery). These are the
  * "should I trust the trend model" companions to Stats2/6's estimators
  * (reference analog: the reference's roadmap dashboards track per-class
  * throughput series, ROADMAP.md:11-14; the engine here diagnoses them).
  *
  * House disciplines (same as Stats2–7):
  *  - ONE map-side-combined corpus aggregate to the ≤ ~40-row daily
  *    frame; everything after is band/lag self-joins and broadcast
  *    scalar fan-ins on that bounded frame;
  *  - cross-engine float-sum determinism: any sum whose ADDEND order an
  *    engine could permute is computed over EXACT integers — residuals
  *    scale by n (e = n·y − Σy) or quantize to whole dollars BEFORE the
  *    products; partial-sum squares and autocovariance products route
  *    decimal(38,0) ↔ HUGEINT;
  *  - Bartlett kernel weights enter as ×4-scaled integer literals so
  *    the HAC combination stays exact;
  *  - ties break on explicit keys (day, subsequence index).
  */
object Stats8 {

  private type Q = (SparkSession, String) => DataFrame
  private val DayUs = 86400000000L

  /** Daily revenue frame: (day, y cents) — the one corpus collapse every
    * query in this batch starts from. */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr(s"ts_us div $DayUs").as("day"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy("day").agg(sum("cents").as("y"))

  val queries: Map[String, Q] = Map(
    // ---- KPSS level-stationarity test on daily revenue: partial sums
    // of the n-SCALED residuals (e = n·y − Σy, exact integers — no
    // order-sensitive float accumulation) via a bounded band self-join;
    // long-run variance with Bartlett weights at lag 3 (×4-scaled
    // integer combination); η compares against the 5% level critical
    // 0.463. S² and autocovariance products route decimal ↔ HUGEINT
    // (n·y reaches ~4.5e11 cents at the 30× sweep; squares pass 2⁶³).
    "q_kpss" -> ((s, d) => {
      val daily = graft.CacheScope.cached(dailyCents(s, d))
      val mo = daily.agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val e = graft.CacheScope.cached(daily.crossJoin(broadcast(mo))
        .select(col("day"), col("n"),
          (col("n") * col("y") - col("sy")).as("e")))
      val ps = e.as("a").join(e.as("b"), col("b.day") <= col("a.day"))
        .groupBy(col("a.day").as("day"), col("a.n").as("n"))
        .agg(sum(col("b.e")).as("st"))
        .agg(max("n").as("n"),
          sum((col("st").cast("decimal(38,0)") * col("st"))
            .cast("decimal(38,0)")).as("ss2"))
      val g0 = e.agg(sum((col("e").cast("decimal(38,0)") * col("e"))
        .cast("decimal(38,0)")).as("g0"))
      // the three Bartlett lags assemble as broadcast 1-row fan-ins
      def gammaDf(l: Int): DataFrame = {
        val lagged = e.select((col("day") + l).as("day"),
          col("e").as("el"))
        e.join(broadcast(lagged), Seq("day"))
          .agg(coalesce(sum((col("e").cast("decimal(38,0)") * col("el"))
            .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
            .as(s"g$l"))
      }
      val nD = col("n").cast("double")
      // true units: S_t = S_scaled/n; γ_l = Σe·e'/(n·n²);
      // η = ΣS_t²/(n²·s²_lr), s²_lr = γ0 + 2(¾γ1 + ½γ2 + ¼γ3)
      val slr = (col("g0").cast("double") +
        (lit(3.0) * col("g1").cast("double") +
          lit(2.0) * col("g2").cast("double") +
          col("g3").cast("double")) / 2.0) / (nD * nD * nD)
      val eta = col("ss2").cast("double") / (nD * nD) / (nD * nD) / slr
      ps.crossJoin(broadcast(g0))
        .crossJoin(broadcast(gammaDf(1)))
        .crossJoin(broadcast(gammaDf(2)))
        .crossJoin(broadcast(gammaDf(3)))
        .select(col("n").as("n_days"), round(eta, 6).as("eta"),
          (eta < 0.463).as("level_stationary"))
    }),

    // ---- Newey–West HAC standard error for the daily-revenue trend
    // slope: residuals quantize to WHOLE DOLLARS before the score
    // products (v = x̃·u stays exact long at every sweep scale), the
    // Bartlett combination at lag 3 runs ×4-scaled integers, and the
    // classic OLS se ships beside the HAC se so the output SHOWS the
    // autocorrelation correction factor.
    "q_newey_west" -> ((s, d) => {
      val daily = graft.CacheScope.cached(dailyCents(s, d))
      val mo = daily.agg(count(lit(1)).as("n"), sum("day").as("sd"),
        sum("y").as("sy"),
        sum(col("day") * col("day")).as("sdd"),
        sum((col("day").cast("decimal(38,0)") * col("y"))
          .cast("decimal(38,0)")).as("sdy"))
      // n-scaled centered terms: X = n·t − Σt, E = n·y − Σy (exact);
      // b = ΣXE/ΣX² in true units too (scale cancels)
      val sc = graft.CacheScope.cached(daily.crossJoin(broadcast(mo))
        .select(col("day"), col("n"),
          (col("n") * col("day") - col("sd")).as("xs"),
          ((col("n").cast("decimal(38,0)") * col("y"))
            .cast("decimal(38,0)") - col("sy")).as("es")))
      val bm = sc.agg(
        sum((col("xs").cast("decimal(38,0)") * col("es"))
          .cast("decimal(38,0)")).as("sxe"),
        sum((col("xs") * col("xs")).cast("decimal(38,0)")).as("sxx2"))
      // residual u_t (cents, true units) = (E − b·X)/n, quantized to
      // whole dollars; v_t = x̃·u_q with x̃ = X/n kept n-scaled → v
      // carries one n factor that cancels in the t-ratio
      val v = graft.CacheScope.cached(sc.crossJoin(broadcast(bm))
        .select(col("day"), col("n"), col("sxx2"),
          (col("xs") *
            round((col("es").cast("double") -
              col("sxe").cast("double") / col("sxx2").cast("double") *
                col("xs").cast("double")) /
              col("n").cast("double") / 100.0).cast(LongType))
            .as("v")))
      val o0 = v.agg(sum((col("v").cast("decimal(38,0)") * col("v"))
        .cast("decimal(38,0)")).as("o0"), max("n").as("n"),
        max("sxx2").as("sxx2"),
        count(lit(1)).as("nv"))
      def omegaDf(l: Int): DataFrame = {
        val lagged = v.select((col("day") + l).as("day"),
          col("v").as("vl"))
        v.join(broadcast(lagged), Seq("day"))
          .agg(coalesce(sum((col("v").cast("decimal(38,0)") * col("vl"))
            .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
            .as(s"o$l"))
      }
      val nD = col("n").cast("double")
      val sxxT = col("sxx2").cast("double") / (nD * nD)
      // Ω in (n·dollar)² score units → se_b = sqrt(Ω4/4)/ (n·Sxx_true)
      // (the n from v and the n² in sxx2 cancel to one /n here)
      val om4 = lit(4.0) * col("o0").cast("double") +
        lit(2.0) * (lit(3.0) * col("o1").cast("double") +
          lit(2.0) * col("o2").cast("double") +
          col("o3").cast("double"))
      val b = col("sxe").cast("double") / col("sxx2").cast("double")
      val seHac = sqrt(om4 / 4.0) / (nD * sxxT) * 100.0
      o0.crossJoin(broadcast(omegaDf(1)))
        .crossJoin(broadcast(omegaDf(2)))
        .crossJoin(broadcast(omegaDf(3)))
        .crossJoin(broadcast(bm.select(col("sxe"))))
        .select(col("nv").as("n_days"),
          round(b / 100.0, 4).as("slope_dollars_per_day"),
          round(seHac / 100.0, 4).as("se_hac_dollars"),
          round(b / 100.0 / (seHac / 100.0), 4).as("t_hac"),
          (abs(b / seHac) > 1.96).as("trend_robust"))
    }),

    // ---- Breusch–Pagan heteroskedasticity test: do the trend model's
    // squared residuals themselves trend? Residuals quantize to whole
    // dollars; the auxiliary regression of u² on the day index runs on
    // exact integer moments (u² reaches ~1e14 dollar² at the 30× sweep —
    // u⁴ routes decimal ↔ HUGEINT); LM = n·R² is χ²(1), p = 2(1−Φ(√LM)).
    "q_breusch_pagan" -> ((s, d) => {
      val daily = graft.CacheScope.cached(dailyCents(s, d))
      val mo = daily.agg(count(lit(1)).as("n"), sum("day").as("sd"),
        sum("y").as("sy"),
        sum(col("day") * col("day")).as("sdd"),
        sum((col("day").cast("decimal(38,0)") * col("y"))
          .cast("decimal(38,0)")).as("sdy"))
      val sc = daily.crossJoin(broadcast(mo))
        .select(col("day"), col("n"),
          (col("n") * col("day") - col("sd")).as("xs"),
          ((col("n").cast("decimal(38,0)") * col("y"))
            .cast("decimal(38,0)") - col("sy")).as("es"))
      val bm = sc.agg(
        sum((col("xs").cast("decimal(38,0)") * col("es"))
          .cast("decimal(38,0)")).as("sxe"),
        sum((col("xs") * col("xs")).cast("decimal(38,0)")).as("sxx2"))
      val uq = graft.CacheScope.cached(sc.crossJoin(broadcast(bm))
        .select(col("day"), col("n"),
          round((col("es").cast("double") -
            col("sxe").cast("double") / col("sxx2").cast("double") *
              col("xs").cast("double")) /
            col("n").cast("double") / 100.0).cast(LongType).as("u")))
      val aux = uq.select(col("day"), col("n"),
        (col("u") * col("u")).as("s"))
        .agg(max("n").as("n"), count(lit(1)).as("m"),
          sum("day").as("sx"), sum("s").as("ssum"),
          sum(col("day") * col("day")).as("sxx"),
          sum((col("day").cast("decimal(38,0)") * col("s"))
            .cast("decimal(38,0)")).as("sxs"),
          sum((col("s").cast("decimal(38,0)") * col("s"))
            .cast("decimal(38,0)")).as("sss"))
      val mD = col("m").cast("double")
      val num = mD * col("sxs").cast("double") -
        col("sx").cast("double") * col("ssum").cast("double")
      val den1 = mD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val den2 = mD * col("sss").cast("double") -
        col("ssum").cast("double") * col("ssum").cast("double")
      val r2 = num * num / (den1 * den2)
      val lm = mD * r2
      val p = twoSidedP(sqrt(lm))
      aux.select(col("m").as("n_days"), round(r2, 6).as("r2_aux"),
        round(lm, 4).as("lm_stat"), round(p, 6).as("p"),
        (p < 0.05).as("heteroskedastic"))
    }),

    // ---- Diebold–Mariano forecast comparison: naive (lag-1) vs
    // seasonal-naive (lag-7) one-day-ahead forecasts of daily revenue,
    // squared-dollar loss. The loss differential centers by m-scaling
    // (D = m·d − Σd, exact), its lag-0/1/2 autocovariances route
    // decimal ↔ HUGEINT, and DM = d̄/√(γ̂/m) with the HAC kernel at
    // lag 2 (one-step forecasts need only a short kernel). |DM| > 1.96
    // picks a winner.
    "q_diebold_mariano" -> ((s, d) => {
      val daily = graft.CacheScope.cached(dailyCents(s, d))
      val l1 = daily.select((col("day") + 1L).as("day"),
        col("y").as("y1"))
      val l7 = daily.select((col("day") + 7L).as("day"),
        col("y").as("y7"))
      val dl = graft.CacheScope.cached(daily
        .join(broadcast(l1), Seq("day"))
        .join(broadcast(l7), Seq("day"))
        .select(col("day"),
          (round((col("y") - col("y1")).cast("double") / 100.0)
            .cast(LongType) *
            round((col("y") - col("y1")).cast("double") / 100.0)
              .cast(LongType) -
            round((col("y") - col("y7")).cast("double") / 100.0)
              .cast(LongType) *
            round((col("y") - col("y7")).cast("double") / 100.0)
              .cast(LongType)).as("dd"),
          (round((col("y") - col("y1")).cast("double") / 100.0)
            .cast(LongType) *
            round((col("y") - col("y1")).cast("double") / 100.0)
              .cast(LongType)).as("l1"),
          (round((col("y") - col("y7")).cast("double") / 100.0)
            .cast(LongType) *
            round((col("y") - col("y7")).cast("double") / 100.0)
              .cast(LongType)).as("l7")))
      val mo = dl.agg(count(lit(1)).as("m"), sum("dd").as("sdm"),
        sum("l1").as("sl1"), sum("l7").as("sl7"))
      val cd = graft.CacheScope.cached(dl.crossJoin(broadcast(mo))
        .select(col("day"), col("m"), col("sdm"), col("sl1"),
          col("sl7"),
          ((col("m").cast("decimal(38,0)") * col("dd"))
            .cast("decimal(38,0)") - col("sdm")).as("dc")))
      val g0 = cd.agg(max("m").as("m"), max("sdm").as("sdm"),
        max("sl1").as("sl1"), max("sl7").as("sl7"),
        sum((col("dc").cast("decimal(38,0)") * col("dc"))
          .cast("decimal(38,0)")).as("g0"))
      def gammaDf(l: Int): DataFrame = {
        val lagged = cd.select((col("day") + l).as("day"),
          col("dc").as("dl"))
        cd.join(broadcast(lagged), Seq("day"))
          .agg(coalesce(sum((col("dc").cast("decimal(38,0)") *
            col("dl")).cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as(s"g$l"))
      }
      val mD = col("m").cast("double")
      // true units: d̄ = Σd/m; γ_l = ΣDc·Dc'/(m·m²);
      // var(d̄) = (γ0 + 2γ1 + 2γ2)/m
      val dbar = col("sdm").cast("double") / mD
      // Truncated flat-weight HAC sums are not guaranteed positive; when
      // the lag terms drive it ≤ 0 fall back to the always-nonnegative
      // γ₀-only variance so dm_stat never silently NaNs into 'tie'
      // (mirrored in the oracle CASE).
      val vard0 = (col("g0").cast("double") +
        lit(2.0) * col("g1").cast("double") +
        lit(2.0) * col("g2").cast("double")) / (mD * mD * mD) / mD
      val vard = when(vard0 > 0.0, vard0)
        .otherwise(col("g0").cast("double") / (mD * mD * mD) / mD)
      val dm = dbar / sqrt(vard)
      g0.crossJoin(broadcast(gammaDf(1)))
        .crossJoin(broadcast(gammaDf(2)))
        .select(col("m").as("n_days"),
          round(col("sl1").cast("double") / mD, 2)
            .as("mse_naive_dollars2"),
          round(col("sl7").cast("double") / mD, 2)
            .as("mse_seasonal_dollars2"),
          round(dm, 4).as("dm_stat"),
          when(dm > 1.96, lit("seasonal"))
            .when(dm < -1.96, lit("naive"))
            .otherwise(lit("tie")).as("better"))
    }),

    // ---- Hampel robust outlier filter: each day's revenue against the
    // median ± 3·1.4826·MAD of its ±3-day neighborhood — the rolling
    // robust filter that flags spike days a mean-based z-score would
    // let the spike itself mask. Both medians are exact weighted
    // percentiles over the BOUNDED band self-join (≤7 neighbors/day);
    // half-cent and quarter-cent steps are exact binary fractions, so
    // the comparison is engine-stable with no quantization.
    "q_hampel" -> ((s, d) => {
      val daily = graft.CacheScope.cached(dailyCents(s, d))
      val band = daily.as("c").join(broadcast(daily.as("w")),
        col("w.day") >= col("c.day") - 3 &&
          col("w.day") <= col("c.day") + 3)
      val med = band.groupBy(col("c.day").as("day"),
          col("c.y").as("y"))
        .agg(expr("percentile(w.y, 0.5)").as("med"),
          count(lit(1)).as("wn"))
      val dev = graft.CacheScope.cached(med)
      val mad = daily.as("w2").join(broadcast(dev.as("m")),
          col("w2.day") >= col("m.day") - 3 &&
            col("w2.day") <= col("m.day") + 3)
        .groupBy(col("m.day").as("day"), col("m.y").as("y"),
          col("m.med").as("med"), col("m.wn").as("wn"))
        .agg(expr("percentile(abs(w2.y - m.med), 0.5)").as("mad"))
      // med is half-cent-exact and mad quarter-cent-exact: both are
      // exact binary doubles, so they ship as CENTS unrounded — a /100
      // dollar rounding would land exactly on .xx5 boundaries, where the
      // engines' shortest-decimal vs binary round() disagree
      mad.select(col("day"),
        round(col("y").cast("double") / 100.0, 2).as("dollars"),
        col("med").as("med_cents"),
        col("mad").as("mad_cents"),
        col("wn").as("n_window"),
        (abs(col("y").cast("double") - col("med")) >
          lit(3.0) * lit(1.4826) * col("mad")).as("outlier"))
        .orderBy("day")
    }),

    // ---- matrix profile of the daily event-count series (window m=7):
    // for every 7-day subsequence, the z-normalized distance to its
    // nearest non-overlapping neighbor — motif pairs get small
    // distances, discords large. ONE corpus collapse to the daily
    // frame; the subsequence expansion is a broadcast 7-row offset
    // product; all cross dot products are exact integer sums on the
    // (i,j,t) equi-join; z-normalization algebra runs double with
    // identical trees. Exclusion zone |i−j| > 3 (m/2). The nearest
    // neighbor per i is a day-keyed window row_number.
    "q_matrix_profile" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(count(lit(1)).as("x")))
      val mn = daily.agg(min("day").as("mn"), max("day").as("mx"))
      val offs = broadcast(daily.sparkSession.range(0, 7).toDF("t"))
      val sub = graft.CacheScope.cached(daily.crossJoin(broadcast(mn))
        .crossJoin(offs)
        .select((col("day") - col("mn") - col("t")).as("i"),
          col("t"), col("x"), (col("mx") - col("mn") - 6L).as("imax"))
        .filter(col("i") >= 0 && col("i") <= col("imax")))
      val stats = graft.CacheScope.cached(sub.groupBy("i")
        .agg(count(lit(1)).as("m"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("m") === 7))
      val dots = sub.as("a")
        .join(broadcast(sub.as("b")), col("a.t") === col("b.t"))
        .filter(abs(col("a.i") - col("b.i")) > 3)
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.x") * col("b.x")).as("dot"))
      val si = stats.select(col("i"), col("sx").as("sxi"),
        col("sxx").as("sxxi"))
      val sj = stats.select(col("i").as("j"), col("sx").as("sxj"),
        col("sxx").as("sxxj"))
      val mD = lit(7.0)
      val mui = col("sxi").cast("double") / mD
      val muj = col("sxj").cast("double") / mD
      val sdi = sqrt(col("sxxi").cast("double") / mD - mui * mui)
      val sdj = sqrt(col("sxxj").cast("double") / mD - muj * muj)
      val r = (col("dot").cast("double") / mD - mui * muj) /
        (sdi * sdj)
      val d2 = lit(2.0) * mD * (lit(1.0) - r)
      val prof = dots.join(broadcast(si), Seq("i"))
        .join(broadcast(sj), Seq("j"))
        .select(col("i"), col("j"), sqrt(greatest(d2, lit(0.0)))
          .as("dist"))
      val nn = prof.withColumn("rk", row_number().over(
          Window.partitionBy("i").orderBy(col("dist"), col("j"))))
        .filter(col("rk") === 1)
      nn.crossJoin(broadcast(mn))
        .select((col("mn") + col("i")).as("start_day"),
          (col("mn") + col("j")).as("nn_start_day"),
          round(col("dist"), 4).as("nn_dist"))
        .orderBy("start_day")
    }))

  val oracle: Map[String, String] = Map(
    "q_kpss" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS sy FROM daily),
        |e AS (
        |  SELECT day, n, n * y - sy AS e
        |  FROM daily CROSS JOIN mo),
        |ps AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n, sum(ss) AS ss2
        |  FROM (
        |    SELECT a.day, max(a.n) AS n,
        |      CAST(CAST(sum(b.e) AS HUGEINT) * sum(b.e) AS HUGEINT)
        |        AS ss
        |    FROM e a JOIN e b ON b.day <= a.day
        |    GROUP BY a.day) t),
        |g0 AS (SELECT sum(CAST(e AS HUGEINT) * e) AS g0 FROM e),
        |g1 AS (SELECT coalesce(sum(CAST(a.e AS HUGEINT) * b.e), 0) AS g1
        |       FROM e a JOIN e b ON b.day = a.day - 1),
        |g2 AS (SELECT coalesce(sum(CAST(a.e AS HUGEINT) * b.e), 0) AS g2
        |       FROM e a JOIN e b ON b.day = a.day - 2),
        |g3 AS (SELECT coalesce(sum(CAST(a.e AS HUGEINT) * b.e), 0) AS g3
        |       FROM e a JOIN e b ON b.day = a.day - 3)
        |SELECT n AS n_days,
        |  round(CAST(ss2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) /
        |    (CAST(n AS DOUBLE) * n) /
        |    ((CAST(g0 AS DOUBLE) +
        |      (3.0 * CAST(g1 AS DOUBLE) + 2.0 * CAST(g2 AS DOUBLE) +
        |        CAST(g3 AS DOUBLE)) / 2.0) /
        |     (CAST(n AS DOUBLE) * n * n)), 6) AS eta,
        |  CAST(ss2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) /
        |    (CAST(n AS DOUBLE) * n) /
        |    ((CAST(g0 AS DOUBLE) +
        |      (3.0 * CAST(g1 AS DOUBLE) + 2.0 * CAST(g2 AS DOUBLE) +
        |        CAST(g3 AS DOUBLE)) / 2.0) /
        |     (CAST(n AS DOUBLE) * n * n)) < 0.463 AS level_stationary
        |FROM ps CROSS JOIN g0 CROSS JOIN g1 CROSS JOIN g2
        |CROSS JOIN g3""".stripMargin,
    "q_newey_west" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(day) AS BIGINT) AS sd,
        |         CAST(sum(y) AS BIGINT) AS sy FROM daily),
        |sc AS (
        |  SELECT day, n, n * day - sd AS xs,
        |    CAST(CAST(n AS HUGEINT) * y AS HUGEINT) - sy AS es
        |  FROM daily CROSS JOIN mo),
        |bm AS (
        |  SELECT sum(CAST(xs AS HUGEINT) * es) AS sxe,
        |    sum(CAST(xs AS HUGEINT) * xs) AS sxx2,
        |    CAST(max(n) AS BIGINT) AS n
        |  FROM sc),
        |v AS (
        |  SELECT sc.day, sc.n, bm.sxx2, bm.sxe,
        |    sc.xs * CAST(round((CAST(sc.es AS DOUBLE) -
        |      CAST(bm.sxe AS DOUBLE) / CAST(bm.sxx2 AS DOUBLE) *
        |        CAST(sc.xs AS DOUBLE)) /
        |      CAST(sc.n AS DOUBLE) / 100.0) AS BIGINT) AS v
        |  FROM sc CROSS JOIN bm),
        |o0 AS (
        |  SELECT sum(CAST(v AS HUGEINT) * v) AS o0,
        |    CAST(max(n) AS BIGINT) AS n,
        |    CAST(max(sxx2) AS HUGEINT) AS sxx2,
        |    CAST(max(sxe) AS HUGEINT) AS sxe,
        |    CAST(count(*) AS BIGINT) AS nv
        |  FROM v),
        |o1 AS (SELECT coalesce(sum(CAST(a.v AS HUGEINT) * b.v), 0) AS o1
        |       FROM v a JOIN v b ON b.day = a.day - 1),
        |o2 AS (SELECT coalesce(sum(CAST(a.v AS HUGEINT) * b.v), 0) AS o2
        |       FROM v a JOIN v b ON b.day = a.day - 2),
        |o3 AS (SELECT coalesce(sum(CAST(a.v AS HUGEINT) * b.v), 0) AS o3
        |       FROM v a JOIN v b ON b.day = a.day - 3)
        |SELECT nv AS n_days,
        |  round(CAST(sxe AS DOUBLE) / CAST(sxx2 AS DOUBLE) / 100.0, 4)
        |    AS slope_dollars_per_day,
        |  round(sqrt((4.0 * CAST(o0 AS DOUBLE) +
        |      2.0 * (3.0 * CAST(o1 AS DOUBLE) + 2.0 * CAST(o2 AS DOUBLE)
        |        + CAST(o3 AS DOUBLE))) / 4.0) /
        |    (CAST(n AS DOUBLE) *
        |      (CAST(sxx2 AS DOUBLE) / (CAST(n AS DOUBLE) * n))) * 100.0
        |    / 100.0, 4) AS se_hac_dollars,
        |  round((CAST(sxe AS DOUBLE) / CAST(sxx2 AS DOUBLE) / 100.0) /
        |    (sqrt((4.0 * CAST(o0 AS DOUBLE) +
        |      2.0 * (3.0 * CAST(o1 AS DOUBLE) + 2.0 * CAST(o2 AS DOUBLE)
        |        + CAST(o3 AS DOUBLE))) / 4.0) /
        |    (CAST(n AS DOUBLE) *
        |      (CAST(sxx2 AS DOUBLE) / (CAST(n AS DOUBLE) * n))) * 100.0
        |    / 100.0), 4) AS t_hac,
        |  abs((CAST(sxe AS DOUBLE) / CAST(sxx2 AS DOUBLE)) /
        |    (sqrt((4.0 * CAST(o0 AS DOUBLE) +
        |      2.0 * (3.0 * CAST(o1 AS DOUBLE) + 2.0 * CAST(o2 AS DOUBLE)
        |        + CAST(o3 AS DOUBLE))) / 4.0) /
        |    (CAST(n AS DOUBLE) *
        |      (CAST(sxx2 AS DOUBLE) / (CAST(n AS DOUBLE) * n))) * 100.0))
        |    > 1.96 AS trend_robust
        |FROM o0 CROSS JOIN o1 CROSS JOIN o2 CROSS JOIN o3""".stripMargin,
    "q_breusch_pagan" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(day) AS BIGINT) AS sd,
        |         CAST(sum(y) AS BIGINT) AS sy FROM daily),
        |sc AS (
        |  SELECT day, n, n * day - sd AS xs,
        |    CAST(CAST(n AS HUGEINT) * y AS HUGEINT) - sy AS es
        |  FROM daily CROSS JOIN mo),
        |bm AS (
        |  SELECT sum(CAST(xs AS HUGEINT) * es) AS sxe,
        |    sum(CAST(xs AS HUGEINT) * xs) AS sxx2
        |  FROM sc),
        |uq AS (
        |  SELECT sc.day, sc.n,
        |    CAST(round((CAST(sc.es AS DOUBLE) -
        |      CAST(bm.sxe AS DOUBLE) / CAST(bm.sxx2 AS DOUBLE) *
        |        CAST(sc.xs AS DOUBLE)) /
        |      CAST(sc.n AS DOUBLE) / 100.0) AS BIGINT) AS u
        |  FROM sc CROSS JOIN bm),
        |aux AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(day) AS BIGINT) AS sx,
        |    CAST(sum(u * u) AS BIGINT) AS ssum,
        |    CAST(sum(day * day) AS BIGINT) AS sxx,
        |    sum(CAST(day AS HUGEINT) * (u * u)) AS sxs,
        |    sum(CAST(u * u AS HUGEINT) * (u * u)) AS sss
        |  FROM uq),
        |st AS (
        |  SELECT m,
        |    (CAST(m AS DOUBLE) * CAST(sxs AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(ssum AS DOUBLE)) *
        |    (CAST(m AS DOUBLE) * CAST(sxs AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(ssum AS DOUBLE)) /
        |    ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      (CAST(m AS DOUBLE) * CAST(sss AS DOUBLE) -
        |        CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE))) AS r2
        |  FROM aux),
        |lmp AS (
        |  SELECT m, r2, m * r2 AS lm,
        |    1.0 - (1.0 - (((((1.061405429 * tt - 1.453152027) * tt
        |      + 1.421413741) * tt - 0.284496736) * tt + 0.254829592)
        |      * tt) * exp(-x * x)) AS p
        |  FROM (
        |    SELECT m, r2, sqrt(m * r2) / sqrt(2.0) AS x,
        |      1.0 / (1.0 + 0.3275911 * (sqrt(m * r2) / sqrt(2.0))) AS tt
        |    FROM st) t)
        |SELECT m AS n_days, round(r2, 6) AS r2_aux,
        |  round(lm, 4) AS lm_stat, round(p, 6) AS p,
        |  p < 0.05 AS heteroskedastic
        |FROM lmp""".stripMargin,
    "q_diebold_mariano" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |dl AS (
        |  SELECT d.day,
        |    CAST(round(CAST(d.y - a.y AS DOUBLE) / 100.0) AS BIGINT) *
        |      CAST(round(CAST(d.y - a.y AS DOUBLE) / 100.0) AS BIGINT) -
        |    CAST(round(CAST(d.y - b.y AS DOUBLE) / 100.0) AS BIGINT) *
        |      CAST(round(CAST(d.y - b.y AS DOUBLE) / 100.0) AS BIGINT)
        |      AS dd,
        |    CAST(round(CAST(d.y - a.y AS DOUBLE) / 100.0) AS BIGINT) *
        |      CAST(round(CAST(d.y - a.y AS DOUBLE) / 100.0) AS BIGINT)
        |      AS l1,
        |    CAST(round(CAST(d.y - b.y AS DOUBLE) / 100.0) AS BIGINT) *
        |      CAST(round(CAST(d.y - b.y AS DOUBLE) / 100.0) AS BIGINT)
        |      AS l7
        |  FROM daily d
        |  JOIN daily a ON a.day = d.day - 1
        |  JOIN daily b ON b.day = d.day - 7),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(dd) AS BIGINT) AS sdm,
        |    CAST(sum(l1) AS BIGINT) AS sl1,
        |    CAST(sum(l7) AS BIGINT) AS sl7
        |  FROM dl),
        |cd AS (
        |  SELECT dl.day, mo.m, mo.sdm, mo.sl1, mo.sl7,
        |    CAST(CAST(mo.m AS HUGEINT) * dl.dd AS HUGEINT) - mo.sdm
        |      AS dc
        |  FROM dl CROSS JOIN mo),
        |g0 AS (
        |  SELECT CAST(max(m) AS BIGINT) AS m,
        |    CAST(max(sdm) AS BIGINT) AS sdm,
        |    CAST(max(sl1) AS BIGINT) AS sl1,
        |    CAST(max(sl7) AS BIGINT) AS sl7,
        |    sum(CAST(dc AS HUGEINT) * dc) AS g0
        |  FROM cd),
        |g1 AS (SELECT coalesce(sum(CAST(a.dc AS HUGEINT) * b.dc), 0)
        |         AS g1
        |       FROM cd a JOIN cd b ON b.day = a.day - 1),
        |g2 AS (SELECT coalesce(sum(CAST(a.dc AS HUGEINT) * b.dc), 0)
        |         AS g2
        |       FROM cd a JOIN cd b ON b.day = a.day - 2),
        |v AS (
        |  SELECT m, sdm, sl1, sl7,
        |    CASE WHEN (CAST(g0 AS DOUBLE) + 2.0 * CAST(g1 AS DOUBLE) +
        |        2.0 * CAST(g2 AS DOUBLE)) /
        |        (CAST(m AS DOUBLE) * m * m) / m > 0.0
        |      THEN (CAST(g0 AS DOUBLE) + 2.0 * CAST(g1 AS DOUBLE) +
        |        2.0 * CAST(g2 AS DOUBLE)) /
        |        (CAST(m AS DOUBLE) * m * m) / m
        |      ELSE CAST(g0 AS DOUBLE) /
        |        (CAST(m AS DOUBLE) * m * m) / m END AS vard
        |  FROM g0 CROSS JOIN g1 CROSS JOIN g2)
        |SELECT m AS n_days,
        |  round(CAST(sl1 AS DOUBLE) / m, 2) AS mse_naive_dollars2,
        |  round(CAST(sl7 AS DOUBLE) / m, 2) AS mse_seasonal_dollars2,
        |  round((CAST(sdm AS DOUBLE) / m) / sqrt(vard), 4) AS dm_stat,
        |  CASE WHEN (CAST(sdm AS DOUBLE) / m) / sqrt(vard) > 1.96
        |    THEN 'seasonal'
        |  WHEN (CAST(sdm AS DOUBLE) / m) / sqrt(vard) < -1.96
        |    THEN 'naive'
        |  ELSE 'tie' END AS better
        |FROM v""".stripMargin,
    "q_hampel" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |med AS (
        |  SELECT c.day, c.y, quantile_cont(w.y, 0.5) AS med,
        |    CAST(count(*) AS BIGINT) AS wn
        |  FROM daily c JOIN daily w
        |    ON w.day >= c.day - 3 AND w.day <= c.day + 3
        |  GROUP BY 1, 2),
        |mad AS (
        |  SELECT m.day, m.y, m.med, m.wn,
        |    quantile_cont(abs(w2.y - m.med), 0.5) AS mad
        |  FROM med m JOIN daily w2
        |    ON w2.day >= m.day - 3 AND w2.day <= m.day + 3
        |  GROUP BY 1, 2, 3, 4)
        |SELECT day, round(CAST(y AS DOUBLE) / 100.0, 2) AS dollars,
        |  med AS med_cents,
        |  mad AS mad_cents,
        |  wn AS n_window,
        |  abs(CAST(y AS DOUBLE) - med) > 3.0 * 1.4826 * mad AS outlier
        |FROM mad ORDER BY day""".stripMargin,
    "q_matrix_profile" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |mn AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
        |sub AS (
        |  SELECT d.day - m.mn - o.t AS i, o.t, d.x,
        |    m.mx - m.mn - 6 AS imax, m.mn
        |  FROM daily d CROSS JOIN mn m
        |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS t
        |              FROM range(0, 7)) o
        |  WHERE d.day - m.mn - o.t >= 0
        |    AND d.day - m.mn - o.t <= m.mx - m.mn - 6),
        |stats AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM sub GROUP BY 1 HAVING count(*) = 7),
        |dots AS (
        |  SELECT a.i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS dot
        |  FROM sub a JOIN sub b ON b.t = a.t
        |  WHERE abs(a.i - b.i) > 3
        |  GROUP BY 1, 2),
        |prof AS (
        |  SELECT d.i, d.j,
        |    sqrt(greatest(2.0 * 7.0 * (1.0 -
        |      (CAST(d.dot AS DOUBLE) / 7.0 -
        |        (CAST(si.sx AS DOUBLE) / 7.0) *
        |        (CAST(sj.sx AS DOUBLE) / 7.0)) /
        |      (sqrt(CAST(si.sxx AS DOUBLE) / 7.0 -
        |          (CAST(si.sx AS DOUBLE) / 7.0) *
        |          (CAST(si.sx AS DOUBLE) / 7.0)) *
        |        sqrt(CAST(sj.sxx AS DOUBLE) / 7.0 -
        |          (CAST(sj.sx AS DOUBLE) / 7.0) *
        |          (CAST(sj.sx AS DOUBLE) / 7.0)))), 0.0)) AS dist
        |  FROM dots d
        |  JOIN stats si ON si.i = d.i
        |  JOIN stats sj ON sj.i = d.j),
        |nn AS (
        |  SELECT i, j, dist,
        |    row_number() OVER (PARTITION BY i ORDER BY dist, j) AS rk
        |  FROM prof)
        |SELECT m.mn + nn.i AS start_day, m.mn + nn.j AS nn_start_day,
        |  round(nn.dist, 4) AS nn_dist
        |FROM nn CROSS JOIN mn m
        |WHERE nn.rk = 1
        |ORDER BY start_day""".stripMargin)
}
