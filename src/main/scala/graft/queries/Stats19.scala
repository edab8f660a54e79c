package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.queries.Kernels.dec

/** Round-11 diagnostics batch 2: the Glejser heteroskedasticity test
  * (|e| on x — the robust sibling of the existing Breusch–Pagan e²
  * form), a Weibull shape/scale fit by median-rank regression,
  * Welch-smoothed magnitude-squared coherence between the hourly click
  * and view series, and the Phillips–Perron unit-root Z_t statistic.
  *
  * House discipline: every regression is closed-form over integer
  * moments; per-row float quantities that cross a sum are quantized
  * first (|e| to whole cents, ln/trig terms to micro units — the
  * q_periodogram discipline), so all cross-row sums are exact integer
  * sums and the float tail is fixed-order one-row arithmetic mirrored
  * textually in the oracle.
  *
  * Scale shapes: Glejser/PP live on the bounded calendar frames with
  * broadcast one-row moment fan-ins; Weibull is one global rank pass
  * plus a map-only quantization into a single aggregate (the corpus
  * never windows); coherence broadcasts an 8-row harmonic grid.
  */
object Stats19 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  /** Daily (day, x = clicks, y = revenue cents) calendar frame. */
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

  /** Hourly (t 1-based, x revenue cents) calendar frame. */
  private def hourly(s: SparkSession, d: String): DataFrame = {
    val agg = graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $HourUs").as("hr"))
      .agg(sum(round(col("value") * 100).cast(LongType)).as("x")))
    val span = agg.agg(min("hr").as("mn"), max("hr").as("mx"))
    span.select(col("mn"), explode(sequence(col("mn"), col("mx")))
        .as("hr"))
      .join(agg, Seq("hr"), "left")
      .select((col("hr") - col("mn")).as("t"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  val queries: Map[String, Q] = Map(
    // ---- Glejser test: OLS y~x residuals, then regress |e| (quantized
    // to whole cents) on x; LM = n·R². Two closed-form regressions over
    // integer moments, zero iteration.
    "q_glejser" -> ((s, d) => {
      val dl = graft.CacheScope.cached(daily(s, d))
      val mom = dl.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("x")) * col("y")).as("sxy"))
      val a = (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
        .cast("decimal(38,0)")
      val b = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
        .cast("decimal(38,0)")
      val m1 = mom.select(col("n"), col("sx"), col("sy"),
        col("sxx"), a.as("a"), b.as("b"))
      val beta = col("b").cast("double") / col("a").cast("double")
      val alpha = (col("sy").cast("double") -
        beta * col("sx").cast("double")) / col("n").cast("double")
      val per = dl.crossJoin(broadcast(m1))
        .select(col("n"), col("x"), col("sx"), col("sxx"), col("a"),
          round(abs(col("y").cast("double") - alpha -
            beta * col("x").cast("double"))).cast(LongType).as("u"))
      val mom2 = per.groupBy("n", "sx", "sxx", "a")
        .agg(sum("u").as("su"),
          sum(dec(col("u")) * col("u")).as("suu"),
          sum(dec(col("x")) * col("u")).as("sxu"))
      val b2 = (dec(col("n")) * col("sxu") - dec(col("sx")) * col("su"))
        .cast("decimal(38,0)")
      val c2 = (dec(col("n")) * col("suu") - dec(col("su")) * col("su"))
        .cast("decimal(38,0)")
      val r2 = b2.cast("double") * b2.cast("double") /
        (col("a").cast("double") * c2.cast("double"))
      mom2.select(col("n").as("n_days"),
        round(b2.cast("double") / col("a").cast("double") / 100.0, 6)
          .as("glejser_slope_dollars"),
        round(r2, 6).as("r2_abs_resid"),
        round(col("n").cast("double") * r2, 4).as("lm_stat"))
    }),

    // ---- Weibull fit by median-rank regression on order totals:
    // Bernard's F_i = (i−0.3)/(n+0.4) from one GlobalRank pass,
    // u = ln x and v = ln(−ln(1−F)) quantized to micro before the
    // integer moment sums; k̂ = slope, λ̂ = exp(−intercept/k̂).
    "q_weibull_fit" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        round(col("o_totalprice") * 100).cast(LongType).as("c"),
        col("o_orderkey"))
      val tot = o.agg(count(lit(1)).as("n"))
      val ranked = GlobalRank.withRowNumber(o, "i",
        Seq(col("c").asc, col("o_orderkey").asc))
      val iD = col("i").cast("double")
      val nD = col("n").cast("double")
      val f = (iD - 0.3) / (nD + 0.4)
      val q = ranked.crossJoin(broadcast(tot))
        .select(col("n"),
          round(lit(1000000.0) * log(col("c").cast("double")))
            .cast(LongType).as("u"),
          round(lit(1000000.0) * log(-log(lit(1.0) - f)))
            .cast(LongType).as("v"))
      val mom = q.groupBy("n").agg(sum("u").as("su"), sum("v").as("sv"),
        sum((dec(col("u")) * col("u")).cast("decimal(38,0)")).as("suu"),
        sum((dec(col("u")) * col("v")).cast("decimal(38,0)")).as("suv"))
      val aa = (dec(col("n")) * col("suu") - dec(col("su")) * col("su"))
        .cast("decimal(38,0)")
      val bb = (dec(col("n")) * col("suv") - dec(col("su")) * col("sv"))
        .cast("decimal(38,0)")
      val k = bb.cast("double") / aa.cast("double")
      val c0 = (col("sv").cast("double") -
        k * col("su").cast("double")) / col("n").cast("double")
      mom.select(col("n").as("n_orders"),
        round(k, 6).as("shape_k"),
        round(exp(-c0 / k / 1000000.0) / 100.0, 2)
          .as("scale_dollars"))
    }),

    // ---- Welch-smoothed magnitude-squared coherence between the
    // hourly click and view count series at harmonics k = 2..7 of the
    // record length: per-(t,k) trig terms micro-quantize before the
    // integer sums (the q_periodogram discipline); cross/auto spectra
    // are smoothed over the {k−1,k,k+1} band in a fixed textual order,
    // C = |S̄ab|²/(S̄aa·S̄bb) ∈ [0,1].
    "q_coherence" -> ((s, d) => {
      val agg = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $HourUs").as("hr"))
        .agg(count(when(col("event_type") === "click", 1)).as("a"),
          count(when(col("event_type") === "view", 1)).as("b")))
      val span = agg.agg(min("hr").as("mn"), max("hr").as("mx"))
      val dl = span.select(col("mn"),
          explode(sequence(col("mn"), col("mx"))).as("hr"))
        .join(agg, Seq("hr"), "left")
        .select((col("hr") - col("mn")).as("t"),
          coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0L)).as("b"))
      val n = dl.agg(count(lit(1)).as("n"))
      val ks = s.range(1, 9).toDF("k")
      val ang = lit(6.283185307179586) * col("k") *
        col("t").cast("double") / col("n").cast("double")
      val sums = dl.crossJoin(broadcast(n))
        .crossJoin(broadcast(ks))
        .select(col("k"),
          round(col("a") * cos(ang) * 1e6).cast(LongType).as("ac6"),
          round(col("a") * sin(ang) * 1e6).cast(LongType).as("as6"),
          round(col("b") * cos(ang) * 1e6).cast(LongType).as("bc6"),
          round(col("b") * sin(ang) * 1e6).cast(LongType).as("bs6"))
        .groupBy("k")
        .agg(sum("ac6").as("aa"), sum("as6").as("ba"),
          sum("bc6").as("ab"), sum("bs6").as("bb"))
      val spec = graft.CacheScope.cached(sums.select(col("k"),
        (col("aa") / 1e6 * (col("ab") / 1e6) +
          col("ba") / 1e6 * (col("bb") / 1e6)).as("re"),
        (col("ba") / 1e6 * (col("ab") / 1e6) -
          col("aa") / 1e6 * (col("bb") / 1e6)).as("im"),
        (col("aa") / 1e6 * (col("aa") / 1e6) +
          col("ba") / 1e6 * (col("ba") / 1e6)).as("saa"),
        (col("ab") / 1e6 * (col("ab") / 1e6) +
          col("bb") / 1e6 * (col("bb") / 1e6)).as("sbb")))
      val lo = spec.select((col("k") + 1).as("k"), col("re").as("re_m"),
        col("im").as("im_m"), col("saa").as("saa_m"),
        col("sbb").as("sbb_m"))
      val hi = spec.select((col("k") - 1).as("k"), col("re").as("re_p"),
        col("im").as("im_p"), col("saa").as("saa_p"),
        col("sbb").as("sbb_p"))
      spec.join(broadcast(lo), "k").join(broadcast(hi), "k")
        .select(col("k"),
          round(((col("re_m") + col("re") + col("re_p")) *
            (col("re_m") + col("re") + col("re_p")) +
            (col("im_m") + col("im") + col("im_p")) *
            (col("im_m") + col("im") + col("im_p"))) /
            ((col("saa_m") + col("saa") + col("saa_p")) *
             (col("sbb_m") + col("sbb") + col("sbb_p"))), 6)
            .as("coherence"))
        .orderBy("k")
    }),

    // ---- Phillips–Perron Z_t (Hamilton 17.6.12) on the hourly revenue
    // series: OLS Δx_t = α + ρ·x_{t−1} over integer moments; residuals
    // quantized to whole cents; γ̂_j and the Bartlett-weighted λ̂²
    // (q = 4) as exact integer sums; Z_t = √(γ₀/λ²)·t_ρ −
    // ((λ²−γ₀)·m·se)/(2·λ̂·s) in fixed-order doubles.
    "q_pp_test" -> ((s, d) => {
      val hl = hourly(s, d)
      // r14: the lag pair and the five autocovariance terms all read
      // the SAME dense hourly series — one calendar-bounded window
      // (lead over t) replaces the broadcast lag self-join for (u, v)
      // and the five per-lag join+aggregate jobs for gamma_0..4 below
      // (guide §2.4; the series is the bounded hourly calendar, the
      // documented single-partition bounded-frame class). The sums are
      // the same exact decimal sums over the identical index sets:
      // lead(·, j) on the dense t-axis pairs exactly the rows the
      // t = t'-j equi-join paired, and sum() skips the null tail.
      val wT = Window.orderBy("t")
      val pairs = graft.CacheScope.cached(
        hl.select(col("t"), col("x").as("u"),
            (lead("x", 1).over(wT) - col("x")).as("v"))
          .filter(col("v").isNotNull))
      val mom = pairs.agg(count(lit(1)).as("m"), sum("u").as("su"),
        sum("v").as("sv"),
        sum(dec(col("u")) * col("u")).as("suu"),
        sum(dec(col("u")) * col("v")).as("suv"),
        sum(dec(col("v")) * col("v")).as("svv"))
      val a = (dec(col("m")) * col("suu") - dec(col("su")) * col("su"))
        .cast("decimal(38,0)")
      val b = (dec(col("m")) * col("suv") - dec(col("su")) * col("sv"))
        .cast("decimal(38,0)")
      val c = (dec(col("m")) * col("svv") - dec(col("sv")) * col("sv"))
        .cast("decimal(38,0)")
      val m1 = graft.CacheScope.cached(mom.select(col("m"), col("su"),
        col("sv"), a.as("a"), b.as("b"), c.as("c")))
      val mD = col("m").cast("double")
      val rho = col("b").cast("double") / col("a").cast("double")
      val alpha = (col("sv").cast("double") -
        rho * col("su").cast("double")) / mD
      val eq = pairs.crossJoin(broadcast(m1))
        .select(col("t"),
          round(col("v").cast("double") - alpha -
            rho * col("u").cast("double")).cast(LongType).as("e"))
      val led = eq.select(col("e"),
        lead("e", 1).over(wT).as("e1"), lead("e", 2).over(wT).as("e2"),
        lead("e", 3).over(wT).as("e3"), lead("e", 4).over(wT).as("e4"))
      val gs = led.agg(
        sum((dec(col("e")) * col("e")).cast("decimal(38,0)")).as("g0"),
        sum((dec(col("e")) * col("e1")).cast("decimal(38,0)")).as("g1"),
        sum((dec(col("e")) * col("e2")).cast("decimal(38,0)")).as("g2"),
        sum((dec(col("e")) * col("e3")).cast("decimal(38,0)")).as("g3"),
        sum((dec(col("e")) * col("e4")).cast("decimal(38,0)")).as("g4"))
      val joined = m1.crossJoin(broadcast(gs))
      val gamma0 = col("g0").cast("double") / mD
      val lam2 = gamma0 +
        lit(2.0) * ((lit(0.8) * col("g1").cast("double") +
          lit(0.6) * col("g2").cast("double") +
          lit(0.4) * col("g3").cast("double") +
          lit(0.2) * col("g4").cast("double")) / mD)
      val rss = (col("c").cast("double") * col("a").cast("double") -
        col("b").cast("double") * col("b").cast("double")) /
        (mD * col("a").cast("double"))
      val s2v = rss / (mD - 2.0)
      val se = sqrt(s2v * mD / col("a").cast("double"))
      val tRho = rho / se
      val zt = sqrt(gamma0 / lam2) * tRho -
        (lam2 - gamma0) * mD * se / (lit(2.0) * sqrt(lam2) * sqrt(s2v))
      joined.select(col("m").as("n_pairs"), round(rho, 8).as("rho"),
        round(tRho, 4).as("t_rho"), round(zt, 4).as("pp_z_tau"),
        round(gamma0 / 10000.0, 4).as("gamma0_dollars2"),
        round(lam2 / 10000.0, 4).as("lambda2_dollars2"))
    }))

  private val dailySql: String =
    """SELECT dd.day, coalesce(dl.x, 0) AS x, coalesce(dl.y, 0) AS y
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

  private val hourlySql: String =
    """SELECT dd.hr - span.mn AS t, coalesce(dl.x, 0) AS x
      |FROM (SELECT min(epoch_us(ts) // 3600000000) AS mn,
      |    max(epoch_us(ts) // 3600000000) AS mx FROM events) span,
      |  LATERAL (SELECT unnest(range(span.mn, span.mx + 1)) AS hr) dd
      |LEFT JOIN (
      |  SELECT epoch_us(ts) // 3600000000 AS hr,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1) dl ON dl.hr = dd.hr""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_glejser" ->
      s"""WITH daily AS ($dailySql),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy FROM daily),
        |m1 AS (SELECT n, sx, sy, sxx,
        |  CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS a,
        |  CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS b
        |  FROM mom),
        |per AS (
        |  SELECT n, x, sx, sxx, a,
        |    CAST(round(abs(CAST(y AS DOUBLE) -
        |      (CAST(sy AS DOUBLE) - CAST(b AS DOUBLE) /
        |        CAST(a AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        CAST(n AS DOUBLE) -
        |      CAST(b AS DOUBLE) / CAST(a AS DOUBLE) *
        |        CAST(x AS DOUBLE))) AS BIGINT) AS u
        |  FROM daily, m1),
        |mom2 AS (
        |  SELECT n, sx, sxx, a, CAST(sum(u) AS BIGINT) AS su,
        |    sum(CAST(u AS HUGEINT) * u) AS suu,
        |    sum(CAST(x AS HUGEINT) * u) AS sxu
        |  FROM per GROUP BY n, sx, sxx, a)
        |SELECT n AS n_days,
        |  round(CAST(CAST(n AS HUGEINT) * sxu -
        |      CAST(sx AS HUGEINT) * su AS DOUBLE) /
        |    CAST(a AS DOUBLE) / 100.0, 6) AS glejser_slope_dollars,
        |  round(CAST(CAST(n AS HUGEINT) * sxu -
        |      CAST(sx AS HUGEINT) * su AS DOUBLE) *
        |    CAST(CAST(n AS HUGEINT) * sxu -
        |      CAST(sx AS HUGEINT) * su AS DOUBLE) /
        |    (CAST(a AS DOUBLE) *
        |     CAST(CAST(n AS HUGEINT) * suu -
        |       CAST(su AS HUGEINT) * su AS DOUBLE)), 6)
        |    AS r2_abs_resid,
        |  round(CAST(n AS DOUBLE) *
        |    (CAST(CAST(n AS HUGEINT) * sxu -
        |      CAST(sx AS HUGEINT) * su AS DOUBLE) *
        |    CAST(CAST(n AS HUGEINT) * sxu -
        |      CAST(sx AS HUGEINT) * su AS DOUBLE) /
        |    (CAST(a AS DOUBLE) *
        |     CAST(CAST(n AS HUGEINT) * suu -
        |       CAST(su AS HUGEINT) * su AS DOUBLE))), 4) AS lm_stat
        |FROM mom2""".stripMargin,

    "q_weibull_fit" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |    o_orderkey FROM orders),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |r AS (SELECT c,
        |    row_number() OVER (ORDER BY c, o_orderkey) AS i FROM o),
        |q AS (
        |  SELECT n,
        |    CAST(round(1000000.0 * ln(CAST(c AS DOUBLE))) AS BIGINT)
        |      AS u,
        |    CAST(round(1000000.0 * ln(-ln(1.0 -
        |      (CAST(i AS DOUBLE) - 0.3) / (CAST(n AS DOUBLE) + 0.4))))
        |      AS BIGINT) AS v
        |  FROM r, tot),
        |mom AS (
        |  SELECT n, CAST(sum(u) AS BIGINT) AS su,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    sum(CAST(u AS HUGEINT) * u) AS suu,
        |    sum(CAST(u AS HUGEINT) * v) AS suv
        |  FROM q GROUP BY n)
        |SELECT n AS n_orders,
        |  round(CAST(CAST(n AS HUGEINT) * suv -
        |      CAST(su AS HUGEINT) * sv AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * suu -
        |      CAST(su AS HUGEINT) * su AS DOUBLE), 6) AS shape_k,
        |  round(exp(-((CAST(sv AS DOUBLE) -
        |      (CAST(CAST(n AS HUGEINT) * suv -
        |        CAST(su AS HUGEINT) * sv AS DOUBLE) /
        |       CAST(CAST(n AS HUGEINT) * suu -
        |        CAST(su AS HUGEINT) * su AS DOUBLE)) *
        |      CAST(su AS DOUBLE)) / CAST(n AS DOUBLE)) /
        |    (CAST(CAST(n AS HUGEINT) * suv -
        |        CAST(su AS HUGEINT) * sv AS DOUBLE) /
        |     CAST(CAST(n AS HUGEINT) * suu -
        |        CAST(su AS HUGEINT) * su AS DOUBLE)) / 1000000.0) /
        |    100.0, 2) AS scale_dollars
        |FROM mom""".stripMargin,

    "q_coherence" ->
      """WITH hl AS (
        |  SELECT dd.hr - span.mn AS t, coalesce(dl.a, 0) AS a,
        |    coalesce(dl.b, 0) AS b
        |  FROM (SELECT min(epoch_us(ts) // 3600000000) AS mn,
        |      max(epoch_us(ts) // 3600000000) AS mx FROM events) span,
        |    LATERAL (SELECT unnest(range(span.mn, span.mx + 1)) AS hr)
        |      dd
        |  LEFT JOIN (
        |    SELECT epoch_us(ts) // 3600000000 AS hr,
        |      CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
        |        AS BIGINT) AS a,
        |      CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
        |        AS BIGINT) AS b
        |    FROM events GROUP BY 1) dl ON dl.hr = dd.hr),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hl),
        |ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 9)),
        |sums AS (
        |  SELECT k,
        |    CAST(sum(CAST(round(a * cos(6.283185307179586 * k *
        |      CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS aa,
        |    CAST(sum(CAST(round(a * sin(6.283185307179586 * k *
        |      CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS ba,
        |    CAST(sum(CAST(round(b * cos(6.283185307179586 * k *
        |      CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS ab,
        |    CAST(sum(CAST(round(b * sin(6.283185307179586 * k *
        |      CAST(t AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS bb
        |  FROM hl, nn, ks GROUP BY k),
        |spec AS (
        |  SELECT k,
        |    aa / 1e6 * (ab / 1e6) + ba / 1e6 * (bb / 1e6) AS re,
        |    ba / 1e6 * (ab / 1e6) - aa / 1e6 * (bb / 1e6) AS im,
        |    aa / 1e6 * (aa / 1e6) + ba / 1e6 * (ba / 1e6) AS saa,
        |    ab / 1e6 * (ab / 1e6) + bb / 1e6 * (bb / 1e6) AS sbb
        |  FROM sums)
        |SELECT s0.k,
        |  round(((sm.re + s0.re + sp.re) * (sm.re + s0.re + sp.re) +
        |    (sm.im + s0.im + sp.im) * (sm.im + s0.im + sp.im)) /
        |    ((sm.saa + s0.saa + sp.saa) * (sm.sbb + s0.sbb + sp.sbb)),
        |    6) AS coherence
        |FROM spec s0 JOIN spec sm ON sm.k = s0.k - 1
        |JOIN spec sp ON sp.k = s0.k + 1
        |ORDER BY s0.k""".stripMargin,

    "q_pp_test" ->
      s"""WITH hl AS ($hourlySql),
        |pairs AS (
        |  SELECT h0.t, h0.x AS u, h1.x - h0.x AS v
        |  FROM hl h0 JOIN hl h1 ON h1.t = h0.t + 1),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
        |  sum(CAST(u AS HUGEINT) * u) AS suu,
        |  sum(CAST(u AS HUGEINT) * v) AS suv,
        |  sum(CAST(v AS HUGEINT) * v) AS svv FROM pairs),
        |m1 AS (SELECT m, su, sv,
        |  CAST(m AS HUGEINT) * suu - CAST(su AS HUGEINT) * su AS a,
        |  CAST(m AS HUGEINT) * suv - CAST(su AS HUGEINT) * sv AS b,
        |  CAST(m AS HUGEINT) * svv - CAST(sv AS HUGEINT) * sv AS c
        |  FROM mom),
        |eq AS (
        |  SELECT t,
        |    CAST(round(CAST(v AS DOUBLE) -
        |      (CAST(sv AS DOUBLE) - CAST(b AS DOUBLE) /
        |        CAST(a AS DOUBLE) * CAST(su AS DOUBLE)) /
        |        CAST(m AS DOUBLE) -
        |      CAST(b AS DOUBLE) / CAST(a AS DOUBLE) *
        |        CAST(u AS DOUBLE)) AS BIGINT) AS e
        |  FROM pairs, m1),
        |g0 AS (SELECT sum(CAST(e AS HUGEINT) * e) AS g0 FROM eq),
        |g1 AS (SELECT sum(CAST(e0.e AS HUGEINT) * e1.e) AS g1
        |  FROM eq e0 JOIN eq e1 ON e1.t = e0.t + 1),
        |g2 AS (SELECT sum(CAST(e0.e AS HUGEINT) * e1.e) AS g2
        |  FROM eq e0 JOIN eq e1 ON e1.t = e0.t + 2),
        |g3 AS (SELECT sum(CAST(e0.e AS HUGEINT) * e1.e) AS g3
        |  FROM eq e0 JOIN eq e1 ON e1.t = e0.t + 3),
        |g4 AS (SELECT sum(CAST(e0.e AS HUGEINT) * e1.e) AS g4
        |  FROM eq e0 JOIN eq e1 ON e1.t = e0.t + 4),
        |fin AS (
        |  SELECT m,
        |    CAST(b AS DOUBLE) / CAST(a AS DOUBLE) AS rho,
        |    CAST(g0 AS DOUBLE) / CAST(m AS DOUBLE) AS gamma0,
        |    CAST(g0 AS DOUBLE) / CAST(m AS DOUBLE) +
        |      2.0 * ((0.8 * CAST(g1 AS DOUBLE) +
        |        0.6 * CAST(g2 AS DOUBLE) +
        |        0.4 * CAST(g3 AS DOUBLE) +
        |        0.2 * CAST(g4 AS DOUBLE)) / CAST(m AS DOUBLE)) AS lam2,
        |    (CAST(c AS DOUBLE) * CAST(a AS DOUBLE) -
        |      CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) /
        |      (CAST(m AS DOUBLE) * CAST(a AS DOUBLE)) /
        |      (CAST(m AS DOUBLE) - 2.0) AS s2v,
        |    sqrt((CAST(c AS DOUBLE) * CAST(a AS DOUBLE) -
        |      CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) /
        |      (CAST(m AS DOUBLE) * CAST(a AS DOUBLE)) /
        |      (CAST(m AS DOUBLE) - 2.0) * CAST(m AS DOUBLE) /
        |      CAST(a AS DOUBLE)) AS se
        |  FROM m1, g0, g1, g2, g3, g4)
        |SELECT m AS n_pairs, round(rho, 8) AS rho,
        |  round(rho / se, 4) AS t_rho,
        |  round(sqrt(gamma0 / lam2) * (rho / se) -
        |    (lam2 - gamma0) * CAST(m AS DOUBLE) * se /
        |    (2.0 * sqrt(lam2) * sqrt(s2v)), 4) AS pp_z_tau,
        |  round(gamma0 / 10000.0, 4) AS gamma0_dollars2,
        |  round(lam2 / 10000.0, 4) AS lambda2_dollars2
        |FROM fin""".stripMargin)
}
