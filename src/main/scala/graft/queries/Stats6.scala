package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.twoSidedP

/** Round-10 fifth batch: structural-break detection (Chow F-test),
  * volatility clustering (Engle's ARCH LM), a full-distribution
  * normality test at corpus scale (Anderson–Darling via the two-phase
  * global rank), piecewise-trend model selection (best single knot by
  * SSE), and regularized regression (the ridge coefficient path) — the
  * model-diagnostics surface a forecasting/curation team runs on top of
  * the engine's event stream (reference analog: the job-history
  * analytics a requester would batch over its event log,
  * pkg/requesternode/requester_node.go; the reference records the
  * series, the engine here models them).
  *
  * House disciplines (same as Stats2–5 / MlOps):
  *  - the corpus collapses in ONE map-side-combined aggregate to a
  *    calendar-bounded daily frame (or, for A–D, one GlobalRank
  *    two-phase pass); everything after runs on ≤ ~40-row frames with
  *    broadcast scalar fan-ins;
  *  - exact integer moments (cents / counts) until the final double
  *    algebra; squared-cents sums route decimal(38,0) ↔ HUGEINT;
  *  - any float term entering an SF-scaled SUM quantizes first
  *    (micro-units, decimal-routed where 2n·|ln Φ|·10⁶ can pass 2⁶³);
  *  - ties break on explicit keys (event_id, knot day).
  */
object Stats6 {

  private type Q = (SparkSession, String) => DataFrame
  private val DayUs = 86400000000L

  /** Φ(z) from the shared tail: 1−p/2 on the right branch, p/2 on the
    * left — one expression tree, mirrored verbatim in the oracles. */
  private def phi(z: Column): Column =
    when(z >= 0, lit(1.0) - twoSidedP(z) / 2).otherwise(twoSidedP(z) / 2)

  val queries: Map[String, Q] = Map(
    // ---- Chow structural-break F-test: does the daily-revenue trend
    // have ONE slope, or did the data-generating process change at the
    // calendar midpoint? OLS of daily cents on the day index fitted
    // pooled and per half; F = ((SSEp − SSE₁ − SSE₂)/2) /
    // ((SSE₁+SSE₂)/(n−4)). ONE corpus aggregate to the ~30-row daily
    // frame (squared daily cents through decimal(38,0) — 10⁹ cents/day
    // squares past BIGINT at sweep scale); the two regime moment rows
    // and the pooled row are exact integers, the F algebra runs double
    // on a 1-row frame with an identical tree in the oracle.
    "q_chow_test" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .select(expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .groupBy("day").agg(sum("cents").as("y")))
      val mid = daily.agg(min("day").as("mn"), max("day").as("mx"))
        .select(col("mn"), expr("(mn + mx + 1) div 2").as("mid"))
      val m = daily.crossJoin(broadcast(mid))
        .select((col("day") >= col("mid")).as("r"),
          (col("day") - col("mn")).as("x"), col("y"), col("mid"))
        .groupBy("r", "mid")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          // cast BEFORE the multiply: daily cents reach ~1.5e10 at the
          // 30x sweep, whose square wraps a Long silently
          sum(col("y").cast("decimal(19,0)") * col("y")).as("syy"))
      def sse(n: Column, sx: Column, sy: Column, sxx: Column,
          sxy: Column, syy: Column): Column = {
        val nd = n.cast("double")
        val cxx = sxx.cast("double") - sx.cast("double") * sx / nd
        val cxy = sxy.cast("double") - sx.cast("double") * sy / nd
        val cyy = syy.cast("double") - sy.cast("double") * sy / nd
        cyy - cxy * cxy / cxx
      }
      val pooled = m.groupBy("mid")
        .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
          sum("sxx").as("sxx"), sum("sxy").as("sxy"),
          sum("syy").as("syy"))
        .select(col("mid"), col("n"),
          sse(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
            col("syy")).as("ssep"))
      val halves = m
        .select(col("mid"), col("n"),
          sse(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
            col("syy")).as("ssei"))
        .groupBy("mid").agg(sum("n").as("n2"), sum("ssei").as("sse12"))
      val f = (col("ssep") - col("sse12")) / lit(2.0) /
        (col("sse12") / (col("n") - lit(4L)).cast("double"))
      pooled.join(broadcast(halves), "mid")
        .select(col("n").as("n_days"), col("mid").as("break_day"),
          round(col("ssep") / 1e8, 2).as("sse_pooled_dollars2"),
          round(col("sse12") / 1e8, 2).as("sse_split_dollars2"),
          round(f, 4).as("f_stat"),
          // F(2, n−4) 5% critical ≈ 3.37 for the ~26 residual df of a
          // 30-day calendar — fixed literal, mirrored in the oracle
          (f > 3.37).as("break_detected"))
    }),

    // ---- Engle's ARCH LM test: do large daily-revenue swings cluster
    // (volatility begets volatility)? Daily revenue deltas u_d quantize
    // to whole dollars, s_d = u² regresses on s_{d−1}; LM = m·R² is
    // χ²(1) under no-ARCH, p = 2(1−Φ(√LM)). ONE corpus aggregate; the
    // lag pair join is the day+1 self-join on the cached ~30-row frame;
    // s·s products route decimal(38,0) (dollar⁴ terms pass BIGINT at
    // sweep scale).
    "q_arch_lm" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .select(expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .groupBy("day").agg(sum("cents").as("y")))
      val diff = graft.CacheScope.cached(daily
        .join(broadcast(daily.select((col("day") + 1L).as("day"),
          col("y").as("yp"))), "day")
        .select(col("day"),
          round((col("y") - col("yp")).cast("double") / 100.0)
            .cast(LongType).as("u")))
      val sPair = diff.select(col("day"), (col("u") * col("u")).as("sv"))
      val pairs = sPair
        .join(broadcast(sPair.select((col("day") + 1L).as("day"),
          col("sv").as("sl"))), "day")
      val mo = pairs.agg(count(lit(1)).as("m"),
        sum("sl").as("sx"), sum("sv").as("sy"),
        // cast BEFORE the multiply: s ~ 2e16 at sweep scale, s*s wraps
        sum(col("sl").cast("decimal(19,0)") * col("sl")).as("sxx"),
        sum(col("sl").cast("decimal(19,0)") * col("sv")).as("sxy"),
        sum(col("sv").cast("decimal(19,0)") * col("sv")).as("syy"))
      val md = col("m").cast("double")
      val num = md * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val den1 = md * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val den2 = md * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      val r2 = num * num / (den1 * den2)
      val lm = md * r2
      val p = twoSidedP(sqrt(lm))
      mo.select(col("m").as("n_pairs"), round(r2, 6).as("r2"),
        round(lm, 4).as("lm_stat"), round(p, 6).as("p"),
        (p < 0.05).as("arch_present"))
    }),

    // ---- Anderson–Darling normality of the event-value distribution,
    // at full corpus scale: A² = −n − (1/n)·Σᵢ[(2i−1)·ln Φ(zᵢ) +
    // (2(n−i)+1)·ln(1−Φ(zᵢ))] over the GLOBAL value order. The rank i
    // runs through GlobalRank's two-phase row number on (cents,
    // event_id) — a total order, no single task sorts the corpus — and
    // each row's term micro-quantizes before the SF-scaled sum, which
    // routes decimal(38,0): 2n·|ln Φ|·10⁶ ≈ 2·10¹⁴ per row at the 30×
    // sweep, × 3M rows passes 2⁶³. Φ clamps to [1e−15, 1−1e−15] so the
    // extreme ranks can't hit ln(0). Moments for z are the exact
    // integer (Σc, Σc², n) of the same pass's cache.
    "q_anderson_darling" -> ((s, d) => {
      val ev = graft.CacheScope.cached(Tables.events(s, d)
        .transform(Tables.fanoutReady)
        .select(col("event_id"),
          round(col("value") * 100).cast(LongType).as("c")))
      val mo = ev.agg(count(lit(1)).as("n"), sum("c").as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("scc"))
      val ranked = graft.operators.GlobalRank.withRowNumber(
        ev, "i", Seq(col("c"), col("event_id")))
      val nD = col("n").cast("double")
      val mean = col("sc").cast("double") / nD
      val sd = sqrt(col("scc").cast("double") / nD - mean * mean)
      val z = (col("c").cast("double") - mean) / sd
      val ph = least(greatest(phi(z), lit(1e-15)), lit(1.0 - 1e-15))
      val term = (lit(2L) * col("i").cast("long") - 1L).cast("double") *
        log(ph) +
        (lit(2L) * (col("n") - col("i").cast("long")) + 1L)
          .cast("double") * log(lit(1.0) - ph)
      val a2 = ranked.crossJoin(broadcast(mo))
        .select(col("n"),
          round(term * 1e6).cast("decimal(38,0)").as("t6"))
        .groupBy("n").agg(sum("t6").as("s6"))
      a2.select(col("n").as("n_events"),
        round(negate(col("n").cast("double")) -
          col("s6").cast("double") / 1e6 / col("n"), 4).as("a2_stat"),
        // 0.787: the 5% critical value for the estimated-parameter
        // (case-3) Anderson–Darling statistic — fixed literal
        (negate(col("n").cast("double")) -
          col("s6").cast("double") / 1e6 / col("n") < 0.787)
          .as("normal"))
    }),

    // ---- segmented-trend model selection: the best single knot for a
    // two-piece linear trend of daily event counts, chosen by exact SSE
    // over every interior candidate day — "did the cadence bend, and
    // when?". The corpus collapses once to the daily count frame; the
    // (knot × day) expansion is a ~30×28-row broadcast product; per
    // (knot, side) moments are exact integers and the SSE algebra runs
    // double with an identical tree in the oracle. Tiebreak: smallest
    // knot. Reports the single-line SSE and the relative improvement.
    "q_segmented_trend" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(count(lit(1)).as("c")))
      val mn = daily.agg(min("day").as("mn"), max("day").as("mx"))
      val dd = graft.CacheScope.cached(daily.crossJoin(broadcast(mn))
        .select((col("day") - col("mn")).as("x"), col("c"),
          (col("mx") - col("mn")).as("span"), col("mn")))
      def cen(n: Column, sx: Column, sc: Column, sxx: Column,
          sxc: Column, scc: Column): Column = {
        val nd = n.cast("double")
        val cxx = sxx.cast("double") - sx.cast("double") * sx / nd
        val cxc = sxc.cast("double") - sx.cast("double") * sc / nd
        val ccc = scc.cast("double") - sc.cast("double") * sc / nd
        ccc - cxc * cxc / cxx
      }
      val single = dd.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("c").as("sc"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("c")).as("sxc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("scc"))
        .select(cen(col("n"), col("sx"), col("sc"), col("sxx"),
          col("sxc"), col("scc")).as("sse1"))
      val knots = dd.filter(col("x") >= 2 && col("x") <= col("span") - 1)
        .select(col("x").as("k"))
      val sides = dd.crossJoin(broadcast(knots))
        .groupBy(col("k"), (col("x") < col("k")).as("left"), col("mn"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("c").as("sc"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("c")).as("sxc"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("scc"))
      val slope = (col("n").cast("double") * col("sxc").cast("double") -
        col("sx").cast("double") * col("sc").cast("double")) /
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      val perKnot = sides
        .select(col("k"), col("mn"),
          cen(col("n"), col("sx"), col("sc"), col("sxx"), col("sxc"),
            col("scc")).as("ssei"),
          when(col("left"), slope).otherwise(lit(0.0)).as("sl"),
          when(!col("left"), slope).otherwise(lit(0.0)).as("sr"))
        .groupBy("k", "mn")
        .agg(sum("ssei").as("sse2"), sum("sl").as("slope_left"),
          sum("sr").as("slope_right"))
      val best = perKnot
        .select(col("mn"), struct(round(col("sse2"), 6).as("sse2"),
          col("k"), col("slope_left"), col("slope_right")).as("cand"))
        .groupBy("mn").agg(min("cand").as("b"))
      best.crossJoin(broadcast(single))
        .select((col("mn") + col("b.k")).as("knot_day"),
          round(col("sse1"), 2).as("sse_single"),
          round(col("b.sse2"), 2).as("sse_segmented"),
          round(lit(1.0) - col("b.sse2") / col("sse1"), 6)
            .as("improvement"),
          round(col("b.slope_left"), 4).as("slope_left"),
          round(col("b.slope_right"), 4).as("slope_right"))
    }),

    // ---- ridge coefficient path: q_ols2's two-feature trend/weekend
    // regression re-solved under L2 penalties λ ∈ {0,10,100,1000,10000}
    // (intercept unpenalized — λ adds to the slope diagonal of the
    // normal equations only). ONE corpus aggregate to the daily moment
    // frame; the 5-arm grid is a broadcast literal; each arm's 3×3
    // Cramer solve and SSE re-expansion run on the bounded day frame.
    // Shows shrinkage: |b1|, |b2| decay with λ while SSE rises.
    "q_ridge_path" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .select(expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .groupBy("day")
        .agg(count(lit(1)).as("nd"), sum("cents").as("sc"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)"))
            .as("syy")))
      val mn = daily.agg(min("day").as("mn"))
      val dd = graft.CacheScope.cached(daily.crossJoin(broadcast(mn))
        .select(col("nd"), col("sc"), col("syy"),
          (col("day") - col("mn")).as("x1"),
          when((col("day") % 7).isin(2, 3), 1L).otherwise(0L).as("x2")))
      val m = dd.agg(
        sum("nd").as("n"), sum(col("nd") * col("x1")).as("s1"),
        sum(col("nd") * col("x2")).as("s2"),
        sum(col("nd") * col("x1") * col("x1")).as("s11"),
        sum(col("nd") * col("x1") * col("x2")).as("s12"),
        sum(col("nd") * col("x2") * col("x2")).as("s22"),
        sum("sc").as("sy"), sum(col("x1") * col("sc")).as("s1y"),
        sum(col("x2") * col("sc")).as("s2y"), sum("syy").as("syyt"))
      def det3(a: Column, b: Column, c: Column, p: Column, q: Column,
          r: Column, x: Column, y: Column, z: Column): Column =
        a * (q * z - r * y) - b * (p * z - r * x) + c * (p * y - q * x)
      val lam = s.range(0, 5).toDF("i")
        .select(when(col("i") === 0, 0.0)
          .otherwise(pow(lit(10.0), col("i"))).as("lambda"))
      val (n, s1, s2) = (col("n").cast("double"),
        col("s1").cast("double"), col("s2").cast("double"))
      val (s11, s12, s22) = (col("s11").cast("double") + col("lambda"),
        col("s12").cast("double"),
        col("s22").cast("double") + col("lambda"))
      val (sy, s1y, s2y) = (col("sy").cast("double"),
        col("s1y").cast("double"), col("s2y").cast("double"))
      val den = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
      val beta = graft.CacheScope.cached(m.crossJoin(broadcast(lam))
        .select(col("lambda"), col("n").as("n_events"), col("sy"),
          col("syyt"),
          (det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22) / den)
            .as("b0"),
          (det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22) / den).as("b1"),
          (det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y) / den).as("b2")))
      val sse = dd.crossJoin(broadcast(beta))
        .select(col("lambda"), col("n_events"), col("sy"), col("syyt"),
          col("b0"), col("b1"), col("b2"),
          (col("b0") + col("b1") * col("x1") + col("b2") * col("x2"))
            .as("yh"), col("nd"), col("sc"))
        .groupBy("lambda", "n_events", "sy", "syyt", "b0", "b1", "b2")
        .agg(sum(round(col("nd") * col("yh") * col("yh") -
          lit(2.0) * col("yh") * col("sc")).cast(LongType)).as("sseq"))
      val sst = col("syyt").cast("double") -
        col("sy").cast("double") * col("sy") / col("n_events")
      sse.select(col("lambda"),
        round(col("b0") / 100.0, 4).as("intercept_dollars"),
        round(col("b1") / 100.0, 6).as("trend_per_day"),
        round(col("b2") / 100.0, 4).as("weekend_effect"),
        round(lit(1.0) - (col("sseq") + col("syyt")).cast("double") /
          sst, 6).as("r2"))
        .orderBy("lambda")
    }))

  val oracle: Map[String, String] = Map(
    "q_chow_test" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mid AS (SELECT min(day) AS mn,
        |          (min(day) + max(day) + 1) // 2 AS mid FROM daily),
        |m AS (
        |  SELECT r, mid,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM (SELECT d.day - md.mn AS x, d.y, md.mid,
        |          (d.day >= md.mid) AS r
        |        FROM daily d CROSS JOIN mid md) t
        |  GROUP BY 1, 2),
        |pooled AS (
        |  SELECT mid, CAST(sum(n) AS BIGINT) AS n,
        |    (CAST(sum(syy) AS DOUBLE) -
        |      CAST(sum(sy) AS DOUBLE) * sum(sy) / sum(n)) -
        |    (CAST(sum(sxy) AS DOUBLE) -
        |      CAST(sum(sx) AS DOUBLE) * sum(sy) / sum(n)) *
        |    (CAST(sum(sxy) AS DOUBLE) -
        |      CAST(sum(sx) AS DOUBLE) * sum(sy) / sum(n)) /
        |    (CAST(sum(sxx) AS DOUBLE) -
        |      CAST(sum(sx) AS DOUBLE) * sum(sx) / sum(n)) AS ssep
        |  FROM m GROUP BY 1),
        |halves AS (
        |  SELECT mid, CAST(sum(n) AS BIGINT) AS n2, sum(ssei) AS sse12
        |  FROM (
        |    SELECT mid, n,
        |      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) -
        |      (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) *
        |      (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) /
        |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS ssei
        |    FROM m) t GROUP BY 1)
        |SELECT p.n AS n_days, p.mid AS break_day,
        |  round(p.ssep / 1e8, 2) AS sse_pooled_dollars2,
        |  round(h.sse12 / 1e8, 2) AS sse_split_dollars2,
        |  round((p.ssep - h.sse12) / 2.0 /
        |    (h.sse12 / CAST(p.n - 4 AS DOUBLE)), 4) AS f_stat,
        |  (p.ssep - h.sse12) / 2.0 /
        |    (h.sse12 / CAST(p.n - 4 AS DOUBLE)) > 3.37 AS break_detected
        |FROM pooled p JOIN halves h ON h.mid = p.mid""".stripMargin,
    "q_arch_lm" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |diff AS (
        |  SELECT d.day,
        |    CAST(round(CAST(d.y - p.y AS DOUBLE) / 100.0) AS BIGINT)
        |      AS u
        |  FROM daily d JOIN daily p ON p.day = d.day - 1),
        |sframe AS (SELECT day, u * u AS sv FROM diff),
        |pairs AS (
        |  SELECT a.day, a.sv, b.sv AS sl
        |  FROM sframe a JOIN sframe b ON b.day = a.day - 1),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(sl) AS BIGINT) AS sx, CAST(sum(sv) AS BIGINT) AS sy,
        |    sum(CAST(sl AS HUGEINT) * sl) AS sxx,
        |    sum(CAST(sl AS HUGEINT) * sv) AS sxy,
        |    sum(CAST(sv AS HUGEINT) * sv) AS syy
        |  FROM pairs),
        |stat AS (
        |  SELECT m,
        |    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
        |    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |      (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
        |  FROM mo),
        |lmp AS (
        |  SELECT m, r2, m * r2 AS lm,
        |    1.0 - (1.0 - (((((1.061405429 * tt - 1.453152027) * tt
        |      + 1.421413741) * tt - 0.284496736) * tt + 0.254829592)
        |      * tt) * exp(-x * x)) AS p
        |  FROM (
        |    SELECT m, r2, sqrt(m * r2) / sqrt(2.0) AS x,
        |      1.0 / (1.0 + 0.3275911 * (sqrt(m * r2) / sqrt(2.0))) AS tt
        |    FROM stat) t)
        |SELECT m AS n_pairs, round(r2, 6) AS r2,
        |  round(lm, 4) AS lm_stat, round(p, 6) AS p,
        |  p < 0.05 AS arch_present
        |FROM lmp""".stripMargin,
    "q_anderson_darling" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS sc,
        |    sum(CAST(c AS HUGEINT) * c) AS scc
        |  FROM ev),
        |ranked AS (
        |  SELECT c, CAST(row_number() OVER (ORDER BY c, event_id)
        |    AS BIGINT) AS i
        |  FROM ev),
        |terms AS (
        |  SELECT mo.n,
        |    CAST(round(((2 * r.i - 1) * ln(ph) +
        |      (2 * (mo.n - r.i) + 1) * ln(1.0 - ph)) * 1e6)
        |      AS HUGEINT) AS t6
        |  FROM (
        |    SELECT i, least(greatest(
        |      CASE WHEN z >= 0 THEN 1.0 - p / 2 ELSE p / 2 END,
        |      1e-15), 1.0 - 1e-15) AS ph
        |    FROM (
        |      SELECT i, z,
        |        1.0 - (1.0 - (((((1.061405429 * tt - 1.453152027) * tt
        |          + 1.421413741) * tt - 0.284496736) * tt + 0.254829592)
        |          * tt) * exp(-x * x)) AS p
        |      FROM (
        |        SELECT i, z, abs(z) / sqrt(2.0) AS x,
        |          1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
        |        FROM (
        |          SELECT r.i,
        |            (CAST(r.c AS DOUBLE) - CAST(mo.sc AS DOUBLE) / mo.n)
        |            / sqrt(CAST(mo.scc AS DOUBLE) / mo.n -
        |              (CAST(mo.sc AS DOUBLE) / mo.n) *
        |              (CAST(mo.sc AS DOUBLE) / mo.n)) AS z
        |          FROM ranked r CROSS JOIN mo) z1) z2) z3) r
        |  CROSS JOIN mo)
        |SELECT n AS n_events,
        |  round(-CAST(n AS DOUBLE) -
        |    CAST(sum(t6) AS DOUBLE) / 1e6 / n, 4) AS a2_stat,
        |  -CAST(n AS DOUBLE) - CAST(sum(t6) AS DOUBLE) / 1e6 / n < 0.787
        |    AS normal
        |FROM terms GROUP BY n""".stripMargin,
    "q_segmented_trend" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |mn AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
        |dd AS (
        |  SELECT d.day - m.mn AS x, d.c, m.mx - m.mn AS span, m.mn
        |  FROM daily d CROSS JOIN mn m),
        |single AS (
        |  SELECT (CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) -
        |      CAST(sum(c) AS DOUBLE) * sum(c) / count(*)) -
        |    (CAST(sum(x * c) AS DOUBLE) -
        |      CAST(sum(x) AS DOUBLE) * sum(c) / count(*)) *
        |    (CAST(sum(x * c) AS DOUBLE) -
        |      CAST(sum(x) AS DOUBLE) * sum(c) / count(*)) /
        |    (CAST(sum(x * x) AS DOUBLE) -
        |      CAST(sum(x) AS DOUBLE) * sum(x) / count(*)) AS sse1
        |  FROM dd),
        |knots AS (SELECT x AS k FROM dd
        |          WHERE x >= 2 AND x <= span - 1),
        |sides AS (
        |  SELECT kk.k, (dd.x < kk.k) AS lft, dd.mn,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(c) AS BIGINT) AS sc,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * c) AS BIGINT) AS sxc,
        |    sum(CAST(c AS HUGEINT) * c) AS scc
        |  FROM dd CROSS JOIN knots kk
        |  GROUP BY 1, 2, 3),
        |perknot AS (
        |  SELECT k, mn, sum(ssei) AS sse2,
        |    sum(CASE WHEN lft THEN slope ELSE 0.0 END) AS slope_left,
        |    sum(CASE WHEN lft THEN 0.0 ELSE slope END) AS slope_right
        |  FROM (
        |    SELECT k, lft, mn,
        |      (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) -
        |      (CAST(sxc AS DOUBLE) - CAST(sx AS DOUBLE) * sc / n) *
        |      (CAST(sxc AS DOUBLE) - CAST(sx AS DOUBLE) * sc / n) /
        |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        |        AS ssei,
        |      (CAST(n AS DOUBLE) * sxc - CAST(sx AS DOUBLE) * sc) /
        |      (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |        AS slope
        |    FROM sides) t
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT mn, round(sse2, 6) AS sse2, k, slope_left, slope_right
        |  FROM (SELECT *, row_number() OVER (
        |      ORDER BY round(sse2, 6), k) AS rn FROM perknot) r
        |  WHERE rn = 1)
        |SELECT b.mn + b.k AS knot_day,
        |  round(s.sse1, 2) AS sse_single,
        |  round(b.sse2, 2) AS sse_segmented,
        |  round(1.0 - b.sse2 / s.sse1, 6) AS improvement,
        |  round(b.slope_left, 4) AS slope_left,
        |  round(b.slope_right, 4) AS slope_right
        |FROM best b CROSS JOIN single s""".stripMargin,
    "q_ridge_path" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS sc,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 100) AS BIGINT)) AS syy
        |  FROM events GROUP BY 1),
        |dd AS (
        |  SELECT nd, sc, syy, day - (SELECT min(day) FROM daily) AS x1,
        |    CASE WHEN day % 7 IN (2, 3) THEN 1 ELSE 0 END AS x2
        |  FROM daily),
        |m AS (
        |  SELECT CAST(sum(nd) AS DOUBLE) AS n,
        |    CAST(sum(nd * x1) AS DOUBLE) AS s1,
        |    CAST(sum(nd * x2) AS DOUBLE) AS s2,
        |    CAST(sum(nd * x1 * x1) AS DOUBLE) AS s11r,
        |    CAST(sum(nd * x1 * x2) AS DOUBLE) AS s12,
        |    CAST(sum(nd * x2 * x2) AS DOUBLE) AS s22r,
        |    CAST(sum(sc) AS DOUBLE) AS sy,
        |    CAST(sum(x1 * sc) AS DOUBLE) AS s1y,
        |    CAST(sum(x2 * sc) AS DOUBLE) AS s2y,
        |    CAST(sum(syy) AS HUGEINT) AS syyt,
        |    CAST(sum(nd) AS BIGINT) AS n_events
        |  FROM dd),
        |lam AS (
        |  SELECT CASE WHEN i = 0 THEN 0.0 ELSE pow(10.0, i) END
        |    AS lambda
        |  FROM (SELECT CAST(range AS BIGINT) AS i FROM range(0, 5)) t),
        |beta AS (
        |  SELECT lambda, n_events, sy, syyt,
        |    (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y)) /
        |    (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2)) AS b0,
        |    (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2)) /
        |    (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2)) AS b1,
        |    (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2)) /
        |    (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2)) AS b2
        |  FROM (SELECT m.*, l.lambda, m.s11r + l.lambda AS s11,
        |          m.s22r + l.lambda AS s22
        |        FROM m CROSS JOIN lam l) t),
        |sse AS (
        |  SELECT b.lambda, b.n_events, b.sy, b.syyt, b.b0, b.b1, b.b2,
        |    CAST(sum(CAST(round(d.nd * (b.b0 + b.b1 * d.x1 + b.b2 * d.x2)
        |        * (b.b0 + b.b1 * d.x1 + b.b2 * d.x2)
        |      - 2.0 * (b.b0 + b.b1 * d.x1 + b.b2 * d.x2) * d.sc)
        |      AS BIGINT)) AS BIGINT) AS sseq
        |  FROM dd d CROSS JOIN beta b
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7)
        |SELECT lambda,
        |  round(b0 / 100.0, 4) AS intercept_dollars,
        |  round(b1 / 100.0, 6) AS trend_per_day,
        |  round(b2 / 100.0, 4) AS weekend_effect,
        |  round(1.0 - CAST(sseq + syyt AS DOUBLE) /
        |    (CAST(syyt AS DOUBLE) - sy * sy / n_events), 6) AS r2
        |FROM sse ORDER BY lambda""".stripMargin)
}
