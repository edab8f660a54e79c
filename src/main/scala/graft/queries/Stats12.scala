package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.dec

/** Round-11 time-series / robust-inference batch: a local-level Kalman
  * filter, the Lo–MacKinlay variance-ratio test, Tukey's HSD post-hoc,
  * Haar wavelet energy by level, Yuen's trimmed-means t, and the
  * Fligner–Killeen scale test.
  *
  * House disciplines: ONE corpus collapse per query (the daily/hourly
  * calendar frame or the (type, cents) value-domain histogram); every
  * sequential recursion folds over a CALENDAR-BOUNDED frame (≤30 daily
  * / ≤256 hourly points at any corpus size — the documented
  * single-partition exemption class); rank prefixes run over the
  * bounded value domain, never corpus rows; squares route through
  * decimal(38,0) ↔ HUGEINT; Φ⁻¹ is the shared A&S 26.2.23 rational
  * polynomial with identical literals in both engines.
  *
  * Reference analog: bacalhau ships these as opaque python/R jobs
  * (docs/examples time-series notebooks); re-expressed natively.
  */
object Stats12 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs  = 86400000000L
  private val HourUs = 3600000000L

  /** Φ⁻¹ for u ∈ (0.5, 1) via Abramowitz & Stegun 26.2.23 (|ε| <
    * 4.5e-4; parity holds because BOTH engines evaluate the identical
    * rational polynomial): t = sqrt(−2·ln(1−u)),
    * z = t − (c₀+c₁t+c₂t²)/(1+d₁t+d₂t²+d₃t³). */
  private def phiInvUpper(u: Column): Column = {
    val t = sqrt(lit(-2.0) * log(lit(1.0) - u))
    t - (lit(2.515517) + lit(0.802853) * t + lit(0.010328) * t * t) /
      (lit(1.0) + lit(1.432788) * t + lit(0.189269) * t * t +
        lit(0.001308) * t * t * t)
  }

  /** Daily event counts — the ≤O(calendar) frame the sequential
    * monitors fold over. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(count(lit(1)).as("x")))

  /** (event_type, cents) projection — one scan, exact integers. */
  private def evCents(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.cached(Tables.events(s, d)
      .transform(Tables.fanoutReady)
      .select(col("event_type"),
        round(col("value") * 100).cast(LongType).as("c")))

  val queries: Map[String, Q] = Map(
    // ---- local-level Kalman filter (fixed Q=25 process / R=400
    // observation variance) over the daily count series: x̂ₜ = x̂ₜ₋₁ +
    // Kₜ(yₜ − x̂ₜ₋₁), Kₜ = P⁻/(P⁻+R), P⁻ = P+Q — the optimal recursive
    // smoother the EWMA family approximates with a fixed gain. The
    // recursion folds per-row over the ordered calendar prefix
    // (≤30 doubles — the EWMA/Holt fold pattern); the oracle runs the
    // SAME arithmetic sequentially in a recursive CTE, so every IEEE
    // op pairs up and the filtered levels match bitwise.
    "q_kalman_1d" -> ((s, d) => {
      val daily = dailyCounts(s, d)
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val folded = daily.withColumn("xs", collect_list("x").over(w))
        .withColumn("st", aggregate(col("xs"),
          struct(lit(0.0).as("xh"), lit(0.0).as("p"),
            lit(false).as("go")),
          (acc, y) => {
            val yd = y.cast("double")
            val ppred = acc.getField("p") + lit(25.0)
            val k = ppred / (ppred + lit(400.0))
            struct(
              when(!acc.getField("go"), yd)
                .otherwise(acc.getField("xh") +
                  k * (yd - acc.getField("xh"))).as("xh"),
              when(!acc.getField("go"), lit(400.0))
                .otherwise((lit(1.0) - k) * ppred).as("p"),
              lit(true).as("go"))
          }))
      folded.select(col("day"), col("x"),
          round(col("st.xh"), 4).as("level"),
          round(col("st.p"), 4).as("p_var"))
        .orderBy("day")
    }),

    // ---- Lo–MacKinlay variance-ratio test VR(5) on daily revenue:
    // under a random walk the variance of 5-day differences is 5× the
    // 1-day variance; VR ≠ 1 flags mean-reversion (<1) or trending
    // (>1). Both difference families come off ONE ordered calendar
    // window; all moments are exact integers (cents through HUGEINT),
    // so the doubles agree across engines. z uses the homoskedastic
    // asymptotic sqrt(2(2k−1)(k−1)/(3k·n)) = sqrt(4.8/n) for k=5.
    "q_variance_ratio" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("r"))
      val w = Window.orderBy("day")
      val diffs = daily
        .withColumn("d1", col("r") - lag("r", 1).over(w))
        .withColumn("d5", col("r") - lag("r", 5).over(w))
      val m = diffs.agg(
        count("d1").as("m1"), sum("d1").as("sc1"),
        sum((dec(col("d1")) * col("d1")).cast("decimal(38,0)"))
          .as("scc1"),
        count("d5").as("m5"), sum("d5").as("sc5"),
        sum((dec(col("d5")) * col("d5")).cast("decimal(38,0)"))
          .as("scc5"))
      val m1d = col("m1").cast("double")
      val m5d = col("m5").cast("double")
      val var1 = (col("scc1").cast("double") -
        col("sc1").cast("double") * col("sc1").cast("double") / m1d) / m1d
      val var5 = (col("scc5").cast("double") -
        col("sc5").cast("double") * col("sc5").cast("double") / m5d) / m5d
      val vr = var5 / (lit(5.0) * var1)
      val ok = col("m1") > 0 && col("m5") > 0 && var1 > 0.0
      m.select(col("m1").as("n_diffs"), col("m5").as("n_kdiffs"),
        when(ok, round(vr, 4)).as("vr"),
        when(ok, round((vr - lit(1.0)) / sqrt(lit(4.8) / m1d), 4))
          .as("z"))
    }),

    // ---- Tukey's HSD (Tukey–Kramer) post-hoc after one-way ANOVA on
    // value cents by event type: studentized range q for every type
    // pair against the k=5, df=∞, α=.05 critical 3.858. Group moments
    // are exact integers off one scan; the 10-pair frame is a
    // broadcast self-join of the 5-row aggregate.
    "q_tukey_hsd" -> ((s, d) => {
      val g = evCents(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum((dec(col("c")) * col("c")).cast("decimal(38,0)"))
            .as("scc"))
      val per = graft.CacheScope.cached(g.select(col("event_type"),
        col("n"), col("sc"),
        (col("scc").cast("double") -
          col("sc").cast("double") * col("sc").cast("double") /
            col("n").cast("double")).as("ssw")))
      val tot = per.agg(sum("n").as("nn"), count(lit(1)).as("k"),
        sum("ssw").as("sswt"))
      val a = per.toDF("ti", "ni", "si", "wi")
      val b = per.toDF("tj", "nj", "sj", "wj")
      val pairs = a.join(broadcast(b), col("ti") < col("tj"))
        .crossJoin(broadcast(tot))
      val msw = col("sswt") /
        (col("nn").cast("double") - col("k").cast("double"))
      val mi = col("si").cast("double") / col("ni").cast("double")
      val mj = col("sj").cast("double") / col("nj").cast("double")
      val q = abs(mi - mj) / sqrt(msw / lit(2.0) *
        (lit(1.0) / col("ni").cast("double") +
          lit(1.0) / col("nj").cast("double")))
      pairs.select(col("ti"), col("tj"), col("ni"), col("nj"),
          round(mi - mj, 4).as("mean_diff_cents"),
          round(q, 4).as("q_stat"), (q > 3.858).as("significant"))
        .orderBy("ti", "tj")
    }),

    // ---- Haar wavelet energy by level over the first 256 non-empty
    // hourly buckets: 8 unnormalized analysis levels (detail = even −
    // odd, approx = even + odd on the rank-paired frame), energy =
    // Σdetail² per level through HUGEINT. Multi-resolution variance:
    // which time scale carries the traffic's structure? The corpus
    // collapses ONCE to the ≤256-row hourly frame; each level is one
    // tiny keyed aggregate on a halving frame.
    "q_haar_energy" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(expr(s"ts_us div $HourUs").as("hr"))
        .agg(count(lit(1)).as("x"))
      var cur = hourly
        .withColumn("rn",
          (row_number().over(Window.orderBy("hr")) - 1).cast(LongType))
        .filter(col("rn") < 256)
        .select(col("rn"), col("x").as("a"))
      var out: DataFrame = null
      for (lev <- 1 to 8) {
        val paired = cur.groupBy(expr("rn div 2").as("g"))
          .agg(sum(when(col("rn") % 2 === 0, col("a"))
            .otherwise(-col("a"))).as("det"),
            sum("a").as("a"))
        val e = paired.agg(lit(lev).as("level"),
          count(lit(1)).as("n_coeffs"),
          sum((dec(col("det")) * col("det")).cast("decimal(38,0)"))
            .cast("double").as("energy"))
        out = if (out == null) e else out.unionAll(e)
        cur = paired.select(col("g").as("rn"), col("a"))
      }
      out.orderBy("level")
    }),

    // ---- Yuen's trimmed-means t (click vs purchase values, 20% trim):
    // the robust two-sample location test — trimmed means compared
    // with winsorized variances. Everything comes off the two per-type
    // value-domain histograms: the g-th order statistics are prefix
    // lookups, the trimmed/winsorized sums are exact integer
    // clip-window sums (min(cum, n−g) − max(cumlt, g) copies of each
    // value) — no corpus sort, no per-row trimming pass.
    "q_yuen_t" -> ((s, d) => {
      val hist = evCents(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type", "c").agg(count(lit(1)).as("f"))
      val wt = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist
        .withColumn("cumlt", coalesce(sum("f").over(wt), lit(0L)))
      val n = hist.groupBy("event_type").agg(sum("f").as("n"))
      val j = cum.join(broadcast(n), "event_type")
        .withColumn("g", (col("n") / 5L).cast(LongType))
        .withColumn("cumle", col("cumlt") + col("f"))
      val cuts = j.groupBy("event_type")
        .agg(min(when(col("cumle") >= col("g") + 1, col("c")))
          .as("c_lo"),
          min(when(col("cumle") >= col("n") - col("g"), col("c")))
            .as("c_hi"))
      val inwin = j
        .withColumn("fa",
          greatest(least(col("cumle"), col("n") - col("g")) -
            greatest(col("cumlt"), col("g")), lit(0L)))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("g").as("g"),
          sum((dec(col("fa")) * col("c")).cast("decimal(38,0)"))
            .as("tsum"),
          sum((dec(col("fa")) * col("c") * col("c"))
            .cast("decimal(38,0)")).as("tss"))
      val per = graft.CacheScope.cached(
        inwin.join(broadcast(cuts), "event_type")
          .select(col("event_type"), col("n"), col("g"),
            (col("n") - lit(2L) * col("g")).as("h"),
            (col("tsum").cast("double") +
              col("g").cast("double") *
                (col("c_lo") + col("c_hi")).cast("double")).as("ws"),
            (col("tss").cast("double") + col("g").cast("double") *
              (dec(col("c_lo")) * col("c_lo") +
                dec(col("c_hi")) * col("c_hi")).cast("double"))
              .as("wss"),
            (col("tsum").cast("double") / (col("n") - lit(2L) * col("g"))
              .cast("double")).as("tm")))
      val a = per.toDF("t1", "n1", "g1", "h1", "ws1", "wss1", "tm1")
        .filter(col("t1") === "click")
      val b = per.toDF("t2", "n2", "g2", "h2", "ws2", "wss2", "tm2")
        .filter(col("t2") === "purchase")
      def dpart(n: Column, h: Column, ws: Column, wss: Column) = {
        val nd = n.cast("double"); val hd = h.cast("double")
        val swv = (wss - ws * ws / nd) / (nd - lit(1.0))
        (nd - lit(1.0)) * swv / (hd * (hd - lit(1.0)))
      }
      a.crossJoin(broadcast(b)).select(
        col("t1"), col("t2"), col("n1"), col("n2"),
        round(col("tm1"), 4).as("tmean1"),
        round(col("tm2"), 4).as("tmean2"),
        round((col("tm1") - col("tm2")) /
          sqrt(dpart(col("n1"), col("h1"), col("ws1"), col("wss1")) +
            dpart(col("n2"), col("h2"), col("ws2"), col("wss2"))), 4)
          .as("t_stat"))
    }),

    // ---- Fligner–Killeen scale test: ranks of |c − median_type|
    // pooled across types, scored by a(r) = Φ⁻¹(½ + r/(2(N+1))), then
    // χ² = Σnᵍ(Āᵍ−Ā)²/V against χ²(4) 5% = 9.488. Per-type medians
    // come off the per-type value histograms; deviations quantize to
    // exact half-cents (the Brown–Forsythe trick); the pooled rank
    // prefix runs over the bounded deviation domain with doubled
    // average ranks 2R = 2·cumlt + m + 1 kept integer.
    "q_fligner" -> ((s, d) => {
      val ev = evCents(s, d)
      val med = ev.groupBy("event_type", "c")
        .agg(count(lit(1)).as("f"))
        .groupBy("event_type")
        .agg(expr("percentile(c, 0.5, f)").as("med"))
      val devs = graft.CacheScope.cached(
        ev.join(broadcast(med), Seq("event_type"))
          .select(col("event_type"),
            round(lit(2.0) * abs(col("c") - col("med")))
              .cast(LongType).as("z2"))
          .groupBy("event_type", "z2").agg(count(lit(1)).as("fg")))
      val dom = devs.groupBy("z2").agg(sum("fg").as("m"))
      val wd = Window.orderBy("z2")
        .rowsBetween(Window.unboundedPreceding, -1)
      val nTot = dom.agg(sum("m").as("nn"))
      val scored = graft.CacheScope.cached(dom
        .withColumn("cumlt", coalesce(sum("m").over(wd), lit(0L)))
        .crossJoin(broadcast(nTot))
        .select(col("z2"), col("m"), col("nn"),
          phiInvUpper((lit(2.0) * (col("nn").cast("double") + 1.0) +
            (lit(2L) * col("cumlt") + col("m") + 1L).cast("double")) /
            (lit(4.0) * (col("nn").cast("double") + 1.0))).as("a")))
      val glob = scored.agg(max("nn").as("nn"),
        sum(col("m").cast("double") * col("a")).as("sa"),
        sum(col("m").cast("double") * col("a") * col("a")).as("saa"))
      val perType = devs.join(scored.select("z2", "a"), "z2")
        .groupBy("event_type")
        .agg(sum("fg").as("n"),
          sum(col("fg").cast("double") * col("a")).as("sag"))
      val chi = perType.crossJoin(broadcast(glob))
        .select(col("event_type"), col("n"), col("sag"), col("nn"),
          col("sa"), col("saa"))
        .withColumn("abar_g",
          col("sag") / col("n").cast("double"))
        .withColumn("abar", col("sa") / col("nn").cast("double"))
      val stat = chi.agg(
        (sum(col("n").cast("double") *
          (col("abar_g") - col("abar")) *
          (col("abar_g") - col("abar"))) /
          (max(col("saa") - col("nn").cast("double") *
            (col("sa") / col("nn").cast("double")) *
            (col("sa") / col("nn").cast("double"))) /
            (max(col("nn")).cast("double") - 1.0))).as("chi2"))
      chi.select(col("event_type"), col("n"),
          round(col("abar_g"), 4).as("mean_score"))
        .crossJoin(broadcast(stat))
        .select(col("event_type"), col("n"), col("mean_score"),
          round(col("chi2"), 4).as("chi2_stat"),
          (col("chi2") > 9.488).as("scales_differ"))
        .orderBy("event_type")
    }))

  val oracle: Map[String, String] = Map(
    "q_kalman_1d" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |ord AS MATERIALIZED (
        |  SELECT day, x, row_number() OVER (ORDER BY day) AS rn
        |  FROM daily),
        |kal AS (
        |  WITH RECURSIVE r AS (
        |    SELECT rn, day, x, CAST(x AS DOUBLE) AS xh,
        |      CAST(400.0 AS DOUBLE) AS p
        |    FROM ord WHERE rn = 1
        |    UNION ALL
        |    SELECT o.rn, o.day, o.x,
        |      r.xh + ((r.p + 25.0) / ((r.p + 25.0) + 400.0)) *
        |        (CAST(o.x AS DOUBLE) - r.xh),
        |      (1.0 - (r.p + 25.0) / ((r.p + 25.0) + 400.0)) *
        |        (r.p + 25.0)
        |    FROM r JOIN ord o ON o.rn = r.rn + 1)
        |  SELECT * FROM r)
        |SELECT day, x, round(xh, 4) AS level, round(p, 4) AS p_var
        |FROM kal ORDER BY day""".stripMargin,
    "q_variance_ratio" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS r
        |  FROM events GROUP BY 1),
        |diffs AS (
        |  SELECT r - lag(r, 1) OVER (ORDER BY day) AS d1,
        |    r - lag(r, 5) OVER (ORDER BY day) AS d5
        |  FROM daily),
        |m AS (
        |  SELECT CAST(count(d1) AS BIGINT) AS m1,
        |    CAST(sum(d1) AS BIGINT) AS sc1,
        |    sum(CAST(d1 AS HUGEINT) * d1) AS scc1,
        |    CAST(count(d5) AS BIGINT) AS m5,
        |    CAST(sum(d5) AS BIGINT) AS sc5,
        |    sum(CAST(d5 AS HUGEINT) * d5) AS scc5
        |  FROM diffs)
        |SELECT m1 AS n_diffs, m5 AS n_kdiffs,
        |  CASE WHEN m1 > 0 AND m5 > 0 AND
        |    (CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) *
        |      CAST(sc1 AS DOUBLE) / CAST(m1 AS DOUBLE)) /
        |      CAST(m1 AS DOUBLE) > 0 THEN
        |  round(((CAST(scc5 AS DOUBLE) - CAST(sc5 AS DOUBLE) *
        |      CAST(sc5 AS DOUBLE) / CAST(m5 AS DOUBLE)) /
        |      CAST(m5 AS DOUBLE)) /
        |    (5.0 * (CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) *
        |      CAST(sc1 AS DOUBLE) / CAST(m1 AS DOUBLE)) /
        |      CAST(m1 AS DOUBLE)), 4) END AS vr,
        |  CASE WHEN m1 > 0 AND m5 > 0 AND
        |    (CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) *
        |      CAST(sc1 AS DOUBLE) / CAST(m1 AS DOUBLE)) /
        |      CAST(m1 AS DOUBLE) > 0 THEN
        |  round((((CAST(scc5 AS DOUBLE) - CAST(sc5 AS DOUBLE) *
        |      CAST(sc5 AS DOUBLE) / CAST(m5 AS DOUBLE)) /
        |      CAST(m5 AS DOUBLE)) /
        |    (5.0 * (CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) *
        |      CAST(sc1 AS DOUBLE) / CAST(m1 AS DOUBLE)) /
        |      CAST(m1 AS DOUBLE)) - 1.0) /
        |    sqrt(4.8 / CAST(m1 AS DOUBLE)), 4) END AS z
        |FROM m""".stripMargin,
    "q_tukey_hsd" ->
      """WITH g AS MATERIALIZED (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS sc,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) *
        |      CAST(round(value * 100) AS BIGINT)) AS scc
        |  FROM events GROUP BY 1),
        |per AS MATERIALIZED (
        |  SELECT event_type, n, sc,
        |    CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) *
        |      CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS ssw
        |  FROM g),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS k, sum(ssw) AS sswt
        |  FROM per)
        |SELECT a.event_type AS ti, b.event_type AS tj,
        |  a.n AS ni, b.n AS nj,
        |  round(CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) -
        |    CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE), 4)
        |    AS mean_diff_cents,
        |  round(abs(CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) -
        |    CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE)) /
        |    sqrt(sswt / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) /
        |      2.0 * (1.0 / CAST(a.n AS DOUBLE) +
        |        1.0 / CAST(b.n AS DOUBLE))), 4) AS q_stat,
        |  abs(CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) -
        |    CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE)) /
        |    sqrt(sswt / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) /
        |      2.0 * (1.0 / CAST(a.n AS DOUBLE) +
        |        1.0 / CAST(b.n AS DOUBLE))) > 3.858 AS significant
        |FROM per a JOIN per b ON a.event_type < b.event_type
        |CROSS JOIN tot
        |ORDER BY ti, tj""".stripMargin,
    "q_haar_energy" -> {
      val levels = (1 to 8).map { lev =>
        s"""d$lev AS MATERIALIZED (
           |  SELECT rn // 2 AS g,
           |    CAST(sum(CASE WHEN rn % 2 = 0 THEN a ELSE -a END)
           |      AS BIGINT) AS det,
           |    CAST(sum(a) AS BIGINT) AS a
           |  FROM h${lev - 1} GROUP BY 1),
           |h$lev AS (SELECT g AS rn, a FROM d$lev),
           |e$lev AS (
           |  SELECT $lev AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
           |    CAST(sum(CAST(det AS HUGEINT) * det) AS DOUBLE) AS energy
           |  FROM d$lev)""".stripMargin
      }.mkString(",\n")
      val union = (1 to 8)
        .map(l => s"SELECT * FROM e$l").mkString("\nUNION ALL ")
      s"""WITH hourly AS MATERIALIZED (
         |  SELECT epoch_us(ts) // 3600000000 AS hr,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1),
         |h0 AS MATERIALIZED (
         |  SELECT rn, x AS a FROM (
         |    SELECT row_number() OVER (ORDER BY hr) - 1 AS rn, x
         |    FROM hourly) t
         |  WHERE rn < 256),
         |$levels
         |$union
         |ORDER BY level""".stripMargin
    },
    "q_yuen_t" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |hist AS MATERIALIZED (
        |  SELECT event_type, c, CAST(count(*) AS BIGINT) AS f
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, c, f,
        |    CAST(coalesce(sum(f) OVER (PARTITION BY event_type
        |      ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS cumlt
        |  FROM hist),
        |n AS (SELECT event_type, CAST(sum(f) AS BIGINT) AS n
        |      FROM hist GROUP BY 1),
        |j AS MATERIALIZED (
        |  SELECT cum.*, n.n, n.n // 5 AS g, cumlt + f AS cumle
        |  FROM cum JOIN n USING (event_type)),
        |cuts AS (
        |  SELECT event_type,
        |    min(CASE WHEN cumle >= g + 1 THEN c END) AS c_lo,
        |    min(CASE WHEN cumle >= n - g THEN c END) AS c_hi
        |  FROM j GROUP BY 1),
        |inwin AS (
        |  SELECT event_type, max(n) AS n, max(g) AS g,
        |    sum(CAST(greatest(least(cumle, n - g) -
        |      greatest(cumlt, g), 0) AS HUGEINT) * c) AS tsum,
        |    sum(CAST(greatest(least(cumle, n - g) -
        |      greatest(cumlt, g), 0) AS HUGEINT) * c * c) AS tss
        |  FROM j GROUP BY 1),
        |per AS MATERIALIZED (
        |  SELECT i.event_type, i.n, i.g, i.n - 2 * i.g AS h,
        |    CAST(i.tsum AS DOUBLE) + CAST(i.g AS DOUBLE) *
        |      CAST(ct.c_lo + ct.c_hi AS DOUBLE) AS ws,
        |    CAST(i.tss AS DOUBLE) + CAST(i.g AS DOUBLE) *
        |      CAST(CAST(ct.c_lo AS HUGEINT) * ct.c_lo +
        |        CAST(ct.c_hi AS HUGEINT) * ct.c_hi AS DOUBLE) AS wss,
        |    CAST(i.tsum AS DOUBLE) / CAST(i.n - 2 * i.g AS DOUBLE)
        |      AS tm
        |  FROM inwin i JOIN cuts ct USING (event_type))
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  a.n AS n1, b.n AS n2,
        |  round(a.tm, 4) AS tmean1, round(b.tm, 4) AS tmean2,
        |  round((a.tm - b.tm) / sqrt(
        |    (CAST(a.n AS DOUBLE) - 1.0) *
        |      ((a.wss - a.ws * a.ws / CAST(a.n AS DOUBLE)) /
        |        (CAST(a.n AS DOUBLE) - 1.0)) /
        |      (CAST(a.h AS DOUBLE) * (CAST(a.h AS DOUBLE) - 1.0)) +
        |    (CAST(b.n AS DOUBLE) - 1.0) *
        |      ((b.wss - b.ws * b.ws / CAST(b.n AS DOUBLE)) /
        |        (CAST(b.n AS DOUBLE) - 1.0)) /
        |      (CAST(b.h AS DOUBLE) * (CAST(b.h AS DOUBLE) - 1.0))), 4)
        |    AS t_stat
        |FROM per a JOIN per b
        |  ON a.event_type = 'click' AND b.event_type = 'purchase'"""
        .stripMargin,
    "q_fligner" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |med AS MATERIALIZED (
        |  SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM ev GROUP BY 1),
        |devs AS MATERIALIZED (
        |  SELECT ev.event_type,
        |    CAST(round(2.0 * abs(ev.c - med.med)) AS BIGINT) AS z2,
        |    CAST(count(*) AS BIGINT) AS fg
        |  FROM ev JOIN med USING (event_type)
        |  GROUP BY 1, 2),
        |dom AS MATERIALIZED (
        |  SELECT z2, CAST(sum(fg) AS BIGINT) AS m
        |  FROM devs GROUP BY 1),
        |ntot AS (SELECT CAST(sum(m) AS BIGINT) AS nn FROM dom),
        |scored AS MATERIALIZED (
        |  SELECT z2, m, nn,
        |    (SELECT tt - (2.515517 + 0.802853 * tt + 0.010328 * tt * tt)
        |      / (1.0 + 1.432788 * tt + 0.189269 * tt * tt +
        |         0.001308 * tt * tt * tt)
        |     FROM (SELECT sqrt(-2.0 * ln(1.0 -
        |       (2.0 * (CAST(nn AS DOUBLE) + 1.0) +
        |        CAST(2 * cumlt + m + 1 AS DOUBLE)) /
        |       (4.0 * (CAST(nn AS DOUBLE) + 1.0)))) AS tt) s) AS a
        |  FROM (
        |    SELECT z2, m, nn,
        |      CAST(coalesce(sum(m) OVER (ORDER BY z2
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS cumlt
        |    FROM dom CROSS JOIN ntot) t),
        |gl AS (
        |  SELECT max(nn) AS nn,
        |    sum(CAST(m AS DOUBLE) * a) AS sa,
        |    sum(CAST(m AS DOUBLE) * a * a) AS saa
        |  FROM scored),
        |pert AS (
        |  SELECT d.event_type, CAST(sum(d.fg) AS BIGINT) AS n,
        |    sum(CAST(d.fg AS DOUBLE) * s.a) AS sag
        |  FROM devs d JOIN scored s USING (z2)
        |  GROUP BY 1),
        |chi AS (
        |  SELECT sum(CAST(n AS DOUBLE) *
        |      (sag / CAST(n AS DOUBLE) - sa / CAST(nn AS DOUBLE)) *
        |      (sag / CAST(n AS DOUBLE) - sa / CAST(nn AS DOUBLE))) /
        |    (max(saa - CAST(nn AS DOUBLE) *
        |        (sa / CAST(nn AS DOUBLE)) *
        |        (sa / CAST(nn AS DOUBLE))) /
        |      (CAST(max(nn) AS DOUBLE) - 1.0)) AS chi2
        |  FROM pert CROSS JOIN gl)
        |SELECT p.event_type, p.n,
        |  round(p.sag / CAST(p.n AS DOUBLE), 4) AS mean_score,
        |  round(c.chi2, 4) AS chi2_stat,
        |  c.chi2 > 9.488 AS scales_differ
        |FROM pert p CROSS JOIN chi c
        |ORDER BY p.event_type""".stripMargin)
}
