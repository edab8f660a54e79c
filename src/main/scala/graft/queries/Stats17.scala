package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.dec

/** Round-11 long-memory / volatility / location-scale batch: detrended
  * fluctuation analysis of the hourly revenue series, a GARCH(1,1) grid
  * fit with an exact integer-scaled variance recursion, and the Cucconi
  * two-sample location-scale rank test.
  *
  * Exactness strategy per operator: DFA's profile is the n-scaled
  * centered cumsum Yn_t = n·P_t − t·S (integers), per-window detrended
  * RSS is the closed form (C·A − B²)/(s·A) over integer window moments
  * quantized once per window; the GARCH recursion runs ENTIRELY in
  * integer arithmetic (tenth-scaled α/β, truncating div 10, per-step
  * log-likelihood quantized to micro-nats inside the fold), so the grid
  * scores are bit-identical in any engine; Cucconi rides the doubled
  * midrank trick (2R integers from value-domain prefix counts) with the
  * standardization done in fixed-order doubles on the one-row moment
  * frame.
  *
  * Scale shapes: all three collapse the corpus once (calendar frame /
  * value-domain histogram); the GARCH grid is a broadcast 9-row combo
  * table folding over one array row; nothing windows over a
  * corpus-growing frame.
  */
object Stats17 {
  private type Q = (SparkSession, String) => DataFrame

  private val HourUs = 3600000000L

  /** Hourly revenue-cents calendar frame with a 1-based position t
    * (≤720 rows: the fixture spans 30 days at every SF — the daily
    * frame is too short for the dyadic DFA scales). */
  private def hourlyT(s: SparkSession, d: String): DataFrame = {
    val agg = graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $HourUs").as("hr"))
      .agg(sum(round(col("value") * 100).cast(LongType)).as("x")))
    val span = agg.agg(min("hr").as("mn"), max("hr").as("mx"))
    span.select(col("mn"), explode(sequence(col("mn"), col("mx")))
        .as("hr"))
      .join(agg, Seq("hr"), "left")
      .select((col("hr") - col("mn") + 1L).as("t"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  val queries: Map[String, Q] = Map(
    // ---- Detrended fluctuation analysis (Peng et al. 1994): profile
    // Yn_t = n·P_t − t·S (exact integers from a GlobalRank prefix),
    // non-overlapping windows of s ∈ {4,8,16,32}, per-window linear
    // detrend RSS = (C·A − B²)/(s·A) from integer moments (quantized
    // once per window), F(s) = √(ΣRSS/(n_w·n²));
    // α = (−1.5v₄ − 0.5v₈ + 0.5v₁₆ + 1.5v₃₂)/(5·ln2) on v = ln F —
    // the exact OLS slope over the dyadic scales.
    "q_dfa" -> ((s, d) => {
      val dl = hourlyT(s, d)
      val pre = GlobalRank.withPrefixAggs(dl, Seq(col("t").asc),
        Seq(PrefixAgg("x", "p", inclusive = true)))
      val tot = dl.agg(count(lit(1)).as("n"), sum("x").as("sS"))
      val prof = pre.crossJoin(broadcast(tot))
        .select(col("t"), col("n"),
          (dec(col("n")) * col("p") - dec(col("t")) * col("sS"))
            .cast("decimal(38,0)").as("yn"))
      val scales = s.range(1).select(explode(
        array(lit(4L), lit(8L), lit(16L), lit(32L))).as("sc"))
      val wins = prof.crossJoin(broadcast(scales))
        .filter(expr("(t - 1) div sc") < expr("n div sc"))
        .groupBy(col("sc"), expr("(t - 1) div sc").as("w"))
        .agg(count(lit(1)).as("m"), sum("t").as("su"),
          sum("yn").as("sy"),
          sum(dec(col("t")) * col("t")).as("suu"),
          sum((dec(col("t")) * col("yn")).cast("decimal(38,0)"))
            .as("suy"),
          sum((col("yn") * col("yn")).cast("decimal(38,0)")).as("syy"))
      val a = (dec(col("m")) * col("suu") - dec(col("su")) * col("su"))
        .cast("decimal(38,0)")
      val b = (dec(col("m")) * col("suy") - dec(col("su")) * col("sy"))
        .cast("decimal(38,0)")
      val c = (dec(col("m")) * col("syy") - (col("sy") * col("sy"))
        .cast("decimal(38,0)")).cast("decimal(38,0)")
      val rss = wins.select(col("sc"),
        round((c * a - b * b).cast("decimal(38,0)").cast("double") /
          (col("m").cast("double") * a.cast("double")))
          .cast("decimal(38,0)").as("rssq"))
      val perS = rss.groupBy("sc")
        .agg(count(lit(1)).as("nw"), sum("rssq").as("srss"))
      val f = perS.crossJoin(broadcast(tot))
        .select(col("sc"), col("n"),
          sqrt(col("srss").cast("double") / col("nw").cast("double") /
            (col("n").cast("double") * col("n").cast("double")))
            .as("fs"))
      val one = f.groupBy("n").agg(
        sum(when(col("sc") === 4L, col("fs")).otherwise(0.0)).as("f4"),
        sum(when(col("sc") === 8L, col("fs")).otherwise(0.0)).as("f8"),
        sum(when(col("sc") === 16L, col("fs")).otherwise(0.0))
          .as("f16"),
        sum(when(col("sc") === 32L, col("fs")).otherwise(0.0))
          .as("f32"))
      one.select(col("n").as("n_points"),
        round(col("f4") / 100.0, 4).as("f4_dollars"),
        round(col("f8") / 100.0, 4).as("f8_dollars"),
        round(col("f16") / 100.0, 4).as("f16_dollars"),
        round(col("f32") / 100.0, 4).as("f32_dollars"),
        round((lit(-1.5) * log(col("f4")) - lit(0.5) * log(col("f8")) +
          lit(0.5) * log(col("f16")) + lit(1.5) * log(col("f32"))) /
          (lit(5.0) * log(lit(2.0))), 6).as("dfa_alpha"))
    }),

    // ---- GARCH(1,1) grid fit on hourly revenue differences: for each
    // tenth-scaled (α, β) pair the conditional-variance recursion
    // h' = ((10−a−b)·s² + a·r² + b·h) div 10 runs in EXACT integer
    // arithmetic (s² = Σr² div m, truncating div — identical in any
    // engine), and the Gaussian NLL Σ(ln h + r²/h) is quantized to
    // micro-nats per step INSIDE the fold. 9 broadcast combos × one
    // array row.
    "q_garch_grid" -> ((s, d) => {
      val dl = hourlyT(s, d)
      val rs = dl.agg(sort_array(collect_list(struct(col("t"),
          col("x")))).as("sx"))
        .select(expr(
          "transform(slice(sx, 2, greatest(size(sx) - 1, 0)), " +
            "(e, i) -> e.x - sx[i].x)").as("rs"))
        .select(col("rs"), size(col("rs")).cast(LongType).as("m"))
      // greatest(m, 1) only guards the degenerate empty input (ANSI
      // div-by-zero); m ≥ 1 on every fixture path
      val s2d = rs.select(col("rs"), col("m"),
        expr("aggregate(rs, cast(0 as bigint), " +
          "(acc, r) -> acc + r * r) div greatest(m, 1)").as("s2"))
      val combos = s.range(1)
        .select(explode(array(lit(1L), lit(2L), lit(3L))).as("a"))
        .crossJoin(s.range(1)
          .select(explode(array(lit(3L), lit(5L), lit(7L))).as("b")))
      val folded = s2d.crossJoin(broadcast(combos))
        .withColumn("st", aggregate(col("rs"),
          struct(col("s2").as("h"), lit(0L).as("nll")),
          (st, r) => {
            val h = greatest(st.getField("h"), lit(1L))
            // num promoted to decimal(38,0) and divided with integral
            // `div` — exact past the 2⁵³ double-ulp ceiling (num > 0,
            // so truncating div == DuckDB's floor `// 10`)
            val num = (dec(lit(10L) - col("a") - col("b")) * col("s2") +
              dec(col("a")) * (dec(r) * r).cast("decimal(38,0)") +
              dec(col("b")) * h).cast("decimal(38,0)")
            struct(
              greatest(call_function("div", num, lit(10L)), lit(1L))
                .as("h"),
              (st.getField("nll") +
                round(lit(1000000.0) * (log(h.cast("double")) +
                  r.cast("double") * r.cast("double") /
                    h.cast("double"))).cast(LongType)).as("nll"))
          }))
      folded.select(col("a"), col("b"), col("m").as("n_returns"),
          col("st").getField("nll").as("nll_micro"))
        .orderBy("a", "b")
    }),

    // ---- Cucconi test (1968) between the event-id parity arms:
    // doubled pooled midranks from the value-domain prefix
    // (2R = 2·prefix + cnt + 1), S4 = Σ(2R)² and S4' = Σ(2(N+1)−2R)²
    // over the test arm as exact integers; U, V, ρ and
    // C = (U² + V² − 2ρUV)/(2(1−ρ²)) in fixed-order doubles.
    "q_cucconi" -> ((s, d) => {
      val v = Tables.events(s, d).select(
        round(col("value") * 100).cast(LongType).as("c"),
        (col("event_id") % 2).as("g"))
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
        .withColumn("cp", col("c0") + col("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("cp", "pp", inclusive = false)))
        .withColumn("twoR", lit(2L) * col("pp") + col("cp") + 1L)
      val tot0 = pre.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      val mom = pre.crossJoin(broadcast(tot0))
        .select(col("n0"), col("n1"),
          (dec(col("c1")) * ((col("twoR")) * (col("twoR")))
            .cast("decimal(38,0)")).cast("decimal(38,0)").as("s4a"),
          (dec(col("c1")) *
            ((lit(2L) * (col("n0") + col("n1") + 1L) - col("twoR")) *
             (lit(2L) * (col("n0") + col("n1") + 1L) - col("twoR")))
            .cast("decimal(38,0)")).cast("decimal(38,0)").as("s4b"))
        .groupBy("n0", "n1")
        .agg(sum("s4a").as("s4"), sum("s4b").as("s4r"))
      val nD = col("n1").cast("double")
      val mD = col("n0").cast("double")
      val bigN = nD + mD
      val mean = nD * (bigN + 1.0) * (lit(2.0) * bigN + 1.0)
      val sd = sqrt(mD * nD * (bigN + 1.0) * (lit(2.0) * bigN + 1.0) *
        (lit(8.0) * bigN + 11.0) / 5.0)
      val u = (lit(6.0) * col("s4").cast("double") / 4.0 - mean) / sd
      val vv = (lit(6.0) * col("s4r").cast("double") / 4.0 - mean) / sd
      val rho = lit(2.0) * (bigN * bigN - 4.0) /
        ((lit(2.0) * bigN + 3.0) * (lit(8.0) * bigN + 11.0)) - 1.0
      mom.select(col("n0"), col("n1"), round(u, 6).as("u"),
        round(vv, 6).as("v"), round(rho, 6).as("rho"),
        round((u * u + vv * vv - lit(2.0) * rho * u * vv) /
          (lit(2.0) * (lit(1.0) - rho * rho)), 6).as("cucconi_c"))
    }))

  private val hourlyTSql: String =
    """SELECT dd.hr - span.mn + 1 AS t, coalesce(dl.x, 0) AS x
      |FROM (SELECT min(epoch_us(ts) // 3600000000) AS mn,
      |    max(epoch_us(ts) // 3600000000) AS mx FROM events) span,
      |  LATERAL (SELECT unnest(range(span.mn, span.mx + 1)) AS hr) dd
      |LEFT JOIN (
      |  SELECT epoch_us(ts) // 3600000000 AS hr,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1) dl ON dl.hr = dd.hr""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dfa" ->
      s"""WITH dl AS ($hourlyTSql),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sS FROM dl),
        |prof AS (
        |  SELECT t, n,
        |    CAST(n AS HUGEINT) * (sum(x) OVER (ORDER BY t)) -
        |      CAST(t AS HUGEINT) * sS AS yn
        |  FROM dl, tot),
        |wins AS (
        |  SELECT sc, (t - 1) // sc AS w, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(t) AS BIGINT) AS su, sum(yn) AS sy,
        |    sum(CAST(t AS HUGEINT) * t) AS suu,
        |    sum(CAST(t AS HUGEINT) * yn) AS suy,
        |    sum(yn * yn) AS syy
        |  FROM prof, (SELECT unnest([4, 8, 16, 32]) AS sc)
        |  WHERE (t - 1) // sc < n // sc
        |  GROUP BY sc, (t - 1) // sc),
        |rss AS (
        |  SELECT sc,
        |    CAST(round(CAST((CAST(m AS HUGEINT) * syy - sy * sy) *
        |        (CAST(m AS HUGEINT) * suu - CAST(su AS HUGEINT) * su) -
        |        (CAST(m AS HUGEINT) * suy - CAST(su AS HUGEINT) * sy) *
        |        (CAST(m AS HUGEINT) * suy - CAST(su AS HUGEINT) * sy)
        |        AS DOUBLE) /
        |      (CAST(m AS DOUBLE) *
        |        CAST(CAST(m AS HUGEINT) * suu -
        |          CAST(su AS HUGEINT) * su AS DOUBLE))) AS HUGEINT)
        |      AS rssq
        |  FROM wins),
        |pers AS (SELECT sc, CAST(count(*) AS BIGINT) AS nw,
        |    sum(rssq) AS srss FROM rss GROUP BY sc),
        |f AS (
        |  SELECT sc,
        |    sqrt(CAST(srss AS DOUBLE) / CAST(nw AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS fs, n
        |  FROM pers, tot)
        |SELECT n AS n_points,
        |  round(sum(CASE WHEN sc = 4 THEN fs ELSE 0 END) / 100.0, 4)
        |    AS f4_dollars,
        |  round(sum(CASE WHEN sc = 8 THEN fs ELSE 0 END) / 100.0, 4)
        |    AS f8_dollars,
        |  round(sum(CASE WHEN sc = 16 THEN fs ELSE 0 END) / 100.0, 4)
        |    AS f16_dollars,
        |  round(sum(CASE WHEN sc = 32 THEN fs ELSE 0 END) / 100.0, 4)
        |    AS f32_dollars,
        |  round((-1.5 * ln(sum(CASE WHEN sc = 4 THEN fs ELSE 0 END)) -
        |    0.5 * ln(sum(CASE WHEN sc = 8 THEN fs ELSE 0 END)) +
        |    0.5 * ln(sum(CASE WHEN sc = 16 THEN fs ELSE 0 END)) +
        |    1.5 * ln(sum(CASE WHEN sc = 32 THEN fs ELSE 0 END))) /
        |    (5.0 * ln(2.0)), 6) AS dfa_alpha
        |FROM f GROUP BY n""".stripMargin,

    "q_garch_grid" ->
      s"""WITH dl AS ($hourlyTSql),
        |sx AS (SELECT list(x ORDER BY t) AS sx FROM dl),
        |rs AS (
        |  SELECT list_transform(range(2, len(sx) + 1),
        |      i -> sx[i] - sx[i - 1]) AS rs,
        |    CAST(len(sx) - 1 AS BIGINT) AS m
        |  FROM sx),
        |s2 AS (
        |  SELECT rs, m,
        |    list_reduce(list_transform(rs, r -> r * r),
        |      (p, q) -> p + q) // m AS s2
        |  FROM rs),
        |combos AS (SELECT a, b
        |  FROM (SELECT unnest([1, 2, 3]) AS a),
        |       (SELECT unnest([3, 5, 7]) AS b)),
        |rec AS (
        |  WITH RECURSIVE r AS (
        |    SELECT a, b, rs, m, s2, 0 AS i,
        |      CAST(s2 AS BIGINT) AS h, CAST(0 AS BIGINT) AS nll
        |    FROM s2, combos
        |    UNION ALL
        |    SELECT a, b, rs, m, s2, i + 1,
        |      greatest(((10 - a - b) * s2 +
        |        a * rs[i + 1] * rs[i + 1] +
        |        b * greatest(h, 1)) // 10, 1),
        |      nll + CAST(round(1000000.0 *
        |        (ln(CAST(greatest(h, 1) AS DOUBLE)) +
        |         CAST(rs[i + 1] AS DOUBLE) * CAST(rs[i + 1] AS DOUBLE) /
        |         CAST(greatest(h, 1) AS DOUBLE))) AS BIGINT)
        |    FROM r WHERE i < m)
        |  SELECT a, b, m, nll FROM r WHERE i = m)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  m AS n_returns, CAST(nll AS BIGINT) AS nll_micro
        |FROM rec ORDER BY a, b""".stripMargin,

    "q_cucconi" ->
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
        |      + c0 + c1 + 1 AS twoR
        |  FROM h),
        |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c1) AS BIGINT) AS n1 FROM h),
        |mom AS (
        |  SELECT n0, n1,
        |    sum(CAST(c1 AS HUGEINT) * (twoR * twoR)) AS s4,
        |    sum(CAST(c1 AS HUGEINT) *
        |      ((2 * (n0 + n1 + 1) - twoR) *
        |       (2 * (n0 + n1 + 1) - twoR))) AS s4r
        |  FROM p, t GROUP BY n0, n1)
        |SELECT n0, n1,
        |  round((6.0 * CAST(s4 AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0), 6) AS u,
        |  round((6.0 * CAST(s4r AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0), 6) AS v,
        |  round(2.0 * ((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) - 4.0) /
        |    ((2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 3.0) *
        |     (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0))
        |    - 1.0, 6) AS rho,
        |  round((((6.0 * CAST(s4 AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0)) *
        |   (6.0 * CAST(s4 AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0) +
        |   ((6.0 * CAST(s4r AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0)) *
        |   (6.0 * CAST(s4r AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0) -
        |   2.0 * (2.0 * ((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) - 4.0) /
        |    ((2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 3.0) *
        |     (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0))
        |    - 1.0) *
        |   ((6.0 * CAST(s4 AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0)) *
        |   ((6.0 * CAST(s4r AS DOUBLE) / 4.0 -
        |    CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0))
        |    / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) + 1.0) *
        |      (2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0) *
        |      (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0)
        |      / 5.0))) /
        |  (2.0 * (1.0 -
        |   (2.0 * ((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) - 4.0) /
        |    ((2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 3.0) *
        |     (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0))
        |    - 1.0) *
        |   (2.0 * ((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) *
        |      (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) - 4.0) /
        |    ((2.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 3.0) *
        |     (8.0 * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 11.0))
        |    - 1.0))), 6) AS cucconi_c
        |FROM mom""".stripMargin)
}
