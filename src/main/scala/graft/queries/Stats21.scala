package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.{dec, arms}

/** Round-12 two-sample effect-size / location-scale completion between
  * the event-id parity arms: Mood's median test, Cliff's delta,
  * Cohen's d (with Hedges' g), and the Siegel–Tukey scale test.
  *
  * Exactness strategy: Mood and Cliff run entirely on the cent-value
  * histogram — the pooled LOWER median is the smallest value whose
  * inclusive prefix count reaches ⌈N/2⌉ (a deterministic order
  * statistic, broadcast back as one row), and Cliff's concordance
  * counts Σc1·pp0 / Σc1·(n0−pp0−c0) are exact decimal(38,0) integers
  * off the same prefix pass; Cohen's d reduces to per-arm (n, Σc, Σc²)
  * decimal sums; Siegel–Tukey assigns the classical zigzag scores in
  * closed form from the unique pooled rank (ties broken by event_id —
  * the house deterministic-rank convention, documented) and
  * standardizes with the same conditionally-exact moments as q_lepage
  * (E = n₁T/N, Var = n₁n₀/(N(N−1))·(Q−T²/N) over the observed score
  * multiset).
  *
  * Scale shapes: histogram collapses + one GlobalRank pass each;
  * the only fan-ins are broadcast one-row aggregates. Nothing windows
  * outside GlobalRank's two-phase routing.
  */
object Stats21 {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- Mood's median test: 2×2 chi-square of (above pooled median)
    // × arm, fixed-margin form χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)).
    // The pooled LOWER median comes off the histogram prefix as a
    // 1-row TakeOrdered broadcast; all four cells are exact integers.
    "q_mood_median" -> ((s, d) => {
      val v = arms(s, d)
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
        .withColumn("cp", col("c0") + col("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("cp", "pi", inclusive = true)))
      val tot = hist.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      val med = pre.crossJoin(broadcast(tot))
        .filter(col("pi") * 2L >= col("n0") + col("n1"))
        .orderBy(col("c").asc).limit(1).select(col("c").as("med"))
      val cells = v.crossJoin(broadcast(med))
        .agg(
          sum(when(col("g") === 0L && col("c") > col("med"), 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("g") === 0L && col("c") <= col("med"), 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("g") === 1L && col("c") > col("med"), 1L)
            .otherwise(0L)).as("cc"),
          sum(when(col("g") === 1L && col("c") <= col("med"), 1L)
            .otherwise(0L)).as("dd"),
          max(col("med")).as("med"))
      val aD = col("a").cast("double"); val bD = col("b").cast("double")
      val cD = col("cc").cast("double"); val dD = col("dd").cast("double")
      val nD = aD + bD + cD + dD
      val den = (aD + bD) * (cD + dD) * (aD + cD) * (bD + dD)
      cells.select(
        round(col("med").cast("double") / 100.0, 2).as("median_dollars"),
        col("a").as("n0_above"), col("b").as("n0_below"),
        col("cc").as("n1_above"), col("dd").as("n1_below"),
        round(when(den <= 0.0, lit(null).cast("double"))
          .otherwise(nD * (aD * dD - bD * cD) * (aD * dD - bD * cD) /
            den), 6).as("chi2"))
    }),

    // ---- Cliff's delta ordinal effect size: δ = (#(x₁>x₀) −
    // #(x₁<x₀))/(n₀n₁), both counts exact decimal integers from the
    // histogram prefix (pp0 = arm-0 count strictly below value c).
    "q_cliff_delta" -> ((s, d) => {
      val v = arms(s, d)
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("c0", "pp0", inclusive = false)))
      val tot = hist.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      val agg = pre.crossJoin(broadcast(tot))
        .groupBy("n0", "n1").agg(
          sum((dec(col("c1")) * col("pp0")).cast("decimal(38,0)"))
            .as("gt"),
          sum((dec(col("c1")) *
            (col("n0") - col("pp0") - col("c0"))).cast("decimal(38,0)"))
            .as("lt"))
      agg.select(col("n0"), col("n1"),
        col("gt").cast("long").as("n_greater"),
        col("lt").cast("long").as("n_less"),
        round((col("gt").cast("double") - col("lt").cast("double")) /
          (col("n0").cast("double") * col("n1").cast("double")), 6)
          .as("cliff_delta"))
    }),

    // ---- Cohen's d (pooled-SD standardized mean difference) with the
    // Hedges' g small-sample correction: per-arm (n, Σc, Σc²) in
    // decimal(38,0), doubles only in the final one-row formula.
    "q_cohens_d" -> ((s, d) => {
      val agg = arms(s, d).agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 0L, col("c")).otherwise(0L)).as("s0"),
        sum(when(col("g") === 1L, col("c")).otherwise(0L)).as("s1"),
        sum(when(col("g") === 0L, (dec(col("c")) * col("c"))
          .cast("decimal(38,0)")).otherwise(lit(0)
          .cast("decimal(38,0)"))).as("q0"),
        sum(when(col("g") === 1L, (dec(col("c")) * col("c"))
          .cast("decimal(38,0)")).otherwise(lit(0)
          .cast("decimal(38,0)"))).as("q1"))
      val n0D = col("n0").cast("double"); val n1D = col("n1").cast("double")
      val m0 = col("s0").cast("double") / n0D
      val m1 = col("s1").cast("double") / n1D
      val ss0 = col("q0").cast("double") -
        col("s0").cast("double") * col("s0").cast("double") / n0D
      val ss1 = col("q1").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / n1D
      val sp = sqrt((ss0 + ss1) / (n0D + n1D - 2.0))
      val dEff = (m1 - m0) / sp
      agg.select(col("n0"), col("n1"),
        round((m1 - m0) / 100.0, 4).as("mean_diff_dollars"),
        round(when(sp <= 0.0, lit(null).cast("double")).otherwise(dEff),
          6).as("cohens_d"),
        round(when(sp <= 0.0, lit(null).cast("double"))
          .otherwise(dEff * (lit(1.0) - lit(3.0) /
            (lit(4.0) * (n0D + n1D) - 9.0))), 6).as("hedges_g"))
    }),

    // ---- Siegel–Tukey scale test: the classical zigzag scores
    // (1, 4, 5, 8, … from the low end; 2, 3, 6, 7, … from the high
    // end) in closed form from the unique pooled rank r — depth
    // k = min(r, N+1−r), low end iff 2r ≤ N+1; score = 2k−1 (low, k
    // odd), 2k (low, k even), 2k (high, k odd), 2k−1 (high, k even) —
    // summed over arm 1 and standardized by the conditionally-exact
    // moments over the observed scores (the q_lepage machinery).
    "q_siegel_tukey" -> ((s, d) => {
      val v = arms(s, d)
      val ranked = GlobalRank.withRowNumber(v, "r",
        Seq(col("c").asc, col("event_id").asc))
      val tot = v.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"))
      val rL = col("r").cast(LongType)
      val nn = col("n0") + col("n1")
      val k = least(rL, nn + 1L - rL)
      val low = rL * 2L <= nn + 1L
      val odd = (k % 2L) === 1L
      val score = when(low,
          when(odd, lit(2L) * k - 1L).otherwise(lit(2L) * k))
        .otherwise(when(odd, lit(2L) * k).otherwise(lit(2L) * k - 1L))
      val mom = ranked.crossJoin(broadcast(tot))
        .select(col("g"), col("n0"), col("n1"), score.as("sc"))
        .groupBy("n0", "n1").agg(
          sum(when(col("g") === 1L, dec(col("sc"))).otherwise(
            lit(0).cast("decimal(38,0)"))).as("s1"),
          sum(dec(col("sc"))).as("t"),
          sum((dec(col("sc")) * col("sc")).cast("decimal(38,0)"))
            .as("q"))
      val n0D = col("n0").cast("double"); val n1D = col("n1").cast("double")
      val nD = n0D + n1D
      val vr = n1D * n0D / (nD * (nD - 1.0)) *
        (col("q").cast("double") - col("t").cast("double") *
          col("t").cast("double") / nD)
      mom.select(col("n0"), col("n1"),
        col("s1").cast("long").as("st_stat"),
        round(when(vr <= 0.0, lit(null).cast("double"))
          .otherwise((col("s1").cast("double") -
            n1D * col("t").cast("double") / nD) / sqrt(vr)), 6)
          .as("z"))
    }),

    // ---- Quade test (blocks = days, treatments = the 5 event types):
    // within-day ranks of the micro-quantized mean value (ties by type
    // name — deterministic in both engines), day weights Q = rank of
    // the day's micro-mean range, W = Q·(r − (k+1)/2);
    // F = (b−1)·B/(A−B) with A = ΣW², B = (ΣⱼSⱼ²)/b. Missing
    // (day, type) cells zero-fill (mean 0 — documented convention).
    // All ranks ride GlobalRank; everything is exact integers until
    // the final F.
    "q_quade" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = Tables.events(s, d).select(
        expr(s"ts_us div 86400000000").as("day"), col("event_type"),
        round(col("value") * 100).cast(LongType).as("c"))
      val cells0 = ev.groupBy("day", "event_type")
        .agg(sum("c").as("sv"), count(lit(1)).as("cnt"))
      // r13: `days` feeds the zero-fill grid AND the final b count, and
      // `full` feeds ranked + dayW — un-cached, the events collapse
      // re-executed once per consumer (probe: 58 jobs / 95 Exchanges
      // for this query). Both frames are calendar-bounded (≤31 and
      // ≤31·5 rows), so caching them is the documented bounded-frame
      // pattern, not a data cache.
      val days = graft.CacheScope.cached(ev.select("day").distinct())
      val full = graft.CacheScope.cached(
        days.crossJoin(broadcast(s.range(1)
          .select(explode(array(types.map(lit): _*)).as("event_type"))))
        .join(cells0, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(round(lit(1e6) * col("sv").cast("double") /
            col("cnt").cast("double")).cast(LongType), lit(0L))
            .as("mu6")))
      val ranked = GlobalRank.withKeyedRowNumber(full, "r", Seq("day"),
        Seq(col("mu6").asc, col("event_type").asc))
      val dayW = full.groupBy("day")
        .agg((max("mu6") - min("mu6")).as("rng"))
      val weighted = GlobalRank.withRowNumber(dayW, "q",
        Seq(col("rng").asc, col("day").asc))
      // (also bounded: ≤31·5 rows; feeds both the S_j and A aggregates)
      val w = graft.CacheScope.cached(
        ranked.join(weighted.select("day", "q"), "day")
        .select(col("day"), col("event_type"),
          (col("q").cast(LongType) * (col("r").cast(LongType) - 3L))
            .as("w")))
      val sj = w.groupBy("event_type").agg(sum("w").as("s_j"))
      val aT = w.agg(sum((dec(col("w")) * col("w"))
        .cast("decimal(38,0)")).as("a"))
      val bT = sj.agg(sum((dec(col("s_j")) * col("s_j"))
        .cast("decimal(38,0)")).as("sb"), count(lit(1)).as("k"))
      val bb = days.agg(count(lit(1)).as("b"))
      val one = aT.crossJoin(broadcast(bT)).crossJoin(broadcast(bb))
      val bD = col("b").cast("double")
      val bTerm = col("sb").cast("double") / bD
      val aD = col("a").cast("double")
      one.select(col("b").as("n_days"), col("k").as("n_treatments"),
        col("a").cast("long").as("a_term"),
        round(bTerm, 6).as("b_term"),
        round(when(aD - bTerm <= 0.0, lit(null).cast("double"))
          .otherwise((bD - 1.0) * bTerm / (aD - bTerm)), 6)
          .as("quade_f"))
    }),

    // ---- odds ratio of purchase between the arms, with the Wald
    // 95% log CI: exact 2×2 integer cells, doubles in the final row.
    "q_odds_ratio" -> ((s, d) => {
      val agg = Tables.events(s, d).select(
        (col("event_id") % 2).as("g"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
        .agg(
          sum(when(col("g") === 1L && col("y") === 1L, 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("g") === 1L && col("y") === 0L, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("g") === 0L && col("y") === 1L, 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("g") === 0L && col("y") === 0L, 1L)
            .otherwise(0L)).as("dd"))
      val ok = col("a") > 0L && col("b") > 0L && col("c") > 0L &&
        col("dd") > 0L
      val or = col("a").cast("double") * col("dd").cast("double") /
        (col("b").cast("double") * col("c").cast("double"))
      val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
        lit(1.0) / col("c") + lit(1.0) / col("dd"))
      agg.select(col("a").as("n_exp_pos"), col("b").as("n_exp_neg"),
        col("c").as("n_ctl_pos"), col("dd").as("n_ctl_neg"),
        round(when(!ok, lit(null).cast("double")).otherwise(or), 6)
          .as("odds_ratio"),
        round(when(!ok, lit(null).cast("double"))
          .otherwise(exp(log(or) - lit(1.96) * se)), 6).as("ci_lo"),
        round(when(!ok, lit(null).cast("double"))
          .otherwise(exp(log(or) + lit(1.96) * se)), 6).as("ci_hi"))
    }),

    // ---- relative risk of purchase between the arms with its Wald
    // 95% log CI — the epidemiology sibling of q_odds_ratio.
    "q_relative_risk" -> ((s, d) => {
      val agg = Tables.events(s, d).select(
        (col("event_id") % 2).as("g"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("y"))
        .agg(
          sum(when(col("g") === 1L && col("y") === 1L, 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0L && col("y") === 1L, 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"))
      val ok = col("a") > 0L && col("c") > 0L && col("n1") > 0L &&
        col("n0") > 0L
      val rr = (col("a").cast("double") / col("n1").cast("double")) /
        (col("c").cast("double") / col("n0").cast("double"))
      val se = sqrt(lit(1.0) / col("a") - lit(1.0) / col("n1") +
        lit(1.0) / col("c") - lit(1.0) / col("n0"))
      agg.select(col("a").as("n_exp_pos"), col("n1").as("n_exp"),
        col("c").as("n_ctl_pos"), col("n0").as("n_ctl"),
        round(when(!ok, lit(null).cast("double")).otherwise(rr), 6)
          .as("rel_risk"),
        round(when(!ok, lit(null).cast("double"))
          .otherwise(exp(log(rr) - lit(1.96) * se)), 6).as("ci_lo"),
        round(when(!ok, lit(null).cast("double"))
          .otherwise(exp(log(rr) + lit(1.96) * se)), 6).as("ci_hi"))
    }))

  private val histSql: String =
    """WITH v AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
      |    event_id, event_id % 2 AS g FROM events),
      |h AS (
      |  SELECT c,
      |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM v GROUP BY c),
      |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
      |    CAST(sum(c1) AS BIGINT) AS n1 FROM h)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_mood_median" ->
      s"""$histSql,
        |p AS (
        |  SELECT c, sum(c0 + c1) OVER (ORDER BY c) AS pi FROM h),
        |med AS (
        |  SELECT c AS med FROM p, t
        |  WHERE pi * 2 >= n0 + n1 ORDER BY c LIMIT 1),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 AND c > med THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN g = 0 AND c <= med THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN g = 1 AND c > med THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cc,
        |    CAST(sum(CASE WHEN g = 1 AND c <= med THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dd,
        |    max(med) AS med
        |  FROM v, med)
        |SELECT round(med / 100.0, 2) AS median_dollars,
        |  a AS n0_above, b AS n0_below, cc AS n1_above, dd AS n1_below,
        |  round(CASE WHEN (CAST(a AS DOUBLE) + b) * (CAST(cc AS DOUBLE)
        |      + dd) * (CAST(a AS DOUBLE) + cc) * (CAST(b AS DOUBLE)
        |      + dd) <= 0.0 THEN NULL
        |    ELSE (CAST(a AS DOUBLE) + b + cc + dd) *
        |      (CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * cc) *
        |      (CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * cc) /
        |      ((CAST(a AS DOUBLE) + b) * (CAST(cc AS DOUBLE) + dd) *
        |       (CAST(a AS DOUBLE) + cc) * (CAST(b AS DOUBLE) + dd))
        |    END, 6) AS chi2
        |FROM cells""".stripMargin,

    "q_cliff_delta" ->
      s"""$histSql,
        |p AS (
        |  SELECT c, c0, c1,
        |    coalesce(sum(c0) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pp0
        |  FROM h),
        |agg AS (
        |  SELECT n0, n1,
        |    sum(CAST(c1 AS HUGEINT) * pp0) AS gt,
        |    sum(CAST(c1 AS HUGEINT) * (n0 - pp0 - c0)) AS lt
        |  FROM p, t GROUP BY n0, n1)
        |SELECT n0, n1, CAST(gt AS BIGINT) AS n_greater,
        |  CAST(lt AS BIGINT) AS n_less,
        |  round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE)) /
        |    (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6)
        |    AS cliff_delta
        |FROM agg""".stripMargin,

    "q_cohens_d" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_id % 2 AS g FROM events),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT)
        |      AS s0,
        |    CAST(sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    sum(CASE WHEN g = 0 THEN CAST(c AS HUGEINT) * c
        |      ELSE CAST(0 AS HUGEINT) END) AS q0,
        |    sum(CASE WHEN g = 1 THEN CAST(c AS HUGEINT) * c
        |      ELSE CAST(0 AS HUGEINT) END) AS q1
        |  FROM v)
        |SELECT n0, n1,
        |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0, 4)
        |    AS mean_diff_dollars,
        |  round(CASE WHEN sqrt(((CAST(q0 AS DOUBLE) -
        |      CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) /
        |      CAST(n0 AS DOUBLE)) + (CAST(q1 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
        |      CAST(n1 AS DOUBLE))) / (CAST(n0 AS DOUBLE) +
        |      CAST(n1 AS DOUBLE) - 2.0)) <= 0.0 THEN NULL
        |    ELSE (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
        |      sqrt(((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) *
        |        CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) +
        |        (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |        CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))) /
        |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2.0))
        |    END, 6) AS cohens_d,
        |  round(CASE WHEN sqrt(((CAST(q0 AS DOUBLE) -
        |      CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) /
        |      CAST(n0 AS DOUBLE)) + (CAST(q1 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
        |      CAST(n1 AS DOUBLE))) / (CAST(n0 AS DOUBLE) +
        |      CAST(n1 AS DOUBLE) - 2.0)) <= 0.0 THEN NULL
        |    ELSE (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |      CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
        |      sqrt(((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) *
        |        CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) +
        |        (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |        CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))) /
        |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2.0)) *
        |      (1.0 - 3.0 / (4.0 * (CAST(n0 AS DOUBLE) +
        |        CAST(n1 AS DOUBLE)) - 9.0))
        |    END, 6) AS hedges_g
        |FROM agg""".stripMargin,

    "q_siegel_tukey" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_id, event_id % 2 AS g FROM events),
        |rk AS (
        |  SELECT g, row_number() OVER (ORDER BY c, event_id) AS r
        |  FROM v),
        |t AS (
        |  SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1
        |  FROM v),
        |sc AS (
        |  SELECT g,
        |    CASE WHEN r * 2 <= n0 + n1 + 1 THEN
        |      CASE WHEN least(r, n0 + n1 + 1 - r) % 2 = 1
        |        THEN 2 * least(r, n0 + n1 + 1 - r) - 1
        |        ELSE 2 * least(r, n0 + n1 + 1 - r) END
        |    ELSE
        |      CASE WHEN least(r, n0 + n1 + 1 - r) % 2 = 1
        |        THEN 2 * least(r, n0 + n1 + 1 - r)
        |        ELSE 2 * least(r, n0 + n1 + 1 - r) - 1 END
        |    END AS sc, n0, n1
        |  FROM rk, t),
        |m AS (
        |  SELECT n0, n1,
        |    sum(CASE WHEN g = 1 THEN CAST(sc AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS s1,
        |    sum(CAST(sc AS HUGEINT)) AS tt,
        |    sum(CAST(sc AS HUGEINT) * sc) AS q
        |  FROM sc GROUP BY n0, n1)
        |SELECT n0, n1, CAST(s1 AS BIGINT) AS st_stat,
        |  round(CASE WHEN CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) /
        |      ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |       (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)) *
        |      (CAST(q AS DOUBLE) - CAST(tt AS DOUBLE) *
        |        CAST(tt AS DOUBLE) /
        |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) <= 0.0
        |    THEN NULL
        |    ELSE (CAST(s1 AS DOUBLE) - CAST(n1 AS DOUBLE) *
        |        CAST(tt AS DOUBLE) /
        |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) /
        |      sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) /
        |        ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |         (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)) *
        |        (CAST(q AS DOUBLE) - CAST(tt AS DOUBLE) *
        |          CAST(tt AS DOUBLE) /
        |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))))
        |    END, 6) AS z
        |FROM m""".stripMargin,

    "q_quade" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |cells0 AS (
        |  SELECT day, event_type, CAST(sum(c) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM ev),
        |types(event_type) AS (VALUES ('click'), ('error'),
        |  ('purchase'), ('signup'), ('view')),
        |full0 AS (
        |  SELECT d.day, t.event_type,
        |    coalesce(CAST(round(1e6 * CAST(sv AS DOUBLE) / cnt)
        |      AS BIGINT), 0) AS mu6
        |  FROM days d CROSS JOIN types t
        |  LEFT JOIN cells0 c0
        |    ON c0.day = d.day AND c0.event_type = t.event_type),
        |rk AS (
        |  SELECT day, event_type, row_number() OVER (
        |    PARTITION BY day ORDER BY mu6, event_type) AS r
        |  FROM full0),
        |dw AS (SELECT day, max(mu6) - min(mu6) AS rng
        |  FROM full0 GROUP BY day),
        |wt AS (SELECT day, row_number() OVER (ORDER BY rng, day) AS q
        |  FROM dw),
        |w AS (
        |  SELECT rk.event_type,
        |    CAST(wt.q AS BIGINT) * (CAST(rk.r AS BIGINT) - 3) AS w
        |  FROM rk JOIN wt ON wt.day = rk.day),
        |sj AS (SELECT event_type, CAST(sum(w) AS BIGINT) AS s_j
        |  FROM w GROUP BY 1),
        |att AS (SELECT sum(CAST(w AS HUGEINT) * w) AS a FROM w),
        |btt AS (SELECT sum(CAST(s_j AS HUGEINT) * s_j) AS sb,
        |  CAST(count(*) AS BIGINT) AS k FROM sj),
        |bbb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM days)
        |SELECT b AS n_days, k AS n_treatments,
        |  CAST(a AS BIGINT) AS a_term,
        |  round(CAST(sb AS DOUBLE) / CAST(b AS DOUBLE), 6) AS b_term,
        |  round(CASE WHEN CAST(a AS DOUBLE) -
        |      CAST(sb AS DOUBLE) / CAST(b AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE (CAST(b AS DOUBLE) - 1.0) *
        |      (CAST(sb AS DOUBLE) / CAST(b AS DOUBLE)) /
        |      (CAST(a AS DOUBLE) -
        |        CAST(sb AS DOUBLE) / CAST(b AS DOUBLE)) END, 6)
        |    AS quade_f
        |FROM att, btt, bbb""".stripMargin,

    "q_odds_ratio" ->
      """WITH v AS (
        |  SELECT event_id % 2 AS g,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN g = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN g = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN g = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dd
        |  FROM v)
        |SELECT a AS n_exp_pos, b AS n_exp_neg, c AS n_ctl_pos,
        |  dd AS n_ctl_neg,
        |  round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0
        |    THEN CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) /
        |      (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END, 6)
        |    AS odds_ratio,
        |  round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0
        |    THEN exp(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) /
        |      (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) -
        |      1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd))
        |    END, 6) AS ci_lo,
        |  round(CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0
        |    THEN exp(ln(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) /
        |      (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) +
        |      1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd))
        |    END, 6) AS ci_hi
        |FROM agg""".stripMargin,

    "q_relative_risk" ->
      """WITH v AS (
        |  SELECT event_id % 2 AS g,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN g = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0
        |  FROM v)
        |SELECT a AS n_exp_pos, n1 AS n_exp, c AS n_ctl_pos,
        |  n0 AS n_ctl,
        |  round(CASE WHEN a > 0 AND c > 0 AND n1 > 0 AND n0 > 0
        |    THEN (CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |      (CAST(c AS DOUBLE) / CAST(n0 AS DOUBLE)) END, 6)
        |    AS rel_risk,
        |  round(CASE WHEN a > 0 AND c > 0 AND n1 > 0 AND n0 > 0
        |    THEN exp(ln((CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |      (CAST(c AS DOUBLE) / CAST(n0 AS DOUBLE))) -
        |      1.96 * sqrt(1.0 / a - 1.0 / n1 + 1.0 / c - 1.0 / n0))
        |    END, 6) AS ci_lo,
        |  round(CASE WHEN a > 0 AND c > 0 AND n1 > 0 AND n0 > 0
        |    THEN exp(ln((CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |      (CAST(c AS DOUBLE) / CAST(n0 AS DOUBLE))) +
        |      1.96 * sqrt(1.0 / a - 1.0 / n1 + 1.0 / c - 1.0 / n0))
        |    END, 6) AS ci_hi
        |FROM agg""".stripMargin)
}
