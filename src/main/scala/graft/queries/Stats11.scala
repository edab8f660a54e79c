package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.{dec, twoSidedP}

/** Round-11 experimentation / anomaly batch: Dunn's post-hoc pairwise
  * rank test (the step after q_kruskal rejects), generalized ESD
  * (three unrolled Grubbs rounds), the Lilliefors normality distance,
  * TOST equivalence, a Beta-Bernoulli Bayesian A/B readout, and binary
  * segmentation changepoints (two unrolled splits).
  *
  * House disciplines: ONE corpus collapse per query (value-domain
  * histogram, per-user conversion flags, or the calendar-bounded daily
  * frame); rank prefixes over the value domain route through GlobalRank;
  * argmax rounds unroll as bounded aggregates with the winner broadcast
  * back (never collected); tie-corrections and rank sums route
  * decimal(38,0) ↔ HUGEINT; Φ is the shared A&S 7.1.26 polynomial with
  * identical literals in both engines.
  */
object Stats11 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  private def phi(z: Column): Column =
    when(z >= 0, lit(1.0) - twoSidedP(z) / 2).otherwise(twoSidedP(z) / 2)

  /** Daily event-count frame (calendar-bounded) shared by the anomaly
    * and changepoint queries. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(count(lit(1)).as("x")))

  val queries: Map[String, Q] = Map(
    // ---- Dunn's test: pairwise mean-rank comparisons between event
    // types after Kruskal–Wallis, Bonferroni-gated at the 10-pair 5%
    // cut (z = 2.807). The corpus collapses ONCE to the value-domain
    // (cents × type) histogram; doubled average ranks 2R_v = 2·cumlt +
    // m_v + 1 come from a GlobalRank prefix over the bounded value
    // domain; per-type rank sums Σcnt·2R and the tie term Σ(t³−t) are
    // exact decimals, so every zᵢⱼ is reduce-order-proof.
    "q_dunn_test" -> ((s, d) => {
      val tv = graft.CacheScope.cached(Tables.events(s, d)
        .select(round(col("value") * 100).cast(LongType).as("c"),
          col("event_type").as("t"))
        .groupBy("c", "t").agg(count(lit(1)).as("cnt")))
      val vals = tv.groupBy("c").agg(sum("cnt").as("m"))
      val ranked = GlobalRank.withPrefixAggs(vals, Seq(col("c").asc),
          Seq(PrefixAgg("m", "cumlt")))
        .select(col("c"),
          (lit(2L) * coalesce(col("cumlt"), lit(0L)) + col("m") + 1L)
            .as("r2"),
          col("m"))
      val perType = tv.join(ranked, "c")
        .groupBy("t")
        .agg(sum("cnt").as("n"),
          sum((dec(col("cnt")) * col("r2")).cast("decimal(38,0)"))
            .as("s2r"))
      val ties = ranked.agg(
        sum("m").as("nn"),
        sum(((dec(col("m")) * col("m")).cast("decimal(38,0)") * col("m")
          - col("m")).cast("decimal(38,0)")).as("t3"))
      val a = perType.toDF("ti", "ni", "si")
      val b = perType.toDF("tj", "nj", "sj")
      val pairs = a.join(broadcast(b), col("ti") < col("tj"))
        .crossJoin(broadcast(ties))
      val nD = col("nn").cast("double")
      val varfac = (nD * (nD + 1.0) -
        col("t3").cast("double") / (nD - 1.0)) / 12.0
      val z = (col("si").cast("double") / (lit(2.0) *
        col("ni").cast("double")) -
        col("sj").cast("double") / (lit(2.0) * col("nj").cast("double"))) /
        sqrt(varfac * (lit(1.0) / col("ni").cast("double") +
          lit(1.0) / col("nj").cast("double")))
      pairs.select(col("ti"), col("tj"), col("ni"), col("nj"),
          round(z, 4).as("z"), (abs(z) > 2.807).as("significant"))
        .orderBy("ti", "tj")
    }),

    // ---- Generalized ESD (Rosner): THREE unrolled Grubbs rounds on
    // the daily counts, each recomputing exact integer moments with the
    // previously removed days subtracted (broadcast 1-row winners, never
    // collected) — the multi-outlier form that plain Grubbs masks.
    // n-scaled deviations |n·x − S| keep every argmax an exact-integer
    // ordering decision.
    "q_gesd" -> ((s, d) => {
      val daily = dailyCounts(s, d)
      val base = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum((dec(col("x")) * col("x")).cast("decimal(38,0)")).as("sxx"))
      // one ESD round over the frame minus prior picks: returns the
      // 1-row (round, day, x, r_stat) winner given current moments
      def pick(moments: DataFrame, excluded: Column, r: Int,
          carry: Seq[String] = Nil): DataFrame = {
        val m = daily.crossJoin(broadcast(moments))
          .filter(!excluded)
        val nD = col("n").cast("double")
        val sd = sqrt((nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (nD * (nD - 1.0)))
        m.select(Seq(lit(r).as("pass_no"), col("day"), col("x"),
            abs(col("n") * col("x") - col("sx")).as("ndev"),
            col("n"), col("sx"), col("sxx"),
            round(abs(col("n") * col("x") - col("sx")).cast("double") /
              nD / sd, 4).as("r_stat")) ++ carry.map(col): _*)
          .orderBy(col("ndev").desc, col("day").asc)
          .limit(1)
      }
      val p1 = pick(base, lit(false), 1)
      val m2 = p1.select((col("n") - 1L).as("n"),
        (col("sx") - col("x")).as("sx"),
        (col("sxx") - (dec(col("x")) * col("x")).cast("decimal(38,0)"))
          .as("sxx"), col("day").as("d1"))
      val p2 = pick(m2, col("day") === col("d1"), 2, Seq("d1"))
      val m3 = p2.select((col("n") - 1L).as("n"),
        (col("sx") - col("x")).as("sx"),
        (col("sxx") - (dec(col("x")) * col("x")).cast("decimal(38,0)"))
          .as("sxx"), col("d1"), col("day").as("d2"))
      val p3 = pick(m3, col("day") === col("d1") ||
        col("day") === col("d2"), 3)
      p1.select(col("pass_no"), col("day"), col("x"), col("r_stat"))
        .unionAll(p2.select(col("pass_no"), col("day"), col("x"),
          col("r_stat")))
        .unionAll(p3.select(col("pass_no"), col("day"), col("x"),
          col("r_stat")))
        .orderBy("pass_no")
    }),

    // ---- Lilliefors normality distance for event cents: KS distance
    // between the empirical CDF and the normal FITTED from the data
    // (that re-fit is what shrinks the plain-KS critical value to
    // ≈0.895/√n at 5%). μ, σ from exact integer moments; the empirical
    // CDF is a GlobalRank prefix over the value-domain histogram; D
    // checks both step sides at every distinct value; Φ is the shared
    // A&S polynomial.
    "q_lilliefors" -> ((s, d) => {
      val vals = Tables.events(s, d)
        .select(round(col("value") * 100).cast(LongType).as("c"))
        .groupBy("c").agg(count(lit(1)).as("m"))
      val ranked = GlobalRank.withPrefixAggs(vals, Seq(col("c").asc),
        Seq(PrefixAgg("m", "cumlt")))
      val mo = vals.agg(sum("m").as("nn"), sum(col("c") * col("m"))
          .as("sc"),
        sum((dec(col("c")) * col("c") * col("m")).cast("decimal(38,0)"))
          .as("scc"))
      val nD = col("nn").cast("double")
      val mu = col("sc").cast("double") / nD
      val sd = sqrt((nD * col("scc").cast("double") -
        col("sc").cast("double") * col("sc").cast("double")) /
        (nD * (nD - 1.0)))
      val f = phi((col("c").cast("double") - mu) / sd)
      val lo = coalesce(col("cumlt"), lit(0L)).cast("double") / nD
      val hi = (coalesce(col("cumlt"), lit(0L)) + col("m"))
        .cast("double") / nD
      val dv = greatest(abs(hi - f), abs(f - lo))
      ranked.crossJoin(broadcast(mo))
        .select(col("c"), col("nn"), dv.as("dv"))
        .orderBy(col("dv").desc, col("c").asc)
        .limit(1)
        .select(col("nn").as("n_events"), col("c").as("at_cents"),
          round(col("dv"), 6).as("d_stat"),
          (col("dv") > lit(0.895) / sqrt(col("nn").cast("double")))
            .as("reject_normal"))
    }),

    // ---- TOST equivalence: are even- and odd-user mean event cents
    // equivalent within ±50 cents? Two one-sided Welch z-tests on exact
    // integer group moments — equivalence is declared only when BOTH
    // bounds reject (t_lo > 1.645 AND t_hi < −1.645), the reversed-
    // burden framing a "no regression" launch check needs (a plain
    // t-test's non-rejection is not evidence of equivalence).
    "q_tost" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select((col("user_id") % 2).as("g"),
          round(col("value") * 100).cast(LongType).as("c"))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum((dec(col("c")) * col("c")).cast("decimal(38,0)")).as("scc"))
      val a = g.filter(col("g") === 0L).toDF("ga", "na", "sa", "ssa")
      val b = g.filter(col("g") === 1L).toDF("gb", "nb", "sb", "ssb")
      val j = a.crossJoin(broadcast(b))
      val naD = col("na").cast("double")
      val nbD = col("nb").cast("double")
      val ma = col("sa").cast("double") / naD
      val mb = col("sb").cast("double") / nbD
      val va = (naD * col("ssa").cast("double") -
        col("sa").cast("double") * col("sa").cast("double")) /
        (naD * (naD - 1.0))
      val vb = (nbD * col("ssb").cast("double") -
        col("sb").cast("double") * col("sb").cast("double")) /
        (nbD * (nbD - 1.0))
      val se = sqrt(va / naD + vb / nbD)
      val tLo = (ma - mb + lit(50.0)) / se
      val tHi = (ma - mb - lit(50.0)) / se
      j.select(round(ma, 4).as("mean_a"), round(mb, 4).as("mean_b"),
        round(ma - mb, 4).as("diff"),
        round(tLo, 4).as("t_lower"), round(tHi, 4).as("t_upper"),
        (tLo > 1.645 && tHi < -1.645).as("equivalent"))
    }),

    // ---- Bayesian A/B on per-user conversion (any purchase) between
    // the two user-parity arms: Beta(1+s, 1+f) posteriors, P(B > A)
    // under the normal approximation of the posterior difference
    // (Φ((μb−μa)/√(va+vb))) — the decision readout experimenters act
    // on. ONE per-user collapse; s/f are exact integers; Φ is the
    // shared polynomial.
    "q_bayesian_ab" -> ((s, d) => {
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
        .select((col("user_id") % 2).as("g"), col("conv"))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("conv").as("s"))
      val a = u.filter(col("g") === 0L).toDF("ga", "na", "sa")
      val b = u.filter(col("g") === 1L).toDF("gb", "nb", "sb")
      val j = a.crossJoin(broadcast(b))
      def mv(n: Column, sc: Column): (Column, Column) = {
        val al = sc.cast("double") + 1.0
        val be = (n - sc).cast("double") + 1.0
        val tot = al + be
        (al / tot, al * be / (tot * tot * (tot + 1.0)))
      }
      val (muA, varA) = mv(col("na"), col("sa"))
      val (muB, varB) = mv(col("nb"), col("sb"))
      val pb = phi((muB - muA) / sqrt(varA + varB))
      j.select(col("na").as("n_a"), col("sa").as("conv_a"),
        col("nb").as("n_b"), col("sb").as("conv_b"),
        round(muA, 6).as("rate_a"), round(muB, 6).as("rate_b"),
        round(pb, 6).as("prob_b_beats_a"),
        (pb > 0.95 || pb < 0.05).as("decisive"))
    }),

    // ---- Binary segmentation: the two best level-shift breakpoints of
    // the daily revenue series, greedily (CUSUM-style SSE reduction).
    // Split 1 maximizes S_L²/n_L + S_R²/n_R over day-prefix sums of the
    // calendar-bounded frame; split 2 re-runs the same gain WITHIN each
    // side using the same global prefixes shifted by the segment's own
    // (offset, base) — both argmaxes are bounded ORDER BY/LIMIT 1 with
    // the winner broadcast back. Exact integer prefixes end to end.
    "q_binseg" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("y")))
      val wnd = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val pre = graft.CacheScope.cached(daily
        .select(col("day"), col("y"),
          sum("y").over(wnd).as("ps"),
          count(lit(1)).over(wnd).as("pn")))
      val tot = pre.agg(max("pn").as("n"), max("ps").as("s"))
      def gain(nl: Column, sl: Column, n: Column, sTot: Column) = {
        val nlD = nl.cast("double")
        val nrD = (n - nl).cast("double")
        val slD = sl.cast("double")
        val srD = (sTot - sl).cast("double")
        slD * slD / nlD + srD * srD / nrD -
          sTot.cast("double") * sTot.cast("double") / n.cast("double")
      }
      val s1 = pre.crossJoin(broadcast(tot))
        .filter(col("pn") < col("n"))
        .select(col("day").as("b1"), col("pn").as("n1"),
          col("ps").as("s1"),
          gain(col("pn"), col("ps"), col("n"), col("s")).as("g1"),
          col("n"), col("s"))
        .orderBy(col("g1").desc, col("b1").asc).limit(1)
      // split 2: candidates in the left segment use (pn, ps) as-is
      // against (n1, s1); right-segment candidates subtract the left
      // segment's (n1, s1) base — same prefixes, shifted origin
      val cand2 = pre.crossJoin(broadcast(s1))
        .select(col("day").as("b2"),
          when(col("day") < col("b1"),
            gain(col("pn"), col("ps"), col("n1"), col("s1")))
          .otherwise(
            gain(col("pn") - col("n1"), col("ps") - col("s1"),
              col("n") - col("n1"), col("s") - col("s1"))).as("g2"),
          col("b1"), col("g1"), col("n1"), col("s1"), col("n"), col("s"),
          col("pn"))
        .filter(col("b2") =!= col("b1") && col("pn") < col("n") &&
          (col("day").isNotNull))
        .filter((col("b2") < col("b1") && col("pn") < col("n1")) ||
          (col("b2") > col("b1") && col("pn") < col("n")))
        .orderBy(col("g2").desc, col("b2").asc).limit(1)
      cand2.select(col("n").as("n_days"), col("b1").as("break1"),
        round(col("g1") / 1e4, 4).as("gain1_dollars2"),
        col("b2").as("break2"), round(col("g2") / 1e4, 4)
          .as("gain2_dollars2"))
    }))

  val oracle: Map[String, String] = Map(
    "q_dunn_test" ->
      """WITH tv AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_type AS t, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |vals AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS m
        |         FROM tv GROUP BY 1),
        |ranked AS (
        |  SELECT c, m,
        |    2 * CAST(coalesce(sum(m) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) + m + 1 AS r2
        |  FROM vals),
        |pert AS (
        |  SELECT t, CAST(sum(cnt) AS BIGINT) AS n,
        |    sum(CAST(cnt AS HUGEINT) * r2) AS s2r
        |  FROM tv JOIN ranked USING (c) GROUP BY 1),
        |ties AS (
        |  SELECT CAST(sum(m) AS BIGINT) AS nn,
        |    sum(CAST(m AS HUGEINT) * m * m - m) AS t3
        |  FROM ranked)
        |SELECT a.t AS ti, b.t AS tj, a.n AS ni, b.n AS nj,
        |  round((CAST(a.s2r AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE)) -
        |    CAST(b.s2r AS DOUBLE) / (2.0 * CAST(b.n AS DOUBLE))) /
        |    sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) -
        |      CAST(t3 AS DOUBLE) / (CAST(nn AS DOUBLE) - 1.0)) / 12.0 *
        |      (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))),
        |    4) AS z,
        |  abs((CAST(a.s2r AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE)) -
        |    CAST(b.s2r AS DOUBLE) / (2.0 * CAST(b.n AS DOUBLE))) /
        |    sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) -
        |      CAST(t3 AS DOUBLE) / (CAST(nn AS DOUBLE) - 1.0)) / 12.0 *
        |      (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))))
        |    > 2.807 AS significant
        |FROM pert a JOIN pert b ON a.t < b.t
        |CROSS JOIN ties
        |ORDER BY ti, tj""".stripMargin,
    "q_gesd" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM daily),
        |p1 AS (
        |  SELECT 1 AS pass_no, day, x, abs(n * x - sx) AS ndev, n, sx, sxx,
        |    round(CAST(abs(n * x - sx) AS DOUBLE) / CAST(n AS DOUBLE) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 4)
        |      AS r_stat
        |  FROM daily CROSS JOIN base
        |  ORDER BY ndev DESC, day LIMIT 1),
        |m2 AS (SELECT n - 1 AS n, sx - x AS sx,
        |    sxx - CAST(x AS HUGEINT) * x AS sxx, day AS d1
        |  FROM p1),
        |p2 AS (
        |  SELECT 2 AS pass_no, day, x, abs(n * x - sx) AS ndev,
        |    n, sx, sxx, d1,
        |    round(CAST(abs(n * x - sx) AS DOUBLE) / CAST(n AS DOUBLE) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 4)
        |      AS r_stat
        |  FROM daily CROSS JOIN m2
        |  WHERE day <> d1
        |  ORDER BY ndev DESC, day LIMIT 1),
        |m3 AS (SELECT n - 1 AS n, sx - x AS sx,
        |    sxx - CAST(x AS HUGEINT) * x AS sxx, d1, day AS d2
        |  FROM p2),
        |p3 AS (
        |  SELECT 3 AS pass_no, day, x, abs(n * x - sx) AS ndev,
        |    round(CAST(abs(n * x - sx) AS DOUBLE) / CAST(n AS DOUBLE) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 4)
        |      AS r_stat
        |  FROM daily CROSS JOIN m3
        |  WHERE day <> d1 AND day <> d2
        |  ORDER BY ndev DESC, day LIMIT 1)
        |SELECT pass_no, day, x, r_stat FROM p1
        |UNION ALL SELECT pass_no, day, x, r_stat FROM p2
        |UNION ALL SELECT pass_no, day, x, r_stat FROM p3
        |ORDER BY pass_no""".stripMargin,
    "q_lilliefors" ->
      """WITH vals AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT c, m,
        |    CAST(coalesce(sum(m) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cumlt
        |  FROM vals),
        |mo AS (SELECT CAST(sum(m) AS BIGINT) AS nn,
        |    CAST(sum(c * m) AS BIGINT) AS sc,
        |    sum(CAST(c AS HUGEINT) * c * m) AS scc
        |  FROM vals),
        |-- staged Phi: z, then x/tt, then the A&S 7.1.26 polynomial --
        |-- the SAME arithmetic ops as the Spark expression tree
        |zz AS (
        |  SELECT c, m, cumlt, nn,
        |    (CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(nn AS DOUBLE))
        |      / sqrt((CAST(nn AS DOUBLE) * CAST(scc AS DOUBLE) -
        |        CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) /
        |        (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))) AS z
        |  FROM ranked CROSS JOIN mo),
        |tx AS (
        |  SELECT *, abs(z) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
        |  FROM zz),
        |pp AS (
        |  SELECT *, 1.0 - (1.0 - (((((1.061405429 * tt - 1.453152027)
        |    * tt + 1.421413741) * tt - 0.284496736) * tt + 0.254829592)
        |    * tt) * exp(-x * x)) AS p2
        |  FROM tx),
        |ph AS (
        |  SELECT c, m, cumlt, nn,
        |    CASE WHEN z >= 0 THEN 1.0 - p2 / 2 ELSE p2 / 2 END AS f
        |  FROM pp),
        |dv AS (
        |  SELECT c, nn,
        |    greatest(
        |      abs(CAST(cumlt + m AS DOUBLE) / CAST(nn AS DOUBLE) - f),
        |      abs(f - CAST(cumlt AS DOUBLE) / CAST(nn AS DOUBLE))) AS dv
        |  FROM ph)
        |SELECT nn AS n_events, c AS at_cents, round(dv, 6) AS d_stat,
        |  dv > 0.895 / sqrt(CAST(nn AS DOUBLE)) AS reject_normal
        |FROM dv ORDER BY dv DESC, c LIMIT 1""".stripMargin,
    "q_tost" ->
      """WITH g AS (
        |  SELECT user_id % 2 AS g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS sc,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) *
        |      CAST(round(value * 100) AS BIGINT)) AS scc
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT a.n AS na, a.sc AS sa, a.scc AS ssa,
        |    b.n AS nb, b.sc AS sb, b.scc AS ssb
        |  FROM g a CROSS JOIN g b
        |  WHERE a.g = 0 AND b.g = 1)
        |SELECT
        |  round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE), 4) AS mean_a,
        |  round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 4) AS mean_b,
        |  round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE), 4) AS diff,
        |  round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) + 50.0) /
        |    sqrt(((CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |      (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) /
        |      CAST(na AS DOUBLE) +
        |      ((CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE) -
        |      CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |      (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) /
        |      CAST(nb AS DOUBLE)), 4) AS t_lower,
        |  round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) - 50.0) /
        |    sqrt(((CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |      (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) /
        |      CAST(na AS DOUBLE) +
        |      ((CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE) -
        |      CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |      (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) /
        |      CAST(nb AS DOUBLE)), 4) AS t_upper,
        |  ((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) + 50.0) /
        |    sqrt(((CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |      (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) /
        |      CAST(na AS DOUBLE) +
        |      ((CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE) -
        |      CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |      (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) /
        |      CAST(nb AS DOUBLE)) > 1.645) AND
        |  ((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) - 50.0) /
        |    sqrt(((CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |      (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))) /
        |      CAST(na AS DOUBLE) +
        |      ((CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE) -
        |      CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |      (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0))) /
        |      CAST(nb AS DOUBLE)) < -1.645) AS equivalent
        |FROM j""".stripMargin,
    "q_bayesian_ab" ->
      """WITH u AS (
        |  SELECT user_id % 2 AS g,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id, 1),
        |arms AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS s
        |  FROM u GROUP BY 1),
        |j AS (
        |  SELECT a.n AS na, a.s AS sa, b.n AS nb, b.s AS sb,
        |    (CAST(b.s AS DOUBLE) + 1.0) / (CAST(b.n AS DOUBLE) + 2.0) -
        |    (CAST(a.s AS DOUBLE) + 1.0) / (CAST(a.n AS DOUBLE) + 2.0)
        |      AS dmu,
        |    (CAST(a.s AS DOUBLE) + 1.0) *
        |      ((CAST(a.n AS DOUBLE) - a.s) + 1.0) /
        |      (((CAST(a.s AS DOUBLE) + 1.0) +
        |        ((CAST(a.n AS DOUBLE) - a.s) + 1.0)) *
        |       ((CAST(a.s AS DOUBLE) + 1.0) +
        |        ((CAST(a.n AS DOUBLE) - a.s) + 1.0)) *
        |       (((CAST(a.s AS DOUBLE) + 1.0) +
        |        ((CAST(a.n AS DOUBLE) - a.s) + 1.0)) + 1.0)) +
        |    (CAST(b.s AS DOUBLE) + 1.0) *
        |      ((CAST(b.n AS DOUBLE) - b.s) + 1.0) /
        |      (((CAST(b.s AS DOUBLE) + 1.0) +
        |        ((CAST(b.n AS DOUBLE) - b.s) + 1.0)) *
        |       ((CAST(b.s AS DOUBLE) + 1.0) +
        |        ((CAST(b.n AS DOUBLE) - b.s) + 1.0)) *
        |       (((CAST(b.s AS DOUBLE) + 1.0) +
        |        ((CAST(b.n AS DOUBLE) - b.s) + 1.0)) + 1.0)) AS vsum
        |  FROM arms a CROSS JOIN arms b
        |  WHERE a.g = 0 AND b.g = 1),
        |z AS (SELECT na, sa, nb, sb, dmu / sqrt(vsum) AS zz FROM j),
        |p AS (
        |  SELECT na, sa, nb, sb,
        |    CASE WHEN zz >= 0
        |    THEN 1.0 - (1.0 - (1.0 - (((((1.061405429 *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) -
        |      1.453152027) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) +
        |      1.421413741) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) -
        |      0.284496736) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) +
        |      0.254829592) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) *
        |      exp(-((abs(zz) / sqrt(2.0)) * (abs(zz) / sqrt(2.0))))))) / 2
        |    ELSE (1.0 - (1.0 - (((((1.061405429 *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) -
        |      1.453152027) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) +
        |      1.421413741) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) -
        |      0.284496736) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) +
        |      0.254829592) *
        |      (1.0 / (1.0 + 0.3275911 * (abs(zz) / sqrt(2.0)))) *
        |      exp(-((abs(zz) / sqrt(2.0)) * (abs(zz) / sqrt(2.0))))))) / 2
        |    END AS pb
        |  FROM z)
        |SELECT na AS n_a, sa AS conv_a, nb AS n_b, sb AS conv_b,
        |  round((CAST(sa AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + 2.0),
        |    6) AS rate_a,
        |  round((CAST(sb AS DOUBLE) + 1.0) / (CAST(nb AS DOUBLE) + 2.0),
        |    6) AS rate_b,
        |  round(pb, 6) AS prob_b_beats_a,
        |  (pb > 0.95 OR pb < 0.05) AS decisive
        |FROM p""".stripMargin,
    "q_binseg" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |pre AS (
        |  SELECT day, y,
        |    CAST(sum(y) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ps,
        |    CAST(count(*) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pn
        |  FROM daily),
        |tot AS (SELECT max(pn) AS n, max(ps) AS s FROM pre),
        |s1 AS (
        |  SELECT day AS b1, pn AS n1, ps AS s1,
        |    CAST(ps AS DOUBLE) * CAST(ps AS DOUBLE) /
        |      CAST(pn AS DOUBLE) +
        |    (CAST(s AS DOUBLE) - ps) * (CAST(s AS DOUBLE) - ps) /
        |      (CAST(n AS DOUBLE) - pn) -
        |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS g1,
        |    n, s
        |  FROM pre CROSS JOIN tot
        |  WHERE pn < n
        |  ORDER BY g1 DESC, b1 LIMIT 1),
        |cand2 AS (
        |  SELECT p.day AS b2,
        |    CASE WHEN p.day < s1.b1 THEN
        |      CAST(p.ps AS DOUBLE) * CAST(p.ps AS DOUBLE) /
        |        CAST(p.pn AS DOUBLE) +
        |      (CAST(s1.s1 AS DOUBLE) - p.ps) *
        |        (CAST(s1.s1 AS DOUBLE) - p.ps) /
        |        (CAST(s1.n1 AS DOUBLE) - p.pn) -
        |      CAST(s1.s1 AS DOUBLE) * CAST(s1.s1 AS DOUBLE) /
        |        CAST(s1.n1 AS DOUBLE)
        |    ELSE
        |      (CAST(p.ps AS DOUBLE) - s1.s1) *
        |        (CAST(p.ps AS DOUBLE) - s1.s1) /
        |        (CAST(p.pn AS DOUBLE) - s1.n1) +
        |      ((CAST(s1.s AS DOUBLE) - s1.s1) -
        |        (CAST(p.ps AS DOUBLE) - s1.s1)) *
        |        ((CAST(s1.s AS DOUBLE) - s1.s1) -
        |        (CAST(p.ps AS DOUBLE) - s1.s1)) /
        |        ((CAST(s1.n AS DOUBLE) - s1.n1) -
        |        (CAST(p.pn AS DOUBLE) - s1.n1)) -
        |      (CAST(s1.s AS DOUBLE) - s1.s1) *
        |        (CAST(s1.s AS DOUBLE) - s1.s1) /
        |        (CAST(s1.n AS DOUBLE) - s1.n1)
        |    END AS g2,
        |    s1.b1, s1.g1, s1.n
        |  FROM pre p CROSS JOIN s1
        |  WHERE p.day <> s1.b1 AND p.pn < s1.n AND
        |    ((p.day < s1.b1 AND p.pn < s1.n1) OR (p.day > s1.b1))
        |  ORDER BY g2 DESC, b2 LIMIT 1)
        |SELECT n AS n_days, b1 AS break1,
        |  round(g1 / 1e4, 4) AS gain1_dollars2,
        |  b2 AS break2, round(g2 / 1e4, 4) AS gain2_dollars2
        |FROM cand2""".stripMargin)
}
