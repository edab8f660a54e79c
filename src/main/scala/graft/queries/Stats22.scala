package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.{dec, dailyRev, arms}

/** Round-13 batch 1 — distributional diagnostics and paired-measure
  * agreement the earlier stats families don't cover: the sign test on
  * the daily revenue walk, Watson's U² (the rotation-invariant CvM
  * refinement), the Gastwirth robust location estimator, empirical
  * tail-dependence coefficients, one-way intraclass correlation,
  * Bland–Altman limits of agreement, the delta-method CI for a ratio
  * metric, and the Hosmer–Lemeshow calibration χ².
  *
  * Exactness strategy (house discipline): every corpus-sized sum is an
  * integer or decimal(38,0) — sign counts, rank numerators a_k =
  * i_k·m − j_k·n (Watson), per-arm day sums (Bland–Altman), per-user
  * (x, y) cross-moments (delta method), calibration-bin micro-score
  * sums. Quantities that need a division before a sum (ICC's per-group
  * (Σy)²/n_g, Hosmer–Lemeshow's per-bin χ² term) micro-quantize to
  * integers per GROUP first (the q_dsir discipline) so the final sum is
  * partition-order-proof. Doubles appear only in final one-row
  * formulas, computed from identical integer inputs in both engines.
  *
  * Scale shapes: sign test and Bland–Altman collapse the corpus ONCE to
  * the ≤31-day calendar; Watson U² is one GlobalRank pooled pass + one
  * keyed within-arm pass (the q_cvm_2sample shape); Gastwirth and tail
  * dependence run on value-domain histograms with prefix counts
  * (order statistics without any corpus-wide window); ICC and the delta
  * method are one user-keyed aggregate + one global aggregate;
  * Hosmer–Lemeshow is a map stage + a 10-key aggregate. The only
  * fan-ins are broadcast one-row frames.
  */
object Stats22 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** The q_calibration / q_quality_logit score pipeline (identical
    * formula — Hosmer–Lemeshow grades the same classifier's bins with
    * a different statistic). */
  private def calibBins(s: SparkSession, d: String): DataFrame = {
    val nTok = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast(LongType)
    val stopRatio = size(regexp_extract_all(col("text"),
      lit("\\b(the|a)\\b"), lit(0))).cast("double") / nTok
    val digitRatio = size(regexp_extract_all(col("text"),
      lit("[0-9]"), lit(0))).cast("double") /
      greatest(length(col("text")), lit(1)).cast("double")
    val meanWlen = (length(col("text")) -
      (nTok - lit(1))).cast("double") / nTok
    val x = lit(-2.0) + lit(0.9) * log(lit(1.0) + nTok) -
      lit(3.0) * stopRatio - lit(0.5) * digitRatio +
      lit(0.2) * meanWlen
    val score = round(lit(1.0) / (lit(1.0) + exp(-x)), 6)
    Tables.documents(s, d)
      .transform(Tables.fanoutReady)
      .select(least(lit(9L), floor(score * 10).cast("long")).as("bin"),
        round(score * 1e6).cast("long").as("s6"),
        when(col("lang") === "en", 1L).otherwise(0L).as("en"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("s6").as("ss"), sum("en").as("ne"))
  }

  val queries: Map[String, Q] = Map(
    // ---- sign test on day-over-day revenue changes: are up-days and
    // down-days balanced? Zero diffs drop (the classical convention);
    // z uses the continuity-corrected normal approximation
    // z = sgn(2b−m)·(|2b−m|−1)/√m on the integer counts — every count
    // is exact off the calendar array, so both engines agree bitwise
    // before the one final division. |2b−m| ≤ 1 gives z = 0 exactly:
    // computed, sgn(−1)·0/√m would be −0.0, which a value hash tells
    // from 0.0.
    "q_sign_test" -> ((s, d) =>
      dailyRev(s, d).select(size(col("xs")).cast(LongType).as("n_days"),
          expr("transform(slice(xs, 2, greatest(size(xs) - 1, 0)), " +
            "(e, i) -> e - xs[i])").as("rs"))
        .select(col("n_days"),
          expr("cast(size(filter(rs, r -> r > 0)) as bigint)")
            .as("n_pos"),
          expr("cast(size(filter(rs, r -> r < 0)) as bigint)")
            .as("n_neg"),
          expr("cast(size(filter(rs, r -> r = 0)) as bigint)")
            .as("n_zero"))
        .withColumn("m", col("n_pos") + col("n_neg"))
        .select(col("n_days"), col("n_pos"), col("n_neg"), col("n_zero"),
          round(when(col("m") === 0L, lit(null).cast("double"))
            .otherwise(when(abs(col("n_pos") * 2L - col("m")) <= 1L, lit(0.0))
              .otherwise(
                signum((col("n_pos") * 2L - col("m")).cast("double")) *
                  (abs(col("n_pos") * 2L - col("m")).cast("double") -
                    1.0) / sqrt(col("m").cast("double")))), 6)
            .as("z_cc"))),

    // ---- Watson's U² between the parity arms — the CvM variant that
    // subtracts the mean ECDF gap (rotation-invariant on the circle;
    // the right two-sample omnibus when a level shift alone shouldn't
    // dominate). Rank identity: at pooled position k the ECDF gap is
    // d_k = i_k/n − j_k/m = a_k/(nm) with INTEGER a_k = i_k·m − j_k·n,
    // so U² = (N·Σa² − (Σa)²) / (N³·n·m) off two integer sums. Ties
    // break by event_id (the house deterministic-rank convention —
    // conditionally exact, like q_cvm_2sample/q_lepage). Σa² ~ N⁵
    // routes decimal(38,0) (~1.9e36 at the 30× sweep point — inside
    // the 38-digit ceiling, documented bound).
    "q_watson_u2" -> ((s, d) => {
      val v = arms(s, d)
      // r14: one fused range+rank pass for both ranks (see GlobalRank)
      val both = GlobalRank.withPooledAndKeyedRowNumber(v, "r", "i",
        Seq("g"), Seq(col("c").asc, col("event_id").asc))
      val tot = v.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("m"))
      val i0 = when(col("g") === 0L, col("i"))
        .otherwise(col("r") - col("i"))
      val a = (dec(i0) * col("m") - dec(col("r") - i0) * col("n"))
        .cast("decimal(38,0)")
      val agg = both.crossJoin(broadcast(tot))
        .select(col("n"), col("m"), a.as("a"))
        .groupBy("n", "m").agg(sum(col("a")).as("sa"),
          sum((col("a") * col("a")).cast("decimal(38,0)")).as("sa2"))
      val nD = col("n").cast("double")
      val mD = col("m").cast("double")
      val nT = nD + mD
      val u2 = (nT * col("sa2").cast("double") -
        col("sa").cast("double") * col("sa").cast("double")) /
        (nT * nT * nT * nD * mD)
      agg.select(col("n"), col("m"), round(u2, 6).as("u2_stat"),
        (u2 > 0.187).as("differs"))
    }),

    // ---- Gastwirth estimator of location on order totals:
    // 0.3·Q(1/3) + 0.4·Q(1/2) + 0.3·Q(2/3) with Q(p) the EXACT value
    // at position ⌈p·n⌉ — the classic heavy-tail-robust compromise
    // between median and trimmed mean. Order statistics come off the
    // value histogram's prefix counts (value at position k = min c
    // with cum ≥ k), so no corpus-wide sort or window; the ⌈⌉ indices
    // are integer-exact ((n+2) div 3 etc.) in both engines.
    "q_gastwirth" -> ((s, d) => {
      val c = Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100).cast(LongType).as("c"))
      val hist = c.groupBy("c").agg(count(lit(1)).as("nc"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("nc", "pi", inclusive = true)))
      val tot = c.agg(count(lit(1)).as("n"))
      val picks = pre.crossJoin(broadcast(tot))
        .groupBy("n").agg(
          min(when(col("pi") >= expr("(n + 2) div 3"), col("c")))
            .as("q13"),
          min(when(col("pi") >= expr("(n + 1) div 2"), col("c")))
            .as("q12"),
          min(when(col("pi") >= expr("(n * 2 + 2) div 3"), col("c")))
            .as("q23"))
      picks.select(col("n"),
        round(col("q13").cast("double") / 100.0, 2).as("q13_dollars"),
        round(col("q12").cast("double") / 100.0, 2).as("med_dollars"),
        round(col("q23").cast("double") / 100.0, 2).as("q23_dollars"),
        round((lit(0.3) * col("q13") + lit(0.4) * col("q12") +
          lit(0.3) * col("q23")) / 100.0, 4).as("gastwirth_dollars"))
    }),

    // ---- empirical tail-dependence between line-item price and
    // quantity: λ(X→Y) = P(Y > y₉ | X > x₉) at the 0.9 marginal
    // thresholds (x₉ = value at position ⌈0.9n⌉ — the same
    // histogram-prefix order statistic as q_gastwirth, once per
    // column). The copula diagnostic that tells whether extremes
    // co-occur; all exceedance counts are exact integers under the
    // broadcast 1-row thresholds.
    "q_tail_dependence" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        round(col("l_extendedprice") * 100).cast(LongType).as("x"),
        col("l_quantity").cast(LongType).as("y"))
      def thr(vals: DataFrame, cn: String): DataFrame = {
        val hist = vals.groupBy(cn).agg(count(lit(1)).as("nc"))
        val pre = GlobalRank.withPrefixAggs(hist, Seq(col(cn).asc),
          Seq(PrefixAgg("nc", "pi", inclusive = true)))
        val tot = vals.agg(count(lit(1)).as("n"))
        pre.crossJoin(broadcast(tot)).groupBy("n")
          .agg(min(when(col("pi") >= expr("(n * 9 + 9) div 10"),
            col(cn))).as(s"${cn}_thr"))
      }
      val tx = thr(li.select("x"), "x")
      val ty = thr(li.select("y"), "y").drop("n")
      li.crossJoin(broadcast(tx.drop("n")))
        .crossJoin(broadcast(ty))
        .agg(count(lit(1)).as("n"),
          max(col("x_thr")).as("x_thr"), max(col("y_thr")).as("y_thr"),
          sum(when(col("x") > col("x_thr"), 1L).otherwise(0L))
            .as("n_x_exc"),
          sum(when(col("y") > col("y_thr"), 1L).otherwise(0L))
            .as("n_y_exc"),
          sum(when(col("x") > col("x_thr") && col("y") > col("y_thr"),
            1L).otherwise(0L)).as("n_joint"))
        .select(col("n"),
          round(col("x_thr").cast("double") / 100.0, 2)
            .as("x_thr_dollars"),
          col("y_thr"), col("n_x_exc"), col("n_y_exc"), col("n_joint"),
          round(when(col("n_x_exc") === 0L, lit(null).cast("double"))
            .otherwise(col("n_joint").cast("double") /
              col("n_x_exc").cast("double")), 6).as("lambda_xy"),
          round(when(col("n_y_exc") === 0L, lit(null).cast("double"))
            .otherwise(col("n_joint").cast("double") /
              col("n_y_exc").cast("double")), 6).as("lambda_yx"))
    }),

    // ---- one-way intraclass correlation ICC(1,1) of event values
    // within users (k groups of unequal size — Searle's n₀): how much
    // of the value variance is BETWEEN users? MSB needs Σ(Σy_g)²/n_g —
    // a division inside a corpus-sized sum — so each group's term
    // micro-quantizes to an integer FIRST (q_dsir discipline; both
    // engines run the identical double→round on identical integer
    // inputs), making the global sum partition-order-proof.
    "q_icc" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select(col("user_id"),
          round(col("value") * 100).cast(LongType).as("c"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("ng"), sum(dec(col("c"))).as("sy"),
          sum((dec(col("c")) * col("c")).cast("decimal(38,0)"))
            .as("syy"))
        .filter(col("ng") >= 2L)
      val t6 = round(col("sy").cast("double") *
        col("sy").cast("double") / col("ng").cast("double") * 1e6)
        .cast("decimal(38,0)")
      val tot = g.select(col("ng"), col("sy"), col("syy"), t6.as("t6"),
          (dec(col("ng")) * col("ng")).cast("decimal(38,0)").as("ng2"))
        .agg(count(lit(1)).as("k"), sum("ng").as("nn"),
          sum(col("sy")).as("s"), sum(col("syy")).as("ss"),
          sum(col("t6")).as("st6"), sum(col("ng2")).as("sn2"))
      val kD = col("k").cast("double")
      val nD = col("nn").cast("double")
      val between = col("st6").cast("double") / 1e6 -
        col("s").cast("double") * col("s").cast("double") / nD
      val within = col("ss").cast("double") -
        col("st6").cast("double") / 1e6
      val msb = between / (kD - 1.0)
      val msw = within / (nD - kD)
      val n0 = (nD - col("sn2").cast("double") / nD) / (kD - 1.0)
      val icc = (msb - msw) / (msb + (n0 - 1.0) * msw)
      tot.select(col("k").as("k_groups"), col("nn").as("n_obs"),
        round(msb, 4).as("msb"), round(msw, 4).as("msw"),
        round(n0, 6).as("n0"), round(icc, 6).as("icc"))
    }),

    // ---- Bland–Altman agreement between the parity arms' DAILY
    // revenue (the two "measurement methods" for the same day): mean
    // difference, SD, 95% limits of agreement, and the days outside
    // them. Differences are exact integer cents off one day-keyed
    // aggregate; the outside-count compares those integers against
    // the broadcast float limits — identical doubles from identical
    // integers in both engines.
    "q_bland_altman" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(
          sum(when(col("event_id") % 2 === 0,
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("a0"),
          sum(when(col("event_id") % 2 === 1,
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("a1"))
        .select(col("day"), (col("a0") - col("a1")).as("dd"))
      val cached = graft.CacheScope.cached(daily)
      val st = cached.agg(count(lit(1)).as("n"),
        sum(dec(col("dd"))).as("sd1"),
        sum((dec(col("dd")) * col("dd")).cast("decimal(38,0)"))
          .as("sd2"))
      val nD = col("n").cast("double")
      val mean = col("sd1").cast("double") / nD
      val sdv = sqrt((col("sd2").cast("double") -
        col("sd1").cast("double") * col("sd1").cast("double") / nD) /
        (nD - 1.0))
      val lims = st.select(col("n"), mean.as("mu"), sdv.as("sdv"),
        (mean - lit(1.96) * sdv).as("lo"),
        (mean + lit(1.96) * sdv).as("hi"))
      cached.crossJoin(broadcast(lims))
        .groupBy("n").agg(
          max(round(col("mu") / 100.0, 4)).as("mean_diff_dollars"),
          max(round(col("sdv") / 100.0, 4)).as("sd_dollars"),
          max(round(col("lo") / 100.0, 4)).as("loa_lo_dollars"),
          max(round(col("hi") / 100.0, 4)).as("loa_hi_dollars"),
          sum(when(col("dd").cast("double") < col("lo") ||
            col("dd").cast("double") > col("hi"), 1L).otherwise(0L))
            .as("n_outside"))
        .withColumnRenamed("n", "n_days")
        .orderBy("n_days")
    }),

    // ---- delta-method CI for the ratio metric revenue-per-event
    // (cluster = user — the unit randomization would assign): R =
    // Σy/Σx with Var(R) ≈ (s_y² − 2R·s_xy + R²·s_x²)/(n·x̄²) over
    // per-user totals. One user-keyed aggregate collapses the corpus;
    // all five cross-moments ride decimal(38,0); the ratio, SE, and
    // the 95% CI are final one-row doubles.
    "q_delta_method" -> ((s, d) => {
      val u = Tables.events(s, d)
        .select(col("user_id"),
          round(col("value") * 100).cast(LongType).as("c"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("x"), sum(dec(col("c"))).as("y"))
      val mo = u.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(col("y")).as("sy"),
        sum((dec(col("x")) * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((dec(col("x")) * col("y")).cast("decimal(38,0)")).as("sxy"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val syD = col("sy").cast("double")
      val r = syD / sxD
      val vx = (col("sxx").cast("double") - sxD * sxD / nD) / (nD - 1.0)
      val vy = (col("syy").cast("double") - syD * syD / nD) / (nD - 1.0)
      val cxy = (col("sxy").cast("double") - sxD * syD / nD) /
        (nD - 1.0)
      val xbar = sxD / nD
      val se = sqrt((vy - lit(2.0) * r * cxy + r * r * vx) / nD) / xbar
      mo.select(col("n").as("n_users"),
        round(r / 100.0, 6).as("ratio_dollars"),
        round(se / 100.0, 6).as("se_dollars"),
        round((r - lit(1.96) * se) / 100.0, 6).as("ci_lo"),
        round((r + lit(1.96) * se) / 100.0, 6).as("ci_hi"))
    }),

    // ---- Hosmer–Lemeshow χ² over q_calibration's ten fixed-width
    // score bins (same classifier, same bins — the TEST the
    // reliability diagram eyeballs): Σ (O−E)²/(E(1−E/n)). Each bin's
    // term micro-quantizes before the 10-row sum (deterministic even
    // on a shuffled bin frame); degenerate bins (E ≤ 0 or E ≥ n)
    // contribute 0 by the documented convention, mirrored in the
    // oracle.
    "q_hosmer_lemeshow" -> ((s, d) => {
      val bins = calibBins(s, d)
      val e = col("ss").cast("double") / 1e6
      val nD = col("n").cast("double")
      val term = when(e <= 0.0 || e >= nD, lit(0.0)).otherwise(
        (col("ne").cast("double") - e) * (col("ne").cast("double") - e) /
          (e * (lit(1.0) - e / nD)))
      bins.select(round(term * 1e6).cast(LongType).as("t6"))
        .agg(count(lit(1)).as("n_bins"), sum("t6").as("st6"))
        .select(col("n_bins"),
          round(col("st6").cast("double") / 1e6, 4).as("hl_stat"),
          (col("n_bins") - 2L).as("df"))
    }))

  /** The q_max_drawdown calendar CTE (duplicated from Risk — module
    * oracles are self-contained strings). */
  private val dailyXSql: String =
    """SELECT dd.day, coalesce(dl.rev, 0) AS x
      |FROM (SELECT unnest(range(
      |    (SELECT min(epoch_us(ts) // 86400000000) FROM events),
      |    (SELECT max(epoch_us(ts) // 86400000000) FROM events) + 1))
      |    AS day) dd
      |LEFT JOIN (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM events GROUP BY 1) dl ON dl.day = dd.day""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sign_test" ->
      s"""WITH dl AS ($dailyXSql),
        |df AS (
        |  SELECT x - lag(x) OVER (ORDER BY day) AS r FROM dl
        |  QUALIFY lag(x) OVER (ORDER BY day) IS NOT NULL),
        |agg AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM dl) AS n_days,
        |    CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos,
        |    CAST(sum(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_neg,
        |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero
        |  FROM df)
        |SELECT n_days, n_pos, n_neg, n_zero,
        |  round(CASE WHEN n_pos + n_neg = 0 THEN NULL
        |    WHEN abs(2 * n_pos - (n_pos + n_neg)) <= 1 THEN 0.0
        |    ELSE sign(CAST(2 * n_pos - (n_pos + n_neg) AS DOUBLE)) *
        |      (abs(CAST(2 * n_pos - (n_pos + n_neg) AS DOUBLE)) - 1.0)
        |      / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END, 6) AS z_cc
        |FROM agg""".stripMargin,

    "q_watson_u2" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c, event_id,
        |    event_id % 2 AS g
        |  FROM events),
        |rk AS (
        |  SELECT g,
        |    row_number() OVER (ORDER BY c, event_id) AS r,
        |    row_number() OVER (PARTITION BY g ORDER BY c, event_id)
        |      AS i
        |  FROM v),
        |t AS (
        |  SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m
        |  FROM v),
        |a AS (
        |  SELECT CAST(CASE WHEN g = 0 THEN i ELSE r - i END AS HUGEINT)
        |      * m -
        |    CAST(r - CASE WHEN g = 0 THEN i ELSE r - i END AS HUGEINT)
        |      * n AS a,
        |    n, m
        |  FROM rk CROSS JOIN t),
        |agg AS (
        |  SELECT n, m, sum(a) AS sa, sum(a * a) AS sa2
        |  FROM a GROUP BY n, m)
        |SELECT n, m,
        |  round(((CAST(n AS DOUBLE) + m) * CAST(sa2 AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |    (pow(CAST(n AS DOUBLE) + m, 3) * CAST(n AS DOUBLE) *
        |      CAST(m AS DOUBLE)), 6) AS u2_stat,
        |  ((CAST(n AS DOUBLE) + m) * CAST(sa2 AS DOUBLE) -
        |      CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) /
        |    (pow(CAST(n AS DOUBLE) + m, 3) * CAST(n AS DOUBLE) *
        |      CAST(m AS DOUBLE)) > 0.187 AS differs
        |FROM agg""".stripMargin,

    "q_gastwirth" ->
      """WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |p AS (
        |  SELECT n,
        |    min(CASE WHEN rn >= (n + 2) // 3 THEN c END) AS q13,
        |    min(CASE WHEN rn >= (n + 1) // 2 THEN c END) AS q12,
        |    min(CASE WHEN rn >= (n * 2 + 2) // 3 THEN c END) AS q23
        |  FROM rk CROSS JOIN t GROUP BY n)
        |SELECT n, round(CAST(q13 AS DOUBLE) / 100.0, 2) AS q13_dollars,
        |  round(CAST(q12 AS DOUBLE) / 100.0, 2) AS med_dollars,
        |  round(CAST(q23 AS DOUBLE) / 100.0, 2) AS q23_dollars,
        |  round((0.3 * q13 + 0.4 * q12 + 0.3 * q23) / 100.0, 4)
        |    AS gastwirth_dollars
        |FROM p""".stripMargin,

    "q_tail_dependence" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
        |    CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li),
        |tx AS (
        |  SELECT min(CASE WHEN rn >= (n * 9 + 9) // 10 THEN x END)
        |      AS x_thr
        |  FROM (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM li)
        |    CROSS JOIN t),
        |ty AS (
        |  SELECT min(CASE WHEN rn >= (n * 9 + 9) // 10 THEN y END)
        |      AS y_thr
        |  FROM (SELECT y, row_number() OVER (ORDER BY y) AS rn FROM li)
        |    CROSS JOIN t),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    max(x_thr) AS x_thr, max(y_thr) AS y_thr,
        |    CAST(sum(CASE WHEN x > x_thr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_x_exc,
        |    CAST(sum(CASE WHEN y > y_thr THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_y_exc,
        |    CAST(sum(CASE WHEN x > x_thr AND y > y_thr THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_joint
        |  FROM li CROSS JOIN tx CROSS JOIN ty)
        |SELECT n, round(CAST(x_thr AS DOUBLE) / 100.0, 2)
        |    AS x_thr_dollars,
        |  y_thr, n_x_exc, n_y_exc, n_joint,
        |  round(CASE WHEN n_x_exc = 0 THEN NULL
        |    ELSE CAST(n_joint AS DOUBLE) / n_x_exc END, 6) AS lambda_xy,
        |  round(CASE WHEN n_y_exc = 0 THEN NULL
        |    ELSE CAST(n_joint AS DOUBLE) / n_y_exc END, 6) AS lambda_yx
        |FROM agg""".stripMargin,

    "q_icc" ->
      """WITH g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
        |      AS sy,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) *
        |      CAST(round(value * 100) AS BIGINT)) AS syy
        |  FROM events GROUP BY 1 HAVING count(*) >= 2),
        |q AS (
        |  SELECT ng, sy, syy,
        |    CAST(round(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) /
        |      CAST(ng AS DOUBLE) * 1e6) AS HUGEINT) AS t6,
        |    CAST(ng AS HUGEINT) * ng AS ng2
        |  FROM g),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS nn, sum(sy) AS s, sum(syy) AS ss,
        |    sum(t6) AS st6, sum(ng2) AS sn2
        |  FROM q)
        |SELECT k AS k_groups, nn AS n_obs,
        |  round((CAST(st6 AS DOUBLE) / 1e6 -
        |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nn) / (k - 1.0), 4)
        |    AS msb,
        |  round((CAST(ss AS DOUBLE) - CAST(st6 AS DOUBLE) / 1e6) /
        |    (nn - CAST(k AS DOUBLE)), 4) AS msw,
        |  round((nn - CAST(sn2 AS DOUBLE) / nn) / (k - 1.0), 6) AS n0,
        |  round(((CAST(st6 AS DOUBLE) / 1e6 -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nn) / (k - 1.0) -
        |    (CAST(ss AS DOUBLE) - CAST(st6 AS DOUBLE) / 1e6) /
        |      (nn - CAST(k AS DOUBLE))) /
        |    ((CAST(st6 AS DOUBLE) / 1e6 -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nn) / (k - 1.0) +
        |    ((nn - CAST(sn2 AS DOUBLE) / nn) / (k - 1.0) - 1.0) *
        |    ((CAST(ss AS DOUBLE) - CAST(st6 AS DOUBLE) / 1e6) /
        |      (nn - CAST(k AS DOUBLE)))), 6) AS icc
        |FROM tot""".stripMargin,

    "q_bland_altman" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CASE WHEN event_id % 2 = 0
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) -
        |    CAST(sum(CASE WHEN event_id % 2 = 1
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS dd
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(dd AS HUGEINT)) AS sd1,
        |    sum(CAST(dd AS HUGEINT) * dd) AS sd2
        |  FROM daily),
        |lims AS (
        |  SELECT n, CAST(sd1 AS DOUBLE) / n AS mu,
        |    sqrt((CAST(sd2 AS DOUBLE) -
        |      CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / n) /
        |      (n - 1.0)) AS sdv
        |  FROM st)
        |SELECT n AS n_days,
        |  round(mu / 100.0, 4) AS mean_diff_dollars,
        |  round(sdv / 100.0, 4) AS sd_dollars,
        |  round((mu - 1.96 * sdv) / 100.0, 4) AS loa_lo_dollars,
        |  round((mu + 1.96 * sdv) / 100.0, 4) AS loa_hi_dollars,
        |  (SELECT CAST(sum(CASE WHEN CAST(dd AS DOUBLE) <
        |      mu - 1.96 * sdv OR CAST(dd AS DOUBLE) > mu + 1.96 * sdv
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM daily) AS n_outside
        |FROM lims ORDER BY n_days""".stripMargin,

    "q_delta_method" ->
      """WITH u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS x,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
        |      AS y
        |  FROM events GROUP BY 1),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(y * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM u),
        |f AS (
        |  SELECT n,
        |    CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sx AS DOUBLE) / n) / (n - 1.0) AS vx,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / n) / (n - 1.0) AS vy,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |      CAST(sy AS DOUBLE) / n) / (n - 1.0) AS cxy,
        |    CAST(sx AS DOUBLE) / n AS xbar
        |  FROM mo),
        |se AS (
        |  SELECT n, r,
        |    sqrt((vy - 2.0 * r * cxy + r * r * vx) / n) / xbar AS se
        |  FROM f)
        |SELECT n AS n_users, round(r / 100.0, 6) AS ratio_dollars,
        |  round(se / 100.0, 6) AS se_dollars,
        |  round((r - 1.96 * se) / 100.0, 6) AS ci_lo,
        |  round((r + 1.96 * se) / 100.0, 6) AS ci_hi
        |FROM se""".stripMargin,

    "q_hosmer_lemeshow" ->
      """WITH f AS (
        |  SELECT lang,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |      AS BIGINT) AS n_tokens,
        |    len(regexp_extract_all(text, '\b(the|a)\b')) AS stop_cnt,
        |    len(regexp_extract_all(text, '[0-9]')) AS dig_cnt,
        |    length(text) AS lc
        |  FROM documents),
        |x AS (
        |  SELECT lang,
        |    -2.0 + 0.9 * ln(1.0 + n_tokens)
        |      - 3.0 * (CAST(stop_cnt AS DOUBLE) / n_tokens)
        |      - 0.5 * (CAST(dig_cnt AS DOUBLE)
        |               / CAST(greatest(lc, 1) AS DOUBLE))
        |      + 0.2 * (CAST(lc - (n_tokens - 1) AS DOUBLE) / n_tokens)
        |      AS x
        |  FROM f),
        |sc AS (
        |  SELECT lang, round(1.0 / (1.0 + exp(-x)), 6) AS score FROM x),
        |b AS (
        |  SELECT least(9, CAST(floor(score * 10) AS BIGINT)) AS bin,
        |    CAST(round(score * 1e6) AS BIGINT) AS s6,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
        |  FROM sc),
        |bins AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(s6) AS BIGINT) AS ss,
        |    CAST(sum(en) AS BIGINT) AS ne
        |  FROM b GROUP BY 1),
        |terms AS (
        |  SELECT CAST(round(CASE WHEN ss / 1e6 <= 0.0 OR
        |      ss / 1e6 >= CAST(n AS DOUBLE) THEN 0.0
        |    ELSE (CAST(ne AS DOUBLE) - ss / 1e6) *
        |      (CAST(ne AS DOUBLE) - ss / 1e6) /
        |      ((ss / 1e6) * (1.0 - ss / 1e6 / n)) END * 1e6)
        |      AS BIGINT) AS t6
        |  FROM bins)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |  round(CAST(sum(t6) AS DOUBLE) / 1e6, 4) AS hl_stat,
        |  CAST(count(*) - 2 AS BIGINT) AS df
        |FROM terms""".stripMargin)
}
