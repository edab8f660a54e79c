package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.queries.Kernels.dec

/** Round-11 causal/fairness batch: synthetic control with an integer
  * simplex weight grid, demographic parity and equalized odds of a
  * threshold decision rule, and the two-component Theil inequality
  * decomposition.
  *
  * House discipline: the synthetic-control fit is EXACT — tenth-scaled
  * integer weights (w₁+w₂+w₃ = 10), residual e = 10·y₀ − Σwᵢyᵢ an
  * integer, SSE in decimal(38,0), argmin with a deterministic weight
  * tiebreak; the fairness rates are pure counting against the exact
  * rank-⌊n/2⌋ median threshold (no float percentile); Theil terms are
  * quantized to micro-nats per user/per group BEFORE the integer sums.
  *
  * Scale shapes: everything collapses the corpus once (per-(day,region)
  * sums, per-user sums, value-domain histogram); the 66-row weight grid
  * and the 5-row group frames are broadcast; the only windows ride
  * bounded frames (≤5 rows) or GlobalRank offsets.
  */
object Fairness {
  private type Q = (SparkSession, String) => DataFrame

  /** Daily (day, y0..y3) order-revenue frame per region 0..3 — the
    * panel behind the synthetic control. Days with ≥1 order. */
  private def regionDaily(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("nk"))
      .select(col("c_custkey").as("ck"), col("rk"))
    Tables.orders(s, d)
      .select(col("o_custkey").as("ck"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast(LongType)
          .as("day"),
        round(col("o_totalprice") * 100).cast(LongType).as("c"))
      .join(cust, "ck")
      .groupBy("day")
      .agg(
        sum(when(col("rk") === 0, col("c")).otherwise(0L)).as("y0"),
        sum(when(col("rk") === 1, col("c")).otherwise(0L)).as("y1"),
        sum(when(col("rk") === 2, col("c")).otherwise(0L)).as("y2"),
        sum(when(col("rk") === 3, col("c")).otherwise(0L)).as("y3"))
  }

  /** Exact pooled median spend threshold (rank-⌊n/2⌋ order statistic,
    * event-id tiebreak) plus event decision/label/group flags. */
  private def decisions(s: SparkSession, d: String): DataFrame = {
    val ev = graft.CacheScope.cached(Tables.events(s, d).select(
      col("event_id"), (col("user_id") % 2).as("g"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
      round(col("value") * 100).cast(LongType).as("c")))
    val tot = ev.agg(count(lit(1)).as("n"))
    val ranked = GlobalRank.withRowNumber(ev.select("c", "event_id"),
      "rn", Seq(col("c").asc, col("event_id").asc))
    val med = ranked.crossJoin(broadcast(tot))
      .filter(col("rn").cast("long") === expr("n div 2"))
      .select(col("c").as("med"))
    ev.crossJoin(broadcast(med))
      .select(col("g"), col("y"),
        when(col("c") > col("med"), 1L).otherwise(0L).as("dd"))
  }

  val queries: Map[String, Q] = Map(
    // ---- Synthetic control (Abadie et al.) for region 0's daily
    // order revenue with donors regions 1–3: tenth-scaled weights over
    // the 66-point integer simplex, pre-period SSE in exact
    // decimal(38,0), deterministic argmin, post-period average gap
    // from exact integer sums. One corpus collapse; the grid
    // broadcasts.
    "q_synth_control" -> ((s, d) => {
      val panel = graft.CacheScope.cached(regionDaily(s, d))
      val span = panel.agg(min("day").as("mn"), max("day").as("mx"))
      val grid = s.range(1)
        .select(explode(sequence(lit(0L), lit(10L))).as("w1"))
        .crossJoin(s.range(1)
          .select(explode(sequence(lit(0L), lit(10L))).as("w2")))
        .filter(col("w1") + col("w2") <= 10L)
        .select(col("w1"), col("w2"),
          (lit(10L) - col("w1") - col("w2")).as("w3"))
      val marked = panel.crossJoin(broadcast(span))
        .select(col("day"), col("y0"), col("y1"), col("y2"), col("y3"),
          (col("day") < expr("(mn + mx + 1) div 2")).as("pre"))
      val e = col("y0") * 10L - (col("w1") * col("y1") +
        col("w2") * col("y2") + col("w3") * col("y3"))
      val best = marked.filter(col("pre"))
        .crossJoin(broadcast(grid))
        .groupBy("w1", "w2", "w3")
        .agg(sum((dec(e) * e).cast("decimal(38,0)")).as("sse"))
        .orderBy(col("sse").asc, col("w1").asc, col("w2").asc)
        .limit(1)
      marked.filter(!col("pre"))
        .crossJoin(broadcast(best))
        .groupBy("w1", "w2", "w3", "sse")
        .agg(count(lit(1)).as("n_post"), sum(dec(e)).as("gap"))
        .select(col("w1"), col("w2"), col("w3"),
          expr("sse div 1000000").cast(LongType)
            .as("sse_pre_dollars2"),
          col("n_post"),
          round(col("gap").cast("double") /
            (lit(10.0) * col("n_post").cast("double")) / 100.0, 2)
            .as("avg_gap_dollars"))
    }),

    // ---- Demographic parity of the decision "spend above the exact
    // pooled median" across the user-parity groups: rate difference
    // and disparate-impact ratio from pure counts.
    "q_demographic_parity" -> ((s, d) => {
      val dd = decisions(s, d)
      val r = dd.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("dd").as("pos"))
      val one = r.agg(
        sum(when(col("g") === 0L, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1L, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("g") === 0L, col("pos")).otherwise(0L)).as("p0"),
        sum(when(col("g") === 1L, col("pos")).otherwise(0L)).as("p1"))
      val r0 = col("p0").cast("double") / col("n0").cast("double")
      val r1 = col("p1").cast("double") / col("n1").cast("double")
      one.select(col("n0"), col("n1"),
        round(r0, 6).as("rate_g0"), round(r1, 6).as("rate_g1"),
        round(r1 - r0, 6).as("dp_diff"),
        round(r1 / r0, 6).as("di_ratio"))
    }),

    // ---- Equalized odds of the same decision rule against the
    // purchase label: per-group TPR/FPR from pure counts; the EO gap
    // is the larger of the two absolute rate differences.
    "q_equalized_odds" -> ((s, d) => {
      val dd = decisions(s, d)
      val r = dd.groupBy("g", "y")
        .agg(count(lit(1)).as("n"), sum("dd").as("pos"))
      val one = r.agg(
        sum(when(col("g") === 0L && col("y") === 1L, col("pos"))
          .otherwise(0L)).as("tp0"),
        sum(when(col("g") === 0L && col("y") === 1L, col("n"))
          .otherwise(0L)).as("ap0"),
        sum(when(col("g") === 1L && col("y") === 1L, col("pos"))
          .otherwise(0L)).as("tp1"),
        sum(when(col("g") === 1L && col("y") === 1L, col("n"))
          .otherwise(0L)).as("ap1"),
        sum(when(col("g") === 0L && col("y") === 0L, col("pos"))
          .otherwise(0L)).as("fp0"),
        sum(when(col("g") === 0L && col("y") === 0L, col("n"))
          .otherwise(0L)).as("an0"),
        sum(when(col("g") === 1L && col("y") === 0L, col("pos"))
          .otherwise(0L)).as("fp1"),
        sum(when(col("g") === 1L && col("y") === 0L, col("n"))
          .otherwise(0L)).as("an1"))
      val tpr0 = col("tp0").cast("double") / col("ap0").cast("double")
      val tpr1 = col("tp1").cast("double") / col("ap1").cast("double")
      val fpr0 = col("fp0").cast("double") / col("an0").cast("double")
      val fpr1 = col("fp1").cast("double") / col("an1").cast("double")
      one.select(round(tpr0, 6).as("tpr_g0"),
        round(tpr1, 6).as("tpr_g1"),
        round(fpr0, 6).as("fpr_g0"), round(fpr1, 6).as("fpr_g1"),
        round(greatest(abs(tpr1 - tpr0), abs(fpr1 - fpr0)), 6)
          .as("eo_gap"))
    }),

    // ---- Theil-T inequality decomposition of per-user revenue over
    // the user_id%5 cohorts: per-user terms (x/μ)ln(x/μ) quantized to
    // micro-nats before every sum; per-group rows carry the within
    // (income-share-weighted T_g) and between (s_g·ln(μ_g/μ))
    // contributions, totalled over the 5-row frame. Positive-revenue
    // users only — the index's domain assumption, explicit in both
    // engines.
    "q_theil_decomp" -> ((s, d) => {
      val u = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast(LongType)).as("x"))
        .filter(col("x") > 0L)
        .select((col("user_id") % 5).as("g"), col("x")))
      val tot = u.agg(count(lit(1)).as("n"), sum("x").as("s"))
      val gm = u.groupBy("g").agg(count(lit(1)).as("ng"),
        sum("x").as("sg"))
      val per = u.crossJoin(broadcast(tot))
        .join(broadcast(gm), "g")
        .select(col("g"),
          round(lit(1000000.0) *
            (col("x").cast("double") * col("n").cast("double") /
              col("s").cast("double")) *
            log(col("x").cast("double") * col("n").cast("double") /
              col("s").cast("double"))).cast(LongType).as("tg"),
          round(lit(1000000.0) *
            (col("x").cast("double") * col("ng").cast("double") /
              col("sg").cast("double")) *
            log(col("x").cast("double") * col("ng").cast("double") /
              col("sg").cast("double"))).cast(LongType).as("tw"))
      val gsum = per.groupBy("g")
        .agg(sum("tg").as("stg"), sum("tw").as("stw"))
      val rows = gsum.join(broadcast(gm), "g").crossJoin(broadcast(tot))
        .select(col("g"), col("ng").as("n_users"),
          round(col("sg").cast("double") / col("s").cast("double"), 6)
            .as("income_share"),
          round(col("stw").cast("double") /
            (col("ng").cast("double") * 1000000.0), 6).as("theil_g"),
          round(col("sg").cast("double") / col("s").cast("double") *
            col("stw").cast("double") / col("ng").cast("double"))
            .cast(LongType).as("wq"),
          round(lit(1000000.0) *
            (col("sg").cast("double") / col("s").cast("double")) *
            log(col("sg").cast("double") * col("n").cast("double") /
              (col("s").cast("double") * col("ng").cast("double"))))
            .cast(LongType).as("bq"),
          round(col("stg").cast("double") / col("n").cast("double"))
            .cast(LongType).as("tq"))
      val w = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing) // 5-row frame: exempt
      rows.select(col("g"), col("n_users"), col("income_share"),
          col("theil_g"),
          sum("wq").over(w).as("theil_within_micro"),
          sum("bq").over(w).as("theil_between_micro"),
          sum("tq").over(w).as("theil_total_micro"))
        .orderBy("g")
    }))

  val oracle: Map[String, String] = Map(
    "q_synth_control" ->
      """WITH cust AS (
        |  SELECT c.c_custkey AS ck, n.n_regionkey AS rk
        |  FROM customer c JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey),
        |panel AS (
        |  SELECT CAST(datediff('day', DATE '1992-01-01', o.o_orderdate)
        |      AS BIGINT) AS day,
        |    CAST(sum(CASE WHEN rk = 0
        |      THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y0,
        |    CAST(sum(CASE WHEN rk = 1
        |      THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y1,
        |    CAST(sum(CASE WHEN rk = 2
        |      THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y2,
        |    CAST(sum(CASE WHEN rk = 3
        |      THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y3
        |  FROM orders o JOIN cust ON cust.ck = o.o_custkey
        |  GROUP BY 1),
        |span AS (SELECT min(day) AS mn, max(day) AS mx FROM panel),
        |grid AS (
        |  SELECT w1, w2, 10 - w1 - w2 AS w3
        |  FROM (SELECT unnest(range(0, 11)) AS w1),
        |       (SELECT unnest(range(0, 11)) AS w2)
        |  WHERE w1 + w2 <= 10),
        |marked AS (
        |  SELECT day, y0, y1, y2, y3,
        |    day < (mn + mx + 1) // 2 AS pre
        |  FROM panel, span),
        |best AS (
        |  SELECT CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
        |    CAST(w3 AS BIGINT) AS w3,
        |    sum(CAST(y0 * 10 - (w1 * y1 + w2 * y2 + w3 * y3)
        |        AS HUGEINT) *
        |      (y0 * 10 - (w1 * y1 + w2 * y2 + w3 * y3))) AS sse
        |  FROM marked, grid WHERE pre
        |  GROUP BY 1, 2, 3 ORDER BY sse, w1, w2 LIMIT 1)
        |SELECT w1, w2, w3,
        |  CAST(sse // 1000000 AS BIGINT) AS sse_pre_dollars2,
        |  CAST(count(*) AS BIGINT) AS n_post,
        |  round(CAST(sum(CAST(y0 * 10 -
        |      (w1 * y1 + w2 * y2 + w3 * y3) AS HUGEINT)) AS DOUBLE) /
        |    (10.0 * CAST(count(*) AS DOUBLE)) / 100.0, 2)
        |    AS avg_gap_dollars
        |FROM marked, best WHERE NOT pre
        |GROUP BY w1, w2, w3, sse""".stripMargin,

    "q_demographic_parity" ->
      """WITH ev AS (
        |  SELECT event_id, user_id % 2 AS g,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c, event_id)
        |    AS rn FROM ev),
        |med AS (SELECT c AS med FROM rk, tot WHERE rn = n // 2),
        |dd AS (SELECT g,
        |    CASE WHEN c > med THEN 1 ELSE 0 END AS dd
        |  FROM ev, med),
        |one AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN g = 0 THEN dd ELSE 0 END) AS BIGINT)
        |      AS p0,
        |    CAST(sum(CASE WHEN g = 1 THEN dd ELSE 0 END) AS BIGINT)
        |      AS p1
        |  FROM dd)
        |SELECT n0, n1,
        |  round(CAST(p0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate_g0,
        |  round(CAST(p1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate_g1,
        |  round(CAST(p1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |    CAST(p0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS dp_diff,
        |  round((CAST(p1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |    (CAST(p0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 6) AS di_ratio
        |FROM one""".stripMargin,

    "q_equalized_odds" ->
      """WITH ev AS (
        |  SELECT event_id, user_id % 2 AS g,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c, event_id)
        |    AS rn FROM ev),
        |med AS (SELECT c AS med FROM rk, tot WHERE rn = n // 2),
        |dd AS (SELECT g, y,
        |    CASE WHEN c > med THEN 1 ELSE 0 END AS dd
        |  FROM ev, med),
        |one AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g = 0 AND y = 1 THEN dd ELSE 0 END)
        |      AS BIGINT) AS tp0,
        |    CAST(sum(CASE WHEN g = 0 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ap0,
        |    CAST(sum(CASE WHEN g = 1 AND y = 1 THEN dd ELSE 0 END)
        |      AS BIGINT) AS tp1,
        |    CAST(sum(CASE WHEN g = 1 AND y = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ap1,
        |    CAST(sum(CASE WHEN g = 0 AND y = 0 THEN dd ELSE 0 END)
        |      AS BIGINT) AS fp0,
        |    CAST(sum(CASE WHEN g = 0 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS an0,
        |    CAST(sum(CASE WHEN g = 1 AND y = 0 THEN dd ELSE 0 END)
        |      AS BIGINT) AS fp1,
        |    CAST(sum(CASE WHEN g = 1 AND y = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS an1
        |  FROM dd)
        |SELECT
        |  round(CAST(tp0 AS DOUBLE) / CAST(ap0 AS DOUBLE), 6)
        |    AS tpr_g0,
        |  round(CAST(tp1 AS DOUBLE) / CAST(ap1 AS DOUBLE), 6)
        |    AS tpr_g1,
        |  round(CAST(fp0 AS DOUBLE) / CAST(an0 AS DOUBLE), 6)
        |    AS fpr_g0,
        |  round(CAST(fp1 AS DOUBLE) / CAST(an1 AS DOUBLE), 6)
        |    AS fpr_g1,
        |  round(greatest(
        |    abs(CAST(tp1 AS DOUBLE) / CAST(ap1 AS DOUBLE) -
        |      CAST(tp0 AS DOUBLE) / CAST(ap0 AS DOUBLE)),
        |    abs(CAST(fp1 AS DOUBLE) / CAST(an1 AS DOUBLE) -
        |      CAST(fp0 AS DOUBLE) / CAST(an0 AS DOUBLE))), 6)
        |    AS eo_gap
        |FROM one""".stripMargin,

    "q_theil_decomp" ->
      """WITH u AS (
        |  SELECT user_id % 5 AS g, x FROM (
        |    SELECT user_id,
        |      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |        AS x
        |    FROM events GROUP BY user_id)
        |  WHERE x > 0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS s FROM u),
        |gm AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |  CAST(sum(x) AS BIGINT) AS sg FROM u GROUP BY g),
        |per AS (
        |  SELECT u.g,
        |    CAST(round(1000000.0 *
        |      (CAST(x AS DOUBLE) * CAST(n AS DOUBLE) /
        |        CAST(s AS DOUBLE)) *
        |      ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) /
        |        CAST(s AS DOUBLE))) AS BIGINT) AS tg,
        |    CAST(round(1000000.0 *
        |      (CAST(x AS DOUBLE) * CAST(ng AS DOUBLE) /
        |        CAST(sg AS DOUBLE)) *
        |      ln(CAST(x AS DOUBLE) * CAST(ng AS DOUBLE) /
        |        CAST(sg AS DOUBLE))) AS BIGINT) AS tw
        |  FROM u CROSS JOIN tot JOIN gm ON gm.g = u.g),
        |gsum AS (SELECT g, CAST(sum(tg) AS BIGINT) AS stg,
        |  CAST(sum(tw) AS BIGINT) AS stw FROM per GROUP BY g),
        |rows0 AS (
        |  SELECT gsum.g, gm.ng AS n_users,
        |    round(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE), 6)
        |      AS income_share,
        |    round(CAST(stw AS DOUBLE) /
        |      (CAST(ng AS DOUBLE) * 1000000.0), 6) AS theil_g,
        |    CAST(round(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE) *
        |      CAST(stw AS DOUBLE) / CAST(ng AS DOUBLE)) AS BIGINT)
        |      AS wq,
        |    CAST(round(1000000.0 *
        |      (CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)) *
        |      ln(CAST(sg AS DOUBLE) * CAST(n AS DOUBLE) /
        |        (CAST(s AS DOUBLE) * CAST(ng AS DOUBLE))))
        |      AS BIGINT) AS bq,
        |    CAST(round(CAST(stg AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS BIGINT) AS tq
        |  FROM gsum JOIN gm ON gm.g = gsum.g CROSS JOIN tot)
        |SELECT g, n_users, income_share, theil_g,
        |  CAST(sum(wq) OVER () AS BIGINT) AS theil_within_micro,
        |  CAST(sum(bq) OVER () AS BIGINT) AS theil_between_micro,
        |  CAST(sum(tq) OVER () AS BIGINT) AS theil_total_micro
        |FROM rows0 ORDER BY g""".stripMargin)
}
