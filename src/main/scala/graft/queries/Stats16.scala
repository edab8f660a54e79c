package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.dec

/** Round-11 partition-agreement / dependence-geometry batch: adjusted
  * Rand index and Fowlkes–Mallows between the market-segment and
  * region partitions of the customer base, Goodman–Kruskal λ
  * (proportional reduction in prediction error), Dixon's Q outlier
  * ratio on the daily revenue frame, Székely's distance correlation on
  * the calendar frame, and Kuiper's V between the click and view spend
  * distributions.
  *
  * House discipline: every statistic reduces to exact integer
  * sufficient statistics — pair counts C(n,2) kept as n(n−1) (the /2
  * cancels or divides exactly), the distance-correlation double
  * centering multiplied out by n² so α_jk = n²a_jk − n·r_j − n·r_k + T
  * is an exact integer, Kuiper's sup evaluated as max over the value
  * domain of the integer cross-difference f0·n1 − f1·n0 — and the
  * float tail is a handful of fixed-order one-row ops mirrored
  * textually in the oracle.
  *
  * Scale shapes: ARI/FM/λ ride one corpus-collapse to a ≤125-cell
  * (segment × region) contingency grid; Dixon and dCor live on the
  * ≤366-row calendar frame (dCor's 366² pair frame is the
  * matrix-profile class — broadcast self-join, never a shuffle); Kuiper
  * rides the value-domain histogram with GlobalRank prefix sums.
  *
  * Reference analog: bacalhau ships clustering-evaluation jobs as
  * per-shard containers (`pkg/executor/docker`); here each is one
  * declarative plan.
  */
object Stats16 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** (segment, region, n) contingency of the customer base — the two
    * "clusterings" whose agreement ARI/FM/λ measure. ≤125 cells. */
  private def contingency(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
    Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("nk"))
      .groupBy(col("c_mktsegment").as("seg"), col("rk"))
      .agg(count(lit(1)).as("nij"))
  }

  /** Dense daily (day, clicks, purchases, revenue_cents) calendar
    * frame — the Stats15.dailyJoint shape, kept local so the modules
    * stay self-contained. */
  private def daily(s: SparkSession, d: String): DataFrame = {
    val agg = graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("a"),
        count(when(col("event_type") === "purchase", 1)).as("b"),
        sum(round(col("value") * 100).cast(LongType)).as("rev")))
    val span = agg.agg(min("day").as("mn"), max("day").as("mx"))
    span.select(explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(agg, Seq("day"), "left")
      .select(col("day"), coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"),
        coalesce(col("rev"), lit(0L)).as("rev"))
  }

  val queries: Map[String, Q] = Map(
    // ---- Adjusted Rand index (Hubert & Arabie 1985) between the
    // market-segment and region partitions: with P = Σ_ij n_ij(n_ij−1),
    // A = Σ_i n_i·(n_i·−1), B = Σ_j n_·j(n_·j−1), N2 = n(n−1),
    // ARI = (N2·P − A·B) / (N2·(A+B)/2 − A·B) — the /2's cancel into
    // exact integers, one final division.
    "q_adjusted_rand" -> ((s, d) => {
      val ct = graft.CacheScope.cached(contingency(s, d))
      val p = ct.agg(sum("nij").as("n"),
        sum((dec(col("nij")) * (col("nij") - 1L)).cast("decimal(38,0)"))
          .as("p"))
      val a = ct.groupBy("seg").agg(sum("nij").as("ni"))
        .agg(sum((dec(col("ni")) * (col("ni") - 1L))
          .cast("decimal(38,0)")).as("a"))
      val b = ct.groupBy("rk").agg(sum("nij").as("nj"))
        .agg(sum((dec(col("nj")) * (col("nj") - 1L))
          .cast("decimal(38,0)")).as("b"))
      val n2 = dec(col("n")) * (col("n") - 1L)
      p.crossJoin(broadcast(a)).crossJoin(broadcast(b))
        .select(col("n").as("n_customers"),
          round((n2.cast("double") * col("p").cast("double") -
            col("a").cast("double") * col("b").cast("double")) /
            (n2.cast("double") *
              (col("a").cast("double") + col("b").cast("double")) /
              2.0 -
              col("a").cast("double") * col("b").cast("double")), 6)
            .as("ari"))
    }),

    // ---- Fowlkes–Mallows index on the same contingency:
    // FM = P / √(A·B) with the same doubled pair counts (the /2's
    // cancel inside the ratio). FM ∈ [0,1]; expectation under
    // independence is √(A·B)/N2.
    "q_fowlkes_mallows" -> ((s, d) => {
      val ct = graft.CacheScope.cached(contingency(s, d))
      val p = ct.agg(sum("nij").as("n"),
        sum((dec(col("nij")) * (col("nij") - 1L)).cast("decimal(38,0)"))
          .as("p"))
      val a = ct.groupBy("seg").agg(sum("nij").as("ni"))
        .agg(sum((dec(col("ni")) * (col("ni") - 1L))
          .cast("decimal(38,0)")).as("a"))
      val b = ct.groupBy("rk").agg(sum("nij").as("nj"))
        .agg(sum((dec(col("nj")) * (col("nj") - 1L))
          .cast("decimal(38,0)")).as("b"))
      p.crossJoin(broadcast(a)).crossJoin(broadcast(b))
        .select(col("n").as("n_customers"),
          round(col("p").cast("double") /
            sqrt(col("a").cast("double") * col("b").cast("double")), 6)
            .as("fm"),
          round(sqrt(col("a").cast("double") * col("b").cast("double")) /
            (dec(col("n")) * (col("n") - 1L)).cast("double"), 6)
            .as("fm_indep"))
    }),

    // ---- Goodman–Kruskal λ for predicting segment from region (and
    // the reverse): λ = (Σ_j max_i n_ij − max_i n_i·) / (n − max_i n_i·)
    // — the proportional reduction in modal prediction error. Pure
    // integer maxima over the ≤125-cell grid.
    "q_gk_lambda" -> ((s, d) => {
      val ct = graft.CacheScope.cached(contingency(s, d))
      val tot = ct.agg(sum("nij").as("n"))
      val colMax = ct.groupBy("rk").agg(max("nij").as("mj"))
        .agg(sum("mj").as("sum_mj"))
      val rowMax = ct.groupBy("seg").agg(max("nij").as("mi"))
        .agg(sum("mi").as("sum_mi"))
      val margSeg = ct.groupBy("seg").agg(sum("nij").as("ni"))
        .agg(max("ni").as("max_ni"))
      val margReg = ct.groupBy("rk").agg(sum("nij").as("nj"))
        .agg(max("nj").as("max_nj"))
      tot.crossJoin(broadcast(colMax)).crossJoin(broadcast(rowMax))
        .crossJoin(broadcast(margSeg)).crossJoin(broadcast(margReg))
        .select(col("n").as("n_customers"),
          round((col("sum_mj") - col("max_ni")).cast("double") /
            (col("n") - col("max_ni")).cast("double"), 6)
            .as("lambda_seg_given_reg"),
          round((col("sum_mi") - col("max_nj")).cast("double") /
            (col("n") - col("max_nj")).cast("double"), 6)
            .as("lambda_reg_given_seg"))
    }),

    // ---- Dixon's Q on the daily revenue frame: both one-sided ratios
    // Q_hi = (x₍ₙ₎−x₍ₙ₋₁₎)/range, Q_lo = (x₍₂₎−x₍₁₎)/range over the
    // sorted order statistics of the ≤366-row calendar frame — one
    // sorted array, four element picks, exact integers until the
    // division.
    "q_dixon_q" -> ((s, d) => {
      // the size-≥2 guard only exists for the degenerate empty-input
      // case (ANSI element_at errors on an empty array); the fixture
      // path always takes the true branch, so oracle parity is intact
      def at(i: Int): Column =
        when(size(col("xs")) >= 2, element_at(col("xs"), i))
      daily(s, d)
        .agg(sort_array(collect_list(col("rev"))).as("xs"))
        .select(size(col("xs")).cast(LongType).as("n_days"),
          at(-1).as("x_max"), at(1).as("x_min"),
          round((at(-1) - at(-2)).cast("double") /
            (at(-1) - at(1)).cast("double"), 6).as("q_high"),
          round((at(2) - at(1)).cast("double") /
            (at(-1) - at(1)).cast("double"), 6).as("q_low"))
    }),

    // ---- Székely's distance correlation between daily clicks and
    // daily purchases: double centering multiplied out by n² so
    // α_jk = n²·a_jk − n·r_j − n·r_k + T is an exact integer
    // (a_jk = |x_j−x_k|, r row sums, T grand total); the n⁶ scale
    // cancels in dCor = Σαβ / √(Σα²·Σβ²). The 366² pair frame is a
    // broadcast self-join (matrix-profile class).
    "q_distance_corr" -> ((s, d) => {
      val dl = graft.CacheScope.cached(
        daily(s, d).select(col("day"), col("a").as("x"),
          col("b").as("y")))
      val rhs = dl.select(col("day").as("dk"), col("x").as("xk"),
        col("y").as("yk"))
      val pairs = dl.crossJoin(broadcast(rhs))
        .select(col("day"), col("dk"),
          abs(col("x") - col("xk")).as("ad"),
          abs(col("y") - col("yk")).as("bd"))
      val rows = pairs.groupBy("day")
        .agg(sum("ad").as("ra"), sum("bd").as("rb"))
      val tot = rows.agg(count(lit(1)).as("n"), sum("ra").as("ta"),
        sum("rb").as("tb"))
      val rj = rows.select(col("day"), col("ra"), col("rb"))
      val rk = rows.select(col("day").as("dk"), col("ra").as("rak"),
        col("rb").as("rbk"))
      val cent = pairs
        .join(broadcast(rj), "day")
        .join(broadcast(rk), "dk")
        .crossJoin(broadcast(tot))
        .select(
          (dec(col("n")) * col("n") * col("ad") -
            dec(col("n")) * col("ra") - dec(col("n")) * col("rak") +
            col("ta")).cast("decimal(38,0)").as("al"),
          (dec(col("n")) * col("n") * col("bd") -
            dec(col("n")) * col("rb") - dec(col("n")) * col("rbk") +
            col("tb")).cast("decimal(38,0)").as("be"))
      val sums = cent.agg(
        sum((col("al") * col("be")).cast("decimal(38,0)")).as("sab"),
        sum((col("al") * col("al")).cast("decimal(38,0)")).as("saa"),
        sum((col("be") * col("be")).cast("decimal(38,0)")).as("sbb"))
      sums.crossJoin(broadcast(tot))
        .select(col("n").as("n_days"),
          round(col("sab").cast("double") /
            sqrt(col("saa").cast("double") * col("sbb").cast("double")),
            6).as("dcor_sq"))
    }),

    // ---- Kuiper's V between the click and view spend distributions:
    // V = D⁺ + D⁻ with D± the signed sups of F₀−F₁ over the cents value
    // domain — max/min of the exact integer cross-difference
    // f0·n1 − f1·n0 from the histogram prefix counts (checking only the
    // step points is exact: both CDFs are constant between them).
    "q_kuiper" -> ((s, d) => {
      val v = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(round(col("value") * 100).cast(LongType).as("c"),
          when(col("event_type") === "click", 0L).otherwise(1L).as("g"))
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("c0", "f0", inclusive = true),
          PrefixAgg("c1", "f1", inclusive = true)))
      val tot = hist.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      pre.crossJoin(broadcast(tot))
        .select(col("n0"), col("n1"),
          (dec(col("f0")) * col("n1") - dec(col("f1")) * col("n0"))
            .cast("decimal(38,0)").as("dd"))
        .groupBy("n0", "n1")
        .agg(max("dd").as("dp"), min("dd").as("dn"))
        .select(col("n0"), col("n1"),
          round(greatest(col("dp").cast("double"), lit(0.0)) /
            (col("n0").cast("double") * col("n1").cast("double")), 6)
            .as("d_plus"),
          round(greatest(-col("dn").cast("double"), lit(0.0)) /
            (col("n0").cast("double") * col("n1").cast("double")), 6)
            .as("d_minus"),
          round((greatest(col("dp").cast("double"), lit(0.0)) +
            greatest(-col("dn").cast("double"), lit(0.0))) /
            (col("n0").cast("double") * col("n1").cast("double")), 6)
            .as("kuiper_v"))
    }))

  private val dailySql: String =
    """SELECT dd.day,
      |  coalesce(dl.a, 0) AS a, coalesce(dl.b, 0) AS b,
      |  coalesce(dl.rev, 0) AS rev
      |FROM (SELECT unnest(range(
      |    (SELECT min(epoch_us(ts) // 86400000000) FROM events),
      |    (SELECT max(epoch_us(ts) // 86400000000) FROM events) + 1))
      |    AS day) dd
      |LEFT JOIN (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
      |      AS BIGINT) AS a,
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM events GROUP BY 1) dl ON dl.day = dd.day""".stripMargin

  private val ctSql: String =
    """SELECT c.c_mktsegment AS seg, n.n_regionkey AS rk,
      |  CAST(count(*) AS BIGINT) AS nij
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_adjusted_rand" ->
      s"""WITH ct AS ($ctSql),
        |p AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
        |  sum(CAST(nij AS HUGEINT) * (nij - 1)) AS p FROM ct),
        |a AS (SELECT sum(CAST(ni AS HUGEINT) * (ni - 1)) AS a FROM
        |  (SELECT CAST(sum(nij) AS BIGINT) AS ni FROM ct GROUP BY seg)),
        |b AS (SELECT sum(CAST(nj AS HUGEINT) * (nj - 1)) AS b FROM
        |  (SELECT CAST(sum(nij) AS BIGINT) AS nj FROM ct GROUP BY rk))
        |SELECT n AS n_customers,
        |  round((CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) *
        |      CAST(p AS DOUBLE) - CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) /
        |    (CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) *
        |      (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) / 2.0 -
        |      CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 6) AS ari
        |FROM p, a, b""".stripMargin,

    "q_fowlkes_mallows" ->
      s"""WITH ct AS ($ctSql),
        |p AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
        |  sum(CAST(nij AS HUGEINT) * (nij - 1)) AS p FROM ct),
        |a AS (SELECT sum(CAST(ni AS HUGEINT) * (ni - 1)) AS a FROM
        |  (SELECT CAST(sum(nij) AS BIGINT) AS ni FROM ct GROUP BY seg)),
        |b AS (SELECT sum(CAST(nj AS HUGEINT) * (nj - 1)) AS b FROM
        |  (SELECT CAST(sum(nij) AS BIGINT) AS nj FROM ct GROUP BY rk))
        |SELECT n AS n_customers,
        |  round(CAST(p AS DOUBLE) /
        |    sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), 6) AS fm,
        |  round(sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) /
        |    CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6)
        |    AS fm_indep
        |FROM p, a, b""".stripMargin,

    "q_gk_lambda" ->
      s"""WITH ct AS ($ctSql),
        |tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
        |cm AS (SELECT CAST(sum(mj) AS BIGINT) AS sum_mj FROM
        |  (SELECT max(nij) AS mj FROM ct GROUP BY rk)),
        |rm AS (SELECT CAST(sum(mi) AS BIGINT) AS sum_mi FROM
        |  (SELECT max(nij) AS mi FROM ct GROUP BY seg)),
        |ms AS (SELECT CAST(max(ni) AS BIGINT) AS max_ni FROM
        |  (SELECT sum(nij) AS ni FROM ct GROUP BY seg)),
        |mr AS (SELECT CAST(max(nj) AS BIGINT) AS max_nj FROM
        |  (SELECT sum(nij) AS nj FROM ct GROUP BY rk))
        |SELECT n AS n_customers,
        |  round(CAST(sum_mj - max_ni AS DOUBLE) /
        |    CAST(n - max_ni AS DOUBLE), 6) AS lambda_seg_given_reg,
        |  round(CAST(sum_mi - max_nj AS DOUBLE) /
        |    CAST(n - max_nj AS DOUBLE), 6) AS lambda_reg_given_seg
        |FROM tot, cm, rm, ms, mr""".stripMargin,

    "q_dixon_q" ->
      s"""WITH daily AS ($dailySql),
        |r AS (SELECT rev,
        |    row_number() OVER (ORDER BY rev) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM daily)
        |SELECT max(n) AS n_days,
        |  CAST(max(CASE WHEN rn = n THEN rev END) AS BIGINT) AS x_max,
        |  CAST(max(CASE WHEN rn = 1 THEN rev END) AS BIGINT) AS x_min,
        |  round(CAST(max(CASE WHEN rn = n THEN rev END) -
        |      max(CASE WHEN rn = n - 1 THEN rev END) AS DOUBLE) /
        |    CAST(max(CASE WHEN rn = n THEN rev END) -
        |      max(CASE WHEN rn = 1 THEN rev END) AS DOUBLE), 6)
        |    AS q_high,
        |  round(CAST(max(CASE WHEN rn = 2 THEN rev END) -
        |      max(CASE WHEN rn = 1 THEN rev END) AS DOUBLE) /
        |    CAST(max(CASE WHEN rn = n THEN rev END) -
        |      max(CASE WHEN rn = 1 THEN rev END) AS DOUBLE), 6)
        |    AS q_low
        |FROM r""".stripMargin,

    "q_distance_corr" ->
      s"""WITH daily0 AS ($dailySql),
        |dl AS (SELECT day, a AS x, b AS y FROM daily0),
        |pairs AS (
        |  SELECT i.day AS day, j.day AS dk,
        |    abs(i.x - j.x) AS ad, abs(i.y - j.y) AS bd
        |  FROM dl i, dl j),
        |rows0 AS (
        |  SELECT day, CAST(sum(ad) AS BIGINT) AS ra,
        |    CAST(sum(bd) AS BIGINT) AS rb
        |  FROM pairs GROUP BY day),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ra) AS BIGINT) AS ta, CAST(sum(rb) AS BIGINT) AS tb
        |  FROM rows0),
        |cent AS (
        |  SELECT
        |    CAST(n AS HUGEINT) * n * p.ad - CAST(n AS HUGEINT) * ri.ra -
        |      CAST(n AS HUGEINT) * rk.ra + ta AS al,
        |    CAST(n AS HUGEINT) * n * p.bd - CAST(n AS HUGEINT) * ri.rb -
        |      CAST(n AS HUGEINT) * rk.rb + tb AS be
        |  FROM pairs p
        |  JOIN rows0 ri ON ri.day = p.day
        |  JOIN rows0 rk ON rk.day = p.dk
        |  CROSS JOIN tot),
        |sums AS (SELECT sum(al * be) AS sab, sum(al * al) AS saa,
        |  sum(be * be) AS sbb FROM cent)
        |SELECT n AS n_days,
        |  round(CAST(sab AS DOUBLE) /
        |    sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 6)
        |    AS dcor_sq
        |FROM sums, tot""".stripMargin,

    "q_kuiper" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g
        |  FROM events WHERE event_type IN ('click', 'view')),
        |h AS (
        |  SELECT c,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM v GROUP BY c),
        |p AS (SELECT c, sum(c0) OVER (ORDER BY c) AS f0,
        |    sum(c1) OVER (ORDER BY c) AS f1 FROM h),
        |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c1) AS BIGINT) AS n1 FROM h),
        |dd AS (SELECT max(CAST(f0 AS HUGEINT) * n1 -
        |      CAST(f1 AS HUGEINT) * n0) AS dp,
        |    min(CAST(f0 AS HUGEINT) * n1 - CAST(f1 AS HUGEINT) * n0)
        |      AS dn
        |  FROM p, t)
        |SELECT n0, n1,
        |  round(greatest(CAST(dp AS DOUBLE), 0.0) /
        |    (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS d_plus,
        |  round(greatest(-CAST(dn AS DOUBLE), 0.0) /
        |    (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS d_minus,
        |  round((greatest(CAST(dp AS DOUBLE), 0.0) +
        |    greatest(-CAST(dn AS DOUBLE), 0.0)) /
        |    (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS kuiper_v
        |FROM dd, t""".stripMargin)
}
