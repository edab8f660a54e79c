package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.dec

/** Round-11 dependence/sequence-mining batch: Hoeffding's D on the
  * calendar frame, binary transfer entropy clicks→purchases, first-touch
  * precedence mining over event-type pairs, the cross-correlation
  * function at lags −7..7, and partial correlation.
  *
  * House discipline throughout: the corpus collapses ONCE (daily
  * calendar frame or per-user first-touch frame); every statistic is
  * exact integer sufficient statistics — Hoeffding's quarter-unit
  * trick (Q×4, midranks ×2) keeps the tie corrections integral, the
  * CCF/partial-corr moments are raw integer cross products — and the
  * float tail is a fixed-order one-row expression mirrored textually in
  * the oracle. Transfer entropy quantizes each cell's contribution to
  * micro-nats BEFORE summing, so the cross-cell sum is an integer sum
  * (reduce-order-proof), not a float accumulation.
  */
object Stats15 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** Dense daily (day, clicks, purchases, revenue_cents, n_events)
    * calendar frame — gaps filled with zero (real zeros: no events that
    * day). ≤366 rows at every sweep point. */
  private def dailyJoint(s: SparkSession, d: String): DataFrame = {
    // cached: the span probe and the calendar left-join both read it —
    // without the cache the corpus would scan twice
    val daily = graft.CacheScope.cached(Tables.events(s, d)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("a"),
        count(when(col("event_type") === "purchase", 1)).as("b"),
        sum(round(col("value") * 100).cast(LongType)).as("rev"),
        count(lit(1)).as("n_ev")))
    val span = daily.agg(min("day").as("mn"), max("day").as("mx"))
    span.select(explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"),
        coalesce(col("rev"), lit(0L)).as("rev"),
        coalesce(col("n_ev"), lit(0L)).as("n_ev"))
  }

  val queries: Map[String, Q] = Map(
    // ---- Hoeffding's D between daily revenue and daily event count:
    // the bounded-frame pair sums (≤366² — the matrix-profile class)
    // with the quarter-unit tie discipline: Q₄ = 4 + 4·[both<] +
    // 2·[x=,y<] + 2·[x<,y=] + [x=,y=]; midranks ×2; D1·16, D2·16,
    // D3·16 all exact integers, one final division.
    "q_hoeffding_d" -> ((s, d) => {
      val daily = graft.CacheScope.cached(dailyJoint(s, d)
        .select(col("day"), col("rev").as("x"), col("n_ev").as("y")))
      val b = daily.select(col("day").as("dj"), col("x").as("xj"),
        col("y").as("yj"))
      val per = daily.crossJoin(broadcast(b))
        .groupBy("day", "x", "y")
        .agg(
          sum(when(col("xj") < col("x") && col("yj") < col("y"), 1L)
            .otherwise(0L)).as("clt"),
          sum(when(col("xj") === col("x") && col("yj") < col("y"), 1L)
            .otherwise(0L)).as("cex"),
          sum(when(col("xj") < col("x") && col("yj") === col("y"), 1L)
            .otherwise(0L)).as("cey"),
          sum(when(col("xj") === col("x") && col("yj") === col("y") &&
            col("dj") =!= col("day"), 1L).otherwise(0L)).as("ceq"),
          sum(when(col("xj") < col("x"), 1L).otherwise(0L)).as("cxlt"),
          sum(when(col("xj") === col("x") && col("dj") =!= col("day"),
            1L).otherwise(0L)).as("cxeq"),
          sum(when(col("yj") < col("y"), 1L).otherwise(0L)).as("cylt"),
          sum(when(col("yj") === col("y") && col("dj") =!= col("day"),
            1L).otherwise(0L)).as("cyeq"))
        .select(
          (lit(4L) + lit(4L) * col("clt") + lit(2L) * col("cex") +
            lit(2L) * col("cey") + col("ceq")).as("q4"),
          (lit(2L) * col("cxlt") + col("cxeq") + 2L).as("r2"),
          (lit(2L) * col("cylt") + col("cyeq") + 2L).as("s2"))
      val agg = per.agg(count(lit(1)).as("n"),
        sum(((col("q4") - 4L) * (col("q4") - 8L)).cast("decimal(38,0)"))
          .as("d1_16"),
        sum((dec((col("r2") - 2L) * (col("r2") - 4L)) *
          ((col("s2") - 2L) * (col("s2") - 4L))).cast("decimal(38,0)"))
          .as("d2_16"),
        sum((dec((col("r2") - 4L) * (col("s2") - 4L)) *
          (col("q4") - 4L)).cast("decimal(38,0)")).as("d3_16"))
      val nD = col("n").cast("double")
      agg.select(col("n").as("n_days"),
        round(lit(30.0) *
          ((nD - 2.0) * (nD - 3.0) * col("d1_16").cast("double") +
            col("d2_16").cast("double") -
            lit(2.0) * (nD - 2.0) * col("d3_16").cast("double")) /
          (lit(16.0) * nD * (nD - 1.0) * (nD - 2.0) * (nD - 3.0) *
            (nD - 4.0)), 8).as("hoeffding_d"))
    }),

    // ---- Binary transfer entropy clicks→purchases on the daily
    // frame: states are above-global-mean flags (exact integer compare
    // c·n > Σc); TE = (1/T)·Σ c·ln(c·c_y0 / (c_y0x0·c_y1y0)) over the
    // ≤8 observed (y₁,y₀,x₀) cells. Each cell's contribution is
    // quantized to micro-nats and the total is an INTEGER sum of the
    // published per-cell rows.
    "q_transfer_entropy" -> ((s, d) => {
      val daily = dailyJoint(s, d)
      val tot = daily.agg(count(lit(1)).as("n"), sum("a").as("sa"),
        sum("b").as("sb"))
      val w = Window.orderBy("day") // calendar-bounded (≤366): exempt
      val st = daily.crossJoin(broadcast(tot))
        .select(col("day"),
          when(col("a") * col("n") > col("sa"), 1L).otherwise(0L)
            .as("x"),
          when(col("b") * col("n") > col("sb"), 1L).otherwise(0L)
            .as("y"))
        .withColumn("y1", lead("y", 1).over(w))
        .filter(col("y1").isNotNull)
      val cells = graft.CacheScope.cached(
        st.groupBy(col("y1"), col("y").as("y0"), col("x").as("x0"))
          .agg(count(lit(1)).as("c")))
      val t = cells.agg(sum("c").as("tt"))
      val my0 = cells.groupBy(col("y0").as("m_y0"))
        .agg(sum("c").as("c_y0"))
      val my0x0 = cells.groupBy(col("y0").as("mj_y0"),
        col("x0").as("mj_x0")).agg(sum("c").as("c_y0x0"))
      val my1y0 = cells.groupBy(col("y1").as("mk_y1"),
        col("y0").as("mk_y0")).agg(sum("c").as("c_y1y0"))
      cells.crossJoin(broadcast(t))
        .join(broadcast(my0), col("y0") === col("m_y0"))
        .join(broadcast(my0x0), col("y0") === col("mj_y0") &&
          col("x0") === col("mj_x0"))
        .join(broadcast(my1y0), col("y1") === col("mk_y1") &&
          col("y0") === col("mk_y0"))
        .select(col("y1"), col("y0"), col("x0"), col("c"),
          round(lit(1000000.0) *
            (col("c").cast("double") / col("tt").cast("double")) *
            log((col("c") * col("c_y0")).cast("double") /
              (col("c_y0x0") * col("c_y1y0")).cast("double")))
            .cast("long").as("contrib_micro"))
        .withColumn("te_micro_total",
          sum("contrib_micro").over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing))) // ≤8-row frame: exempt
        .orderBy("y1", "y0", "x0")
    }),

    // ---- First-touch precedence mining: for every ordered pair of
    // distinct event types, among users who touched both, how often
    // does a's first touch strictly precede b's? One per-user collapse
    // (min ts per type), one keyed self-join on user_id — the
    // market-basket sequence primitive.
    "q_seq_pairs" -> ((s, d) => {
      val firsts = Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(min("ts_us").as("ft"))
      val bside = firsts.select(col("user_id"),
        col("event_type").as("type_b"), col("ft").as("ft_b"))
      firsts.join(bside, Seq("user_id"))
        .filter(col("event_type") =!= col("type_b"))
        .groupBy(col("event_type").as("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"),
          sum(when(col("ft") < col("ft_b"), 1L).otherwise(0L))
            .as("n_a_first"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          col("n_a_first"),
          round(col("n_a_first").cast("double") /
            col("n_both").cast("double"), 6).as("confidence"))
        .orderBy("type_a", "type_b")
    }),

    // ---- Cross-correlation function of daily clicks against daily
    // purchases at lags −7..7: Pearson r per lag over the overlapping
    // span, from raw integer cross products (zero-variance overlap →
    // NULL by exact integer compare). The lag fan-out is a broadcast
    // 15-row grid against the ≤366-row calendar frame.
    "q_ccf" -> ((s, d) => {
      val daily = graft.CacheScope.cached(
        dailyJoint(s, d).select("day", "a", "b"))
      val lags = s.range(1).select(
        explode(sequence(lit(-7), lit(7))).as("lag"))
      val shifted = daily.select((col("day")).as("day_b"),
        col("b").as("bv"))
      val joined = daily.crossJoin(broadcast(lags))
        .withColumn("day_b", col("day") + col("lag"))
        .join(shifted, Seq("day_b"))
      val mom = joined.groupBy("lag").agg(count(lit(1)).as("n"),
        sum("a").as("sx"), sum("bv").as("sy"),
        sum(dec(col("a")) * col("a")).as("sxx"),
        sum(dec(col("bv")) * col("bv")).as("syy"),
        sum(dec(col("a")) * col("bv")).as("sxy"))
      val vx = dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")
      val vy = dec(col("n")) * col("syy") - dec(col("sy")) * col("sy")
      val cov = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
        .cast("double")
      mom.select(col("lag"), col("n").as("n_overlap"),
          when(vx === 0 || vy === 0, lit(null).cast("double"))
            .otherwise(round(cov /
              sqrt(vx.cast("double") * vy.cast("double")), 6))
            .as("ccf_r"))
        .orderBy("lag")
    }),

    // ---- Partial correlation of daily revenue and daily clicks,
    // controlling for the linear day trend: the three pairwise Pearson
    // r's from exact integer moments in ONE aggregate over the calendar
    // frame, then r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    "q_partial_corr" -> ((s, d) => {
      val daily = dailyJoint(s, d)
        .select(col("day").as("z"), col("rev").as("x"),
          col("a").as("y"))
      val mom = daily.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(dec(col("x")) * col("x")).as("sxx"),
        sum(dec(col("y")) * col("y")).as("syy"),
        sum(dec(col("z")) * col("z")).as("szz"),
        sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("x")) * col("z")).as("sxz"),
        sum(dec(col("y")) * col("z")).as("syz"))
      def r(sab: Column, sa: Column, sb: Column, saa: Column,
          sbb: Column): Column = {
        val n = dec(col("n"))
        ((n * sab - sa.cast("decimal(38,0)") * sb).cast("double")) /
          sqrt((n * saa - sa.cast("decimal(38,0)") * sa)
            .cast("double") *
            (n * sbb - sb.cast("decimal(38,0)") * sb).cast("double"))
      }
      val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"),
        col("syy"))
      val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"),
        col("szz"))
      val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"),
        col("szz"))
      mom.select(col("n").as("n_days"), round(rxy, 6).as("r_xy"),
        round(rxz, 6).as("r_xz"), round(ryz, 6).as("r_yz"),
        round((rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
          .as("partial_r"))
    }))

  private val dailySql: String =
    """SELECT dd.day,
      |  coalesce(dl.a, 0) AS a, coalesce(dl.b, 0) AS b,
      |  coalesce(dl.rev, 0) AS rev, coalesce(dl.n_ev, 0) AS n_ev
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
      |      AS rev,
      |    CAST(count(*) AS BIGINT) AS n_ev
      |  FROM events GROUP BY 1) dl ON dl.day = dd.day""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_hoeffding_d" ->
      s"""WITH daily0 AS ($dailySql),
        |daily AS (SELECT day, rev AS x, n_ev AS y FROM daily0),
        |per AS (
        |  SELECT i.day, i.x, i.y,
        |    4 + 4 * sum(CASE WHEN j.x < i.x AND j.y < i.y
        |        THEN 1 ELSE 0 END) +
        |      2 * sum(CASE WHEN j.x = i.x AND j.y < i.y
        |        THEN 1 ELSE 0 END) +
        |      2 * sum(CASE WHEN j.x < i.x AND j.y = i.y
        |        THEN 1 ELSE 0 END) +
        |      sum(CASE WHEN j.x = i.x AND j.y = i.y AND j.day <> i.day
        |        THEN 1 ELSE 0 END) AS q4,
        |    2 * sum(CASE WHEN j.x < i.x THEN 1 ELSE 0 END) +
        |      sum(CASE WHEN j.x = i.x AND j.day <> i.day
        |        THEN 1 ELSE 0 END) + 2 AS r2,
        |    2 * sum(CASE WHEN j.y < i.y THEN 1 ELSE 0 END) +
        |      sum(CASE WHEN j.y = i.y AND j.day <> i.day
        |        THEN 1 ELSE 0 END) + 2 AS s2
        |  FROM daily i, daily j GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST((q4 - 4) * (q4 - 8) AS HUGEINT)) AS d1_16,
        |    sum(CAST((r2 - 2) * (r2 - 4) AS HUGEINT) *
        |      ((s2 - 2) * (s2 - 4))) AS d2_16,
        |    sum(CAST((r2 - 4) * (s2 - 4) AS HUGEINT) * (q4 - 4))
        |      AS d3_16
        |  FROM per)
        |SELECT n AS n_days,
        |  round(30.0 *
        |    ((CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0) *
        |      CAST(d1_16 AS DOUBLE) + CAST(d2_16 AS DOUBLE) -
        |      2.0 * (CAST(n AS DOUBLE) - 2.0) * CAST(d3_16 AS DOUBLE)) /
        |    (16.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) *
        |      (CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0) *
        |      (CAST(n AS DOUBLE) - 4.0)), 8) AS hoeffding_d
        |FROM agg""".stripMargin,

    "q_transfer_entropy" ->
      s"""WITH daily AS ($dailySql),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |  FROM daily),
        |st0 AS (
        |  SELECT day,
        |    CASE WHEN a * n > sa THEN 1 ELSE 0 END AS x,
        |    CASE WHEN b * n > sb THEN 1 ELSE 0 END AS y
        |  FROM daily, tot),
        |st AS (
        |  SELECT x, y, lead(y) OVER (ORDER BY day) AS y1 FROM st0),
        |cells AS (
        |  SELECT CAST(y1 AS BIGINT) AS y1, CAST(y AS BIGINT) AS y0,
        |    CAST(x AS BIGINT) AS x0, CAST(count(*) AS BIGINT) AS c
        |  FROM st WHERE y1 IS NOT NULL GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cells),
        |my0 AS (SELECT y0, CAST(sum(c) AS BIGINT) AS c_y0
        |  FROM cells GROUP BY y0),
        |my0x0 AS (SELECT y0, x0, CAST(sum(c) AS BIGINT) AS c_y0x0
        |  FROM cells GROUP BY y0, x0),
        |my1y0 AS (SELECT y1, y0, CAST(sum(c) AS BIGINT) AS c_y1y0
        |  FROM cells GROUP BY y1, y0),
        |rows0 AS (
        |  SELECT cells.y1, cells.y0, cells.x0, cells.c,
        |    CAST(round(1000000.0 *
        |      (CAST(cells.c AS DOUBLE) / CAST(t.tt AS DOUBLE)) *
        |      ln(CAST(cells.c * my0.c_y0 AS DOUBLE) /
        |        CAST(my0x0.c_y0x0 * my1y0.c_y1y0 AS DOUBLE)))
        |      AS BIGINT) AS contrib_micro
        |  FROM cells CROSS JOIN t
        |  JOIN my0 ON my0.y0 = cells.y0
        |  JOIN my0x0 ON my0x0.y0 = cells.y0 AND my0x0.x0 = cells.x0
        |  JOIN my1y0 ON my1y0.y1 = cells.y1 AND my1y0.y0 = cells.y0)
        |SELECT y1, y0, x0, c, contrib_micro,
        |  CAST(sum(contrib_micro) OVER () AS BIGINT)
        |    AS te_micro_total
        |FROM rows0 ORDER BY y1, y0, x0""".stripMargin,

    "q_seq_pairs" ->
      """WITH firsts AS (
        |  SELECT user_id, event_type, min(epoch_us(ts)) AS ft
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a_first,
        |  round(CAST(sum(CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS confidence
        |FROM firsts a JOIN firsts b ON a.user_id = b.user_id
        |  AND a.event_type <> b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_ccf" ->
      s"""WITH daily AS ($dailySql),
        |lags AS (SELECT unnest(range(-7, 8)) AS lag),
        |mom AS (
        |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(i.a) AS BIGINT) AS sx,
        |    CAST(sum(j.b) AS BIGINT) AS sy,
        |    sum(CAST(i.a AS HUGEINT) * i.a) AS sxx,
        |    sum(CAST(j.b AS HUGEINT) * j.b) AS syy,
        |    sum(CAST(i.a AS HUGEINT) * j.b) AS sxy
        |  FROM lags l
        |  JOIN daily i ON true
        |  JOIN daily j ON j.day = i.day + l.lag
        |  GROUP BY l.lag)
        |SELECT CAST(lag AS INTEGER) AS lag, n AS n_overlap,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |      = 0 OR CAST(n AS HUGEINT) * syy -
        |      CAST(sy AS HUGEINT) * sy = 0 THEN NULL
        |    ELSE round(CAST(CAST(n AS HUGEINT) * sxy -
        |        CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |      sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |          CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |        CAST(CAST(n AS HUGEINT) * syy -
        |          CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) END
        |    AS ccf_r
        |FROM mom ORDER BY lag""".stripMargin,

    "q_partial_corr" ->
      s"""WITH daily0 AS ($dailySql),
        |daily AS (SELECT day AS z, rev AS x, a AS y FROM daily0),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(z AS HUGEINT) * z) AS szz,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * z) AS sxz,
        |    sum(CAST(y AS HUGEINT) * z) AS syz
        |  FROM daily)
        |SELECT n AS n_days,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |      AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |        CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * syy -
        |        CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS r_xy,
        |  round(CAST(CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz
        |      AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |        CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * szz -
        |        CAST(sz AS HUGEINT) * sz AS DOUBLE)), 6) AS r_xz,
        |  round(CAST(CAST(n AS HUGEINT) * syz - CAST(sy AS HUGEINT) * sz
        |      AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * syy -
        |        CAST(sy AS HUGEINT) * sy AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * szz -
        |        CAST(sz AS HUGEINT) * sz AS DOUBLE)), 6) AS r_yz,
        |  round(((CAST(CAST(n AS HUGEINT) * sxy -
        |      CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |        CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * syy -
        |        CAST(sy AS HUGEINT) * sy AS DOUBLE))) -
        |    (CAST(CAST(n AS HUGEINT) * sxz -
        |      CAST(sx AS HUGEINT) * sz AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |        CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * szz -
        |        CAST(sz AS HUGEINT) * sz AS DOUBLE))) *
        |    (CAST(CAST(n AS HUGEINT) * syz -
        |      CAST(sy AS HUGEINT) * sz AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * syy -
        |        CAST(sy AS HUGEINT) * sy AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * szz -
        |        CAST(sz AS HUGEINT) * sz AS DOUBLE)))) /
        |    sqrt((1.0 - (CAST(CAST(n AS HUGEINT) * sxz -
        |        CAST(sx AS HUGEINT) * sz AS DOUBLE) /
        |      sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |          CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |        CAST(CAST(n AS HUGEINT) * szz -
        |          CAST(sz AS HUGEINT) * sz AS DOUBLE))) *
        |      (CAST(CAST(n AS HUGEINT) * sxz -
        |        CAST(sx AS HUGEINT) * sz AS DOUBLE) /
        |      sqrt(CAST(CAST(n AS HUGEINT) * sxx -
        |          CAST(sx AS HUGEINT) * sx AS DOUBLE) *
        |        CAST(CAST(n AS HUGEINT) * szz -
        |          CAST(sz AS HUGEINT) * sz AS DOUBLE)))) *
        |      (1.0 - (CAST(CAST(n AS HUGEINT) * syz -
        |        CAST(sy AS HUGEINT) * sz AS DOUBLE) /
        |      sqrt(CAST(CAST(n AS HUGEINT) * syy -
        |          CAST(sy AS HUGEINT) * sy AS DOUBLE) *
        |        CAST(CAST(n AS HUGEINT) * szz -
        |          CAST(sz AS HUGEINT) * sz AS DOUBLE))) *
        |      (CAST(CAST(n AS HUGEINT) * syz -
        |        CAST(sy AS HUGEINT) * sz AS DOUBLE) /
        |      sqrt(CAST(CAST(n AS HUGEINT) * syy -
        |          CAST(sy AS HUGEINT) * sy AS DOUBLE) *
        |        CAST(CAST(n AS HUGEINT) * szz -
        |          CAST(sz AS HUGEINT) * sz AS DOUBLE))))), 6)
        |    AS partial_r
        |FROM mom""".stripMargin)
}
