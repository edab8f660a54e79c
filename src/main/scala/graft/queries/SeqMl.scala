package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.dec

/** Round-11 sequence/attribution batch: Needleman–Wunsch alignment
  * scoring of every document against a fixed probe phrase, dynamic time
  * warping between the daily click and view series, a two-round
  * integer-exact AdaBoost over a bounded stump grid, and exact Shapley
  * channel attribution over the 2⁴ coalition lattice.
  *
  * The two DPs use the same trick to stay engine-portable: the
  * within-row recurrence new[j] = f(new[j−1]) is unrolled into an exact
  * prefix extremum — NW: new[j] = max_{k≤j}(tmp[k] − g·(j−k)); DTW:
  * new[j] = C[j] + min_{k≤j}(t[k] − C[k]) with C the prefix cost sums —
  * so each DP step is two pure array transforms over integers, and the
  * DuckDB twin (a recursive CTE carrying the row as a LIST) computes
  * bit-identical values with no sequential float accumulation anywhere.
  *
  * Scale shapes: NW is MAP-ONLY (a ≤13×9 integer DP per document — the
  * corpus-scale fuzzy-match primitive); DTW folds over the
  * calendar-bounded daily frame; AdaBoost collapses the corpus ONCE to a
  * ≤1008-cell (value-bucket × hour × label) grid and both boosting
  * rounds are broadcast joins over it; Shapley collapses to 16 coalition
  * rows. AdaBoost round-2 weights are exact integers — after the
  * standard exp(±α) update, right-class weight ∝ e₁ and wrong-class
  * weight ∝ N−e₁, so no float reweighting is needed.
  */
object SeqMl {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  /** Fixed probe phrase for the alignment score (vocabulary words from
    * the fixture corpus; any probe works — scores just shift). */
  private val Probe = Seq("data", "row", "scan", "join", "hash",
    "table", "sort", "merge")

  /** Dense daily count series for one event type (the q_theta_forecast
    * calendar-array pattern): one row, array over min..max day. */
  private def dailySeries(s: SparkSession, d: String, typ: String,
      name: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === typ)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(count(lit(1)).as("x"))
      .agg(min("day").as("mn"), max("day").as("mx"),
        collect_list(struct(col("day"), col("x"))).as("raw"))
      .select(transform(sequence(col("mn"), col("mx")), dd =>
        coalesce(element_at(map_from_entries(col("raw")), dd), lit(0L)))
        .as(name))

  val queries: Map[String, Q] = Map(
    // ---- Needleman–Wunsch global alignment score of each document's
    // first 12 tokens against the fixed 8-token probe (match +2,
    // mismatch −1, gap −1). The whole DP is one nested array fold per
    // row — no shuffle, no join: the plan is scan → project →
    // TakeOrdered. Top-100 by score with id tiebreak.
    "q_needleman_wunsch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .transform(Tables.fanoutReady)
        .select(col("doc_id"),
          slice(split(col("text"), " "), 1, 12).as("ws"))
        .withColumn("l", size(col("ws")))
      val probe = array(Probe.map(lit): _*)
      val init = transform(sequence(lit(0), col("l")),
        i => -i.cast(LongType))
      val folded = docs.withColumn("row", aggregate(probe, init,
        (row, b) => {
          // pass 1: tmp[j] = j=0 ? row[0]−1 : max(row[j−1]+s_j, row[j]−1)
          // r14: let-bound — inlined, `tmp` re-evaluated per (j, k) of
          // pass 2, i.e. O(l³) per probe token (graft.functions.Hof)
          graft.functions.Hof.let(
            transform(sequence(lit(0), col("l")), j =>
              when(j === 0, element_at(row, 1) - 1L)
                .otherwise(greatest(
                  element_at(row, j) +
                    when(element_at(col("ws"), j) === b, 2L).otherwise(-1L),
                  element_at(row, j + 1) - 1L)))) { tmp =>
            // pass 2: new[j] = max_{k≤j}(tmp[k] − (j−k)) — the exact
            // unroll of new[j] = max(tmp[j], new[j−1]−1)
            transform(sequence(lit(0), col("l")), j =>
              array_max(transform(sequence(lit(0), j), k =>
                element_at(tmp, k + 1) - (j - k).cast(LongType))))
          }
        }))
      folded.select(col("doc_id"), col("l").as("n_tok"),
          element_at(col("row"), col("l") + 1).as("nw_score"))
        .orderBy(col("nw_score").desc, col("doc_id"))
        .limit(100)
    }),

    // ---- Dynamic time warping between the daily click and view count
    // series: d[i][j] = |a_i−b_j| + min(d[i−1][j], d[i][j−1],
    // d[i−1][j−1]) on the ≤31-row calendar frame, one row-fold per a_i
    // with the prefix-min unroll (t[j] = c_j + min(old[j], old[j−1]);
    // new[j] = C[j] + min_{k≤j}(t[k]−C[k])). Pure integer costs; the
    // ∞ sentinel 10¹⁵ is unreachable (≤366 steps × ≤2³¹ cost).
    "q_dtw" -> ((s, d) => {
      val inf = 1000000000000000L
      // r13: both daily series come out of ONE events pass (per-type
      // conditional counts + per-type min/max day + null-skipping
      // collect_list) instead of two independent scan→agg chains glued
      // by a crossJoin — half the scans, one shuffle, 3 jobs instead
      // of 6 (guide §2.4). Each series' values — its own day range,
      // zero-filled gaps — are exactly the dailySeries() ones.
      val perDay = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(count(when(col("event_type") === "click", 1)).as("na"),
          count(when(col("event_type") === "view", 1)).as("nb"))
      def series(mn: Column, mx: Column, raw: Column): Column =
        transform(sequence(mn, mx), dd =>
          coalesce(element_at(map_from_entries(raw), dd), lit(0L)))
      val ab = perDay.agg(
          min(when(col("na") > 0, col("day"))).as("mna"),
          max(when(col("na") > 0, col("day"))).as("mxa"),
          min(when(col("nb") > 0, col("day"))).as("mnb"),
          max(when(col("nb") > 0, col("day"))).as("mxb"),
          collect_list(when(col("na") > 0,
            struct(col("day"), col("na")))).as("rawa"),
          collect_list(when(col("nb") > 0,
            struct(col("day"), col("nb")))).as("rawb"))
        .select(
          series(col("mna"), col("mxa"), col("rawa")).as("a"),
          series(col("mnb"), col("mxb"), col("rawb")).as("b"))
        .withColumn("n", size(col("a")))
        .withColumn("m", size(col("b")))
      val init = concat(array(lit(0L)),
        transform(sequence(lit(1), col("m")), _ => lit(inf)))
      // r13: the two inner prefix structures used to be recomputed per
      // output index (prefix sums via aggregate(slice(cost,1,j)) and the
      // prefix min via a nested transform over 1..j) — O(m²) interpreted
      // lambda evaluations per DP step. Both are now built ONCE per step
      // as linear running-fold arrays (a concat-append aggregate each),
      // ~5m lambda evaluations per step instead of ~m²+3m. The prefix-
      // sum/prefix-min identities make every produced value bit-
      // identical; the DuckDB recursive-CTE oracle is untouched.
      // (guide §1.2 step 2 / §4: per-task expression work.)
      val sentinel = Long.MaxValue // > any t[k]−C[k]; never survives least
      // r14: every intermediate array is LET-BOUND (graft.functions.Hof)
      // — written as plain vals they are Catalyst subtrees inlined at
      // every reference, so e.g. cpre0 (itself an O(m) fold) re-evaluated
      // per element of rm0's input AND per output index: O(m⁴) work per
      // DP step for what is O(m) with single evaluation. Same
      // expressions, evaluated once — values bit-identical.
      val hlet = graft.functions.Hof.let _
      val folded = ab.withColumn("row", aggregate(col("a"), init,
        (row, av) =>
          hlet(transform(sequence(lit(1), col("m")), j =>
            abs(av - element_at(col("b"), j)))) { cost =>
          // running prefix sums: cpre0 = [0, C1, C1+C2, …] (m+1 entries)
          hlet(aggregate(cost, array(lit(0L)), (acc, x) =>
            concat(acc, array(element_at(acc, -1) + x)))) { cpre0 =>
          def cAt(j: Column): Column = element_at(cpre0, j + 1)
          hlet(transform(sequence(lit(1), col("m")), j =>
            element_at(cost, j) +
              least(element_at(row, j + 1), element_at(row, j)))) { t =>
          // running prefix min of d[k] = t[k] − C[k]: rm0[j+1] = min_{k≤j}
          hlet(aggregate(
            transform(sequence(lit(1), col("m")), k =>
              element_at(t, k) - cAt(k)),
            array(lit(sentinel)), (acc, x) =>
              concat(acc, array(least(element_at(acc, -1), x))))) { rm0 =>
          concat(array(lit(inf)),
            transform(sequence(lit(1), col("m")), j =>
              cAt(j) + element_at(rm0, j + 1)))
          }}}}))
      folded.select(col("n").as("n_days_click"),
        col("m").as("n_days_view"),
        element_at(col("row"), col("m") + 1).as("dtw_cost"))
    }),

    // ---- Two-round AdaBoost (discrete, SAMME) over a bounded stump
    // grid: features are the value-bucket (cents div 1000, capped 20)
    // and hour-of-day; label = purchase. The corpus collapses ONCE to
    // ≤1008 (bucket, hour, label) cells; each round scores all 86
    // candidate stumps (feature × threshold × polarity) by a broadcast
    // join over the cells and takes the deterministic argmin. Round-2
    // weights are the exact integers (right → e₁, wrong → N−e₁);
    // α's are published in micro-nats.
    "q_adaboost" -> ((s, d) => {
      val cells = graft.CacheScope.cached(
        Tables.events(s, d).select(
          expr("least(cast(round(value * 100) as bigint) div 1000, 20)")
            .as("vb"),
          expr(s"(ts_us div $HourUs) % 24").as("hr"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
        .groupBy("vb", "hr", "y").agg(count(lit(1)).as("cnt")))
      val tot = cells.agg(sum("cnt").as("n"))
      // stump grid: ('v', k∈1..20) ∪ ('h', k∈1..23), polarity ±1;
      // h(x)=1 iff (p=+1 ∧ f<k) ∨ (p=−1 ∧ f≥k) — built by exploding
      // literal arrays on a 1-row frame (no cartesian anywhere)
      val grid = s.range(1)
        .select(explode(array(
          ((1 to 20).map(k =>
            struct(lit("v").as("feat"), lit(k.toLong).as("thr"))) ++
           (1 to 23).map(k =>
            struct(lit("h").as("feat"), lit(k.toLong).as("thr")))): _*))
          .as("st"))
        .select(col("st.feat").as("feat"), col("st.thr").as("thr"))
        .crossJoin(broadcast(s.range(1)
          .select(explode(array(lit(1), lit(-1))).as("pol"))))
      def pred(feat: Column, thr: Column, pol: Column): Column = {
        val f = when(feat === "v", col("vb")).otherwise(col("hr"))
        when((pol === 1 && f < thr) || (pol === -1 && f >= thr), 1L)
          .otherwise(0L)
      }
      def bestStump(weighted: DataFrame): DataFrame =
        weighted.crossJoin(broadcast(grid))
          .withColumn("h", pred(col("feat"), col("thr"), col("pol")))
          .groupBy("feat", "thr", "pol")
          .agg(sum(when(col("h") =!= col("y"), col("w"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("werr"))
          .orderBy(col("werr").asc, col("feat").asc, col("thr").asc,
            col("pol").asc)
          .limit(1)
      val r1 = bestStump(cells.withColumn("w", dec(col("cnt"))))
        .select(col("feat").as("f1"), col("thr").as("t1"),
          col("pol").as("p1"), col("werr").cast("long").as("e1"))
      // r13: cached — the ≤1008-row reweighted grid feeds round 2's
      // stump scan, the weight total AND the ensemble vote; un-cached
      // each consumer re-ran round 1's argmin + broadcast chain.
      val cells2 = graft.CacheScope.cached(cells.crossJoin(broadcast(r1))
        .crossJoin(broadcast(tot))
        .withColumn("h1", pred(col("f1"), col("t1"), col("p1")))
        .withColumn("w", when(col("h1") === col("y"),
          dec(greatest(col("e1"), lit(1L))) * col("cnt"))
          .otherwise(dec(col("n") - col("e1")) * col("cnt"))
          .cast("decimal(38,0)")))
      val r2 = bestStump(cells2)
        .select(col("feat").as("f2"), col("thr").as("t2"),
          col("pol").as("p2"), col("werr").as("we2"))
      val w2tot = cells2.agg(sum("w").as("wtot"))
      // ensemble vote: agree → that class; disagree → the stump with
      // the larger α, i.e. the larger (right mass)/(wrong mass) —
      // compared by integer cross-multiplication, ties → stump 1
      val acc2 = cells2.crossJoin(broadcast(r2))
        .crossJoin(broadcast(w2tot))
        .withColumn("h2", pred(col("f2"), col("t2"), col("p2")))
        .withColumn("pick1",
          (col("h1") === col("h2")) ||
          (dec(col("n") - col("e1")) * col("we2") >=
            (col("wtot") - col("we2")) * greatest(col("e1"), lit(1L))))
        .withColumn("pr", when(col("pick1"), col("h1"))
          .otherwise(col("h2")))
        .groupBy("f1", "t1", "p1", "e1", "f2", "t2", "p2", "we2", "n",
          "wtot")
        .agg(sum(when(col("pr") === col("y"), col("cnt"))
          .otherwise(0L)).as("ok"))
      acc2.select(col("n"),
        col("f1").as("feat1"), col("t1").as("thr1"),
        col("p1").as("pol1"), col("e1").as("err1"),
        round(lit(500000.0) *
          log((col("n") - col("e1")).cast("double") /
            greatest(col("e1"), lit(1L)).cast("double")))
          .cast("long").as("alpha1_micro"),
        col("f2").as("feat2"), col("t2").as("thr2"),
        col("p2").as("pol2"), col("we2").cast("double").as("werr2"),
        round(lit(500000.0) *
          log((col("wtot") - col("we2")).cast("double") /
            col("we2").cast("double"))).cast("long").as("alpha2_micro"),
        round(col("ok").cast("double") / col("n").cast("double"), 6)
          .as("ensemble_acc"))
    }),

    // ---- Exact Shapley channel attribution over the 4-channel
    // coalition lattice: per-user touch mask (click/view/signup/error)
    // + converted flag → 16 coalition rows; v(S) = the observed
    // conversion rate of users with exactly that touch set, quantized
    // to micro-rate integers (v(∅) ≡ 0, unobserved ≡ 0); φ_i·24 =
    // Σ_{S∌i} |S|!(3−|S|)!·(v(S∪i)−v(S)) is an exact integer sum over
    // the 32-row (channel × subset) grid.
    "q_channel_shapley" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val users = ev.groupBy("user_id").agg(
        max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("b1"),
        max(when(col("event_type") === "view", 2L).otherwise(0L))
          .as("b2"),
        max(when(col("event_type") === "signup", 4L).otherwise(0L))
          .as("b4"),
        max(when(col("event_type") === "error", 8L).otherwise(0L))
          .as("b8"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .select((col("b1") + col("b2") + col("b4") + col("b8"))
          .as("mask"), col("conv"))
      val vS = users.groupBy("mask").agg(count(lit(1)).as("ns"),
          sum("conv").as("cs"))
        .select(col("mask"),
          when(col("mask") === 0L, 0L).otherwise(
            round(lit(1000000000.0) * col("cs").cast("double") /
              col("ns").cast("double")).cast("long")).as("v"))
      val chan = Seq(("click", 1L), ("view", 2L), ("signup", 4L),
        ("error", 8L)).map { case (c, b) =>
        s.range(1).select(lit(c).as("channel"), lit(b).as("bit"))
      }.reduce(_ unionAll _)
      val subsets = s.range(16).toDF("sm")
      val grid = chan.crossJoin(broadcast(subsets))
        .filter(expr("(sm div bit) % 2 = 0"))
        .withColumn("sz", expr(
          "(sm div 1) % 2 + (sm div 2) % 2 + (sm div 4) % 2 + " +
            "(sm div 8) % 2"))
        .withColumn("wt", when(col("sz") === 0L, 6L)
          .when(col("sz") === 3L, 6L).otherwise(2L))
      grid
        .join(broadcast(vS.select(col("mask").as("sm"),
          col("v").as("v_s"))), Seq("sm"), "left")
        .join(broadcast(vS.select((col("mask") - lit(0L)).as("smi"),
          col("v").as("v_si"))),
          col("smi") === col("sm") + col("bit"), "left")
        .groupBy("channel")
        .agg(sum(col("wt") * (coalesce(col("v_si"), lit(0L)) -
          coalesce(col("v_s"), lit(0L)))).as("phi24"))
        .select(col("channel"),
          round(col("phi24").cast("double") / 24.0 / 1e9, 6)
            .as("shapley"))
        .orderBy("channel")
    }))

  private val probeSqlVals: String = Probe.zipWithIndex
    .map { case (w, i) => s"(${i + 1}, '$w')" }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "q_needleman_wunsch" ->
      s"""WITH d AS (
        |  SELECT doc_id, (string_split(text, ' '))[1:12] AS ws
        |  FROM documents),
        |d2 AS (SELECT doc_id, ws, len(ws) AS l,
        |    list_transform(range(0, len(ws) + 1),
        |      i -> CAST(-i AS BIGINT)) AS rw0 FROM d),
        |probe(pi, b) AS (VALUES $probeSqlVals),
        |rec AS (
        |  WITH RECURSIVE r AS (
        |    SELECT doc_id, ws, l, 0 AS i, rw0 AS rw FROM d2
        |    UNION ALL
        |    SELECT r.doc_id, r.ws, r.l, r.i + 1,
        |      list_transform(range(0, r.l + 1), j ->
        |        list_max(list_transform(range(0, j + 1), k ->
        |          (CASE WHEN k = 0 THEN r.rw[1] - 1
        |            ELSE greatest(r.rw[k] +
        |              CASE WHEN r.ws[k] = p.b THEN 2 ELSE -1 END,
        |              r.rw[k + 1] - 1) END) - (j - k))))
        |    FROM r JOIN probe p ON p.pi = r.i + 1 WHERE r.i < 8)
        |  SELECT doc_id, l, rw FROM r WHERE i = 8)
        |SELECT doc_id, CAST(l AS INTEGER) AS n_tok,
        |  CAST(rw[l + 1] AS BIGINT) AS nw_score
        |FROM rec ORDER BY nw_score DESC, doc_id LIMIT 100""".stripMargin,

    "q_dtw" ->
      """WITH ca AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |cb AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |sa AS (
        |  SELECT list(coalesce(ca.x, 0) ORDER BY dd.d) AS a
        |  FROM (SELECT unnest(range((SELECT min(day) FROM ca),
        |    (SELECT max(day) FROM ca) + 1)) AS d) dd
        |  LEFT JOIN ca ON ca.day = dd.d),
        |sb AS (
        |  SELECT list(coalesce(cb.x, 0) ORDER BY dd.d) AS b
        |  FROM (SELECT unnest(range((SELECT min(day) FROM cb),
        |    (SELECT max(day) FROM cb) + 1)) AS d) dd
        |  LEFT JOIN cb ON cb.day = dd.d),
        |ab AS (SELECT a, b, len(a) AS n, len(b) AS m FROM sa, sb),
        |rec AS (
        |  WITH RECURSIVE r AS (
        |    SELECT a, b, n, m, 0 AS i,
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, m + 1),
        |          j -> CAST(1000000000000000 AS BIGINT))) AS rw
        |    FROM ab
        |    UNION ALL
        |    SELECT a, b, n, m, i + 1,
        |      list_prepend(CAST(1000000000000000 AS BIGINT),
        |        list_transform(range(1, m + 1), j ->
        |          list_reduce(list_transform(range(1, j + 1),
        |              x -> abs(a[i + 1] - b[x])),
        |            (p, q) -> p + q) +
        |          list_min(list_transform(range(1, j + 1), k ->
        |            (abs(a[i + 1] - b[k]) +
        |              least(rw[k + 1], rw[k])) -
        |            list_reduce(list_transform(range(1, k + 1),
        |                x -> abs(a[i + 1] - b[x])),
        |              (p, q) -> p + q)))))
        |    FROM r WHERE i < n)
        |  SELECT n, m, rw FROM r WHERE i = n)
        |SELECT CAST(n AS INTEGER) AS n_days_click,
        |  CAST(m AS INTEGER) AS n_days_view,
        |  CAST(rw[m + 1] AS BIGINT) AS dtw_cost
        |FROM rec""".stripMargin,

    "q_adaboost" ->
      """WITH cells AS (
        |  SELECT least(CAST(round(value * 100) AS BIGINT) // 1000, 20)
        |      AS vb,
        |    (epoch_us(ts) // 3600000000) % 24 AS hr,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
        |grid AS (
        |  SELECT 'v' AS feat, CAST(unnest(range(1, 21)) AS BIGINT)
        |    AS thr, p AS pol FROM (VALUES (1), (-1)) pp(p)
        |  UNION ALL
        |  SELECT 'h', CAST(unnest(range(1, 24)) AS BIGINT), p
        |  FROM (VALUES (1), (-1)) pp(p)),
        |s1 AS (
        |  SELECT g.feat, g.thr, g.pol,
        |    sum(CASE WHEN (CASE WHEN (g.pol = 1 AND
        |      (CASE WHEN g.feat = 'v' THEN c.vb ELSE c.hr END) < g.thr)
        |      OR (g.pol = -1 AND
        |      (CASE WHEN g.feat = 'v' THEN c.vb ELSE c.hr END) >= g.thr)
        |      THEN 1 ELSE 0 END) <> c.y
        |      THEN CAST(c.cnt AS HUGEINT) ELSE 0 END) AS werr
        |  FROM cells c, grid g GROUP BY 1, 2, 3
        |  ORDER BY werr, feat, thr, pol LIMIT 1),
        |c2 AS (
        |  SELECT c.*, t.n, s1.feat AS f1, s1.thr AS t1, s1.pol AS p1,
        |    CAST(s1.werr AS BIGINT) AS e1,
        |    (CASE WHEN (s1.pol = 1 AND
        |      (CASE WHEN s1.feat = 'v' THEN c.vb ELSE c.hr END) < s1.thr)
        |      OR (s1.pol = -1 AND
        |      (CASE WHEN s1.feat = 'v' THEN c.vb ELSE c.hr END) >= s1.thr)
        |      THEN 1 ELSE 0 END) AS h1
        |  FROM cells c, tot t, s1),
        |c2w AS (
        |  SELECT *, CASE WHEN h1 = y
        |      THEN CAST(greatest(e1, 1) AS HUGEINT) * cnt
        |      ELSE CAST(n - e1 AS HUGEINT) * cnt END AS w
        |  FROM c2),
        |s2 AS (
        |  SELECT g.feat, g.thr, g.pol,
        |    sum(CASE WHEN (CASE WHEN (g.pol = 1 AND
        |      (CASE WHEN g.feat = 'v' THEN c.vb ELSE c.hr END) < g.thr)
        |      OR (g.pol = -1 AND
        |      (CASE WHEN g.feat = 'v' THEN c.vb ELSE c.hr END) >= g.thr)
        |      THEN 1 ELSE 0 END) <> c.y THEN c.w ELSE 0 END) AS we2
        |  FROM c2w c, grid g GROUP BY 1, 2, 3
        |  ORDER BY we2, feat, thr, pol LIMIT 1),
        |w2 AS (SELECT sum(w) AS wtot FROM c2w),
        |fin AS (
        |  SELECT c.n, c.f1, c.t1, c.p1, c.e1, s2.feat AS f2,
        |    s2.thr AS t2, s2.pol AS p2, s2.we2, w2.wtot,
        |    sum(CASE WHEN (CASE WHEN (c.h1 = (CASE WHEN (s2.pol = 1 AND
        |        (CASE WHEN s2.feat = 'v' THEN c.vb ELSE c.hr END)
        |          < s2.thr) OR (s2.pol = -1 AND
        |        (CASE WHEN s2.feat = 'v' THEN c.vb ELSE c.hr END)
        |          >= s2.thr) THEN 1 ELSE 0 END))
        |      OR (CAST(c.n - c.e1 AS HUGEINT) * s2.we2 >=
        |          (w2.wtot - s2.we2) * greatest(c.e1, 1))
        |      THEN c.h1
        |      ELSE (CASE WHEN (s2.pol = 1 AND
        |        (CASE WHEN s2.feat = 'v' THEN c.vb ELSE c.hr END)
        |          < s2.thr) OR (s2.pol = -1 AND
        |        (CASE WHEN s2.feat = 'v' THEN c.vb ELSE c.hr END)
        |          >= s2.thr) THEN 1 ELSE 0 END) END) = c.y
        |      THEN c.cnt ELSE 0 END) AS ok
        |  FROM c2w c, s2, w2
        |  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10)
        |SELECT n, f1 AS feat1, t1 AS thr1, p1 AS pol1, e1 AS err1,
        |  CAST(round(500000.0 * ln(CAST(n - e1 AS DOUBLE) /
        |    CAST(greatest(e1, 1) AS DOUBLE))) AS BIGINT)
        |    AS alpha1_micro,
        |  f2 AS feat2, t2 AS thr2, p2 AS pol2,
        |  CAST(we2 AS DOUBLE) AS werr2,
        |  CAST(round(500000.0 * ln(CAST(wtot - we2 AS DOUBLE) /
        |    CAST(we2 AS DOUBLE))) AS BIGINT) AS alpha2_micro,
        |  round(CAST(ok AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS ensemble_acc
        |FROM fin""".stripMargin,

    "q_channel_shapley" ->
      """WITH users AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) +
        |    max(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END) +
        |    max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) +
        |    max(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END)
        |      AS mask,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |vs AS (
        |  SELECT mask,
        |    CASE WHEN mask = 0 THEN 0
        |      ELSE CAST(round(1000000000.0 *
        |        CAST(sum(conv) AS DOUBLE) /
        |        CAST(count(*) AS DOUBLE)) AS BIGINT) END AS v
        |  FROM users GROUP BY mask),
        |chan(channel, bit) AS (VALUES ('click', 1), ('view', 2),
        |  ('signup', 4), ('error', 8)),
        |grid AS (
        |  SELECT c.channel, CAST(c.bit AS BIGINT) AS bit,
        |    CAST(s.sm AS BIGINT) AS sm,
        |    (s.sm // 1) % 2 + (s.sm // 2) % 2 + (s.sm // 4) % 2 +
        |      (s.sm // 8) % 2 AS sz
        |  FROM chan c, (SELECT unnest(range(0, 16)) AS sm) s
        |  WHERE (s.sm // c.bit) % 2 = 0)
        |SELECT g.channel,
        |  round(CAST(sum((CASE WHEN g.sz IN (0, 3) THEN 6 ELSE 2 END) *
        |    (coalesce(vi.v, 0) - coalesce(v0.v, 0))) AS DOUBLE) /
        |    24.0 / 1e9, 6) AS shapley
        |FROM grid g
        |LEFT JOIN vs v0 ON v0.mask = g.sm
        |LEFT JOIN vs vi ON vi.mask = g.sm + g.bit
        |GROUP BY g.channel ORDER BY g.channel""".stripMargin)
}
