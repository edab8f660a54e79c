package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.{dec, dailyRev}

/** Round-11 sequence batch 2: Smith–Waterman local alignment, ROUGE-L
  * (LCS F-measure) against a fixed reference, permutation entropy and
  * sample entropy of the daily revenue series, and an exact
  * integer-scaled HMM forward pass over per-user event sequences.
  *
  * The alignment DPs reuse the SeqMl prefix-extremum unroll: the
  * within-row recurrence new[j] = f(new[j−1]) becomes an exact prefix
  * max over pure integer array transforms, so each DP row is two
  * transforms and the DuckDB twin (recursive CTE over the same lists)
  * is bit-identical. The HMM forward pass stays EXACT by integer
  * scaling: probabilities are tenths (Σ=10 per row), so after L steps
  * α is an integer over scale 10^(2L+1) — no float accumulates until
  * one final log per user, quantized to micro-nats before the
  * cross-user sum.
  *
  * Scale shapes: SW and ROUGE-L are MAP-ONLY per-document folds
  * (≤13×9 integer DP) into a TakeOrdered / bounded groupBy; the two
  * entropies live on the ≤366-day calendar frame (pair frames are the
  * matrix-profile broadcast class); the HMM collapses the corpus once
  * per user (sorted-slice of ≤8 events) and folds a 2-vector — one
  * shuffle, then map-only.
  */
object SeqMl2 {
  private type Q = (SparkSession, String) => DataFrame

  private val DayUs = 86400000000L

  /** Same fixture-vocabulary probe as SeqMl (reference text for the
    * local alignment / LCS scores). */
  private val Probe = Seq("data", "row", "scan", "join", "hash",
    "table", "sort", "merge")

  val queries: Map[String, Q] = Map(
    // ---- Smith–Waterman local alignment score (match +2, mismatch −1,
    // gap −1) of each document's first 12 tokens against the probe:
    // H[j] = max(0, diag+s, up−1, left−1) with the left-dependence
    // unrolled to a prefix max and the running best carried in the fold
    // state. Map-only: scan → project → TakeOrdered.
    "q_smith_waterman" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .transform(Tables.fanoutReady)
        .select(col("doc_id"),
          slice(split(col("text"), " "), 1, 12).as("ws"))
        .withColumn("l", size(col("ws")))
      val probe = array(Probe.map(lit): _*)
      val init = struct(
        transform(sequence(lit(0), col("l")), _ => lit(0L)).as("rw"),
        lit(0L).as("bst"))
      // r14: tmp and nw are let-bound (graft.functions.Hof) — as plain
      // vals each reference re-inlined the whole array build (tmp per
      // (j,k) of the prefix-max: O(l³) per probe token; nw twice per
      // step). Same expressions evaluated once; values bit-identical.
      val folded = docs.withColumn("st", aggregate(probe, init,
        (st, b) => {
          val row = st.getField("rw")
          // tmp[j] (j≥1): best of diag-with-score and up-with-gap
          graft.functions.Hof.let(
            transform(sequence(lit(0), col("l")), j =>
              when(j === 0, lit(0L)).otherwise(greatest(
                element_at(row, j) +
                  when(element_at(col("ws"), j) === b, 2L).otherwise(-1L),
                element_at(row, j + 1) - 1L)))) { tmp =>
            // new[j] = max(0, max_{k≤j}(tmp[k] − (j−k))) — the exact
            // unroll of new[j] = max(0, tmp[j], new[j−1]−1)
            graft.functions.Hof.let(
              transform(sequence(lit(0), col("l")), j =>
                greatest(lit(0L),
                  array_max(transform(sequence(lit(0), j), k =>
                    element_at(tmp, k + 1) - (j - k).cast(LongType)))))) {
              nw =>
                struct(nw.as("rw"),
                  greatest(st.getField("bst"), array_max(nw)).as("bst"))
            }
          }
        }))
      folded.select(col("doc_id"), col("l").as("n_tok"),
          col("st").getField("bst").as("sw_score"))
        .orderBy(col("sw_score").desc, col("doc_id"))
        .limit(100)
    }),

    // ---- ROUGE-L of each document's first 12 tokens against the
    // probe: LCS via the prefix-max unroll (new[j] = max(old[j],
    // old[j−1]+m_j, new[j−1]) — candidate then prefix max), then
    // F1 = 2·LCS/(n_tok+8) exactly, grouped into the bounded
    // (n_tok, lcs) grid.
    "q_rouge_l" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .transform(Tables.fanoutReady)
        .select(col("doc_id"),
          slice(split(col("text"), " "), 1, 12).as("ws"))
        .withColumn("l", size(col("ws")))
      val probe = array(Probe.map(lit): _*)
      val init = transform(sequence(lit(0), col("l")), _ => lit(0L))
      // r14: cand let-bound (graft.functions.Hof) — it was re-inlined
      // per (j, k) of the prefix max, O(l³) per probe token
      val folded = docs.withColumn("row", aggregate(probe, init,
        (row, b) =>
          graft.functions.Hof.let(
            transform(sequence(lit(0), col("l")), j =>
              when(j === 0, lit(0L)).otherwise(greatest(
                element_at(row, j + 1),
                element_at(row, j) +
                  when(element_at(col("ws"), j) === b, 1L)
                    .otherwise(0L))))) { cand =>
            transform(sequence(lit(0), col("l")), j =>
              array_max(transform(sequence(lit(0), j), k =>
                element_at(cand, k + 1))))
          }))
      folded.select(col("l").as("n_tok"),
          element_at(col("row"), col("l") + 1).as("lcs"))
        .groupBy("n_tok", "lcs")
        .agg(count(lit(1)).as("n_docs"))
        .select(col("n_tok"), col("lcs"), col("n_docs"),
          round(lit(2.0) * col("lcs").cast("double") /
            (col("n_tok").cast("double") + 8.0), 6).as("rouge_l_f1"))
        .orderBy("n_tok", "lcs")
    }),

    // ---- Permutation entropy (order 3) of the daily revenue series:
    // ordinal pattern of (x_t, x_{t+1}, x_{t+2}) with the
    // earlier-index-wins tie rule, counted over the calendar frame
    // (two broadcast day+1/day+2 self-joins, no window); H in
    // micro-nats as an integer sum of per-pattern contributions.
    "q_permutation_entropy" -> ((s, d) => {
      val agg = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("rev")))
      val span = agg.agg(min("day").as("mn"), max("day").as("mx"))
      val dl = graft.CacheScope.cached(span
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
        .join(agg, Seq("day"), "left")
        .select(col("day"), coalesce(col("rev"), lit(0L)).as("x")))
      val d1 = dl.select((col("day") - 1).as("day"), col("x").as("x1"))
      val d2 = dl.select((col("day") - 2).as("day"), col("x").as("x2"))
      val tri = dl.join(broadcast(d1), "day").join(broadcast(d2), "day")
      val pat = tri.select(
        ((when(col("x1") < col("x"), 1L).otherwise(0L) +
          when(col("x2") < col("x"), 1L).otherwise(0L)) * 9L +
         (when(col("x") <= col("x1"), 1L).otherwise(0L) +
          when(col("x2") < col("x1"), 1L).otherwise(0L)) * 3L +
         (when(col("x") <= col("x2"), 1L).otherwise(0L) +
          when(col("x1") <= col("x2"), 1L).otherwise(0L))).as("pat"))
      val cnt = pat.groupBy("pat").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").as("t"))
      cnt.crossJoin(broadcast(tot))
        .select(col("pat"), col("c"),
          round(lit(-1000000.0) *
            (col("c").cast("double") / col("t").cast("double")) *
            log(col("c").cast("double") / col("t").cast("double")))
            .cast(LongType).as("contrib_micro"))
        .withColumn("h_micro_total",
          sum("contrib_micro").over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing))) // ≤6-row frame: exempt
        .orderBy("pat")
    }),

    // ---- Sample entropy (m = 2, Chebyshev tolerance r = range/8) of
    // the daily revenue series, template set restricted to the n−2
    // fully-defined triples: B = 2-matches, A = 3-matches over the
    // i<j pair frame (matrix-profile broadcast class),
    // SampEn = −ln(A/B) — all integer counting, one final log.
    "q_sample_entropy" -> ((s, d) => {
      val agg = graft.CacheScope.cached(Tables.events(s, d)
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("rev")))
      val span = agg.agg(min("day").as("mn"), max("day").as("mx"))
      val dl = graft.CacheScope.cached(span
        .select(explode(sequence(col("mn"), col("mx"))).as("day"))
        .join(agg, Seq("day"), "left")
        .select(col("day"), coalesce(col("rev"), lit(0L)).as("x")))
      val r = dl.agg(expr("(max(x) - min(x)) div 8").as("r"))
      val d1 = dl.select((col("day") - 1).as("day"), col("x").as("x1"))
      val d2 = dl.select((col("day") - 2).as("day"), col("x").as("x2"))
      val tri = graft.CacheScope.cached(
        dl.join(broadcast(d1), "day").join(broadcast(d2), "day"))
      val rhs = tri.select(col("day").as("dj"), col("x").as("xj"),
        col("x1").as("x1j"), col("x2").as("x2j"))
      val cnts = tri.crossJoin(broadcast(rhs))
        .filter(col("day") < col("dj"))
        .crossJoin(broadcast(r))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(greatest(abs(col("x") - col("xj")),
            abs(col("x1") - col("x1j"))) <= col("r"), 1L)
            .otherwise(0L)).as("b"),
          sum(when(greatest(abs(col("x") - col("xj")),
            abs(col("x1") - col("x1j")),
            abs(col("x2") - col("x2j"))) <= col("r"), 1L)
            .otherwise(0L)).as("a"))
      cnts.select(col("n_pairs"), col("b"), col("a"),
        when(col("a") === 0L || col("b") === 0L,
          lit(null).cast("double"))
          .otherwise(round(-log(col("a").cast("double") /
            col("b").cast("double")), 6)).as("sampen"))
    }),

    // ---- Exact HMM forward pass per user: 2 hidden states, tenth-
    // scaled rows (T = [[7,3],[4,6]]/10, E over the five event types,
    // α₀ = [5,5]/10), folded over the user's first ≤8 events (sorted
    // slice). After L steps α is an integer over 10^(2L+1); the
    // per-user log-likelihood is quantized to micro-nats before the
    // per-L integer sum.
    "q_hmm_forward" -> ((s, d) => {
      val code = when(col("event_type") === "click", 0L)
        .when(col("event_type") === "view", 1L)
        .when(col("event_type") === "signup", 2L)
        .when(col("event_type") === "purchase", 3L).otherwise(4L)
      val seqs = Tables.events(s, d)
        .select(col("user_id"), struct(col("ts_us"), col("event_id"),
          code.as("c")).as("e"))
        .groupBy("user_id")
        .agg(slice(sort_array(collect_list(col("e"))), 1, 8).as("es"))
        .select(col("user_id"),
          transform(col("es"), e => e.getField("c")).as("os"),
          size(col("es")).as("len"))
      def e0(o: Column): Column = when(o === 0L, 3L).when(o === 1L, 4L)
        .when(o === 2L, 1L).when(o === 3L, 1L).otherwise(1L)
      def e1(o: Column): Column = when(o === 0L, 1L).when(o === 1L, 1L)
        .when(o === 2L, 1L).when(o === 3L, 5L).otherwise(2L)
      val folded = seqs.withColumn("al", aggregate(col("os"),
        array(lit(5L), lit(5L)),
        (al, o) => array(
          (element_at(al, 1) * 7L + element_at(al, 2) * 4L) * e0(o),
          (element_at(al, 1) * 3L + element_at(al, 2) * 6L) * e1(o))))
      val ll = folded.select(col("len"),
        round(lit(1000000.0) *
          (log((element_at(col("al"), 1) + element_at(col("al"), 2))
            .cast("double")) -
           (lit(2.0) * col("len").cast("double") + 1.0) *
             log(lit(10.0)))).cast(LongType).as("ll_micro"))
      ll.groupBy("len").agg(count(lit(1)).as("n_users"),
          sum("ll_micro").as("total_ll_micro"))
        .orderBy("len")
    }))

  private val probeSqlVals: String = Probe.zipWithIndex
    .map { case (w, i) => s"(${i + 1}, '$w')" }.mkString(", ")

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
    "q_smith_waterman" ->
      s"""WITH d AS (
        |  SELECT doc_id, (string_split(text, ' '))[1:12] AS ws
        |  FROM documents),
        |d2 AS (SELECT doc_id, ws, len(ws) AS l,
        |    list_transform(range(0, len(ws) + 1),
        |      i -> CAST(0 AS BIGINT)) AS rw0 FROM d),
        |probe(pi, b) AS (VALUES $probeSqlVals),
        |rec AS (
        |  WITH RECURSIVE r AS (
        |    SELECT doc_id, ws, l, 0 AS i, rw0 AS rw,
        |      CAST(0 AS BIGINT) AS bst
        |    FROM d2
        |    UNION ALL
        |    SELECT r.doc_id, r.ws, r.l, r.i + 1,
        |      list_transform(range(0, r.l + 1), j ->
        |        greatest(CAST(0 AS BIGINT),
        |          list_max(list_transform(range(0, j + 1), k ->
        |            (CASE WHEN k = 0 THEN 0
        |              ELSE greatest(r.rw[k] +
        |                CASE WHEN r.ws[k] = p.b THEN 2 ELSE -1 END,
        |                r.rw[k + 1] - 1) END) - (j - k))))),
        |      greatest(r.bst,
        |        list_max(list_transform(range(0, r.l + 1), j ->
        |          greatest(CAST(0 AS BIGINT),
        |            list_max(list_transform(range(0, j + 1), k ->
        |              (CASE WHEN k = 0 THEN 0
        |                ELSE greatest(r.rw[k] +
        |                  CASE WHEN r.ws[k] = p.b THEN 2 ELSE -1 END,
        |                  r.rw[k + 1] - 1) END) - (j - k)))))))
        |    FROM r JOIN probe p ON p.pi = r.i + 1 WHERE r.i < 8)
        |  SELECT doc_id, l, bst FROM r WHERE i = 8)
        |SELECT doc_id, CAST(l AS INTEGER) AS n_tok,
        |  CAST(bst AS BIGINT) AS sw_score
        |FROM rec ORDER BY sw_score DESC, doc_id LIMIT 100""".stripMargin,

    "q_rouge_l" ->
      s"""WITH d AS (
        |  SELECT doc_id, (string_split(text, ' '))[1:12] AS ws
        |  FROM documents),
        |d2 AS (SELECT doc_id, ws, len(ws) AS l,
        |    list_transform(range(0, len(ws) + 1),
        |      i -> CAST(0 AS BIGINT)) AS rw0 FROM d),
        |probe(pi, b) AS (VALUES $probeSqlVals),
        |rec AS (
        |  WITH RECURSIVE r AS (
        |    SELECT doc_id, ws, l, 0 AS i, rw0 AS rw FROM d2
        |    UNION ALL
        |    SELECT r.doc_id, r.ws, r.l, r.i + 1,
        |      list_transform(range(0, r.l + 1), j ->
        |        list_max(list_transform(range(0, j + 1), k ->
        |          CASE WHEN k = 0 THEN CAST(0 AS BIGINT)
        |            ELSE greatest(r.rw[k + 1], r.rw[k] +
        |              CASE WHEN r.ws[k] = p.b THEN 1 ELSE 0 END)
        |            END)))
        |    FROM r JOIN probe p ON p.pi = r.i + 1 WHERE r.i < 8)
        |  SELECT doc_id, l, rw FROM r WHERE i = 8)
        |SELECT CAST(l AS INTEGER) AS n_tok,
        |  CAST(rw[l + 1] AS BIGINT) AS lcs,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(2.0 * CAST(rw[l + 1] AS DOUBLE) /
        |    (CAST(l AS DOUBLE) + 8.0), 6) AS rouge_l_f1
        |FROM rec GROUP BY l, rw[l + 1] ORDER BY n_tok, lcs""".stripMargin,

    "q_permutation_entropy" ->
      s"""WITH dl AS ($dailyXSql),
        |tri AS (
        |  SELECT d0.x AS x, d1.x AS x1, d2.x AS x2
        |  FROM dl d0 JOIN dl d1 ON d1.day = d0.day + 1
        |  JOIN dl d2 ON d2.day = d0.day + 2),
        |pat AS (
        |  SELECT ((CASE WHEN x1 < x THEN 1 ELSE 0 END +
        |      CASE WHEN x2 < x THEN 1 ELSE 0 END) * 9 +
        |    (CASE WHEN x <= x1 THEN 1 ELSE 0 END +
        |      CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3 +
        |    (CASE WHEN x <= x2 THEN 1 ELSE 0 END +
        |      CASE WHEN x1 <= x2 THEN 1 ELSE 0 END)) AS pat
        |  FROM tri),
        |cnt AS (SELECT CAST(pat AS BIGINT) AS pat,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM pat GROUP BY pat),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
        |rows0 AS (
        |  SELECT pat, c,
        |    CAST(round(-1000000.0 *
        |      (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) *
        |      ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) AS BIGINT)
        |      AS contrib_micro
        |  FROM cnt, tot)
        |SELECT pat, c, contrib_micro,
        |  CAST(sum(contrib_micro) OVER () AS BIGINT) AS h_micro_total
        |FROM rows0 ORDER BY pat""".stripMargin,

    "q_sample_entropy" ->
      s"""WITH dl AS ($dailyXSql),
        |r AS (SELECT (max(x) - min(x)) // 8 AS r FROM dl),
        |tri AS (
        |  SELECT d0.day AS day, d0.x AS x, d1.x AS x1, d2.x AS x2
        |  FROM dl d0 JOIN dl d1 ON d1.day = d0.day + 1
        |  JOIN dl d2 ON d2.day = d0.day + 2),
        |cnts AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN greatest(abs(i.x - j.x),
        |      abs(i.x1 - j.x1)) <= r THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(sum(CASE WHEN greatest(abs(i.x - j.x),
        |      abs(i.x1 - j.x1), abs(i.x2 - j.x2)) <= r
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a
        |  FROM tri i JOIN tri j ON i.day < j.day CROSS JOIN r)
        |SELECT n_pairs, b, a,
        |  CASE WHEN a = 0 OR b = 0 THEN NULL
        |    ELSE round(-ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 6)
        |    END AS sampen
        |FROM cnts""".stripMargin,

    "q_hmm_forward" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'signup' THEN 2 WHEN 'purchase' THEN 3 ELSE 4 END
        |      AS c
        |  FROM events),
        |seqs AS (
        |  SELECT user_id,
        |    (list(c ORDER BY ts_us, event_id))[1:8] AS os
        |  FROM ev GROUP BY user_id),
        |s2 AS (SELECT user_id, os, len(os) AS len FROM seqs),
        |rec AS (
        |  WITH RECURSIVE r AS (
        |    SELECT user_id, os, len, 0 AS i,
        |      CAST(5 AS BIGINT) AS a0, CAST(5 AS BIGINT) AS a1
        |    FROM s2
        |    UNION ALL
        |    SELECT user_id, os, len, i + 1,
        |      (a0 * 7 + a1 * 4) *
        |        (CASE os[i + 1] WHEN 0 THEN 3 WHEN 1 THEN 4
        |          WHEN 2 THEN 1 WHEN 3 THEN 1 ELSE 1 END),
        |      (a0 * 3 + a1 * 6) *
        |        (CASE os[i + 1] WHEN 0 THEN 1 WHEN 1 THEN 1
        |          WHEN 2 THEN 1 WHEN 3 THEN 5 ELSE 2 END)
        |    FROM r WHERE i < len)
        |  SELECT user_id, len, a0, a1 FROM r WHERE i = len),
        |ll AS (
        |  SELECT CAST(len AS INTEGER) AS len,
        |    CAST(round(1000000.0 *
        |      (ln(CAST(a0 + a1 AS DOUBLE)) -
        |       (2.0 * CAST(len AS DOUBLE) + 1.0) * ln(10.0)))
        |      AS BIGINT) AS ll_micro
        |  FROM rec)
        |SELECT len, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(ll_micro) AS BIGINT) AS total_ll_micro
        |FROM ll GROUP BY len ORDER BY len""".stripMargin)
}
