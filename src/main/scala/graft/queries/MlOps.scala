package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.twoSidedP

/** Round-10 fourth batch: supervised classifier TRAINING on the engine
  * (multinomial Naive Bayes with Laplace smoothing — train and score in
  * one declarative plan), family-wise multiple-testing control (Holm
  * step-down, the FWER companion to q_bh_fdr's FDR control), two-series
  * cointegration (Engle–Granger two-step), exact Shapley R²
  * attribution, split conformal prediction intervals, and a stratified
  * inverse-propensity treatment-effect estimate — the model-building /
  * inference surface a curation team runs beyond per-row heuristics
  * (reference analog: the batch-job surface, cmd/bacalhau/run.go; the
  * reference schedules such jobs, the engine here executes their math).
  *
  * House disciplines (same as Stats2-5):
  *  - log-likelihood / probability weights quantize to micro-units
  *    (round(ln·10⁶) → BIGINT) so per-doc score sums are exact integer
  *    arithmetic and argmax ties break on explicit keys;
  *  - squared-cents moment sums route decimal(38,0) ↔ HUGEINT;
  *  - corpus-scale work is map-side-combined aggregates + one
  *    vocabulary-keyed scoring join; everything later is bounded
  *    (classes / event types / calendar days) or broadcast scalars.
  */
object MlOps {

  private type Q = (SparkSession, String) => DataFrame
  private val DayUs = 86400000000L

  val queries: Map[String, Q] = Map(
    // ---- multinomial Naive Bayes, trained AND evaluated in one plan:
    // class-conditional token log-likelihoods with Laplace smoothing
    // (α = 1) from the (lang, word) count table, log-priors from the
    // class counts, then every document scores against all 5 classes
    // and takes the argmax. Exactness: every weight is a micro-
    // quantized BIGINT (round(ln θ·10⁶)), so per-document score sums
    // are exact integers under any partition order and the argmax
    // tiebreak (smallest lang) is total. Scale shape: ONE corpus
    // tokenize → (doc, word) counts (cached; map-side combine), a
    // vocabulary-bounded weight table, a 5-way candidate expansion
    // joined on the word key, and two keyed aggregates back down to
    // docs then classes — no driver loop, no UDF, the whole classifier
    // is Catalyst-visible.
    "q_naive_bayes" -> ((s, d) => {
      val dw = graft.CacheScope.cached(Tables.documents(s, d)
        .transform(Tables.fanoutReady)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("c")))
      val cl = graft.CacheScope.cached(dw.groupBy(col("lang").as("l"),
        col("w")).agg(sum("c").as("cwl")))
      val tot = cl.groupBy("l").agg(sum("cwl").as("totl"))
      val vocab = cl.agg(countDistinct("w").as("vv"))
      val prior = graft.CacheScope.cached(dw
        .select("doc_id", "lang").distinct()
        .groupBy(col("lang").as("l")).agg(count(lit(1)).as("nl")))
      val nTot = prior.agg(sum("nl").as("n"))
      val classes = graft.CacheScope.cached(prior
        .join(tot, "l").crossJoin(broadcast(vocab))
        .crossJoin(broadcast(nTot))
        .select(col("l"),
          round(log(col("nl").cast("double") / col("n")) * 1e6)
            .cast(LongType).as("prior6"),
          round(log(lit(1.0) / (col("totl") + col("vv")).cast("double"))
            * 1e6).cast(LongType).as("miss6"),
          (col("totl") + col("vv")).as("denom")))
      val weights = cl.join(classes, "l")
        .select(col("l"), col("w"),
          round(log((col("cwl") + 1L).cast("double") / col("denom"))
            * 1e6).cast(LongType).as("l6"))
      // r13: `weights` is vocabulary-bounded (|V|·5 rows — the same
      // bounded-normalization class the house broadcasts everywhere),
      // so broadcast it instead of shuffling the 5-way-expanded
      // (doc, word) frame by (l, w) (guide §3.1); and `scored` itself
      // is CACHED — it feeds BOTH byClass and byPred, which previously
      // re-ran the whole classifier pipeline twice per run.
      val scored = graft.CacheScope.cached(dw
        .crossJoin(broadcast(classes.select("l", "prior6", "miss6")))
        .join(broadcast(weights), Seq("l", "w"), "left")
        .select(col("doc_id"), col("lang"), col("l"), col("prior6"),
          (col("c") * coalesce(col("l6"), col("miss6"))).as("contrib"))
        .groupBy("doc_id", "lang", "l", "prior6")
        .agg(sum("contrib").as("ll6"))
        .select(col("doc_id"), col("lang"),
          struct((negate(col("ll6")) - col("prior6")).as("neg"),
            col("l")).as("cand"))
        .groupBy("doc_id", "lang")
        .agg(min("cand").as("best"))
        .select(col("lang"), col("best.l").as("pred")))
      val byClass = scored
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
            .as("n_correct"))
      val byPred = scored.groupBy(col("pred")).agg(count(lit(1))
        .as("n_pred"))
      byClass.join(byPred, col("lang") === col("pred"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          col("n_correct"),
          round(col("n_correct").cast("double") / col("n_docs"), 6)
            .as("accuracy"))
        .orderBy("lang")
    }),

    // ---- Holm step-down multiple-testing control: per event type, a
    // Welch z-test of weekend-vs-weekday mean value; the five raw
    // p-values (A&S erf, textually q_bh_fdr's) then adjust by the
    // step-down rule holm_p(i) = max_{j≤i} min(1, (k−j+1)·p(j)) —
    // family-wise error control where q_bh_fdr controls FDR. The
    // corpus collapses in ONE conditional aggregate keyed on type
    // (squared cents through decimal(38,0)); ranking and the running
    // max are broadcast self-joins on the 5-row frame with explicit
    // (p, type) tiebreaks.
    "q_holm_bonferroni" -> ((s, d) => {
      val g = graft.CacheScope.cached(Tables.events(s, d)
        .select(col("event_type").as("t"),
          (expr(s"ts_us div $DayUs") % 7).isin(2, 3).as("we"),
          round(col("value") * 100).cast(LongType).as("v"))
        .groupBy("t")
        .agg(
          sum(when(col("we"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("we"), col("v")).otherwise(0L)).as("s1"),
          sum(when(col("we"), (col("v") * col("v"))
            .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
            .as("q1"),
          sum(when(!col("we"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("we"), col("v")).otherwise(0L)).as("s0"),
          sum(when(!col("we"), (col("v") * col("v"))
            .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
            .as("q0")))
      val m1 = col("s1").cast("double") / col("n1")
      val m0 = col("s0").cast("double") / col("n0")
      val v1 = col("q1").cast("double") / col("n1") - m1 * m1
      val v0 = col("q0").cast("double") / col("n0") - m0 * m0
      val z = (m1 - m0) / sqrt(v1 / col("n1") + v0 / col("n0"))
      val p = graft.CacheScope.cached(g.select(col("t"), col("n1"),
        col("n0"), round(z, 6).as("z"),
        round(twoSidedP(z), 9).as("p")))
      val ranked = p
        .join(broadcast(p.select(col("p").as("pb"), col("t").as("tb"))),
          col("pb") < col("p") ||
            (col("pb") === col("p") && col("tb") <= col("t")))
        .groupBy("t", "n1", "n0", "z", "p")
        .agg(count(lit(1)).as("rank"))
      val k = p.agg(count(lit(1)).as("k"))
      val cand = graft.CacheScope.cached(ranked.crossJoin(broadcast(k))
        .select(col("t"), col("n1"), col("n0"), col("z"), col("p"),
          col("rank"),
          least((col("k") - col("rank") + 1).cast("double") * col("p"),
            lit(1.0)).as("cand")))
      cand
        .join(broadcast(cand.select(col("rank").as("rb"),
          col("cand").as("cb"))), col("rb") <= col("rank"))
        .groupBy("t", "n1", "n0", "z", "p", "rank")
        .agg(round(max("cb"), 9).as("holm_p"))
        .select(col("t").as("event_type"), col("n1").as("n_weekend"),
          col("n0").as("n_weekday"), col("z"), col("p"), col("holm_p"),
          (col("holm_p") < 0.05).as("significant"))
        .orderBy("event_type")
    }),

    // ---- Engle–Granger cointegration: do daily purchase revenues
    // track daily view revenues as one long-run relationship? Step 1:
    // OLS of purchase-cents on view-cents over the calendar-bounded
    // daily frame (exact integer moments, cross-products through
    // decimal(38,0)). Step 2: Dickey–Fuller regression of Δe on e₍t₋₁₎
    // over consecutive-day residual pairs — centi-quantized dollar²
    // terms (the DF ratio is invariant under the uniform scale) so
    // neither engine's addition order moves the statistic.
    // cointegrated at 5% ⟺ DF < −3.41 (Engle–Granger constant-case
    // critical value). ONE corpus aggregate; everything after is the
    // bounded day frame.
    "q_cointegration" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(expr(s"ts_us div $DayUs").as("day"))
        .agg(
          sum(when(col("event_type") === "view",
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast(LongType)).otherwise(0L))
            .as("y")))
      val mo = daily.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        // cast BEFORE the multiply: daily cents reach ~1.5e10 at the
        // 30x sweep, whose square wraps a Long silently
        sum(col("x").cast("decimal(19,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(19,0)") * col("y")).as("sxy"))
      val nD = col("n").cast("double")
      val beta = mo.select(col("n"),
        ((nD * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (nD * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .as("b"),
        col("sx"), col("sy"))
        .select(col("n"), col("b"),
          ((col("sy").cast("double") - col("b") *
            col("sx").cast("double")) / col("n").cast("double"))
            .as("a"))
      val resid = graft.CacheScope.cached(daily
        .crossJoin(broadcast(beta))
        .select(col("day"), col("n"), col("a"), col("b"),
          ((col("y").cast("double") - col("a") -
            col("b") * col("x")) / 100.0).as("e")))
      val pairs = resid.select(col("day"), col("e"), col("n"),
          col("a"), col("b"))
        .join(resid.select((col("day") + 1L).as("day"),
          col("e").as("e1")), "day")
      val df = pairs
        .select(col("n"), col("a"), col("b"),
          round(col("e1") * (col("e") - col("e1")) * 100).cast(LongType)
            .as("num1"),
          round(col("e1") * col("e1") * 100).cast(LongType).as("den1"),
          col("e"), col("e1"))
        .groupBy("n", "a", "b")
        .agg(count(lit(1)).as("tt"), sum("num1").as("snum"),
          sum("den1").as("sden"),
          sum(round((col("e") - col("e1")) * (col("e") - col("e1")) * 100)
            .cast(LongType)).as("sdd"))
      val gamma = col("snum").cast("double") / col("sden")
      val sse = col("sdd").cast("double") -
        gamma * gamma * col("sden").cast("double")
      val se = sqrt(sse / (col("tt") - lit(1L)).cast("double") /
        col("sden").cast("double"))
      df.select(col("n").as("n_days"), col("tt").as("n_pairs"),
        round(col("a") / 100.0, 2).as("alpha_dollars"),
        round(col("b"), 6).as("beta"),
        round(gamma / se, 4).as("df_stat"),
        (gamma / se < -3.41).as("cointegrated"))
    }),

    // ---- exact Shapley R² attribution: how much of the daily-revenue
    // variance does each predictor (trend, weekend) EARN, averaging its
    // marginal R² contribution over both orderings — the 2-feature
    // game has 4 coalitions, all closed-form from ONE corpus aggregate
    // (the q_ols2 moment frame; squared cents through decimal(38,0)).
    // shap_trend + shap_weekend == r2_full by construction — the
    // efficiency axiom, visible in the output.
    "q_shapley_r2" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .groupBy("day")
        .agg(count(lit(1)).as("nd"), sum("cents").as("sc"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)"))
            .as("syy"))
      val mn = daily.agg(min("day").as("mn"))
      val dd = daily.crossJoin(broadcast(mn))
        .select(col("nd"), col("sc"), col("syy"),
          (col("day") - col("mn")).as("x1"),
          when((col("day") % 7).isin(2, 3), 1L).otherwise(0L).as("x2"))
      val m = dd.agg(
        sum("nd").as("n"), sum(col("nd") * col("x1")).as("s1"),
        sum(col("nd") * col("x2")).as("s2"),
        sum(col("nd") * col("x1") * col("x1")).as("s11"),
        sum(col("nd") * col("x1") * col("x2")).as("s12"),
        sum(col("nd") * col("x2") * col("x2")).as("s22"),
        sum("sc").as("sy"), sum(col("x1") * col("sc")).as("s1y"),
        sum(col("x2") * col("sc")).as("s2y"), sum("syy").as("syyt"))
      val nD = col("n").cast("double")
      val c11 = col("s11").cast("double") -
        col("s1").cast("double") * col("s1") / nD
      val c22 = col("s22").cast("double") -
        col("s2").cast("double") * col("s2") / nD
      val c12 = col("s12").cast("double") -
        col("s1").cast("double") * col("s2") / nD
      val c1y = col("s1y").cast("double") -
        col("s1").cast("double") * col("sy") / nD
      val c2y = col("s2y").cast("double") -
        col("s2").cast("double") * col("sy") / nD
      val cyy = col("syyt").cast("double") -
        col("sy").cast("double") * col("sy") / nD
      val r1 = c1y * c1y / (c11 * cyy)
      val r2 = c2y * c2y / (c22 * cyy)
      val det = c11 * c22 - c12 * c12
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c2y * c11 - c1y * c12) / det
      val r12 = (b1 * c1y + b2 * c2y) / cyy
      m.select(col("n").as("n_events"),
        round(r12, 6).as("r2_full"),
        round((r1 + (r12 - r2)) / 2.0, 6).as("shap_trend"),
        round((r2 + (r12 - r1)) / 2.0, 6).as("shap_weekend"))
    }),

    // ---- split conformal prediction interval: fit the daily-revenue
    // trend on the first half of the calendar, take the 90% quantile of
    // absolute calibration residuals on the next quarter (an EXACT
    // order statistic — integer cents, day tiebreak, rank by bounded
    // broadcast self-join), and measure empirical coverage on the held-
    // out tail. Distribution-free coverage ≥ 90% in expectation — the
    // honest uncertainty band for q_ar2_forecast-class models. ONE
    // corpus aggregate; every later frame is the ≤ ~30-row day panel.
    "q_conformal" -> ((s, d) => {
      val daily = graft.CacheScope.cached(Tables.events(s, d)
        .select(expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .groupBy("day").agg(sum("cents").as("y")))
      val mnx = daily.agg(min("day").as("mn"), max("day").as("mx"))
      val dd = graft.CacheScope.cached(daily.crossJoin(broadcast(mnx))
        .select((col("day") - col("mn")).as("x"), col("y"),
          (col("mx") - col("mn")).as("span")))
      val tr = dd.filter(col("x") <= expr("span div 2"))
        .agg(count(lit(1)).as("ntr"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
      val nT = col("ntr").cast("double")
      val bb = (nT * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (nT * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      val fit = tr.select(col("ntr"), bb.as("b"),
        ((col("sy").cast("double") - bb * col("sx").cast("double")) /
          nT).as("a"))
      val resid = graft.CacheScope.cached(dd
        .crossJoin(broadcast(fit))
        .select(col("x"), col("span"), col("ntr"),
          abs(round(col("y").cast("double") - col("a") -
            col("b") * col("x"))).cast(LongType).as("ae")))
      val cal = graft.CacheScope.cached(resid
        .filter(col("x") > expr("span div 2") &&
          col("x") <= expr("(3 * span) div 4")))
      val ncal = cal.agg(count(lit(1)).as("ncal"))
      val ranked = cal
        .join(broadcast(cal.select(col("ae").as("aeb"),
          col("x").as("xb"))),
          col("aeb") < col("ae") ||
            (col("aeb") === col("ae") && col("xb") <= col("x")))
        .groupBy("ae", "x").agg(count(lit(1)).as("rank"))
      val qhat = ranked.crossJoin(broadcast(ncal))
        .filter(col("rank") ===
          least(ceil(lit(0.9) * (col("ncal") + 1L)).cast(LongType),
            col("ncal")))
        .agg(min("ae").as("qhat"))
      val test = resid.filter(col("x") > expr("(3 * span) div 4"))
        .crossJoin(broadcast(qhat))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("ae") <= col("qhat"), 1L).otherwise(0L))
            .as("covered"),
          min("ntr").as("n_train"), min("qhat").as("q"))
      test.crossJoin(broadcast(ncal))
        .select(col("n_train"), col("ncal").as("n_cal"), col("n_test"),
          round(col("q").cast("double") / 100.0, 2)
            .as("qhat_dollars"),
          round(col("covered").cast("double") / col("n_test"), 4)
            .as("coverage"),
          lit(0.9).as("nominal"))
    }),

    // ---- stratified inverse-propensity treatment effect: the causal
    // "weekend effect" on event value, reweighting by each event type's
    // EXACT treatment propensity (n_weekend_s / n_s) so type mix can't
    // confound — the Horvitz–Thompson companion to q_cmh's odds-ratio
    // pooling and q_diff_in_diff's calendar contrast. Strata violating
    // positivity (all-weekend or all-weekday) drop, counted. ONE
    // conditional aggregate keyed on type; exact integer sums until the
    // one-row final algebra.
    "q_ipw_ate" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type").as("t"),
          (expr(s"ts_us div $DayUs") % 7).isin(2, 3).as("w"),
          round(col("value") * 100).cast(LongType).as("v"))
        .groupBy("t")
        .agg(count(lit(1)).as("ns"),
          sum(when(col("w"), 1L).otherwise(0L)).as("nt"),
          sum(when(col("w"), col("v")).otherwise(0L)).as("syt"),
          sum(when(!col("w"), col("v")).otherwise(0L)).as("syc"))
      val ok = col("nt") > 0L && col("nt") < col("ns")
      val agg = g.agg(
        sum("ns").as("n"),
        sum(when(ok, 1L).otherwise(0L)).as("n_strata"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(ok, col("ns")).otherwise(0L)).as("n_used"),
        // per-stratum HT terms quantize to integer cents BEFORE the
        // cross-stratum sum so addition order can't move a digit
        sum(when(ok, round(col("syt").cast("double") * col("ns") /
          col("nt")).cast(LongType)).otherwise(0L)).as("ht_t"),
        sum(when(ok, round(col("syc").cast("double") * col("ns") /
          (col("ns") - col("nt"))).cast(LongType)).otherwise(0L))
          .as("ht_c"),
        sum("nt").as("ntt"), sum("syt").as("sytt"),
        sum(col("ns") - col("nt")).as("ncc"), sum("syc").as("sycc"))
      agg.select(col("n").as("n_events"), col("n_strata"),
        col("n_dropped"),
        round((col("ht_t") - col("ht_c")) / col("n_used") / 100.0, 4)
          .as("ate_ipw_dollars"),
        round((col("sytt").cast("double") / col("ntt") -
          col("sycc").cast("double") / col("ncc")) / 100.0, 4)
          .as("naive_diff_dollars"))
    }))

  val oracle: Map[String, String] = Map(
    "q_naive_bayes" ->
      """WITH dw AS MATERIALIZED (
        |  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' '))
        |          AS w FROM documents) t
        |  GROUP BY 1, 2, 3),
        |cl AS MATERIALIZED (
        |  SELECT lang AS l, w, CAST(sum(c) AS BIGINT) AS cwl
        |  FROM dw GROUP BY 1, 2),
        |tot AS (SELECT l, CAST(sum(cwl) AS BIGINT) AS totl
        |        FROM cl GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vv
        |          FROM cl),
        |prior AS (SELECT lang AS l,
        |            CAST(count(DISTINCT doc_id) AS BIGINT) AS nl
        |          FROM dw GROUP BY 1),
        |ntot AS (SELECT CAST(sum(nl) AS BIGINT) AS n FROM prior),
        |classes AS MATERIALIZED (
        |  SELECT p.l,
        |    CAST(round(ln(CAST(p.nl AS DOUBLE) / ntot.n) * 1e6)
        |      AS BIGINT) AS prior6,
        |    CAST(round(ln(1.0 / CAST(t.totl + vocab.vv AS DOUBLE))
        |      * 1e6) AS BIGINT) AS miss6,
        |    CAST(t.totl + vocab.vv AS BIGINT) AS denom
        |  FROM prior p JOIN tot t ON t.l = p.l
        |  CROSS JOIN vocab CROSS JOIN ntot),
        |weights AS MATERIALIZED (
        |  SELECT cl.l, cl.w,
        |    CAST(round(ln(CAST(cl.cwl + 1 AS DOUBLE) / c2.denom) * 1e6)
        |      AS BIGINT) AS l6
        |  FROM cl JOIN classes c2 ON c2.l = cl.l),
        |scoredoc AS (
        |  SELECT dw.doc_id, dw.lang, c2.l,
        |    CAST(c2.prior6 + sum(dw.c * coalesce(w2.l6, c2.miss6))
        |      AS BIGINT) AS s6
        |  FROM dw CROSS JOIN classes c2
        |  LEFT JOIN weights w2 ON w2.l = c2.l AND w2.w = dw.w
        |  GROUP BY 1, 2, 3, c2.prior6),
        |pred AS MATERIALIZED (
        |  SELECT doc_id, lang, l AS pred
        |  FROM (SELECT doc_id, lang, l,
        |          row_number() OVER (PARTITION BY doc_id
        |            ORDER BY s6 DESC, l) AS rn
        |        FROM scoredoc) r WHERE rn = 1),
        |byclass AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM pred GROUP BY 1),
        |bypred AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred
        |           FROM pred GROUP BY 1)
        |SELECT b.lang, b.n_docs,
        |  CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred, b.n_correct,
        |  round(CAST(b.n_correct AS DOUBLE) / b.n_docs, 6) AS accuracy
        |FROM byclass b LEFT JOIN bypred p ON p.pred = b.lang
        |ORDER BY b.lang""".stripMargin,
    "q_holm_bonferroni" ->
      """WITH g AS (
        |  SELECT event_type AS t,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN we THEN v ELSE 0 END) AS BIGINT) AS s1,
        |    sum(CASE WHEN we THEN CAST(v AS HUGEINT) * v
        |        ELSE CAST(0 AS HUGEINT) END) AS q1,
        |    CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN we THEN 0 ELSE v END) AS BIGINT) AS s0,
        |    sum(CASE WHEN we THEN CAST(0 AS HUGEINT)
        |        ELSE CAST(v AS HUGEINT) * v END) AS q0
        |  FROM (SELECT event_type,
        |          (epoch_us(ts) // 86400000000) % 7 IN (2, 3) AS we,
        |          CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events) e
        |  GROUP BY 1),
        |zp AS MATERIALIZED (
        |  SELECT t, n1, n0, round(z, 6) AS z,
        |    round(1.0 - (1.0 - (((((1.061405429 * tt - 1.453152027) * tt
        |      + 1.421413741) * tt - 0.284496736) * tt + 0.254829592)
        |      * tt) * exp(-x * x)), 9) AS p
        |  FROM (
        |    SELECT t, n1, n0, z, abs(z) / sqrt(2.0) AS x,
        |      1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS tt
        |    FROM (
        |      SELECT t, n1, n0,
        |        (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) /
        |        sqrt((CAST(q1 AS DOUBLE) / n1 -
        |            (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1))
        |            / n1 +
        |          (CAST(q0 AS DOUBLE) / n0 -
        |            (CAST(s0 AS DOUBLE) / n0) * (CAST(s0 AS DOUBLE) / n0))
        |            / n0) AS z
        |      FROM g) z1) z2),
        |ranked AS (
        |  SELECT a.t, a.n1, a.n0, a.z, a.p,
        |    CAST(count(*) AS BIGINT) AS rank
        |  FROM zp a JOIN zp b
        |    ON b.p < a.p OR (b.p = a.p AND b.t <= a.t)
        |  GROUP BY 1, 2, 3, 4, 5),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM zp),
        |cand AS MATERIALIZED (
        |  SELECT r.t, r.n1, r.n0, r.z, r.p, r.rank,
        |    least(CAST(k.k - r.rank + 1 AS DOUBLE) * r.p, 1.0) AS cand
        |  FROM ranked r CROSS JOIN k)
        |SELECT a.t AS event_type, a.n1 AS n_weekend, a.n0 AS n_weekday,
        |  a.z, a.p, round(max(b.cand), 9) AS holm_p,
        |  round(max(b.cand), 9) < 0.05 AS significant
        |FROM cand a JOIN cand b ON b.rank <= a.rank
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY event_type""".stripMargin,
    "q_cointegration" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM daily),
        |beta AS (
        |  SELECT n, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) /
        |      CAST(n AS DOUBLE) AS a
        |  FROM (
        |    SELECT n, sx, sy,
        |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
        |    FROM mo) t),
        |resid AS MATERIALIZED (
        |  SELECT d.day, b.n, b.a, b.b,
        |    (CAST(d.y AS DOUBLE) - b.a - b.b * d.x) / 100.0 AS e
        |  FROM daily d CROSS JOIN beta b),
        |pairs AS (
        |  SELECT r.n, r.a, r.b, r.e, r1.e AS e1
        |  FROM resid r JOIN resid r1 ON r1.day = r.day - 1),
        |df AS (
        |  SELECT n, a, b, CAST(count(*) AS BIGINT) AS tt,
        |    CAST(sum(CAST(round(e1 * (e - e1) * 100) AS BIGINT))
        |      AS BIGINT) AS snum,
        |    CAST(sum(CAST(round(e1 * e1 * 100) AS BIGINT)) AS BIGINT)
        |      AS sden,
        |    CAST(sum(CAST(round((e - e1) * (e - e1) * 100) AS BIGINT))
        |      AS BIGINT) AS sdd
        |  FROM pairs GROUP BY 1, 2, 3)
        |SELECT n AS n_days, tt AS n_pairs,
        |  round(a / 100.0, 2) AS alpha_dollars,
        |  round(b, 6) AS beta,
        |  round((CAST(snum AS DOUBLE) / sden) /
        |    sqrt((CAST(sdd AS DOUBLE) - (CAST(snum AS DOUBLE) / sden) *
        |        (CAST(snum AS DOUBLE) / sden) * sden) / (tt - 1) / sden),
        |    4) AS df_stat,
        |  (CAST(snum AS DOUBLE) / sden) /
        |    sqrt((CAST(sdd AS DOUBLE) - (CAST(snum AS DOUBLE) / sden) *
        |        (CAST(snum AS DOUBLE) / sden) * sden) / (tt - 1) / sden)
        |    < -3.41 AS cointegrated
        |FROM df""".stripMargin,
    "q_shapley_r2" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS sc,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 100) AS BIGINT)) AS syy
        |  FROM events GROUP BY 1),
        |dd AS (
        |  SELECT nd, sc, syy, day - (SELECT min(day) FROM daily) AS x1,
        |    CASE WHEN day % 7 IN (2, 3) THEN 1 ELSE 0 END AS x2
        |  FROM daily),
        |m AS (
        |  SELECT CAST(sum(nd) AS BIGINT) AS n,
        |    CAST(sum(nd * x1) AS BIGINT) AS s1,
        |    CAST(sum(nd * x2) AS BIGINT) AS s2,
        |    CAST(sum(nd * x1 * x1) AS BIGINT) AS s11,
        |    CAST(sum(nd * x1 * x2) AS BIGINT) AS s12,
        |    CAST(sum(nd * x2 * x2) AS BIGINT) AS s22,
        |    CAST(sum(sc) AS BIGINT) AS sy,
        |    CAST(sum(x1 * sc) AS BIGINT) AS s1y,
        |    CAST(sum(x2 * sc) AS BIGINT) AS s2y,
        |    CAST(sum(syy) AS HUGEINT) AS syyt
        |  FROM dd),
        |cen AS (
        |  SELECT n,
        |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 /
        |      CAST(n AS DOUBLE) AS c11,
        |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 /
        |      CAST(n AS DOUBLE) AS c22,
        |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 /
        |      CAST(n AS DOUBLE) AS c12,
        |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy /
        |      CAST(n AS DOUBLE) AS c1y,
        |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy /
        |      CAST(n AS DOUBLE) AS c2y,
        |    CAST(syyt AS DOUBLE) - CAST(sy AS DOUBLE) * sy /
        |      CAST(n AS DOUBLE) AS cyy
        |  FROM m),
        |parts AS (
        |  SELECT n,
        |    c1y * c1y / (c11 * cyy) AS r1,
        |    c2y * c2y / (c22 * cyy) AS r2,
        |    ((c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * c1y +
        |     (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * c2y)
        |      / cyy AS r12
        |  FROM cen)
        |SELECT n AS n_events, round(r12, 6) AS r2_full,
        |  round((r1 + (r12 - r2)) / 2.0, 6) AS shap_trend,
        |  round((r2 + (r12 - r1)) / 2.0, 6) AS shap_weekend
        |FROM parts""".stripMargin,
    "q_conformal" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mnx AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
        |dd AS (
        |  SELECT d.day - m.mn AS x, d.y, m.mx - m.mn AS span
        |  FROM daily d CROSS JOIN mnx m),
        |tr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ntr,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM dd WHERE x <= span // 2),
        |fit AS (
        |  SELECT ntr, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) /
        |      CAST(ntr AS DOUBLE) AS a
        |  FROM (
        |    SELECT ntr, sx, sy,
        |      (CAST(ntr AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(ntr AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
        |    FROM tr) t),
        |resid AS (
        |  SELECT d.x, d.span, f.ntr,
        |    CAST(abs(round(CAST(d.y AS DOUBLE) - f.a - f.b * d.x))
        |      AS BIGINT) AS ae
        |  FROM dd d CROSS JOIN fit f),
        |cal AS (SELECT * FROM resid
        |        WHERE x > span // 2 AND x <= (3 * span) // 4),
        |ncal AS (SELECT CAST(count(*) AS BIGINT) AS ncal FROM cal),
        |ranked AS (
        |  SELECT a.ae, a.x, CAST(count(*) AS BIGINT) AS rank
        |  FROM cal a JOIN cal b
        |    ON b.ae < a.ae OR (b.ae = a.ae AND b.x <= a.x)
        |  GROUP BY 1, 2),
        |qhat AS (
        |  SELECT CAST(min(r.ae) AS BIGINT) AS qhat
        |  FROM ranked r CROSS JOIN ncal n
        |  WHERE r.rank = least(CAST(ceil(0.9 * (n.ncal + 1))
        |    AS BIGINT), n.ncal)),
        |test AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN r.ae <= q.qhat THEN 1 ELSE 0 END)
        |      AS BIGINT) AS covered,
        |    CAST(min(r.ntr) AS BIGINT) AS n_train,
        |    CAST(min(q.qhat) AS BIGINT) AS q
        |  FROM resid r CROSS JOIN qhat q
        |  WHERE r.x > (3 * r.span) // 4)
        |SELECT t.n_train, n.ncal AS n_cal, t.n_test,
        |  round(CAST(t.q AS DOUBLE) / 100.0, 2) AS qhat_dollars,
        |  round(CAST(t.covered AS DOUBLE) / t.n_test, 4) AS coverage,
        |  0.9 AS nominal
        |FROM test t CROSS JOIN ncal n""".stripMargin,
    "q_ipw_ate" ->
      """WITH g AS (
        |  SELECT event_type AS t, CAST(count(*) AS BIGINT) AS ns,
        |    CAST(sum(CASE WHEN w THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN w THEN v ELSE 0 END) AS BIGINT) AS syt,
        |    CAST(sum(CASE WHEN w THEN 0 ELSE v END) AS BIGINT) AS syc
        |  FROM (SELECT event_type,
        |          (epoch_us(ts) // 86400000000) % 7 IN (2, 3) AS w,
        |          CAST(round(value * 100) AS BIGINT) AS v
        |        FROM events) e
        |  GROUP BY 1),
        |agg AS (
        |  SELECT CAST(sum(ns) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN nt > 0 AND nt < ns THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_strata,
        |    CAST(sum(CASE WHEN nt > 0 AND nt < ns THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_dropped,
        |    CAST(sum(CASE WHEN nt > 0 AND nt < ns THEN ns ELSE 0 END)
        |      AS BIGINT) AS n_used,
        |    CAST(sum(CASE WHEN nt > 0 AND nt < ns THEN
        |      CAST(round(CAST(syt AS DOUBLE) * ns / nt) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS ht_t,
        |    CAST(sum(CASE WHEN nt > 0 AND nt < ns THEN
        |      CAST(round(CAST(syc AS DOUBLE) * ns / (ns - nt))
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS ht_c,
        |    CAST(sum(nt) AS BIGINT) AS ntt,
        |    CAST(sum(syt) AS BIGINT) AS sytt,
        |    CAST(sum(ns - nt) AS BIGINT) AS ncc,
        |    CAST(sum(syc) AS BIGINT) AS sycc
        |  FROM g)
        |SELECT n AS n_events, n_strata, n_dropped,
        |  round(CAST(ht_t - ht_c AS DOUBLE) / n_used / 100.0, 4)
        |    AS ate_ipw_dollars,
        |  round((CAST(sytt AS DOUBLE) / ntt -
        |    CAST(sycc AS DOUBLE) / ncc) / 100.0, 4)
        |    AS naive_diff_dollars
        |FROM agg""".stripMargin)
}
