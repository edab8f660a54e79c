package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.queries.Kernels.dec

/** Round-12 corpus-statistics batch: Heaps' law vocabulary-growth
  * exponent, Self-BLEU-2 diversity, and held-out bigram-LM perplexity
  * — the three corpus-level numbers a training-data pipeline tracks to
  * detect a stagnating, self-repeating, or distribution-shifted crawl.
  *
  * Exactness strategy: Heaps fits ln V = ln k + β ln T by OLS over 4
  * doc-id-quartile checkpoints with ln values micro-quantized to
  * integers BEFORE the 4-row sums (partition order cannot move the
  * fit); Self-BLEU clips each document's bigram counts against the
  * rest of the corpus (clip = min(cnt, corpus − cnt), exact integers)
  * and micro-quantizes the per-document precision before the corpus
  * average; perplexity is add-1-smoothed per-distinct-bigram micro-nat
  * log-probs weighted by integer test counts, summed in decimal(38,0).
  *
  * Scale shapes: Heaps streams the token list 4× (one broadcast cut
  * frame — a documented constant fan-out, not a quadratic); Self-BLEU
  * and perplexity are (doc, bigram)-keyed aggregates joined against
  * vocabulary-bounded corpus tables. No windows, no collection.
  */
object TextEval2 {
  private type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).transform(Tables.fanoutReady)

  /** Per-document bigram list ("w1 w2" strings, 1-based slice: element
    * i pairs 0-based ws[i+1] with its successor ws[i+1+1] — the house
    * SeqMl2 indexing). */
  private def bigrams(c: Column): Column =
    expr("transform(slice(ws, 1, greatest(size(ws) - 1, 0)), " +
      "(w, i) -> concat(w, ' ', ws[i + 1]))")

  val queries: Map[String, Q] = Map(
    // ---- Heaps' law exponent: V(T) ≈ k·T^β over 4 doc-id-quartile
    // prefixes of the corpus. β > 0 shrinking toward 0 across crawls
    // means the source has stopped contributing new vocabulary.
    "q_heaps" -> ((s, d) => {
      val tok = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val mx = docs(s, d).agg(max("doc_id").as("mx"))
      val cuts = s.range(1, 5).select(col("id").as("k"))
        .crossJoin(broadcast(mx))
        .select(col("k"), expr("mx * k div 4").as("cut"))
      val within = tok.crossJoin(broadcast(cuts))
        .filter(col("doc_id") <= col("cut"))
      val tAgg = within.groupBy("k").agg(count(lit(1)).as("t"))
      val vAgg = within.select("k", "w").distinct()
        .groupBy("k").agg(count(lit(1)).as("v"))
      val pts = tAgg.join(vAgg, "k")
        .select(col("k"),
          round(log(col("t").cast("double")) * 1e6).cast(LongType)
            .as("x6"),
          round(log(col("v").cast("double")) * 1e6).cast(LongType)
            .as("y6"),
          col("t"), col("v"))
      val agg = pts.agg(count(lit(1)).as("np"),
        sum("x6").as("sx"), sum("y6").as("sy"),
        sum((dec(col("x6")) * col("y6")).cast("decimal(38,0)"))
          .as("sxy"),
        sum((dec(col("x6")) * col("x6")).cast("decimal(38,0)"))
          .as("sxx"),
        max(when(col("k") === 4L, col("t"))).as("t4"),
        max(when(col("k") === 4L, col("v"))).as("v4"))
      val npD = col("np").cast("double")
      val beta = (npD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (npD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      agg.select(col("np").as("n_checkpoints"),
        col("t4").as("n_tokens"), col("v4").as("n_vocab"),
        round(beta, 6).as("heaps_beta"),
        round(exp((col("sy").cast("double") -
          beta * col("sx").cast("double")) / (npD * 1e6)), 4)
          .as("heaps_k"))
    }),

    // ---- Self-BLEU-2 (corpus diversity): each document's modified
    // bigram precision against the REST of the corpus (clip =
    // min(own, corpus − own)); high Self-BLEU = self-repeating corpus.
    "q_self_bleu" -> ((s, d) => {
      val db = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(bigrams(col("ws"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      val glob = db.groupBy("bg").agg(sum("cnt").as("g"))
      val perDoc = db.join(glob, "bg")
        .groupBy("doc_id").agg(
          sum(least(col("cnt"), col("g") - col("cnt"))).as("clip"),
          sum("cnt").as("tot"))
        .select(round(col("clip").cast("double") /
          col("tot").cast("double") * 1e6).cast(LongType).as("p6"))
      perDoc.agg(count(lit(1)).as("n_docs"), sum("p6").as("sp6"))
        .select(col("n_docs"),
          round(col("sp6").cast("double") /
            col("n_docs").cast("double") / 1e6, 6).as("self_bleu2"))
    }),

    // ---- held-out bigram-LM perplexity: add-1-smoothed bigram model
    // trained on even doc_ids, scored on odd doc_ids. p(w2|w1) =
    // (c12 + 1)/(c1 + V) with c1 = the history count Σ_w c(w1, w) and
    // V = train vocabulary + 1 (OOV bucket); per-distinct-bigram
    // micro-nat log-prob × integer test count, decimal(38,0) sum.
    "q_perplexity" -> ((s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val trainBg = graft.CacheScope.cached(
        base.filter(col("doc_id") % 2 === 0)
          .select(explode(bigrams(col("ws"))).as("bg"))
          .select(split(col("bg"), " ").getItem(0).as("w1"),
            col("bg"))
          .groupBy("w1", "bg").agg(count(lit(1)).as("c12")))
      val hist = trainBg.groupBy("w1").agg(sum("c12").as("c1"))
      val vocab = base.filter(col("doc_id") % 2 === 0)
        .select(explode(col("ws")).as("w")).agg(
          (countDistinct(col("w")) + 1L).as("vv"))
      val testBg = base.filter(col("doc_id") % 2 === 1)
        .select(explode(bigrams(col("ws"))).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("w1"), col("bg"))
        .groupBy("w1", "bg").agg(count(lit(1)).as("m12"))
      val scored = testBg
        .join(trainBg.select(col("bg"), col("c12")), Seq("bg"), "left")
        .join(hist, Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("m12"),
          (dec(col("m12")) *
            round((log((coalesce(col("c12"), lit(0L)) + 1L)
              .cast("double")) -
              log((coalesce(col("c1"), lit(0L)) + col("vv"))
                .cast("double"))) * 1e6).cast(LongType))
            .cast("decimal(38,0)").as("l6"),
          col("vv"))
      scored.groupBy("vv").agg(sum("m12").as("m"), sum("l6").as("s6"))
        .select(col("m").as("n_test_bigrams"),
          col("vv").as("vocab"),
          round(negate(col("s6").cast("double")) /
            (col("m").cast("double") * 1e6), 6).as("avg_nll"),
          round(exp(negate(col("s6").cast("double")) /
            (col("m").cast("double") * 1e6)), 4).as("ppl"))
    }))

  val oracle: Map[String, String] = Map(
    "q_heaps" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |mx AS (SELECT max(doc_id) AS mx FROM documents),
        |cuts AS (SELECT k, mx * k // 4 AS cut
        |  FROM (SELECT unnest(range(1, 5)) AS k), mx),
        |wi AS MATERIALIZED (
        |  SELECT c.k, t.w FROM tok t JOIN cuts c
        |  ON t.doc_id <= c.cut),
        |ta AS (SELECT k, CAST(count(*) AS BIGINT) AS t
        |  FROM wi GROUP BY k),
        |va AS (SELECT k, CAST(count(DISTINCT w) AS BIGINT) AS v
        |  FROM wi GROUP BY k),
        |pts AS (
        |  SELECT ta.k, CAST(round(ln(CAST(t AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS x6,
        |    CAST(round(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS y6,
        |    t, v
        |  FROM ta JOIN va ON va.k = ta.k),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(x6) AS BIGINT) AS sx,
        |    CAST(sum(y6) AS BIGINT) AS sy,
        |    sum(CAST(x6 AS HUGEINT) * y6) AS sxy,
        |    sum(CAST(x6 AS HUGEINT) * x6) AS sxx,
        |    max(CASE WHEN k = 4 THEN t END) AS t4,
        |    max(CASE WHEN k = 4 THEN v END) AS v4
        |  FROM pts)
        |SELECT np AS n_checkpoints, t4 AS n_tokens, v4 AS n_vocab,
        |  round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |    AS heaps_beta,
        |  round(exp((CAST(sy AS DOUBLE) -
        |    (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    CAST(sx AS DOUBLE)) / (CAST(np AS DOUBLE) * 1e6)), 4)
        |    AS heaps_k
        |FROM agg""".stripMargin,

    "q_self_bleu" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws), 1)),
        |    j -> ws[j] || ' ' || ws[j + 1])) AS bg
        |  FROM ws),
        |db AS (
        |  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY doc_id, bg),
        |gl AS (SELECT bg, CAST(sum(cnt) AS BIGINT) AS g
        |  FROM db GROUP BY bg),
        |perdoc AS (
        |  SELECT db.doc_id,
        |    CAST(round(CAST(sum(least(cnt, g - cnt)) AS DOUBLE) /
        |      CAST(sum(cnt) AS DOUBLE) * 1e6) AS BIGINT) AS p6
        |  FROM db JOIN gl ON gl.bg = db.bg
        |  GROUP BY db.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(p6) AS DOUBLE) / CAST(count(*) AS DOUBLE) /
        |    1e6, 6) AS self_bleu2
        |FROM perdoc""".stripMargin,

    "q_perplexity" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(ws), 1)),
        |    j -> ws[j] || ' ' || ws[j + 1])) AS bg
        |  FROM ws),
        |trainbg AS MATERIALIZED (
        |  SELECT string_split(bg, ' ')[1] AS w1, bg,
        |    CAST(count(*) AS BIGINT) AS c12
        |  FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |hist AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM trainbg GROUP BY w1),
        |vocab AS (
        |  SELECT CAST(count(DISTINCT w) + 1 AS BIGINT) AS vv
        |  FROM (SELECT unnest(ws) AS w FROM ws WHERE doc_id % 2 = 0)),
        |testbg AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, bg,
        |    CAST(count(*) AS BIGINT) AS m12
        |  FROM bg WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |scored AS (
        |  SELECT m12,
        |    CAST(m12 AS HUGEINT) * CAST(round((ln(CAST(
        |      coalesce(c12, 0) + 1 AS DOUBLE)) -
        |      ln(CAST(coalesce(c1, 0) + vv AS DOUBLE))) * 1e6)
        |      AS BIGINT) AS l6, vv
        |  FROM testbg
        |  LEFT JOIN trainbg USING (bg)
        |  LEFT JOIN hist ON hist.w1 = testbg.w1
        |  CROSS JOIN vocab)
        |SELECT CAST(sum(m12) AS BIGINT) AS n_test_bigrams,
        |  vv AS vocab,
        |  round(-CAST(sum(l6) AS DOUBLE) /
        |    (CAST(sum(m12) AS DOUBLE) * 1e6), 6) AS avg_nll,
        |  round(exp(-CAST(sum(l6) AS DOUBLE) /
        |    (CAST(sum(m12) AS DOUBLE) * 1e6)), 4) AS ppl
        |FROM scored GROUP BY vv""".stripMargin)
}
