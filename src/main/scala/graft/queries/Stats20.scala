package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.GlobalRank
import graft.operators.GlobalRank.PrefixAgg
import graft.queries.Kernels.{dec, arms}

/** Round-12 combined location-scale rank tests between the event-id
  * parity arms: Lepage (Wilcoxon² + Ansari–Bradley², 1971) and
  * Baumgartner–Weiß–Schindler (rank-CDF weighted quadratic, 1998) —
  * the two standard omnibus two-sample tests the existing Wilcoxon /
  * Ansari–Bradley / Cramér–von Mises machinery was built to compose.
  *
  * TIE POLICY (documented per VERDICT r11 #6): q_lepage uses MIDRANKS —
  * both component statistics ride the doubled-midrank integers
  * (2R = 2·prefix + cnt + 1 on the cent value histogram, the
  * q_mann_whitney / q_cucconi trick) and are standardized by their
  * CONDITIONALLY-EXACT moments given the observed (tied) score
  * multiset: for doubled scores s with value-group multiplicities cp,
  * E[S] = n₁·T/N and Var[S] = n₁n₀/(N(N−1))·(Q − T²/N) with
  * T = Σcp·s, Q = Σcp·s² exact decimal(38,0) integers — this reduces
  * to the textbook tie-corrected Wilcoxon variance and generalizes it
  * to the AB scores, where no closed-form midrank correction exists.
  * q_bws has no standard midrank form, so it uses the house
  * DETERMINISTIC UNIQUE RANKS (ties broken by event_id, the
  * q_cvm_2sample convention) — both engines rank identically, so the
  * statistic is reproducible bit for bit.
  *
  * Scale shapes: q_lepage collapses the corpus to the cent-value
  * histogram (structurally bounded — the cent domain saturates) and
  * runs one GlobalRank prefix pass + one aggregate; q_bws is two
  * GlobalRank passes (pooled + within-arm row numbers, the
  * q_cvm_2sample scaffolding) and one aggregate with per-row micro-nat
  * quantization, so partition order cannot move the sum. Nothing
  * windows outside GlobalRank's two-phase routing; the one-row totals
  * frame broadcasts.
  */
object Stats20 {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- Lepage L = z_W² + z_AB²: location (Wilcoxon) and scale
    // (Ansari–Bradley) components on midranks, each standardized by
    // its exact conditional moments over the observed score multiset.
    // All score sums are exact decimal(38,0); doubles appear only in
    // the final one-row standardization, in an operation order
    // mirrored literally by the oracle.
    "q_lepage" -> ((s, d) => {
      val v = arms(s, d)
      val hist = v.groupBy("c").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"))
        .withColumn("cp", col("c0") + col("c1"))
      val pre = GlobalRank.withPrefixAggs(hist, Seq(col("c").asc),
        Seq(PrefixAgg("cp", "pp", inclusive = false)))
        .withColumn("twoR", lit(2L) * col("pp") + col("cp") + 1L)
      val tot = pre.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      val sc = pre.crossJoin(broadcast(tot))
        .withColumn("a2", least(col("twoR"),
          lit(2L) * (col("n0") + col("n1") + 1L) - col("twoR")))
      val mom = sc.groupBy("n0", "n1").agg(
        sum((dec(col("c1")) * col("twoR")).cast("decimal(38,0)"))
          .as("sw"),
        sum((dec(col("cp")) * col("twoR")).cast("decimal(38,0)"))
          .as("tw"),
        sum(((dec(col("cp")) * col("twoR")).cast("decimal(38,0)") *
          col("twoR")).cast("decimal(38,0)")).as("qw"),
        sum((dec(col("c1")) * col("a2")).cast("decimal(38,0)"))
          .as("sa"),
        sum((dec(col("cp")) * col("a2")).cast("decimal(38,0)"))
          .as("ta"),
        sum(((dec(col("cp")) * col("a2")).cast("decimal(38,0)") *
          col("a2")).cast("decimal(38,0)")).as("qa"))
      val n0D = col("n0").cast("double")
      val n1D = col("n1").cast("double")
      val nD = n0D + n1D
      def z(sC: Column, tC: Column, qC: Column): Column = {
        val vr = n1D * n0D / (nD * (nD - 1.0)) *
          (qC.cast("double") - tC.cast("double") * tC.cast("double") /
            nD)
        when(vr <= 0.0, lit(null).cast("double"))
          .otherwise((sC.cast("double") - n1D * tC.cast("double") / nD)
            / sqrt(vr))
      }
      val zw = z(col("sw"), col("tw"), col("qw"))
      val za = z(col("sa"), col("ta"), col("qa"))
      mom.select(col("n0"), col("n1"), round(zw, 6).as("z_wilcoxon"),
        round(za, 6).as("z_ansari"),
        round(zw * zw + za * za, 6).as("lepage_l"))
    }),

    // ---- BWS B = (B_x + B_y)/2: each arm's pooled-vs-within rank
    // discrepancy (R_i − (N/n)·i)² weighted by the inverse CDF
    // variance (i/(n+1))(1−(i/(n+1)))·(m·N/n). Pooled rank is one
    // GlobalRank pass; within-arm rank is withKeyedRowNumber (2 keys,
    // corpus-sized slices — its designed regime). Per-row terms
    // micro-quantize before the integer sum (the q_cox_ph discipline).
    "q_bws" -> ((s, d) => {
      val v = arms(s, d)
      // r14: one fused range+rank pass for both ranks (see GlobalRank)
      val both = GlobalRank.withPooledAndKeyedRowNumber(v, "r", "i",
        Seq("g"), Seq(col("c").asc, col("event_id").asc))
      val tot = v.agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"))
      val rD = col("r").cast("double")
      val iD = col("i").cast("double")
      val nOwn = when(col("g") === 0L, col("n0")).otherwise(col("n1"))
        .cast("double")
      val nOth = when(col("g") === 0L, col("n1")).otherwise(col("n0"))
        .cast("double")
      val nD = col("n0").cast("double") + col("n1").cast("double")
      val dev = rD - nD / nOwn * iD
      val wgt = (iD / (nOwn + 1.0)) * (lit(1.0) - iD / (nOwn + 1.0)) *
        (nOth * nD / nOwn)
      // t6 goes straight to decimal(38,0) — never through LongType:
      // under strong arm separation dev ~ N/2 with small i makes the
      // term exceed Long range, which ANSI mode turns into a runtime
      // cast error (ADVICE r12). decimal(38,0) mirrors the oracle's
      // HUGEINT accumulation discipline.
      val agg = both.crossJoin(broadcast(tot))
        .select(col("g"), col("n0"), col("n1"),
          round(dev * dev / wgt * 1000000.0)
            .cast("decimal(38,0)").as("t6"))
        .groupBy("n0", "n1").agg(
          sum(when(col("g") === 0L, col("t6")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("s0"),
          sum(when(col("g") === 1L, col("t6")).otherwise(
            lit(0).cast("decimal(38,0)"))).as("s1"))
      val bx = agg("s0").cast("double") /
        (col("n0").cast("double") * 1000000.0)
      val by = agg("s1").cast("double") /
        (col("n1").cast("double") * 1000000.0)
      agg.select(col("n0"), col("n1"), round(bx, 6).as("b_x"),
        round(by, 6).as("b_y"),
        round((bx + by) / 2.0, 6).as("bws_b"))
    }))

  val oracle: Map[String, String] = Map(
    "q_lepage" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_id % 2 AS g FROM events),
        |h AS (
        |  SELECT c,
        |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM v GROUP BY c),
        |p AS (
        |  SELECT c, c0, c1, c0 + c1 AS cp,
        |    2 * coalesce(sum(c0 + c1) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + c0 + c1 + 1 AS twoR
        |  FROM h),
        |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c1) AS BIGINT) AS n1 FROM h),
        |sc AS (
        |  SELECT n0, n1, c1, cp, twoR,
        |    least(twoR, 2 * (n0 + n1 + 1) - twoR) AS a2
        |  FROM p, t),
        |m AS (
        |  SELECT n0, n1,
        |    sum(CAST(c1 AS HUGEINT) * twoR) AS sw,
        |    sum(CAST(cp AS HUGEINT) * twoR) AS tw,
        |    sum(CAST(cp AS HUGEINT) * twoR * twoR) AS qw,
        |    sum(CAST(c1 AS HUGEINT) * a2) AS sa,
        |    sum(CAST(cp AS HUGEINT) * a2) AS ta,
        |    sum(CAST(cp AS HUGEINT) * a2 * a2) AS qa
        |  FROM sc GROUP BY n0, n1),
        |z AS (
        |  SELECT n0, n1,
        |    CASE WHEN CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) /
        |        ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |         (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)) *
        |        (CAST(qw AS DOUBLE) - CAST(tw AS DOUBLE) *
        |          CAST(tw AS DOUBLE) /
        |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) <= 0.0
        |      THEN NULL
        |      ELSE (CAST(sw AS DOUBLE) - CAST(n1 AS DOUBLE) *
        |          CAST(tw AS DOUBLE) /
        |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) /
        |        sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) /
        |          ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |           (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)) *
        |          (CAST(qw AS DOUBLE) - CAST(tw AS DOUBLE) *
        |            CAST(tw AS DOUBLE) /
        |            (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))))
        |      END AS zw,
        |    CASE WHEN CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) /
        |        ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |         (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)) *
        |        (CAST(qa AS DOUBLE) - CAST(ta AS DOUBLE) *
        |          CAST(ta AS DOUBLE) /
        |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) <= 0.0
        |      THEN NULL
        |      ELSE (CAST(sa AS DOUBLE) - CAST(n1 AS DOUBLE) *
        |          CAST(ta AS DOUBLE) /
        |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))) /
        |        sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) /
        |          ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
        |           (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)) *
        |          (CAST(qa AS DOUBLE) - CAST(ta AS DOUBLE) *
        |            CAST(ta AS DOUBLE) /
        |            (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))))
        |      END AS za
        |  FROM m)
        |SELECT n0, n1, round(zw, 6) AS z_wilcoxon,
        |  round(za, 6) AS z_ansari,
        |  round(zw * zw + za * za, 6) AS lepage_l
        |FROM z""".stripMargin,

    "q_bws" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    event_id, event_id % 2 AS g FROM events),
        |rk AS (
        |  SELECT g,
        |    row_number() OVER (ORDER BY c, event_id) AS r,
        |    row_number() OVER (PARTITION BY g ORDER BY c, event_id)
        |      AS i
        |  FROM v),
        |t AS (
        |  SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n0,
        |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1
        |  FROM v),
        |terms AS (
        |  SELECT g, n0, n1,
        |    CAST(round((CAST(r AS DOUBLE) -
        |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) /
        |        (CASE WHEN g = 0 THEN CAST(n0 AS DOUBLE)
        |          ELSE CAST(n1 AS DOUBLE) END) * CAST(i AS DOUBLE)) *
        |      (CAST(r AS DOUBLE) -
        |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) /
        |        (CASE WHEN g = 0 THEN CAST(n0 AS DOUBLE)
        |          ELSE CAST(n1 AS DOUBLE) END) * CAST(i AS DOUBLE)) /
        |      ((CAST(i AS DOUBLE) /
        |          ((CASE WHEN g = 0 THEN CAST(n0 AS DOUBLE)
        |            ELSE CAST(n1 AS DOUBLE) END) + 1.0)) *
        |        (1.0 - CAST(i AS DOUBLE) /
        |          ((CASE WHEN g = 0 THEN CAST(n0 AS DOUBLE)
        |            ELSE CAST(n1 AS DOUBLE) END) + 1.0)) *
        |        ((CASE WHEN g = 0 THEN CAST(n1 AS DOUBLE)
        |            ELSE CAST(n0 AS DOUBLE) END) *
        |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) /
        |          (CASE WHEN g = 0 THEN CAST(n0 AS DOUBLE)
        |            ELSE CAST(n1 AS DOUBLE) END))) *
        |      1000000.0) AS BIGINT) AS t6
        |  FROM rk, t),
        |agg AS (
        |  SELECT n0, n1,
        |    sum(CASE WHEN g = 0 THEN CAST(t6 AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS s0,
        |    sum(CASE WHEN g = 1 THEN CAST(t6 AS HUGEINT)
        |      ELSE CAST(0 AS HUGEINT) END) AS s1
        |  FROM terms GROUP BY n0, n1)
        |SELECT n0, n1,
        |  round(CAST(s0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * 1000000.0),
        |    6) AS b_x,
        |  round(CAST(s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * 1000000.0),
        |    6) AS b_y,
        |  round((CAST(s0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * 1000000.0) +
        |    CAST(s1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * 1000000.0)) /
        |    2.0, 6) AS bws_b
        |FROM agg""".stripMargin)
}
