package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Extended relational surface — the operator categories the reference
  * delegates to container tools or lacks outright (SURVEY.md §2.C ❌ rows),
  * re-expressed Spark-first: as-of / range (interval) joins, pivot,
  * grouping sets, array & explode ops, haversine distance (the reference's
  * published GPS distance function — examples/gps-substitution/
  * generate_csv.py:49-60), exact percentiles, moment statistics, arg-max,
  * HAVING, union-all, binary-column scalar ops, and the sketch family
  * (HLL cardinality, approximate quantiles, Bloom-filter semi-join
  * pruning, Count-Min heavy hitters).
  *
  * Scale notes:
  *  - the as-of join is the union+window form: ONE shuffle on the join key,
  *    no range-explosion — the plan that survives 100× (a naive range join
  *    is O(n·m) pairs; this is O(n+m) rows through a single sort);
  *  - the interval join equi-joins on `user_id` first (hash join) and
  *    applies the time band as a post-filter, so it never degenerates to a
  *    broadcast-nested-loop at scale;
  *  - arg-max uses `max(struct(ord, key))` — a plain hash aggregate with
  *    map-side partials, cheaper than the window-rank form at high
  *    cardinality (no per-group sort);
  *  - percentiles are exact (sort-based) for oracle parity; the scale path
  *    for 100 TB is `approx_percentile` (same call shape, sketch-merged);
  *  - the sketch trio (`q_hll_approx` / `q_approx_percentile` /
  *    `q_bloom_semi`) hashes EXACT answers plus in-plan tolerance
  *    verdicts: estimate values are engine-specific and never reach the
  *    hash, but estimate quality does — a sketch drifting outside its
  *    error bound flips a hashed boolean and fails the gate.
  */
object RelationalExt {
  type Q = (SparkSession, String) => DataFrame

  private val EarthRadiusKm = 6371.0

  /** Haversine great-circle distance in km (reference publishes this exact
    * formula: examples/gps-substitution/generate_csv.py:49-60). Composed
    * from codegen'd built-ins — no UDF. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val h = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusKm) * asin(sqrt(h))
  }

  val queries: Map[String, Q] = Map(
    // ---- as-of join: for each click, the most recent view at-or-before it
    // (per user). Union+window form: one shuffle on user_id, ordered scan,
    // `last(ignoreNulls)` carries the latest view id forward.
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
          when(col("event_type") === "view", col("event_id")).as("view_id"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("prev_view", last("view_id", ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts_us", "prev_view")
        .orderBy("user_id", "event_id")
    }),

    // ---- range (interval) join: events in the 10 minutes before each
    // purchase by the same user. Equi-join on user_id keeps it a hash join;
    // the band predicate is a post-join filter.
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_ts"), col("event_id").as("p_id"))
      val e = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      p.join(e, Seq("user_id"))
        .filter(col("ts_us") >= col("p_ts") - lit(600000000L) &&
                col("ts_us") < col("p_ts"))
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_pre"))
        .orderBy("p_id")
    }),

    // ---- pivot (wide aggregation; explicit value list so the plan needs
    // no extra distinct-scan pass at scale)
    "q_pivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
        .orderBy("l_linestatus")
    }),

    // ---- grouping sets (beyond rollup/cube: arbitrary set list)
    "q_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("g_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  round(sum(l_quantity), 2) AS qty
          |FROM g_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST,
          |  l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // ---- array functions over a derived array column
    "q_array_ops" -> ((s, d) => {
      val words = split(col("text"), " ")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(words).as("n_words"),
          element_at(words, 1).as("first_w"),
          array_contains(words, "the").as("has_the"),
          array_join(slice(array_sort(array_distinct(words)), 1, 3), ",")
            .as("top3"))
        .orderBy("doc_id")
    }),

    // ---- explode (UDTF shape): corpus-wide word frequencies
    "q_explode_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
        .orderBy("w")
    }),

    // ---- haversine distance filter (B5's GPS proximity, done with the
    // real great-circle formula instead of euclidean-in-degrees)
    "q_haversine" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("event_id") <= 2000)
      val lat2 = lit(38.0) + col("value") / 100.0
      val lon2 = lit(-9.0) - col("user_id").cast("double") / 100.0
      ev.select(col("event_id"),
          round(haversineKm(lit(38.7077507), lit(-9.1365919), lat2, lon2), 6)
            .as("km"))
        .orderBy("event_id")
    }),

    // ---- exact percentiles, scale-guarded: pre-aggregate to (group, value,
    // frequency) and feed the frequency-weighted exact percentile, so
    // per-group state is bounded by DISTINCT values, not rows (VERDICT r1
    // "what's wrong" #2 — the flat form buffers every row per group). The
    // (flag, value) pre-agg gets map-side partial combine, the shuffle
    // carries counted pairs, and the two 3-row aggregates broadcast-join.
    // Results are bit-identical to the unweighted form; q_approx_percentile
    // stays the sketch path for truly continuous domains.
    "q_percentiles" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p50 = li.groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("f"))
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5, f)"), 4).as("p50_qty"))
      val p95 = li.groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("f"))
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.95, f)"), 4)
          .as("p95_price"))
      p50.join(broadcast(p95), Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),

    // ---- moment statistics (stddev/corr; Welford-style merge-safe impls
    // on both engines, rounded to absorb partial-merge order)
    "q_stats_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_discount")), 6).as("var_disc"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("c_qp"))
        .orderBy("l_returnflag")
    }),

    // ---- column profiling: the pre-pipeline data-quality audit (null
    // rates, cardinalities, ranges) every ingest runs before trusting a
    // new 100 TB drop. ONE scan: stack() pivots the four measures into
    // (col_name, v) rows in the map stage, then a single partial-combined
    // aggregate per column — versus the naive per-column-scan loop (4
    // full passes). count_distinct is exact here (the audit's contract);
    // the HLL variant (q_hll_approx) is the sketch alternative at scale.
    "q_profile" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val stacked = cols.map(c => s"'$c', $c").mkString(", ")
      Tables.lineitem(s, d)
        .select(expr(s"stack(${cols.length}, $stacked) as (col_name, v)"))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min("v").as("v_min"), max("v").as("v_max"),
          round(sum("v"), 2).as("v_sum"))
        .orderBy("col_name")
    }),

    // ---- arg-max via max(struct): hash aggregate, no per-group sort
    "q_argmax" -> ((s, d) => {
      Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_nationkey"), col("m.c_custkey").as("top_cust"),
          col("m.c_acctbal").as("bal"))
        .orderBy("c_nationkey")
    }),

    // ---- HAVING (post-aggregation predicate)
    "q_having" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
        .filter(col("n") >= 15)
        .orderBy("o_custkey")
    }),

    // ---- UNION ALL + group (bag semantics, vs q_set_union's set semantics)
    "q_union_all" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_nationkey").as("nk"), lit("cust").as("src"))
      val su = Tables.supplier(s, d)
        .select(col("s_nationkey").as("nk"), lit("supp").as("src"))
      c.union(su).groupBy("nk", "src").agg(count(lit(1)).as("n"))
        .orderBy("nk", "src")
    }),

    // ---- binary-column scalar ops (multimodal plumbing: bytes in a column,
    // hashed + sized + base64'd without leaving codegen)
    "q_binary_ops" -> ((s, d) => {
      val bin = col("text").cast("binary")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          length(bin).as("n_bytes"),
          sha2(bin, 256).as("sha"),
          substring(base64(bin), 1, 16).as("b64_head"))
        .orderBy("doc_id")
    }),

    // ---- range-frame window: trailing 1-hour sum per user (RANGE frame
    // over the numeric µs timestamp; ties share a frame → deterministic)
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0)
      Tables.events(s, d)
        .withColumn("hr_sum", round(sum("value").over(w), 2))
        .select("user_id", "event_id", "ts_us", "hr_sum")
        // no global ORDER BY: gate canonicalizes row order (VERDICT r1 #4)
    }),

    // ---- custom typed UDAF (Aggregator): geometric mean, verified against
    // the built-in-expressible exp(avg(ln x)) oracle form
    "q_udaf_geomean" -> ((s, d) => {
      val geomean = udaf(graft.functions.GeoMean)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(geomean(col("l_quantity")), 6).as("gm_qty"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // ---- approx percentile sketch (the 100 TB quantile path). Sketch
    // VALUES are engine-specific, so the hash-verifiable output is the
    // EXACT percentiles plus an in-plan tolerance verdict: the sketch arm
    // (approx_percentile, accuracy 1000 → rank error ≤ n/1000) must land
    // within 5% of the exact arm or `approx_ok` flips false and the hash
    // gate fails. The exact arm uses the q_percentiles frequency pre-agg
    // (prices are cent-quantized, so percentile state is domain-bounded);
    // at 100 TB you drop the exact arm and ship the sketch alone.
    "q_approx_percentile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ex = li.groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("f"))
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.95), f)")
          .as("ex"), sum("f").as("n"))
      val ap = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("pcts"))
      ex.join(ap, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(element_at(col("ex"), 1), 4).as("p50"),
          round(element_at(col("ex"), 2), 4).as("p95"),
          (abs(element_at(col("pcts"), 1) - element_at(col("ex"), 1)) <=
             element_at(col("ex"), 1) * 0.05 &&
           abs(element_at(col("pcts"), 2) - element_at(col("ex"), 2)) <=
             element_at(col("ex"), 2) * 0.05).as("approx_ok"),
          col("n"))
        .orderBy("l_returnflag")
    }),

    // ---- HLL cardinality sketch (the 100 TB countDistinct path). Same
    // verification shape as q_approx_percentile: output the EXACT distinct
    // count plus `hll_ok` = |HLL − exact| ≤ 3·rsd·exact (rsd 0.02 → 6%),
    // so the estimate quality is inside the hash gate while the hashed
    // values stay engine-independent. At 100 TB the exact arm goes away
    // and approx_count_distinct is the whole query — fixed 4 KB state per
    // group vs a distinct-shuffle.
    "q_hll_approx" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("hll"),
             countDistinct(col("l_partkey")).as("n_parts"),
             count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("hll") - col("n_parts")).cast("double") <=
            col("n_parts").cast("double") * 0.06).as("hll_ok"),
          col("n"))
        .orderBy("l_returnflag")
    }),

    // ---- Bloom-filter semi-join pruning: build a filter over the dim
    // keys, broadcast the sketch, probe facts with might_contain.
    // Hash-verifiable output: the exact semi-join count and total scan
    // count (both engine-independent) plus two in-plan sketch verdicts —
    // `superset` (no false negatives: bloom_n ≥ exact_n, a hard Bloom
    // guarantee) and `fp_bounded` (false-positive mass ≤ 10% of the
    // non-matching probes; the 10000-capacity/81920-bit config has
    // fpp ≈ 1%, so 10% is a 3σ-generous ceiling). The 100 TB use: the
    // fact side drops non-matching rows map-side at the scan instead of
    // shuffling everything into the join.
    "q_bloom_semi" -> ((s, d) => {
      val keys = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").cast("long").as("ck"))
      // build → materialize the ~10 KB sketch → probe as a CONSTANT
      // (might_contain requires a constant/scalar-subquery filter side;
      // materializing the built filter is exactly what Spark's own
      // runtime row-level filtering does before shipping it to scans)
      val bf = keys.agg(
        graft.functions.BloomFilters.agg(col("ck"), 10000L, 81920L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val orders = Tables.orders(s, d)
      val bloomN = orders
        .filter(graft.functions.BloomFilters.mightContain(lit(bf),
          col("o_custkey").cast("long")))
        .agg(count(lit(1)).as("bloom_n"))
      val exactN = orders
        .join(keys, orders("o_custkey") === keys("ck"), "left_semi")
        .agg(count(lit(1)).as("exact_n"))
      val totalN = orders.agg(count(lit(1)).as("total_n"))
      bloomN.crossJoin(exactN).crossJoin(totalN)
        .select(col("exact_n"), col("total_n"),
          (col("bloom_n") >= col("exact_n")).as("superset"),
          ((col("bloom_n") - col("exact_n")).cast("double") <=
            (col("total_n") - col("exact_n")).cast("double") * 0.10)
            .as("fp_bounded"))
    }),

    // ---- Count-Min Sketch heavy hitters: per-key frequency estimation
    // with fixed memory, entirely plan-shaped — the count_min_sketch SQL
    // aggregate merges executor-side partials into one ~100 KB binary,
    // which broadcasts as a 1-row side; the cms_estimate probe
    // (functions.CountMin) then evaluates over the 3-row key domain.
    // Nothing but the final 3 rows ever reaches the driver. Oracle: with
    // eps=1e-4 the sketch is 20000 counters wide — 3 distinct keys cannot
    // collide, so the fixed-seed estimate equals the exact count at any
    // SF (CMS over-counts only on collisions).
    "q_cms_heavy" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sk = li.agg(
        expr("count_min_sketch(l_returnflag, 0.0001D, 0.999D, 42)").as("sk"))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("exact_n"))
        .crossJoin(broadcast(sk))
        .select(col("l_returnflag"), col("exact_n"),
          graft.functions.CountMin.estimate(col("sk"), col("l_returnflag"))
            .as("cms_n"))
        .orderBy("l_returnflag")
    }),

    // ---- winsorization (feature normalization): per-group p05/p95 clip
    // bounds from the frequency-weighted exact percentile (same bounded-
    // state shape as q_percentiles), broadcast back over the facts, with
    // clip-count accounting. Integer counts — no float-sum drift between
    // engines; the heavy side never shuffles beyond the two tiny aggs.
    "q_winsorize" -> ((s, d) => {
      // r13: project to the two used columns, spread the single-file
      // fixture scan (fanoutReady) and CACHE it — it feeds the
      // percentile pass AND the clip-count pass, each previously a
      // one-task 600k-row chain; percentile() also aggregates the raw
      // rows directly (its partial state is the same value→count map
      // the (flag, price) pre-agg built — one exchange less, exact
      // either way).
      val li = graft.CacheScope.cached(Tables.lineitem(s, d)
        .select("l_returnflag", "l_extendedprice")
        .transform(Tables.fanoutReady))
      val pct = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.05)").as("lo"),
             expr("percentile(l_extendedprice, 0.95)").as("hi"))
      li.join(broadcast(pct), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_high"),
          round(first("lo"), 4).as("p05"),
          round(first("hi"), 4).as("p95"))
        .orderBy("l_returnflag")
    }),

    // ---- z-score standardization: per-group mean/stddev broadcast over
    // the facts, standardized sample emitted. The group stats are one
    // partial-combined aggregation; the normalization itself is map-only.
    "q_zscore" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val stats = li.groupBy("l_returnflag")
        .agg(avg("l_quantity").as("mu"),
             stddev_samp(col("l_quantity")).as("sd"))
      li.filter(col("l_orderkey") <= 1000)
        .join(broadcast(stats), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round((col("l_quantity") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    })
  )

  /** Bench-only estimate forms of the sketch queries (VERDICT r6 "What's
    * wrong" #2). The correctness-gate versions above pair every sketch
    * with an EXACT verification arm so estimate quality sits inside the
    * hash gate — but at 100 TB the exact arm is precisely the cost the
    * sketch exists to avoid (a distinct-shuffle next to a 4 KB HLL, a
    * full percentile state next to a KLL sketch, a real semi-join next to
    * a Bloom probe). Benching sketch+exact therefore misreports the
    * sketch's scale advantage. These forms keep the IDENTICAL sketch
    * configuration (same accuracy / rsd / capacity / seed) and drop only
    * the exact arm; Bench times `queries ++ benchForm` (same keys, so the
    * bench row measures the sketch alone) while Verify and the DuckDB
    * hash gate run `queries` unchanged.
    */
  val benchForm: Map[String, Q] = Map(
    "q_approx_percentile" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("pcts"), count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(element_at(col("pcts"), 1), 4).as("p50"),
          round(element_at(col("pcts"), 2), 4).as("p95"), col("n"))
        .orderBy("l_returnflag")
    }),
    "q_hll_approx" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("hll"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),
    "q_bloom_semi" -> ((s, d) => {
      val keys = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").cast("long").as("ck"))
      val bf = keys.agg(
        graft.functions.BloomFilters.agg(col("ck"), 10000L, 81920L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      Tables.orders(s, d)
        .filter(graft.functions.BloomFilters.mightContain(lit(bf),
          col("o_custkey").cast("long")))
        .agg(count(lit(1)).as("bloom_n"))
    }),
    "q_cms_heavy" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sk = li.agg(
        expr("count_min_sketch(l_returnflag, 0.0001D, 0.999D, 42)").as("sk"))
      li.select("l_returnflag").distinct()
        .crossJoin(broadcast(sk))
        .select(col("l_returnflag"),
          graft.functions.CountMin.estimate(col("sk"), col("l_returnflag"))
            .as("cms_n"))
        .orderBy("l_returnflag")
    }))

  val oracle: Map[String, String] = Map(
    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('view', 'click'))
        |SELECT user_id, event_id, ts_us, prev_view FROM (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    last_value(view_id IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view
        |  FROM u) t
        |WHERE event_type = 'click' ORDER BY user_id, event_id""".stripMargin,
    "q_range_join" ->
      """SELECT p.event_id AS p_id, CAST(count(*) AS BIGINT) AS n_pre
        |FROM events p JOIN events e ON e.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND e.event_type <> 'purchase'
        |  AND epoch_us(e.ts) >= epoch_us(p.ts) - 600000000
        |  AND epoch_us(e.ts) < epoch_us(p.ts)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT l_linestatus,
        |  round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        |  round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_array_ops" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(words) AS INTEGER) AS n_words,
        |  words[1] AS first_w,
        |  list_contains(words, 'the') AS has_the,
        |  array_to_string(list_slice(list_sort(list_distinct(words)), 1, 3), ',')
        |    AS top3
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_explode_wordcount" ->
      """SELECT w, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |      FROM documents) t
        |GROUP BY w ORDER BY w""".stripMargin,
    "q_haversine" ->
      """WITH t AS (
        |  SELECT event_id,
        |    38.0 + value / 100.0 AS lat2,
        |    -9.0 - CAST(user_id AS DOUBLE) / 100.0 AS lon2
        |  FROM events WHERE event_id <= 2000)
        |SELECT event_id,
        |  round(2.0 * 6371.0 * asin(sqrt(
        |    sin(radians(lat2 - 38.7077507) / 2) * sin(radians(lat2 - 38.7077507) / 2)
        |    + cos(radians(38.7077507)) * cos(radians(lat2))
        |      * sin(radians(lon2 - (-9.1365919)) / 2)
        |      * sin(radians(lon2 - (-9.1365919)) / 2))), 6) AS km
        |FROM t ORDER BY event_id""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // fixed-seed expected-value oracle: eps=1e-4 → 20000-counter rows;
    // 3 distinct keys cannot collide, so the CMS estimate is exactly the
    // true count at every SF (over-counting needs a collision in EVERY
    // sketch row)
    "q_cms_heavy" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS exact_n,
        |  CAST(count(*) AS BIGINT) AS cms_n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high,
        |  round(any_value(lo), 4) AS p05, round(any_value(hi), 4) AS p95
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_zscore" ->
      """WITH s AS (
        |  SELECT l_returnflag, avg(l_quantity) AS mu,
        |    stddev_samp(l_quantity) AS sd
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        |  round((l_quantity - mu) / sd, 4) + 0.0 AS z
        |FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
        |WHERE l_orderkey <= 1000
        |ORDER BY 1, 2""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_discount), 6) AS var_disc,
        |  round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS c_qp
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  min($c) AS v_min, max($c) AS v_max,
           |  round(sum($c), 2) AS v_sum
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_argmax" ->
      """SELECT c_nationkey, c_custkey AS top_cust, c_acctbal AS bal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |  FROM customer) t
        |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,
    "q_having" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    "q_union_all" ->
      """SELECT nk, src, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT c_nationkey AS nk, 'cust' AS src FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nk, 'supp' AS src FROM supplier) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_range" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2) AS hr_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_udaf_geomean" ->
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 6) AS gm_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_binary_ops" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS sha,
        |  substring(to_base64(CAST(text AS BLOB)), 1, 16) AS b64_head
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Sketch oracles: the hashed columns are exact answers + tolerance
    // verdicts (TRUE literals here) — estimate values never reach the
    // hash, estimate QUALITY does (a drifting sketch flips the boolean
    // and fails the gate). See the query-side comments.
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  TRUE AS approx_ok,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hll_approx" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  TRUE AS hll_ok,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bloom_semi" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_custkey IN
        |    (SELECT c_custkey FROM customer
        |     WHERE c_mktsegment = 'BUILDING') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS exact_n,
        |  CAST(count(*) AS BIGINT) AS total_n,
        |  TRUE AS superset,
        |  TRUE AS fp_bounded
        |FROM orders""".stripMargin
  )
}
