package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Second extension batch: remaining join shapes (full outer, cross),
  * correlated subqueries (TPC-H Q17 flavor), a Q3-style
  * join→agg→top-k composite, the long tail of window functions, and date
  * arithmetic.
  *
  * Scale notes: q_tpch_q3 is the canonical "broadcast the selective dim,
  * shuffle the two facts on the join key once, partial-agg before the
  * final top-k" plan — the top-10 is a TakeOrderedAndProject, not a global
  * sort. q_corr_subquery de-correlates to a per-key aggregate join (what
  * Catalyst does to correlated scalar subqueries anyway, written
  * explicitly so the join key and the single shuffle are visible).
  */
object RelationalMore {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- full outer join: nations vs supplier presence
    "q_full_outer" -> ((s, d) => {
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, d)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
        // drop even nation keys so both sides have unmatched rows
        .filter(col("s_nationkey") % 2 === 1)
      n.filter(col("n_nationkey") % 3 =!= 0)
        .join(sup, col("n_nationkey") === col("s_nationkey"), "full_outer")
        .select(col("n_nationkey"), col("n_name"), col("s_nationkey"),
          col("n_supp"))
        .orderBy(col("n_nationkey").asc_nulls_first,
          col("s_nationkey").asc_nulls_first)
    }),

    // ---- cross join (small × small; scale rule: only ever dim × dim)
    "q_cross_join" -> ((s, d) => {
      val r = Tables.region(s, d).select("r_name")
      val m = Tables.customer(s, d).select("c_mktsegment").distinct()
      r.crossJoin(m).orderBy("r_name", "c_mktsegment")
    }),

    // ---- correlated scalar subquery (TPC-H Q17 flavor): lineitems under
    // 20% of their part's average quantity, written de-correlated
    "q_corr_subquery" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg(avg("l_quantity").as("avg_qty"))
      li.join(avgQ, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity") < col("avg_qty") * 0.2)
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"),
             count(lit(1)).as("n"))
    }),

    // ---- TPC-H Q3 flavor: fact⋈fact shuffle → partial agg → top-10
    // (TakeOrderedAndProject). The BUILDING-segment customer slice is
    // still SF-scaled (~1/5 of customers), so no explicit broadcast hint —
    // the shuffled key join holds at 100×, and AQE broadcasts at small SF.
    "q_tpch_q3" -> ((s, d) => {
      val cutoff = lit("1997-06-30")
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // ---- TPC-H Q5 flavor: 6-way join — facts shuffle on their keys;
    // only the FIXED-size dims (nation: 25 rows, region: 5 rows) carry an
    // explicit broadcast hint. customer and supplier are SF-scaled
    // (150k / 10k rows per SF): at the 100 TB design point they cannot
    // broadcast, so the plan shuffles orders⋈customer on custkey and
    // lineitem⋈supplier via the compound key; AQE may still elect a
    // broadcast at small SF, which is the right adaptive behavior.
    "q_tpch_q5" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
                col("o_orderdate") < lit("1997-01-01"))
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // ---- TPC-H Q18 flavor: large orders via aggregated semi-filter.
    // customer joins un-hinted: it is SF-scaled, so the key-shuffled join
    // is the only plan that survives 100×; AQE can still pick a broadcast
    // when the post-filter side is actually small.
    "q_tpch_q18" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val big = li.groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
          "o_totalprice", "sum_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // ---- TPC-H Q10 flavor: returned-item reporting — the quarter's
    // returns joined back to customers, revenue per customer, top 20.
    // Both fact filters (quarter, returnflag) push to the scans; nation
    // broadcasts; the tail is TakeOrderedAndProject.
    "q_tpch_q10" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
                col("o_orderdate") < lit("1997-04-01"))
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // ---- LATERAL correlated subquery (per-row dependent subquery; Spark
    // plans it as a rewritten join — the SQL surface users port from)
    "q_lateral_join" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("g_customer")
      Tables.orders(s, d).createOrReplaceTempView("g_orders")
      s.sql(
        """SELECT c_custkey, t.o_orderkey AS top_order,
          |  t.o_totalprice AS top_price
          |FROM g_customer,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM g_orders
          |         WHERE o_custkey = c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) t
          |WHERE c_custkey <= 300
          |ORDER BY c_custkey""".stripMargin)
    }),

    // ---- window-function long tail: ntile / percent_rank / cume_dist /
    // first / nth over one shared partitioning (single shuffle+sort)
    "q_window_fns" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(
          col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          first("o_orderkey").over(wf).as("cheapest"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_cheapest"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- unpivot (melt): the wide pivot shape back to long via stack()
    "q_unpivot" -> ((s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 2))
      wide.select(col("l_linestatus"),
          expr("stack(3, 'A', A, 'N', N, 'R', R) AS (flag, qty)"))
        .filter(col("qty").isNotNull)
        .orderBy("l_linestatus", "flag")
    }),

    // ---- ordered string aggregation (listagg): deterministic via
    // sort-before-join, the portable form of ORDER BY inside the agg
    "q_string_agg" -> ((s, d) => {
      Tables.supplier(s, d)
        .groupBy("s_nationkey")
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",")
            .as("names"),
          count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    }),

    // ---- bag-semantics set ops (duplicate-preserving)
    "q_intersect_all" -> ((s, d) => {
      val a = Tables.lineitem(s, d).select(col("l_quantity").cast("int").as("q"))
      val b = Tables.orders(s, d)
        .select((col("o_orderkey") % 50).cast("int").as("q"))
      a.intersectAll(b).groupBy("q").agg(count(lit(1)).as("n")).orderBy("q")
    }),
    "q_except_all" -> ((s, d) => {
      val a = Tables.lineitem(s, d).filter(col("l_orderkey") <= 200)
        .select(col("l_quantity").cast("int").as("q"))
      val b = Tables.lineitem(s, d)
        .filter(col("l_orderkey") > 100 && col("l_orderkey") <= 200)
        .select(col("l_quantity").cast("int").as("q"))
      a.exceptAll(b).groupBy("q").agg(count(lit(1)).as("n")).orderBy("q")
    }),

    // ---- regexp_replace as a query op (the sed s///g analog over a column)
    "q_regex_replace" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(regexp_replace(col("text"), "(the|a) ", "")).as("n_stripped"),
          substring(regexp_replace(col("text"), "[aeiou]", "_"), 1, 40)
            .as("devoweled"))
      // no trailing sort: per-document output, the gate canonicalizes order
    }),

    // ---- date arithmetic: diff / add / truncate
    "q_date_arith" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          datediff(lit("1998-12-31"), col("o_orderdate")).as("age_days"),
          date_add(col("o_orderdate"), 90).as("due"),
          date_trunc("month", col("o_orderdate")).as("month_start"))
        .orderBy("o_orderkey")
    }),

    // ---- fuzzy join (entity resolution): near-identical part names
    // matched by BLOCKING on the head noun + Levenshtein ≤ 2 verification
    // — the record-linkage shape ("Jon Smith" ≈ "John Smith") that a
    // naive similarity join would compute as an O(n²) cross product.
    // Scale design, two stages: (1) DEDUPLICATE to the distinct-name
    // dictionary first (one hash agg — real string columns repeat
    // heavily, so the dictionary is orders of magnitude smaller than the
    // table); (2) block-join the DICTIONARY and verify edit distance
    // there; row-pair multiplicity is then the product of the two name
    // counts — no raw row ever meets another raw row. (The first cut
    // joined raw rows within blocks: 34 s at sf0.1 vs 0.3 s for this
    // form, same result.)
    "q_fuzzy_join" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy("p_name").agg(count(lit(1)).as("cnt"))
        .select(col("p_name"), col("cnt"),
          element_at(split(col("p_name"), " "), 2).as("blk"))
      val a = names.toDF("na", "ca", "blk")
      val b = names.toDF("nb", "cb", "blk")
      a.join(b, Seq("blk"))
        .filter(col("na") < col("nb"))
        .select(col("na"), col("nb"),
          levenshtein(col("na"), col("nb")).as("dist"),
          (col("ca") * col("cb")).as("n_pairs"))
        .filter(col("dist") >= 1 && col("dist") <= 2)
        .select("na", "nb", "dist", "n_pairs")
        .orderBy("na", "nb")
    }),

    // ---- Jaro–Winkler fuzzy match (the record-linkage verifier
    // Levenshtein misranks: JW weights agreeing prefixes and tolerates
    // transpositions, the name-matching standard). Customer↔supplier
    // names blocked on the shared numeric tail — same two-stage
    // discipline as q_fuzzy_join (block, then verify INSIDE the block;
    // never an all-pairs product) — and verified by the native
    // codegen'd `jaro_winkler` expression (functions/JaroWinkler,
    // fuzz-pinned bit-exact to the oracle's implementation), so the
    // verify loop stays in whole-stage codegen. At 100 TB the block key
    // keeps candidate counts linear in names-per-block; the expression
    // prices each candidate once, no boxing, no UDF.
    // ---- mutual best match: each customer's argmax-JW supplier AND
    // each supplier's argmax-JW customer, kept only when they agree —
    // the greedy-stable 1:1 linkage step after q_jaro_winkler's
    // candidate scoring (mutual-best is the standard high-precision
    // subset of fuzzy matches). Both argmax windows partition on a
    // NAME (high-cardinality key → fully parallel); ranking uses the
    // raw JW doubles, bit-identical across engines by the expression's
    // fuzz pin, with the partner name as tiebreak.
    "q_best_match" -> ((s, d) => {
      graft.functions.JaroWinkler.register(s)
      // the block key LADDERS with the corpus: a fixed 3-digit suffix is
      // a fixed-capacity blocking scheme (1000 blocks) whose per-block
      // candidate set grows as (n/1000)·(m/1000) — the 30× sweep
      // measured cpu e≈1.8 on the 10×→30× segment for exactly this
      // reason. One more suffix digit per 10× customer growth keeps
      // per-block occupancy flat; every driver-gate SF (≤ 150k
      // customers) stays at the historical 3 digits. Integer threshold
      // sums, identical literals in the oracle.
      val nCust = Tables.customer(s, d).count()
      val blkLen = 3 + Seq(150000L, 1500000L, 15000000L).count(nCust > _)
      val c = Tables.customer(s, d)
        .select(col("c_name").as("na"),
          substring(col("c_name"), -blkLen, blkLen).as("blk"))
      val sup = Tables.supplier(s, d)
        .select(col("s_name").as("nb"),
          substring(col("s_name"), -blkLen, blkLen).as("blk"))
      val cand = c.join(sup, Seq("blk"))
        .select(col("na"), col("nb"),
          call_function("jaro_winkler", col("na"), col("nb")).as("jw0"))
      val wA = Window.partitionBy("na")
        .orderBy(col("jw0").desc, col("nb").asc)
      val wB = Window.partitionBy("nb")
        .orderBy(col("jw0").desc, col("na").asc)
      cand.withColumn("ra", row_number().over(wA))
        .withColumn("rb", row_number().over(wB))
        .filter(col("ra") === 1 && col("rb") === 1)
        .select(col("na"), col("nb"), round(col("jw0"), 6).as("jw"))
        .orderBy("na")
    }),

    // ---- entity resolution end-to-end: block → JW-verify → CLUSTER.
    // q_jaro_winkler's match pairs become edges of a bipartite
    // customer/supplier name graph (key spaces disjoint by a +1e6
    // offset) and ConnectedComponents folds them into entity groups —
    // the full record-linkage pipeline (the dedup pair→group step,
    // applied to fuzzy identity). Only MATCHED names appear (an
    // unmatched name is its own entity trivially). Scale shape: the
    // pair derivation is the blocked fuzzy join; CC solves the (small)
    // match graph in one job, and past its MaxLocalEdges bound runs one
    // keyed shuffle + min-agg per round.
    "q_er_cluster" -> ((s, d) => {
      graft.functions.JaroWinkler.register(s)
      val c = Tables.customer(s, d)
        .select(col("c_name").as("na"),
          col("c_custkey").cast("long").as("ida"),
          substring(col("c_name"), -3, 3).as("blk"))
      val sup = Tables.supplier(s, d)
        .select(col("s_name").as("nb"),
          (col("s_suppkey").cast("long") + 1000000L).as("idb"),
          substring(col("s_name"), -3, 3).as("blk"))
      val pairs = graft.CacheScope.checkpointed(c.join(sup, Seq("blk"))
        .filter(call_function("jaro_winkler", col("na"), col("nb")) > 0.8)
        .select(col("ida").as("src"), col("idb").as("dst")))
      val comp = graft.operators.ConnectedComponents.run(pairs)
      val names = c.select(col("ida").as("node"), col("na").as("name"))
        .unionByName(sup.select(col("idb").as("node"),
          col("nb").as("name")))
      comp.join(names, "node")
        .select(col("name"), col("component").as("entity_id"))
        .orderBy("name")
    }),

    "q_jaro_winkler" -> ((s, d) => {
      graft.functions.JaroWinkler.register(s)
      val c = Tables.customer(s, d)
        .select(col("c_name").as("na"),
          substring(col("c_name"), -3, 3).as("blk"))
      val sup = Tables.supplier(s, d)
        .select(col("s_name").as("nb"),
          substring(col("s_name"), -3, 3).as("blk"))
      c.join(sup, Seq("blk"))
        .select(col("na"), col("nb"),
          call_function("jaro_winkler", col("na"), col("nb")).as("jw0"))
        .filter(col("jw0") > 0.8)
        .select(col("na"), col("nb"), round(col("jw0"), 6).as("jw"))
        .orderBy("na", "nb")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_full_outer" ->
      """SELECT n_nationkey, n_name, s_nationkey, n_supp
        |FROM (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey % 3 <> 0) n
        |FULL OUTER JOIN (
        |  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_supp
        |  FROM supplier GROUP BY 1 HAVING s_nationkey % 2 = 1) s
        |ON n_nationkey = s_nationkey
        |ORDER BY n_nationkey NULLS FIRST, s_nationkey NULLS FIRST""".stripMargin,
    "q_cross_join" ->
      """SELECT r_name, c_mktsegment
        |FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) m
        |ORDER BY r_name, c_mktsegment""".stripMargin,
    "q_corr_subquery" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem l
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
        |                    WHERE l_partkey = l.l_partkey)""".stripMargin,
    "q_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING round(sum(l_quantity), 2) > 250) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q_lateral_join" ->
      """SELECT c_custkey, t.o_orderkey AS top_order,
        |  t.o_totalprice AS top_price
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) t
        |WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin,
    "q_window_fns" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  first_value(o_orderkey) OVER wf AS cheapest,
        |  nth_value(o_orderkey, 2) OVER wf AS second_cheapest
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice ASC, o_orderkey ASC),
        |       wf AS (PARTITION BY o_custkey
        |              ORDER BY o_totalprice ASC, o_orderkey ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_unpivot" ->
      """SELECT l_linestatus, l_returnflag AS flag,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_string_agg" ->
      """SELECT s_nationkey,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_intersect_all" ->
      """SELECT q, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CAST(l_quantity AS INTEGER) AS q FROM lineitem
        |  INTERSECT ALL
        |  SELECT CAST(o_orderkey % 50 AS INTEGER) AS q FROM orders) t
        |GROUP BY q ORDER BY q""".stripMargin,
    "q_except_all" ->
      """SELECT q, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CAST(l_quantity AS INTEGER) AS q FROM lineitem
        |  WHERE l_orderkey <= 200
        |  EXCEPT ALL
        |  SELECT CAST(l_quantity AS INTEGER) AS q FROM lineitem
        |  WHERE l_orderkey > 100 AND l_orderkey <= 200) t
        |GROUP BY q ORDER BY q""".stripMargin,
    "q_regex_replace" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '(the|a) ', '', 'g')) AS INTEGER)
        |    AS n_stripped,
        |  substring(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40)
        |    AS devoweled
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
        |    AS INTEGER) AS age_days,
        |  CAST(o_orderdate AS DATE) + 90 AS due,
        |  date_trunc('month', o_orderdate) AS month_start
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,
    "q_fuzzy_join" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS blk
        |  FROM part)
        |SELECT a.p_name AS na, b.p_name AS nb,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p a JOIN p b ON b.blk = a.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,
    "q_best_match" ->
      """WITH params AS (
        |  SELECT 3 + CAST(count(*) > 150000 AS INTEGER)
        |    + CAST(count(*) > 1500000 AS INTEGER)
        |    + CAST(count(*) > 15000000 AS INTEGER) AS bl
        |  FROM customer),
        |cand AS (
        |  SELECT c_name AS na, s_name AS nb,
        |    jaro_winkler_similarity(c_name, s_name) AS jw0
        |  FROM customer, supplier, params
        |  WHERE substring(c_name, -bl, bl) = substring(s_name, -bl, bl)),
        |r AS (
        |  SELECT na, nb, jw0,
        |    CAST(row_number() OVER (PARTITION BY na
        |      ORDER BY jw0 DESC, nb ASC) AS INTEGER) AS ra,
        |    CAST(row_number() OVER (PARTITION BY nb
        |      ORDER BY jw0 DESC, na ASC) AS INTEGER) AS rb
        |  FROM cand)
        |SELECT na, nb, round(jw0, 6) AS jw FROM r
        |WHERE ra = 1 AND rb = 1 ORDER BY na""".stripMargin,
    "q_er_cluster" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS ida,
        |    CAST(s_suppkey AS BIGINT) + 1000000 AS idb
        |  FROM customer JOIN supplier
        |    ON substring(c_name, -3, 3) = substring(s_name, -3, 3)
        |  WHERE jaro_winkler_similarity(c_name, s_name) > 0.8),
        |edges AS (SELECT ida AS u, idb AS v FROM e0
        |          UNION SELECT idb, ida FROM e0),
        |nodes AS (SELECT DISTINCT u AS dd FROM edges),
        |reach(s, t) AS (
        |  SELECT dd, dd FROM nodes
        |  UNION
        |  SELECT r.s, e.v FROM reach r JOIN edges e ON e.u = r.t),
        |comp AS (SELECT s AS node, min(t) AS entity_id FROM reach
        |         GROUP BY 1),
        |names AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node, c_name AS name
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(s_suppkey AS BIGINT) + 1000000, s_name
        |  FROM supplier)
        |SELECT name, entity_id FROM comp JOIN names USING (node)
        |ORDER BY name""".stripMargin,
    "q_jaro_winkler" ->
      """SELECT c_name AS na, s_name AS nb,
        |  round(jaro_winkler_similarity(c_name, s_name), 6) AS jw
        |FROM customer JOIN supplier
        |  ON substring(c_name, -3, 3) = substring(s_name, -3, 3)
        |WHERE jaro_winkler_similarity(c_name, s_name) > 0.8
        |ORDER BY 1, 2""".stripMargin
  )
}
