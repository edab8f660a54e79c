package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.SparkEntry

/** Physical-plan audits: correctness says WHAT the queries return; these
  * specs pin HOW — the plan properties that decide whether the same code
  * survives 100 TB (brief: ".explain the plan and iterate until it's the
  * plan you'd want"). Each assertion is a regression tripwire: if a refactor
  * un-broadcasts a dim join or breaks scan pruning, this fails before any
  * benchmark notices.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("column pruning: projection reaches the parquet scan") {
    val plan = planOf("q_scan_project")
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_extendedprice"))
    // untouched wide columns must NOT be read
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"))
  }

  test("predicate pushdown: filters reach the scan as PushedFilters") {
    val plan = planOf("q_filter_pred")
    val pushed = plan.linesIterator
      .find(_.trim.startsWith("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(l_quantity,45.0)"), pushed)
    assert(pushed.contains("EqualTo(l_returnflag,R)"), pushed)
  }

  test("dimension joins broadcast (no shuffle of the fact side for dims)") {
    for (q <- Seq("q_join_broadcast", "q_join_multi")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q should broadcast dims")
      assert(!plan.contains("SortMergeJoin"),
        s"$q must not sort-merge a dim join")
    }
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_topk")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("group-bys use partial (map-side) aggregation") {
    val plan = planOf("q1_agg")
    // two HashAggregate nodes: partial then final
    assert(plan.contains("partial_sum"), "map-side partial aggregation")
    // codegen spans only materialize in the AQE-final executed plan:
    // simpleString marks them with "*(n)" and formatted with "codegen id"
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(finalPlan.contains("codegen id"),
      "agg pipeline fell out of whole-stage codegen")
  }

  test("semi/anti joins plan as real semi/anti, not row-count hacks") {
    assert(planOf("q_semi_join").contains("LeftSemi"))
    assert(planOf("q_anti_join").contains("LeftAnti"))
  }

  test("LSH band join is an equi shuffle join, never a cartesian") {
    val plan = planOf("q_lsh_pairs")
    assert(!plan.contains("CartesianProduct"),
      "band-bucket candidate join must stay an equi-join")
  }

  test("as-of join has NO join operator — union+window form") {
    val plan = planOf("q_asof_join")
    assert(!plan.contains("Join"),
      "as-of must be the union+window rewrite, not a range join")
  }

  test("Q3 composite: selective dim broadcasts; top-10 is TakeOrdered") {
    val plan = planOf("q_tpch_q3")
    assert(plan.contains("BroadcastHashJoin"), "customer dim should broadcast")
    assert(plan.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }

  test("scalar subquery broadcast: threshold compare avoids shuffling facts") {
    val plan = planOf("q_scalar_subquery")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  // ---- round-2 scale fixes pinned as plan shapes ---------------------

  test("q_scan_project carries NO global sort (identity projection)") {
    val plan = planOf("q_scan_project")
    assert(!plan.contains("Sort") && !plan.contains("Exchange"),
      "scan-project must be a pure narrow scan: no sort, no shuffle")
  }

  test("q_simhash is map-only: no shuffle Exchange beyond the repartition") {
    val plan = planOf("q_simhash")
    // the only exchange allowed is the explicit round-robin repartition of
    // the single-file fixture; no aggregation/join shuffle may appear
    assert(!plan.contains("HashAggregate") && !plan.contains("Sort"),
      "simhash must fold entirely inside array expressions per row")
  }

  test("q_percentiles pre-aggregates: partial_count before exact percentile") {
    val plan = planOf("q_percentiles")
    assert(plan.contains("partial_count"),
      "the (group, value) pre-agg must map-side combine")
    assert(plan.contains("BroadcastHashJoin"),
      "the two 3-row percentile aggregates must broadcast-join")
  }

  test("q_embedding_neardup candidates join on bucket, never cartesian") {
    val plan = planOf("q_embedding_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation must stay an equi-join on the bucket key")
  }

  test("window queries sort within partitions only (no global Sort)") {
    for (q <- Seq("q_window_running", "q_window_range", "q_locf")) {
      val plan = planOf(q)
      val globalSorts = plan.linesIterator
        .filter(l => l.contains("Sort ") && l.contains("global=true")).toSeq
      assert(globalSorts.isEmpty,
        s"$q must not globally sort its 10k+-row output: $globalSorts")
    }
  }

  // ---- round-3 operators pinned as plan shapes -----------------------

  test("q_repetition folds per-row: no agg, join, explode, or global sort") {
    val plan = planOf("q_repetition")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join") &&
      !plan.contains("Generate") && !plan.contains("Sort"),
      "repetition signals must stay inside per-row array expressions " +
        "with no trailing presentation sort (the gate orders rows itself)")
  }

  test("q_pii_scrub is a pure map stage: no shuffle at all") {
    val plan = planOf("q_pii_scrub")
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      "redaction must not shuffle")
  }

  test("q_bigram_lm scans the corpus once: exactly one Generate (explode)") {
    val plan = planOf("q_bigram_lm")
    val explodes = plan.linesIterator.count(_.trim.startsWith("Generate"))
    assert(explodes <= 1,
      s"context counts must derive from the (w1,w2) aggregate, not a " +
        s"second corpus explode: $explodes Generate nodes")
  }

  test("q_ngram_jaccard is the doc-level set form: no gram explode") {
    val plan = planOf("q_ngram_jaccard")
    assert(!plan.contains("Generate"),
      "bigram sets must build via array indexing, not explode")
  }

  test("q_decontam broadcasts the benchmark gram set") {
    val plan = planOf("q_decontam")
    assert(plan.contains("BroadcastHashJoin"), "bench side must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_bigram_lm count agg partial-combines map-side") {
    val plan = planOf("q_bigram_lm")
    assert(plan.contains("partial_count"), "map-side combine on counts")
  }

  test("q_vec_quantize broadcasts the 64-row stats side") {
    val plan = planOf("q_vec_quantize")
    assert(plan.contains("BroadcastHashJoin"), "per-dim stats must broadcast")
    assert(plan.contains("partial_min"), "stats agg must map-side combine")
  }

  test("q_tpch_q1/q6: filters push to the scan, aggs partial-combine") {
    val q1 = planOf("q_tpch_q1")
    assert(q1.contains("partial_sum"), "Q1 must map-side combine")
    val q6 = planOf("q_tpch_q6")
    val pushed = q6.linesIterator
      .filter(_.trim.startsWith("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate") && pushed.contains("l_quantity"),
      pushed)
  }

  test("q_tpch_q7/q8/q14/q21: dims broadcast, exists/not-exists stay equi") {
    for (q <- Seq("q_tpch_q7", "q_tpch_q8", "q_tpch_q14")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q dims must broadcast")
      assert(!plan.contains("CartesianProduct"), s"$q must not go cartesian")
    }
    // Q21's semi/anti self-joins carry a non-equi supplier clause ON TOP OF
    // the l_orderkey equi key — they must plan as hash/sort-merge joins on
    // the key, never nested-loop over the whole fact table
    val q21 = planOf("q_tpch_q21")
    assert(!q21.contains("CartesianProduct") &&
      !q21.contains("BroadcastNestedLoopJoin"), "Q21 joins must stay keyed")
  }

  test("q_gopher_filter folds per-row: no agg, join, or explode") {
    val plan = planOf("q_gopher_filter")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      "quality signals must fold per-row, not aggregate")
    assert(!plan.contains("Join") && !plan.contains("Generate"))
  }

  test("q_dup_spans: partial agg on grams; top-100 is TakeOrdered") {
    val plan = planOf("q_dup_spans")
    assert(plan.contains("partial_count"), "gram agg must map-side combine")
    assert(plan.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
  }

  test("q_mix_weights: domain reduction first, broadcast normalizations") {
    // the per-domain aggregate is localCheckpointed (one guaranteed corpus
    // scan), so the published plan starts from the checkpoint: assert the
    // checkpoint scan is there and the normalizations broadcast around it
    val plan = planOf("q_mix_weights")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      "domain aggregate must be materialized once (checkpoint scan)")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), "scalars must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "normalization must never shuffle the domain table")
  }

  test("q_funnel/q_cohort/q_skyline: reduced-frame shapes hold") {
    val funnel = planOf("q_funnel")
    assert(funnel.contains("partial_min"), "stage mins must map-side combine")
    assert(!funnel.contains("CartesianProduct"))
    val cohort = planOf("q_cohort")
    assert(cohort.contains("partial_min"), "cohort firsts must map-side combine")
    assert(!cohort.contains("CartesianProduct"))
    // skyline's one global window must run over the per-price AGGREGATE
    // (a Window directly over the raw part scan would be the quadratic-ish
    // single-partition trap); the aggregate shows up as partial_max
    val skyline = planOf("q_skyline")
    assert(skyline.contains("partial_max"),
      "skyline must reduce to per-price maxima before the window")
    assert(!skyline.contains("CartesianProduct"))
  }

  test("q_pq_encode: codebook broadcasts; assignment is one partial agg") {
    val plan = planOf("q_pq_encode")
    assert(plan.contains("BroadcastHashJoin"),
      "the 8x8x8 codebook must broadcast, never shuffle the corpus side")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_sum"),
      "subspace distances must map-side combine")
  }

  test("TPC-H q9/q15/q17/q19: dims broadcast, no cartesian") {
    for (q <- Seq("q_tpch_q9", "q_tpch_q15", "q_tpch_q17", "q_tpch_q19")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$q: part/supplier/scalar sides must broadcast")
      assert(!plan.contains("CartesianProduct"), s"$q: no cartesian")
    }
  }

  test("q_lm_score: LM joins back by bigram key — equi-join, partial aggs") {
    val plan = planOf("q_lm_score")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count"),
      "LM counts and per-doc NLL must map-side combine")
  }

  // ---- round-5 scale tripwires ---------------------------------------

  test("no explicit broadcast hint on a raw SF-scaled fact anywhere") {
    // customer/orders/lineitem grow with SF (150k/1.5M/6M rows per SF),
    // and so do supplier/part (10k/200k rows per SF — ~10⁹ rows at the
    // reference's 100 TB/1 PB roadmap point): an explicit broadcast() on
    // any of them, raw OR filtered, is a guaranteed OOM at the design
    // point. A hint is only legitimate when the hinted subtree AGGREGATES
    // the fact down to a bounded frame first — and "aggregates" must mean
    // BOUNDED grouping keys: a global scalar, or keys over fixed domains
    // (nation, region, flags, years, decile labels). An aggregate grouped
    // by an SF-scaled identity key (per-partkey avg, per-custkey frame,
    // per-orderkey rollup) still grows with SF and does NOT legitimize a
    // hint. Broadcasting anything SF-scaled is left to AQE, which sees
    // real runtime sizes and falls back to a keyed join when big.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint}
    val factCols = Set("c_custkey", "o_orderkey", "l_orderkey",
      "s_suppkey", "p_partkey")
    // SF-scaled identity keys: grouping by any of these (under any alias —
    // the check walks attribute REFERENCES, so aliases don't hide them)
    // leaves the aggregate's output growing with SF.
    val scaledKeys = Set(
      "c_custkey", "o_custkey", "o_orderkey", "l_orderkey", "l_partkey",
      "l_suppkey", "p_partkey", "s_suppkey", "ps_partkey", "ps_suppkey",
      "supplier_no", "doc_id", "event_id")
    def scansFact(p: LogicalPlan): Boolean =
      p.collectLeaves().exists(_.output.exists(a => factCols.contains(a.name)))
    // Topmost Aggregate bounds the subtree's output; its grouping keys
    // must not reference an SF-scaled identity column. (collectFirst is
    // pre-order, so the OUTERMOST aggregate is the one inspected — an
    // inner per-key agg under an outer bounded re-agg is fine, because
    // the outer agg caps what actually gets broadcast.)
    def boundedAgg(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate => a }.exists { a =>
        a.groupingExpressions
          .flatMap(_.references.toSeq)
          .forall(attr => !scaledKeys.contains(attr.name))
      }
    // A constant-literal LIMIT above the fact is also a hard structural
    // bound: limit(k) caps the broadcast at k rows no matter the SF
    // (the q_edit_distance audit-panel shape — two TakeOrdered(50)
    // pulls feeding a 2 500-pair product).
    import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
    import org.apache.spark.sql.catalyst.expressions.Literal
    def boundedLimit(p: LogicalPlan): Boolean =
      p.collectFirst { case l: GlobalLimit => l }.exists {
        _.limitExpr.isInstanceOf[Literal]
      }
    val offenders =
      try SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        val analyzed =
          SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
        analyzed.collect {
          case h: ResolvedHint if scansFact(h.child) &&
              !boundedAgg(h.child) && !boundedLimit(h.child) =>
            name
        }
      }.distinct
      finally {
        // constructing the catalog registers caches (q_tfidf etc.) this
        // test never materializes — release them so later suites see a
        // clean session registry
        graft.CacheScope.drain()
        spark.catalog.clearCache()
      }
    assert(offenders.isEmpty,
      s"explicit broadcast hint on an un-aggregated SF-scaled fact in: " +
        s"${offenders.mkString(", ")}")
  }

  test("q_tpch_q5/q18: fact-side joins stay keyed, fixed dims broadcast") {
    for (q <- Seq("q_tpch_q5", "q_tpch_q18")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q joins must stay keyed")
    }
    // Q5's nation/region dims must still broadcast
    assert(planOf("q_tpch_q5").contains("BroadcastHashJoin"),
      "q5 fixed-size dims (nation/region) must broadcast")
  }

  test("TPC-H q2/q11/q16/q20: derived partsupp stays keyed, dims broadcast") {
    for (q <- Seq("q_tpch_q2", "q_tpch_q11", "q_tpch_q16", "q_tpch_q20")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: no cartesian")
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"),
        s"$q: dim/scalar sides must broadcast")
      assert(plan.contains("partial_"),
        s"$q: the lineitem-pair aggregation must map-side combine")
    }
  }

  test("round-5 pipeline ops: map-only stages stay map-only, joins keyed") {
    // chunking and the quality classifier must never shuffle: both fold
    // on the document's own row
    for (q <- Seq("q_doc_chunk", "q_quality_logit")) {
      val plan = planOf(q)
      assert(!plan.contains("Join") && !plan.contains("HashAggregate") &&
        !plan.contains("Sort "),
        s"$q must stay a narrow per-row stage")
    }
    // BPE pair counting aggregates the VOCABULARY, map-side combined
    val bpe = planOf("q_bpe_pairs")
    assert(bpe.contains("partial_"), "pair counts must map-side combine")
    assert(bpe.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
    // incremental dedup: digest + band joins stay equi, never quadratic
    val inc = planOf("q_dedup_incremental")
    assert(!inc.contains("CartesianProduct") &&
      !inc.contains("BroadcastNestedLoopJoin"),
      "batch-vs-index checks must stay keyed equi-joins")
    // recall eval joins two top-k frames — keyed, no cartesian
    val rec = planOf("q_ann_recall")
    assert(!rec.contains("CartesianProduct"))
  }

  test("curation/semantic-dedup ops: bucketed candidates, broadcast stats") {
    // SimHash banding: candidates from a (band, byte) equi-join — the
    // whole point is that no quadratic operator ever appears
    val shp = planOf("q_simhash_pairs")
    assert(!shp.contains("CartesianProduct") &&
      !shp.contains("BroadcastNestedLoopJoin"),
      "simhash band join must stay a keyed equi-join")
    // SemDeDup: pairwise cosine ONLY within a cluster (equi-join on the
    // cluster id) — a cross-cluster cartesian would be O(N²)
    val sem = planOf("q_semdedup")
    assert(!sem.contains("CartesianProduct"),
      "semdedup pairs must be cluster-local")
    // line dedup: segment counting partial-combines map-side; the
    // count-back join is keyed on the segment hash
    val ld = planOf("q_line_dedup")
    assert(ld.contains("partial_count"), "segment counts must map-side combine")
    assert(!ld.contains("CartesianProduct"))
    // DSIR: the 256-row log-ratio table joins back broadcast — the token
    // stream never shuffles for the join (the only 1-row totals side is a
    // broadcast scalar)
    val dsir = planOf("q_dsir")
    assert(dsir.contains("BroadcastHashJoin"),
      "bucket log-ratio join must broadcast")
    assert(!dsir.contains("CartesianProduct"))
    // temperature sampling: the 5-row per-domain weights broadcast; the
    // keep decision is a map-only filter over the corpus
    val ts = planOf("q_temperature_sample")
    assert(ts.contains("BroadcastHashJoin"),
      "per-domain weight join must broadcast")
    assert(!ts.contains("CartesianProduct"))
  }

  test("vocab-bounded LM stats: broadcasts after the corpus pass, no cartesian") {
    // collocations / Kneser-Ney / source-JSD all collapse the corpus to
    // vocabulary-sized tables first; the only tolerated non-equi join is
    // the sanctioned 1-row-scalar / dim×vocab densification crossJoin
    for (q <- Seq("q_collocations", "q_kn_lm", "q_jsd_sources")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q must never cartesian (scalar totals broadcast as BNLJ 1-row)")
      assert(plan.contains("partial_count"),
        s"$q corpus aggregates must map-side combine")
    }
    // collocations top-20 must be TakeOrdered, not a global sort
    assert(planOf("q_collocations").contains("TakeOrderedAndProject"))
    // profiling is ONE scan: a single parquet Scan node feeds the stack
    val prof = planOf("q_profile")
    // detail-section headers only ("(n) Scan parquet"); the tree section
    // repeats each node once more
    val scans = prof.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"q_profile must profile all columns in one scan, got $scans")
  }

  test("q_ivfpq_search / q_triangles: keyed joins only, no quadratic operator") {
    val ivf = planOf("q_ivfpq_search")
    assert(!ivf.contains("CartesianProduct"),
      "IVF-PQ search must probe cells via equi-joins")
    assert(ivf.contains("BroadcastHashJoin"),
      "centroids/codebook/distance tables must broadcast")
    val tri = planOf("q_triangles")
    assert(!tri.contains("CartesianProduct") &&
      !tri.contains("BroadcastNestedLoopJoin"),
      "triangle wedges/closures must stay keyed equi-joins")
  }

  test("drift/eval/fuzzy ops: bounded aggregates first, no quadratic joins") {
    // the statistical family must reduce the corpus to bounded frames
    // (distinct values, bins, labels, 32 replicas) before any window or
    // scalar math — a cartesian anywhere means the reduction was lost
    for (q <- Seq("q_ks_test", "q_psi", "q_kappa", "q_auc", "q_ab_test",
        "q_bootstrap_ci", "q_calibration", "q_chi2_keywords")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q must not cartesian (scalar sides broadcast)")
      assert(plan.contains("partial_"),
        s"$q corpus aggregate must map-side combine")
    }
    // fuzzy join: candidates from the block-key equi-join, never n²
    val fz = planOf("q_fuzzy_join")
    assert(!fz.contains("CartesianProduct") &&
      !fz.contains("BroadcastNestedLoopJoin"),
      "fuzzy join must stay blocked")
    // RRF: both rank windows over the df-bounded matching set; top-20 is
    // a TakeOrdered, not a global sort of the corpus
    assert(planOf("q_rrf_fuse").contains("TakeOrderedAndProject"))
  }

  test("q_minhash_sig is map-only: native minhash8, no explode, no agg") {
    val plan = planOf("q_minhash_sig")
    assert(plan.contains("minhash8"), "must use the native expression")
    assert(!plan.contains("Generate") && !plan.contains("HashAggregate"),
      "signature step must not fan out shingle rows or aggregate")
  }

  test("q_scd2: both windows share one sort — a single exchange, no join") {
    val plan = planOf("q_scd2")
    assert(!plan.contains("Join"), "SCD2 must not self-join per version")
    // change-detect and interval windows use the same (user_id, ts)
    // partitioning: exactly one hashpartitioning exchange feeds them
    // (the trailing exchange is the presentation ORDER BY's range part)
    val hashEx = plan.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
  }

  test("q_zorder: curve key is pure per-row math; audit agg partial-combines") {
    val plan = planOf("q_zorder")
    assert(!plan.contains("Join") && !plan.contains("Generate"),
      "z-key derivation must be a narrow map stage")
    assert(plan.contains("partial_count"), "envelope agg must map-side combine")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "bit interleave must stay codegen'd builtin math")
  }

  test("q_pagerank edge derivation: broadcast dims, no cartesian anywhere") {
    // the iteration localCheckpoints (lineage truncation), so the published
    // plan is a checkpoint scan — audit the edge-derivation subplan, which
    // is where 100 TB of facts get distilled to the graph
    val plan = GraphOps.tradeEdges(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("quality-signal ops: map-only scoring, bounded aggregation fan-in") {
    // readability is pure per-row scalar math — no join/agg/explode
    val rd = planOf("q_readability")
    assert(!rd.contains("Join") && !rd.contains("HashAggregate") &&
      !rd.contains("Generate"), "readability must stay a narrow map stage")
    // entropy: char counts partial-combine map-side — the shuffle carries
    // at most |alphabet| rows per doc, never the text
    assert(planOf("q_entropy").contains("partial_count"),
      "char counts must map-side combine")
    // weighted sample: global top-k is TakeOrdered, never a full sort
    assert(planOf("q_weighted_sample").contains("TakeOrderedAndProject"))
    // domain cap: exactly ONE hash exchange (keyed by source) feeds the
    // quota window; the trailing range part is the presentation sort
    val dc = planOf("q_domain_cap")
    val hashEx = dc.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
    // OOV rate: top-K vocab via TakeOrdered, joined back BROADCAST
    val oov = planOf("q_oov_rate")
    assert(oov.contains("TakeOrderedAndProject") &&
      oov.contains("BroadcastHashJoin"), "vocab must broadcast")
    assert(!oov.contains("SortMergeJoin"),
      "the token→vocab join must never shuffle the token stream")
  }

  test("linalg ops: one-pass stats, broadcast matvec, map-only projection") {
    // PCA: sufficient statistics partial-combine in the single corpus
    // pass. The published query plan is a checkpoint scan (the iteration
    // localCheckpoints, like PageRank), so audit the corpus-touching
    // covariance subplan directly
    val pca = LinAlg.pcaCov(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(pca.contains("partial_"), "sufficient stats must map-side combine")
    assert(!pca.contains("Join"), "one-pass stats need no join")
    // JL projection: per-row zip_with fold — no join, no aggregation
    // (the Generate is the constant k-way struct fan-out)
    val rp = planOf("q_rand_proj")
    assert(!rp.contains("Join") && !rp.contains("HashAggregate"),
      "projection must stay a per-row fold")
  }

  test("ewma/gini/mad: shared-key exchanges, broadcast medians") {
    // EWMA: the ordered frame collect runs off ONE hash exchange keyed
    // by user (no second shuffle, no self-join — the oracle's join form
    // is the spec, not the plan)
    val ew = planOf("q_ewma")
    assert(!ew.contains("Join"), "EWMA must not self-join the stream")
    val ewEx = ew.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(ewEx == 1, s"expected 1 hash exchange, got $ewEx")
    // Gini: rank window and final agg share the source partitioning —
    // one hash exchange total (trailing range part is the presentation
    // sort)
    val gi = planOf("q_gini")
    val giEx = gi.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(giEx == 1, s"expected 1 hash exchange, got $giEx")
    // MAD: freq pre-aggs partial-combine; the median tables join back
    // broadcast, never shuffling the event stream
    val md = planOf("q_mad")
    assert(md.contains("partial_count"), "freq pre-agg must map-side combine")
    assert(md.contains("BroadcastHashJoin") && !md.contains("SortMergeJoin"),
      "median tables must broadcast")
    // equi-depth bins: the 9 cut points broadcast back over the scan —
    // a global ntile sort here would be the scale bug the query avoids
    val eb = planOf("q_equidepth_bins")
    assert(eb.contains("BroadcastNestedLoopJoin") ||
      eb.contains("BroadcastExchange"), "cut points must broadcast")
    assert(!eb.linesIterator.exists(_.matches(""".*\bntile\(.*""")),
      "must not global-ntile the corpus (note: 'percentile(' is fine)")
    // funnel latency: stage joins stay keyed equi-joins
    assert(!planOf("q_funnel_latency").contains("CartesianProduct"))
  }

  test("q_markov / q_autocorr: broadcast totals, keyed lag joins") {
    // Markov transitions: one window shuffle keyed by user feeds the
    // |states|²-bounded count; the row-total normalizer joins back
    // broadcast — shuffling the transition counts a second time for a
    // ≤ |states| frame would be the scale bug
    val mk = planOf("q_markov")
    assert(mk.contains("BroadcastHashJoin") && !mk.contains("SortMergeJoin"),
      "row totals must broadcast back over transition counts")
    assert(!mk.contains("CartesianProduct"))
    // autocorr: the published plan is a checkpoint scan of the daily
    // counts (corpus contributes ONE pass, like PCA/HITS); the three
    // lag self-joins of the tiny daily frame must stay broadcast
    // equi-joins on day+k, never a cartesian
    val ac = planOf("q_autocorr")
    assert(!ac.contains("CartesianProduct") && !ac.contains("SortMergeJoin"),
      "lag pairing must broadcast-join the daily frame")
  }

  test("rolling-active/rfm/interarrival/kcore: keyed joins, broadcast cuts") {
    // DAU/WAU: pair dedup first, bounded 7-day explode, keyed day join —
    // a range join (BNLJ) or cartesian here would be the O(days×pairs)
    // form the bounded explode exists to avoid
    val ra = planOf("q_rolling_active")
    assert(!ra.contains("CartesianProduct") &&
      !ra.contains("BroadcastNestedLoopJoin"),
      "window fan-out must stay a bounded explode + equi-join")
    // RFM: the three quintile cut frames broadcast back (1-row each);
    // the customer frame must never sort-merge or global-ntile
    val rf = planOf("q_rfm")
    assert(rf.contains("BroadcastExchange"), "cut points must broadcast")
    assert(!rf.contains("SortMergeJoin"))
    assert(!rf.linesIterator.exists(_.matches(""".*\bntile\(.*""")),
      "no global ntile over customers")
    // inter-arrival: window + per-user agg share ONE user-keyed exchange
    val ia = planOf("q_interarrival")
    val iaEx = ia.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(iaEx == 1, s"expected 1 hash exchange, got $iaEx")
    // k-core: audit the un-checkpointed edge derivation (published plan
    // is a checkpoint scan) — keyed self-join + partial-agg distinct
    val kc = GraphOps.coPurchaseEdges(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!kc.contains("CartesianProduct"))
    // distinct = keys-only agg: partial/final HashAggregate pair around
    // the exchange (no "partial_" marker when Functions is empty)
    val kcAggs = kc.linesIterator
      .count(_.trim.matches("""\(\d+\) HashAggregate\s*"""))
    assert(kcAggs >= 2, s"distinct must map-side combine, got $kcAggs aggs")
    // k-core peel round (delta-degree form): the newly-removed node set
    // must BROADCAST against the adjacency frame (a map-only scan — the
    // whole point of delta maintenance); a sort-merge join here would
    // shuffle the edge frame per round, the cost the rewrite removed
    val e0 = GraphOps.coPurchaseEdges(spark, sf)
    val adj = e0.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e0.select(col("v").as("node"), col("u").as("nbr")))
      .localCheckpoint(true)
    val deg0 = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val kr = GraphOps.kcoreRound(adj, deg0).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!kr.contains("CartesianProduct"))
    val krBcast = kr.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastHashJoin\s*"""))
    assert(krBcast >= 1,
      s"removed set must broadcast against the adjacency, got $krBcast")
    assert(!kr.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("Inner")),
      "no edge-sized sort-merge join inside a peel round")
  }

  test("assoc-rules/adamic-adar/kaplan-meier: keyed fan-outs, bounded windows") {
    // basket pairs: the self-join must stay keyed on the order key
    // (O(k²)-per-basket fan-out) — a cartesian over items would be the
    // all-pairs-over-parts form the basket join exists to avoid
    val ar = planOf("q_assoc_rules")
    assert(!ar.contains("CartesianProduct"),
      "basket pair generation must be the keyed order-key self-join")
    val arBnlj = ar.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin\s*"""))
    assert(arBnlj <= 1, s"only the 1-row basket count may nest-loop, got $arBnlj")
    // AA: wedges keyed on the center node; the ONLY nested-loop site is
    // the broadcast 1-row significance threshold
    val aa = planOf("q_adamic_adar")
    assert(!aa.contains("CartesianProduct"))
    val aaBnlj = aa.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin\s*"""))
    assert(aaBnlj <= 1, s"only the 1-row threshold may nest-loop, got $aaBnlj")
    // KM: ONE pass over the event stream (the per-user agg), windows run
    // on the distinct-time frame after aggregation
    val km = planOf("q_kaplan_meier")
    val kmScans = km.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(kmScans == 1, s"KM must scan events once, got $kmScans")
    assert(km.contains("Window"))
  }

  test("attribution/concurrency/dbscan/bfs: keyed shapes, no global sweep") {
    // attribution: ONE user-keyed exchange feeds both the window and
    // nothing else shuffles except the tiny channel agg
    val at = planOf("q_attribution")
    assert(!at.contains("CartesianProduct") &&
      !at.contains("BroadcastNestedLoopJoin"))
    // concurrency: the sweep window must be DAY-partitioned — a global
    // single-partition window over boundaries is the scale hazard the
    // per-day keying exists to avoid
    val cc = planOf("q_concurrency")
    assert(!cc.linesIterator.exists(l =>
      l.contains("Arguments: SinglePartition")),
      "sweep-line window must partition by day, not run globally")
    // DBSCAN: candidate pairs come from the 9-cell equi-join — never a
    // range/nested-loop join over points
    val db = planOf("q_dbscan_core")
    assert(!db.contains("CartesianProduct") &&
      !db.contains("BroadcastNestedLoopJoin"),
      "neighbor candidates must equi-join on the grid cell")
    // BFS: published plan is a checkpoint scan; audit the thinned-edge
    // derivation (keyed joins + the 1-row threshold broadcast only)
    val bf = GraphOps.significantEdges(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!bf.contains("CartesianProduct"))
    val bfBnlj = bf.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin\s*"""))
    assert(bfBnlj <= 1, s"only the 1-row threshold may nest-loop, got $bfBnlj")
  }

  test("modularity/paths/benford/groupreg: broadcast dims, single-key aggs") {
    // modularity: nation/region dims broadcast; the only nested-loop
    // site is the 1-row m total
    val mo = planOf("q_modularity")
    assert(!mo.contains("CartesianProduct"))
    assert(mo.contains("BroadcastHashJoin"), "dims must broadcast")
    val moBnlj = mo.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin\s*"""))
    assert(moBnlj <= 1, s"only the 1-row m total may nest-loop, got $moBnlj")
    // paths: window + pivot agg share the user exchange; the only other
    // shuffle is the path histogram
    val ep = planOf("q_event_paths")
    val epEx = ep.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(epEx == 2, s"expected user + path exchanges only, got $epEx")
    // benford: digit agg + broadcast 1-row total, no sort-merge anywhere
    val bf = planOf("q_benford")
    assert(!bf.contains("SortMergeJoin"))
    // groupreg: no joins at all — one keyed moment agg carries the query
    val gr = planOf("q_groupreg")
    assert(!gr.contains("Join"), "moment sums must not join")
    val grEx = gr.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(grEx == 1, s"expected one event_type exchange, got $grEx")
  }

  test("changepoint/seasonality/pareto/mann-whitney: reduce-first windows") {
    // CUSUM + seasonality: one events scan each — the prefix/index
    // windows run on the ≤|days| daily frame, never the raw stream
    for (q <- Seq("q_changepoint", "q_seasonality")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans == 1, s"$q must scan events once, got $scans")
    }
    // pareto: the rank/cumsum windows partition by region — never a
    // global single-partition sort of customers
    val pa = planOf("q_pareto")
    assert(!pa.contains("CartesianProduct"))
    assert(!pa.linesIterator.exists(_.contains("Arguments: SinglePartition")),
      "pareto windows must stay region-partitioned")
    // MW: rank arithmetic runs on the distinct-cent-value frame after a
    // map-side-combined pre-agg; one events scan
    val mw = planOf("q_mann_whitney")
    val mwScans = mw.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(mwScans == 1, s"MW must scan events once, got $mwScans")
  }

  test("window-funnel/new-returning/incremental/mmr: keyed, merge-shaped") {
    // windowed funnel: same chained keyed min-agg shape as q_funnel
    val wf = planOf("q_window_funnel")
    assert(!wf.contains("CartesianProduct") &&
      !wf.contains("BroadcastNestedLoopJoin"))
    // new vs returning: the cached pair frame feeds first-day and the
    // daily split — one parquet scan total
    val nr = planOf("q_new_returning")
    val nrScans = nr.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(nrScans == 1, s"pairs must cache, got $nrScans scans")
    // incremental agg: base+delta partials merge through a re-agg — no
    // sort-merge join anywhere; the 1-row cut broadcast may nest-loop
    val ia = planOf("q_incremental_agg")
    assert(!ia.contains("SortMergeJoin"))
    // MMR: after the (documented brute) candidate scoring, every join is
    // keyed — no cartesian anywhere; the greedy rounds run on
    // checkpointed ≤8-rows-per-query frames
    val mm = planOf("q_mmr")
    assert(!mm.contains("CartesianProduct"))
  }

  test("novelty/clustering-coeff/prf/topk-movers: cached reuse, exact top-k") {
    // novelty: the doc-distinct gram frame caches — df and the novelty
    // join must NOT re-shingle the corpus
    val nv = planOf("q_ngram_novelty")
    val nvScans = nv.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(nvScans == 1, s"gram frame must cache, got $nvScans scans")
    // clustering coefficient: wedges keyed, triangles close by equi-join
    val cl = planOf("q_clustering_coeff")
    assert(!cl.contains("CartesianProduct"))
    // PRF: three label-bounded aggs over ONE cached prediction pass
    val pf = planOf("q_prf")
    val pfScans = pf.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(pfScans == 1, s"prediction frame must cache, got $pfScans scans")
    // movers: exact-integer TakeOrdered top-k, never a global sort
    val tm = planOf("q_topk_movers")
    assert(tm.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not sort+limit")
  }

  test("hhi/runs-test/poisson: broadcast dims, single-scan moment aggs") {
    // HHI: supplier/nation/region dims broadcast onto the keyed
    // revenue agg; no sort-merge join anywhere
    val hh = planOf("q_hhi")
    assert(hh.contains("BroadcastHashJoin") && !hh.contains("SortMergeJoin"))
    // runs test + poisson: one events scan each; windows/moments run on
    // the reduced frame (days / users), never the raw stream
    for (q <- Seq("q_runs_test", "q_poisson_fit")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans == 1, s"$q must scan events once, got $scans")
    }
  }

  test("theil/cuped/srm/assortativity: moment-sum shapes, cached reuse") {
    // theil: one cached per-source moment frame feeds the rows and the
    // TOTAL decomposition — one documents scan
    val th = planOf("q_theil")
    val thScans = th.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(thScans == 1, s"theil must scan documents once, got $thScans")
    // CUPED: per-arm exact moments, pooled via the cached 2-row frame;
    // no sort-merge join anywhere
    val cu = planOf("q_cuped")
    assert(!cu.contains("SortMergeJoin"))
    // SRM: one distinct + one count agg, no joins at all
    val sr = planOf("q_srm")
    assert(!sr.contains("Join"), "SRM is two aggs, nothing joins")
    // assortativity: degree joins stay keyed; no wedge fan-out means no
    // cartesian and no nested loop on the 115k-edge graph
    val as = planOf("q_assortativity")
    assert(!as.contains("CartesianProduct") &&
      !as.contains("BroadcastNestedLoopJoin"))
  }

  test("lorenz/growth-accounting: cut-broadcast deciles, keyed adjacency") {
    // lorenz: deciles assign from broadcast percentile cuts — never a
    // global ntile/sort of customers; the cumsum window runs on the
    // 10-row decile frame
    val lz = planOf("q_lorenz")
    assert(!lz.linesIterator.exists(_.matches(""".*\bntile\(.*""")),
      "no global ntile over customers")
    assert(lz.contains("BroadcastExchange"), "cut points must broadcast")
    // growth accounting: one cached pair frame, keyed self-joins only,
    // one parquet scan
    val ga = planOf("q_growth_acct")
    val gaScans = ga.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(gaScans == 1, s"pair frame must cache, got $gaScans scans")
    assert(!ga.contains("CartesianProduct") &&
      !ga.contains("BroadcastNestedLoopJoin"))
  }

  test("no partition-less window over any corpus-growing frame (two-phase)") {
    // VERDICT r6 #4: every global prefix quantity whose frame cardinality
    // can grow with the corpus (rank, CDF, prefix-max) must run through
    // GlobalRank's two-phase shape. The ONLY partition-less WindowExec a
    // routed query may contain is the offsets window, recognizable by its
    // ordering column `_gr_pid` — its frame is the numPartitions-row
    // totals table, a structural bound independent of data.
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_auc", "q_mann_whitney", "q_ks_test", "q_skyline",
        "q_kaplan_meier", "q_rrf_fuse", "q_sprt", "q_lift_curve",
        "q_wilcoxon", "q_quantile_norm", "q_kruskal")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame:\n" +
          offenders.map(_.verboseString(3)).mkString("\n"))
    }
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  test("round-7 operators: banded/keyed joins, broadcast scalars, top-k") {
    // split leakage: near-dup pairs come from the banded LSH equi-join;
    // the split map joins keyed on doc id — never all-pairs
    val sl = planOf("q_split_leakage")
    assert(!sl.contains("CartesianProduct"),
      "leakage audit must stay banded + keyed")
    // logistic fit: each Newton step broadcasts the 1-row beta frame;
    // nothing sort-merges
    val lf = planOf("q_logit_fit")
    assert(!lf.contains("SortMergeJoin"),
      "beta sides are 1-row broadcasts")
    assert(lf.contains("partial_"),
      "sufficient sums must map-side combine")
    // Hill estimator: the only corpus operator is a distributed top-k
    val ti = planOf("q_tail_index")
    assert(ti.contains("TakeOrderedAndProject"),
      "top-(k+1) must be TakeOrdered, not a global sort")
    // silhouette: centroid distances are plan literals — one narrow pass
    // + a k-row aggregate; no join anywhere
    val sil = planOf("q_silhouette")
    assert(!sil.contains("Join"), "centroids must be literals, not a join")
    // IR metrics: both top-5 frames join keyed on (q_id, nb_id)
    assert(!planOf("q_ir_metrics").contains("CartesianProduct"))
    // k-anonymity: one map-side-combined aggregate over the QI tuple
    val ka = planOf("q_kanon")
    assert(ka.contains("partial_count") && !ka.contains("Join"))
    // date gaps + holt: ONE events scan each (distinct-pairs / daily agg)
    for (q <- Seq("q_date_gaps", "q_holt")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans == 1, s"$q must scan events once, got $scans")
    }
    // trend pair: the day-frame checkpoint is the only corpus product —
    // the pairwise self-join runs on the checkpoint scan, and the
    // broadcast 1-row stats are the only nested-loop sites
    for (q <- Seq("q_mk_trend", "q_theil_sen")) {
      val p = planOf(q)
      assert(p.contains("ExistingRDD"),
        s"$q daily frame must be checkpointed (one corpus scan)")
      assert(!p.contains("SortMergeJoin"),
        s"$q day-frame joins must not shuffle-sort")
    }
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  test("round-7 second batch: bounded folds, broadcast minimax, one-scan " +
       "recurrences") {
    // BPE loop: the per-rank branches and the baseline all re-read the
    // CACHED vocab (training's checkpoints are consumed inside train();
    // the result plan's corpus access is the one cached aggregate); the
    // only joins are the 5-row stats broadcast and the 1-row baseline
    // cross — nothing sort-merges, no cartesian
    val bl = planOf("q_bpe_loop")
    assert(bl.contains("InMemoryTableScan"),
      "per-rank branches must reuse the cached vocab, not rescan the corpus")
    assert(!bl.contains("SortMergeJoin") && !bl.contains("CartesianProduct"),
      "stats/baseline sides are broadcast-tiny")
    // isotonic: the corpus collapses to bins map-side; the O(B^3)
    // minimax runs entirely on broadcast frames
    val iso = planOf("q_isotonic")
    assert(iso.contains("partial_count"),
      "bin aggregation must map-side combine")
    assert(!iso.contains("SortMergeJoin") && !iso.contains("CartesianProduct"),
      "minimax frames are <=20 rows and must broadcast")
    // Holt-Winters: same single-scan discipline as q_holt — the seasonal
    // recurrence folds over ONE calendar-bounded daily aggregate
    val hw = planOf("q_holt_winters")
    val hwScans = hw.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(hwScans == 1, s"q_holt_winters must scan events once, got $hwScans")
    // burstiness: (term,doc) partials combine map-side; the only
    // non-keyed join is the broadcast 1-row doc count
    val bu = planOf("q_burstiness")
    assert(bu.contains("partial_count") && !bu.contains("SortMergeJoin"),
      "burstiness must partial-combine and broadcast the total")
    // TextRank: both dictionary joins broadcast the 150-row word→id map,
    // the word top-k and the final keyword top-k are TakeOrdered, and
    // the power-iteration rounds checkpoint
    val tr = planOf("q_textrank")
    assert(!tr.contains("CartesianProduct"),
      "co-occurrence edges must join keyed on the dictionary")
    assert(tr.contains("TakeOrderedAndProject"),
      "top-k stages must be TakeOrdered, not global sorts")
    assert(tr.contains("ExistingRDD"),
      "PageRank rounds must truncate lineage")
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  test("round-7 third batch: blocked fuzzy verify, rooted BFS, exact-sum " +
       "stats shapes") {
    // Jaro-Winkler: candidates come from the blocked equi-join; the
    // native expression verifies INSIDE codegen — a cartesian or
    // nested-loop over names would be the O(n²) shape the block exists
    // to avoid
    val jw = planOf("q_jaro_winkler")
    assert(!jw.contains("CartesianProduct") &&
      !jw.contains("BroadcastNestedLoopJoin"),
      "fuzzy candidates must stay blocked + keyed")
    assert(jw.contains("jaro_winkler"),
      "verify must run the native codegen'd expression")
    // closeness (r14): the nation-graph BFS runs as ONE array fold on
    // the 1-row graph collapse (Graph3.allPairsSigma) — the corpus
    // contributes exactly one collapse and the plan must stay free of
    // quadratic join shapes; no checkpoint rounds remain to pin
    val cl = planOf("q_closeness")
    assert(!cl.contains("CartesianProduct"),
      "closeness must not cartesian anywhere")
    assert(!cl.contains("SortMergeJoin"),
      "the array-fold closeness has no corpus-keyed join left")
    // log-odds: the corpus prices one partial-combined (source, word)
    // aggregate; the top-15 is TakeOrdered, never a global sort
    val lo = planOf("q_log_odds")
    assert(lo.contains("partial_count"),
      "word counts must map-side combine")
    assert(lo.contains("TakeOrderedAndProject"),
      "top-15 must be TakeOrdered")
    // pacf: one corpus scan into the checkpointed daily frame; the three
    // calendar-bounded lag joins never shuffle-sort
    val pf = planOf("q_pacf")
    assert(pf.contains("ExistingRDD"),
      "daily frame must be checkpointed (one corpus scan)")
    assert(!pf.contains("SortMergeJoin"),
      "lag joins run on the 30-row day frame — broadcast class")
    // robust-scale: quantiles come off the (source, len, freq)
    // pre-aggregate with map-side partials and broadcast back over the
    // corpus map stage
    val rs = planOf("q_robust_scale")
    assert(rs.contains("partial_count"),
      "length frequencies must map-side combine")
    assert(rs.contains("BroadcastHashJoin"),
      "per-source quantiles must broadcast, not shuffle the docs")
    // SAX: the (type, day) aggregate is checkpointed — the published
    // plan works entirely off that calendar-bounded frame, with zero
    // residual corpus scans
    val sx = planOf("q_sax")
    assert(sx.contains("ExistingRDD"),
      "q_sax must fold over the checkpointed daily frame")
    val sxScans = sx.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(sxScans == 0,
      s"q_sax corpus scan must be priced at checkpoint time, got $sxScans")
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  test("round-7 fourth batch: integer folds, semi-join reciprocity, " +
       "broadcast priors") {
    // CUSUM: the reset recursion folds over ONE checkpoint-free daily
    // aggregate — a single corpus scan, no join at all
    val cu = planOf("q_cusum")
    assert(!cu.contains("Join"), "q_cusum is one scan + one fold")
    val cuScans = cu.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(cuScans <= 5, s"q_cusum: unexpected scan fan-out ($cuScans)")
    // reciprocity: the reversed-pair lookup is a LeftSemi keyed on
    // (u,v) — never a cartesian; the cached edge list is scanned, not
    // re-derived
    val rc = planOf("q_reciprocity")
    assert(rc.contains("LeftSemi"),
      "reversed-edge membership must plan as a semi join")
    assert(!rc.contains("CartesianProduct"))
    // ctr smoothing: per-user aggregate partial-combines; the MoM prior
    // is a broadcast 1-row frame over the cached per-user frame
    val ct = planOf("q_ctr_smoothing")
    assert(ct.contains("partial_"),
      "per-user trials must map-side combine")
    assert(ct.contains("InMemoryTableScan"),
      "prior and map stage must share the cached per-user frame")
    assert(!ct.contains("SortMergeJoin"),
      "the 1-row prior must broadcast")
    // rbo: rankings join keyed on the word; the 20-row weight frame is
    // the only nested-loop site (bounded by construction)
    val rb = planOf("q_rbo")
    assert(!rb.contains("CartesianProduct"),
      "top-20 frames must join keyed on w")
    assert(rb.contains("InMemoryTableScan"),
      "source picks and rankings must reuse the cached (source, word) agg")
    // item-CF: basket self-join keyed on the order, pair counts
    // partial-combine, part-popularity joins carry NO broadcast hint
    // (part is SF-scaled — AQE decides), top-20 is TakeOrdered
    val cf = planOf("q_item_cf")
    assert(!cf.contains("CartesianProduct"),
      "co-purchase pairs must join keyed on the order")
    assert(cf.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort")
    assert(cf.contains("partial_count"),
      "pair counts must map-side combine")
    // markov entropy: per-term nano-nat integers partial-combine; the
    // row-total join broadcasts a states×states-bounded frame
    val me = planOf("q_markov_entropy")
    assert(me.contains("partial_"),
      "entropy terms must map-side combine")
    assert(!me.contains("CartesianProduct") || me.contains("Broadcast"),
      "only broadcast scalars may nest")
    // salted join: the shuffle key must carry the salt — that IS the
    // skew mitigation
    val sj = planOf("q_salted_join")
    assert(sj.contains("_salt"),
      "join keys must include the salt column")
    assert(!sj.contains("CartesianProduct"))
    // co-occurrence matrix: pair extraction is one map pass — no join
    // anywhere; weights aggregate with partials; top-30 is TakeOrdered
    val cm = planOf("q_cooc_matrix")
    assert(!cm.contains("Join"),
      "skip-gram pairs must come from the transform, not a self-join")
    assert(cm.contains("TakeOrderedAndProject") && cm.contains("partial_"))
    // dp counts: a source-bounded aggregate plus per-row noise math —
    // no join, map-side partials
    val dp = planOf("q_dp_counts")
    assert(!dp.contains("Join") && dp.contains("partial_count"))
    // kruskal: (g, v) pre-agg partial-combines; rank prefix is the
    // two-phase GlobalRank (tripwire above); nothing cartesian
    val kw = planOf("q_kruskal")
    assert(kw.contains("partial_count") && !kw.contains("CartesianProduct"))
    // ER clustering: the fixture's match graph is bounded, so
    // ConnectedComponents solves it in ONE job (one read of the
    // checkpointed pairs, then a driver union-find) — no round jobs;
    // nothing cartesian
    val (er, erJobs) = graft.SparkJobs.during(spark)(planOf("q_er_cluster"))
    val ccJobs = erJobs.filter(
      _.stageInfos.exists(_.name.contains("ConnectedComponents.scala")))
    assert(ccJobs.size === 1, "match graph must be solved in one job: " +
      ccJobs.map(_.stageInfos.map(_.name)))
    assert(!er.contains("CartesianProduct"))
    // mutual best match: candidates stay blocked; both argmax windows
    // partition on a name (never partition-less)
    val bm = planOf("q_best_match")
    assert(!bm.contains("CartesianProduct") &&
      !bm.contains("BroadcastNestedLoopJoin"),
      "best-match candidates must stay blocked + keyed")
    // vec analogy: the 8-row target broadcasts back over the vectors;
    // per-dim distance terms partial-combine
    val va = planOf("q_vec_analogy")
    assert(va.contains("TakeOrderedAndProject"),
      "top-5 must be TakeOrdered")
    assert(va.contains("partial_sum"),
      "distance terms must map-side combine")
    // forecast backtest: one corpus scan into the daily aggregate, the
    // fold and scoring run on the 1-row series frame
    val fe = planOf("q_forecast_error")
    assert(!fe.contains("SortMergeJoin") && !fe.contains("CartesianProduct"))
    // Yule's K: (source, word) aggregate partial-combines; the spectrum
    // re-aggregate is vocabulary-bounded, no join anywhere
    val yk = planOf("q_yule_k")
    assert(yk.contains("partial_count") && !yk.contains("Join"))
    // moment-sum stats (paired t, Cohen's d, MCC): single-scan exact
    // sums with map-side partials; only broadcast scalars may join
    for (q <- Seq("q_paired_t", "q_effect_size", "q_mcc")) {
      val p = planOf(q)
      assert(p.contains("partial_"), s"$q must map-side combine")
      assert(!p.contains("SortMergeJoin"), s"$q joins must broadcast")
    }
    // coreset: each greedy round is a checkpointed linear min-update
    // (k·N distances, broadcast pick) + a TakeOrdered argmax — never
    // an N² pair join
    val cs = planOf("q_coreset")
    assert(cs.contains("ExistingRDD"),
      "greedy rounds must truncate lineage")
    assert(!cs.contains("SortMergeJoin"),
      "picked vectors must broadcast, not shuffle the corpus")
    // STL strength: everything runs off the checkpointed daily frame;
    // the slot-mean join broadcasts 7 rows
    val st = planOf("q_stl_strength")
    assert(st.contains("ExistingRDD") && !st.contains("SortMergeJoin"))
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  test("round-8 stats family: one corpus pass, post-aggregate pair work") {
    // spearman/kendall: the O(days²) rank/concordance self-join runs on
    // the AGGREGATED daily frame (≤ #days rows, cached) — the corpus
    // contributes exactly one parquet scan; the pair join may be a
    // nested-loop over the tiny frame but must never sort-merge
    for (q <- Seq("q_spearman", "q_kendall_tau")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("SortMergeJoin"),
        s"$q pair work must stay on the broadcast-small daily frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // levene: medians come from a PARTITIONED cumulative window over
    // per-(group, value) frequencies — never a partition-less window,
    // never a second corpus scan
    val lv = planOf("q_levene")
    val lvScans = lv.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(lvScans <= 1, s"levene must scan events once, got $lvScans")
    assert(!lv.contains("SortMergeJoin"),
      "the k-row median frame must broadcast back")
    // ar2: lag joins are keyed equi-joins on day+k over the cached
    // daily frame; gumbel runs entirely off the daily-max aggregate
    val ar = planOf("q_ar2_forecast")
    assert(!ar.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    val gb = planOf("q_gumbel_fit")
    val gbScans = gb.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(gbScans === 1, s"gumbel is one pass, got $gbScans")
    // simpson: tokenize → two map-side-combined aggregations, no joins
    val sp = planOf("q_simpson")
    assert(!sp.contains("Join"), "simpson needs no join at all")
    // lof: the quadratic kNN base is the documented q_cosine_pairs
    // trade; everything DOWNSTREAM of the kNN frame is node-keyed —
    // no cartesian anywhere, and the kNN window partitions by node
    val lf = planOf("q_lof")
    assert(!lf.contains("CartesianProduct"))
    import org.apache.spark.sql.execution.window.WindowExec
    val lfQe = SparkEntry.queries("q_lof")(spark, sf).queryExecution
    assert(lfQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "lof's kNN ranking must partition by the query node")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // lsh sweep: every candidate arm is a (band, key) equi-join and the
    // truth pairs come from the shingle-code equi-join — no cartesian,
    // no sort-merge (the frames joined after aggregation broadcast)
    val ls = planOf("q_lsh_sweep")
    assert(!ls.contains("CartesianProduct"),
      "sweep arms must stay banded equi-joins")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // granger/cmh/bh-fdr/mh-odds/chapman: one events pass to an
    // aggregated frame, all later joins on broadcast-small frames
    for (q <- Seq("q_granger", "q_cmh", "q_bh_fdr", "q_mh_odds",
        "q_chapman")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("SortMergeJoin"),
        s"$q post-aggregate joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // jaccard links: the wedge self-join stays keyed on the center node
    // (AA's shape — a keyed sort-merge is the legitimate at-scale plan
    // for a large adjacency); only a cartesian or an unbounded
    // nested-loop would be the scale bug
    val jl = planOf("q_jaccard_links")
    assert(!jl.contains("CartesianProduct"))
    val jlBnlj = jl.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin\s*"""))
    assert(jlBnlj <= 1, s"only the 1-row threshold may nest-loop, got $jlBnlj")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // ivf nprobe sweep: every arm's candidates come from the cell
    // equi-join (assign ⋈ probes) — never all-pairs; the quadratic
    // truth side is the shared knnBrute panel (cost fixed by PanelCap)
    val np = planOf("q_ivf_nprobe_sweep")
    assert(!np.contains("CartesianProduct"),
      "nprobe arms must stay cell-keyed equi-joins")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // degree dist: top-(k+1) must be a TakeOrdered, never a global sort
    val dd = planOf("q_degree_dist")
    assert(dd.contains("TakeOrderedAndProject"),
      "degree tail must use distributed top-k")
    assert(!dd.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // grubbs/pettitt: the argmax day is a TakeOrdered over the daily
    // frame — never a global sort; one corpus scan, no window
    for (q <- Seq("q_grubbs", "q_pettitt")) {
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q argmax must be a distributed top-1")
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("WindowExec") && !p.contains("(Window"),
        s"$q must not window at all")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // friedman/hurst/ljung-box: day-keyed or calendar-bounded self-joins
    // over cached aggregates — one corpus scan, no window, no sort-merge
    for (q <- Seq("q_friedman", "q_hurst", "q_ljung_box")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("SortMergeJoin"),
        s"$q pair work must stay on the broadcast-small frames")
      assert(!p.contains("WindowExec") && !p.contains("(Window"),
        s"$q must not window at all")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-9 batch: single-scan bounded stats, keyed RAKE windows, " +
       "stratified sampling without a global sort") {
    // DiD / Cramér's V / Kendall's W / distances / Croston: each collapses
    // the corpus in ONE pass to a calendar/vocabulary-bounded frame; all
    // later joins run on broadcast-small frames (no sort-merge anywhere)
    for (q <- Seq("q_diff_in_diff", "q_cramers_v_events", "q_kendall_w",
        "q_dist_distance", "q_croston")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("SortMergeJoin"),
        s"$q post-aggregate joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // RAKE: the run-island and phrase-length windows both key on doc_id —
    // a partition-less window over the token stream would be the scale
    // bug; word scores are vocabulary-bounded and broadcast back; the
    // top-15 is a TakeOrdered
    val rk = planOf("q_rake")
    import org.apache.spark.sql.execution.window.WindowExec
    val rkQe = SparkEntry.queries("q_rake")(spark, sf).queryExecution
    assert(rkQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "RAKE windows must partition by doc_id")
    assert(rk.contains("BroadcastHashJoin"),
      "vocab-bounded word scores must broadcast back")
    assert(rk.contains("TakeOrderedAndProject"),
      "top-15 must be TakeOrdered, not a global sort")
    assert(!rk.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // stratified sample: the one window keys on the stratum; no
    // partition-less window, no global sort of documents
    val ss = SparkEntry.queries("q_stratified_topk")(spark, sf)
      .queryExecution
    assert(ss.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "stratified sampling must window per stratum")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-9 batch 2: one-scan moment folds, keyed MRL rank windows, " +
       "broadcast fertility vocab") {
    // JB / DW / CA-trend / Cronbach: the corpus folds to a handful of
    // integer sums (or the bounded day×type grid) in ONE scan; no
    // sort-merge join may appear after the collapse
    for (q <- Seq("q_jarque_bera", "q_durbin_watson",
        "q_cochran_armitage", "q_cronbach_alpha")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("SortMergeJoin"),
        s"$q post-aggregate joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // MRL arms: every rank window keys on q_id (a partition-less window
    // over corpus×panel scores would be the scale bug); panel and truth
    // joins broadcast — never a sort-merge of the corpus
    import org.apache.spark.sql.execution.window.WindowExec
    val mQe = SparkEntry.queries("q_mrl_recall")(spark, sf).queryExecution
    assert(mQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "MRL rank windows must partition by q_id")
    assert(!mQe.executedPlan.toString.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // fertility: per-source counts join the vocab-bounded tokenization
    // as a broadcast; the corpus is never shuffled post-aggregate
    val fp = planOf("q_bpe_fertility")
    assert(fp.contains("BroadcastHashJoin"),
      "vocab-bounded tokenization must broadcast back")
    assert(!fp.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-9 batch 3: RDD one-scan collapse, HL prefix-ranked median") {
    // regression discontinuity: corpus → two-row (side) collapse in one
    // scan; bandwidth filter must reach the parquet scan
    val rp = planOf("q_reg_discontinuity")
    val scans = rp.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans <= 1, s"q_reg_discontinuity must scan once, got $scans")
    assert(rp.contains("PushedFilters: [IsNotNull(n_chars), " +
      "GreaterThanOrEqual(n_chars,150), LessThan(n_chars,450)]") ||
      rp.contains("GreaterThanOrEqual(n_chars,150)"),
      "bandwidth filter must push to the scan")
    assert(!rp.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // Hodges–Lehmann: Walsh pairs are a broadcast loop over the
    // AGGREGATED daily frame; the median is GlobalRank's two-phase
    // prefix — never a partition-less window over the pair frame
    import org.apache.spark.sql.execution.window.WindowExec
    val hQe = SparkEntry.queries("q_hodges_lehmann")(spark, sf)
      .queryExecution
    assert(hQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.orderSpec.flatMap(_.child.references.toSeq)
          .forall(_.name == "_gr_pid") => w }.isEmpty,
      "HL median must route its prefix through GlobalRank's " +
        "bounded offsets window only")
    assert(!hQe.executedPlan.toString.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-9 batch 4: SCC bounded closure, stump prefix ranks, WoE collapse") {
    // SCC: the corpus-scale work is ONE distinct-edge derivation; the
    // published plan reads checkpointed ≤|V|² frames (no re-derivation
    // of the 4-way join anywhere in the final plan). VERDICT r9 #1:
    // assert on the physical TREE (collect FileSourceScanExec), NOT on
    // formatted-explain strings — formatted output always re-prints a
    // cached relation's child plan inside the InMemoryRelation detail
    // section, so a string count can never be 0 for a CacheScope-cached
    // input even when the live plan only reads checkpoints + cache.
    // r14: q_scc's closure is one array fold on the 1-row graph
    // collapse — the corpus contributes exactly ONE distinct-edge
    // derivation in the same plan (≤4 dimension/fact scans), and the
    // combinatorial re-derivation the old checkpoint pin guarded
    // against cannot occur (there is no iterated frame left).
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sQe = SparkEntry.queries("q_scc")(spark, sf).queryExecution
    val sccScans = sQe.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(sccScans.size <= 4,
      s"q_scc must derive the edge list once, got ${sccScans.size} corpus scans")
    assert(!sQe.executedPlan.toString.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // Gini stump: prefix counts via GlobalRank (only its bounded offsets
    // window may be partition-less); the winner is a TakeOrdered row
    import org.apache.spark.sql.execution.window.WindowExec
    val gQe = SparkEntry.queries("q_gini_stump")(spark, sf).queryExecution
    assert(gQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.orderSpec.flatMap(_.child.references.toSeq)
          .forall(_.name == "_gr_pid") => w }.isEmpty,
      "stump prefix counts must route through GlobalRank")
    assert(gQe.executedPlan.toString.contains("TakeOrderedAndProject"),
      "the argmin split must be a TakeOrdered, not a global sort")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // IV/WoE: one corpus scan to the band collapse; the IV total
    // broadcasts back onto the bounded band rows. Same tree-walk
    // discipline as q_scc above: the previous string count passed only
    // because the cached scan's re-print landed exactly at the bound.
    val wQe = SparkEntry.queries("q_iv_woe")(spark, sf).queryExecution
    val wScans = wQe.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(wScans.size <= 1,
      s"q_iv_woe must scan the corpus once, got ${wScans.size}")
    assert(!wQe.executedPlan.toString.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("repo-wide: every cartesian / nested-loop join sits over bounded frames") {
    // VERDICT r8 "what's wrong #1": the per-query specs above assert no
    // cartesian where one would be a bug, but nothing mechanically prevented
    // a FUTURE query from cross-joining a frame that isn't bounded. This
    // rule closes that: for every catalog query, every CartesianProductExec
    // must have BOTH sides bounded and every BroadcastNestedLoopJoinExec its
    // BROADCAST side bounded (the streamed side may be the corpus — that is
    // exactly the broadcast-scalar fan-in pattern). "Bounded" is structural,
    // not by query name: every file-source scan inside the side must sit
    // under an aggregate whose grouping keys reference NO SF-scaled identity
    // column (same key list as the broadcast-hint tripwire — a per-day or
    // per-nation aggregate is calendar/dim-bounded; a per-doc_id aggregate
    // still grows with the corpus and does not bound). Frames behind
    // lineage-truncating materializations count as bounded by the house
    // checkpoint discipline: localCheckpoint sites are themselves pinned by
    // the per-query specs (daily/vocab frames, adjacency — and adjacency
    // never appears under a cartesian, asserted per-query above). Cached
    // plans are transparent: the rule recurses into them.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val scaledKeys = Set(
      "c_custkey", "o_custkey", "o_orderkey", "l_orderkey", "l_partkey",
      "l_suppkey", "p_partkey", "s_suppkey", "ps_partkey", "ps_suppkey",
      "supplier_no", "doc_id", "event_id", "vec_id")
    def boundedAgg(groupingExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Boolean =
      groupingExprs.flatMap(_.references.toSeq)
        .forall(attr => !scaledKeys.contains(attr.name))
    // Two more structural bounds beside the aggregate:
    //  - a conjunct `uniqueKey < literal` (or = / <=) caps the subtree's
    //    row count by a CONSTANT at every SF — the PanelCap discipline
    //    (Similarity.panelQuery) that freezes evaluation panels;
    //  - region/nation are TPC-H's fixed-size dimensions (5 / 25 rows at
    //    every scale factor by spec) — a scan of them is bounded.
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, In, LessThan, LessThanOrEqual, Literal}
    val uniqueKeys = Set("vec_id", "doc_id", "event_id", "c_custkey",
      "o_orderkey", "s_suppkey", "p_partkey")
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def boundsKey(cond: Expression): Boolean = conjuncts(cond).exists {
      case LessThan(a: AttributeReference, _: Literal) =>
        uniqueKeys.contains(a.name)
      case LessThanOrEqual(a: AttributeReference, _: Literal) =>
        uniqueKeys.contains(a.name)
      case EqualTo(a: AttributeReference, _: Literal) =>
        uniqueKeys.contains(a.name)
      case In(a: AttributeReference, _) => uniqueKeys.contains(a.name)
      case _ => false
    }
    def isFixedDim(s: org.apache.spark.sql.execution.FileSourceScanExec) =
      s.relation.location.rootPaths.exists { p =>
        p.getName == "region.parquet" || p.getName == "nation.parquet"
      }
    // returns the file scans NOT capped by a structural bound above them
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    def unboundedScans(p: SparkPlan): Seq[String] = p match {
      // a constant LIMIT caps the subtree at k rows at every SF — the
      // q_edit_distance audit-panel shape (two TakeOrdered(50) pulls)
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec => Nil
      case a: HashAggregateExec =>
        if (boundedAgg(a.groupingExpressions)) Nil
        else a.children.flatMap(unboundedScans)
      case a: ObjectHashAggregateExec =>
        if (boundedAgg(a.groupingExpressions)) Nil
        else a.children.flatMap(unboundedScans)
      case a: SortAggregateExec =>
        if (boundedAgg(a.groupingExpressions)) Nil
        else a.children.flatMap(unboundedScans)
      case f: org.apache.spark.sql.execution.FilterExec
          if boundsKey(f.condition) => Nil
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (isFixedDim(s)) Nil
        else Seq(s.nodeName + " " + s.output.take(3).map(_.name).mkString(","))
      case i: InMemoryTableScanExec => unboundedScans(i.relation.cachedPlan)
      case r: ReusedExchangeExec => unboundedScans(r.child)
      case other => other.children.flatMap(unboundedScans)
    }
    // The ONE standing exception, named and documented rather than
    // whitelisted by shape: q_cosine_pairs IS the exact all-pairs
    // verifier — its Scaladoc, SCALING.md, and the measured sweep
    // (e_cpu 1.90) all flag it as the fixture-scale baseline whose
    // 100 TB path is q_ann_lsh / q_embedding_neardup. Any OTHER query
    // acquiring an unbounded quadratic operator fails this rule.
    val documentedQuadratic = Set("q_cosine_pairs")
    val offenders =
      try SparkEntry.queries.keys.toSeq.sorted
        .filterNot(documentedQuadratic).flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
        val bad = plan.collect {
          case c: CartesianProductExec =>
            (unboundedScans(c.left) ++ unboundedScans(c.right))
              .map(s => s"$name: CartesianProduct over un-aggregated $s")
          case b: BroadcastNestedLoopJoinExec =>
            val build = b.buildSide match {
              case BuildLeft => b.left
              case BuildRight => b.right
            }
            unboundedScans(build)
              .map(s => s"$name: BNLJ broadcasts un-aggregated $s")
        }.flatten
        graft.CacheScope.drain(); spark.catalog.clearCache()
        bad
      } finally {
        graft.CacheScope.drain()
        spark.catalog.clearCache()
      }
    assert(offenders.isEmpty,
      s"unbounded quadratic operator sites:\n${offenders.mkString("\n")}")
  }

  test("q_pq_sweep / q_containment: keyed joins, no quadratic operator") {
    // three ADC arms share one cached flattening; all candidate joins
    // stay keyed on (sub, code)/(q_id, nb_id) — a cartesian would be
    // the all-pairs search the sweep exists to avoid
    assert(!planOf("q_pq_sweep").contains("CartesianProduct"))
    // containment is the doc-level set form: one array payload per doc,
    // no gram-level fan-out
    val ct = planOf("q_containment")
    assert(!ct.contains("CartesianProduct") && !ct.contains("Generate"),
      "containment must join doc-level gram sets, not exploded grams")
  }

  test("round-10 stats batch: one corpus scan, broadcast scalar fan-ins") {
    // McNemar / Bartlett / G-test / Theil-U / seasonal MK / quantile reg /
    // log-rank: each collapses the corpus in ONE pass to a user/type/
    // calendar-bounded frame; everything after runs on broadcast-small
    // frames (scan counts walk the physical TREE — the VERDICT r9 #1
    // discipline — so cached-relation re-prints can't distort them)
    import org.apache.spark.sql.execution.FileSourceScanExec
    for (q <- Seq("q_mcnemar", "q_bartlett", "q_gtest", "q_theil_u",
        "q_seasonal_mk", "q_quantile_reg", "q_log_rank")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 1, s"$q must scan the corpus once, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-10 graph batch: rounds read checkpoints, top-k is TakeOrdered") {
    // label propagation / WL refinement: the corpus-scale work is the one
    // distinct-edge derivation (cached); each round checkpoints, so the
    // final plan reads materialized rounds — no re-derivation of the
    // edge join tree (the q_scc discipline)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val lp = SparkEntry.queries("q_label_prop")(spark, sf).queryExecution
    assert(lp.executedPlan.collect { case s: FileSourceScanExec => s }.isEmpty,
      "q_label_prop's final plan must read checkpointed rounds")
    assert(lp.executedPlan.toString.contains("TakeOrderedAndProject"),
      "top-10 communities must be a TakeOrdered, not a global sort")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    val wl = SparkEntry.queries("q_wl_colors")(spark, sf).queryExecution
    assert(wl.executedPlan.collect { case s: FileSourceScanExec => s }.isEmpty,
      "q_wl_colors' final plan must read checkpointed color rounds")
    assert(!wl.executedPlan.toString.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 retrieval batch: keyed windows, no quadratic operator") {
    import org.apache.spark.sql.execution.window.WindowExec
    // winnowing: gram hashing is a map (no token shuffle before the
    // doc-keyed window); both windows key on doc_id
    val wQe = SparkEntry.queries("q_winnowing")(spark, sf).queryExecution
    assert(wQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "winnowing windows must partition by doc_id")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // contrastive mining: panel broadcast (never all-pairs), per-query
    // windows keyed on (q_id, same)
    val cQe = SparkEntry.queries("q_contrastive_pairs")(spark, sf)
      .queryExecution
    assert(cQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "contrastive ranking must window per (query, side)")
    assert(!cQe.executedPlan.toString.contains("SortMergeJoin"),
      "panel scoring must broadcast the panel")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // refine: the exact re-rank touches only the bounded shortlist —
    // keyed joins throughout, windows per q_id
    val rQe = SparkEntry.queries("q_ivfpq_refine")(spark, sf).queryExecution
    assert(!rQe.executedPlan.toString.contains("CartesianProduct"))
    assert(rQe.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "refine re-rank must window per q_id")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 4: EM/SimRank read checkpointed rounds, card " +
       "collapses once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // EM: the published plan reads the checkpointed calendar frame and
    // final parameter row — no re-derivation of the daily aggregate and
    // no corpus scan in the final plan
    val em = SparkEntry.queries("q_em_gmm")(spark, sf).queryExecution
    assert(em.executedPlan.collect { case s: FileSourceScanExec => s }.isEmpty,
      "q_em_gmm's final plan must read the checkpointed frames")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // SimRank: iterations run on checkpointed bounded pair frames; the
    // one corpus-scale pass (lag + distinct) happened at build time
    val sr = SparkEntry.queries("q_simrank")(spark, sf).queryExecution
    assert(sr.executedPlan.collect { case s: FileSourceScanExec => s }.isEmpty,
      "q_simrank's final plan must read checkpointed pair rounds")
    assert(!sr.executedPlan.toString.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // dataset card: ONE cached corpus projection feeds both aggregates;
    // the mode window keys on source; bounded joins broadcast
    import org.apache.spark.sql.execution.window.WindowExec
    val dc = SparkEntry.queries("q_dataset_card")(spark, sf).queryExecution
    val dcScans = dc.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(dcScans.isEmpty, // both aggregates read the cached projection
      s"q_dataset_card must read the cached projection, got ${dcScans.size} scans")
    assert(dc.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "dominant-language ranking must window per source")
    assert(!dc.executedPlan.toString.contains("SortMergeJoin"),
      "bounded per-source frames must broadcast")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 5: eval/OLS/merge collapse once, AP is two-phase") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Brier / OLS2 / periodogram / merge-upsert / Holm / cointegration:
    // each collapses the corpus in ONE cached pass; everything after is a
    // bin/calendar/type-bounded frame with broadcast scalar fan-ins
    for (q <- Seq("q_brier_score", "q_ols2", "q_periodogram",
        "q_merge_upsert", "q_holm_bonferroni", "q_cointegration")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.isEmpty,
        s"$q's final plan must read the cached collapse, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // average precision: the corpus-scale rank runs through GlobalRank's
    // two-phase prefix — no global single-partition window
    import org.apache.spark.sql.execution.window.WindowExec
    val ap = SparkEntry.queries("q_avg_precision")(spark, sf).queryExecution
    assert(ap.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.orderSpec.flatMap(_.child.references.toSeq)
          .forall(_.name == "_gr_pid") => w }.isEmpty,
      "q_avg_precision must rank via the two-phase prefix; the only " +
        "global window allowed is GlobalRank's bounded offsets frame")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // edit distance: both sides limit-bounded BEFORE the product
    val ed = SparkEntry.queries("q_edit_distance")(spark, sf).queryExecution
    assert(ed.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q_edit_distance panels must be TakeOrdered(50) pulls")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 6: diagnostics collapse once, A-D ranks two-phase") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Chow / ARCH / segmented trend / ridge path: ONE cached corpus
    // collapse to the daily frame; all later algebra on bounded frames
    // with broadcast scalar fan-ins
    for (q <- Seq("q_chow_test", "q_arch_lm", "q_segmented_trend",
        "q_ridge_path")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.isEmpty,
        s"$q's final plan must read the cached daily frame, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // Anderson-Darling: the corpus-scale rank is GlobalRank's two-phase
    // prefix; the only global window allowed is its bounded offsets frame
    import org.apache.spark.sql.execution.window.WindowExec
    val ad = SparkEntry.queries("q_anderson_darling")(spark, sf)
      .queryExecution
    assert(ad.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.orderSpec.flatMap(_.child.references.toSeq)
          .forall(_.name == "_gr_pid") => w }.isEmpty,
      "q_anderson_darling must rank via the two-phase prefix")
    assert(ad.executedPlan.collect {
      case s: FileSourceScanExec => s }.isEmpty,
      "q_anderson_darling must read the one cached event projection")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 7: CV gate one scored pass, FK audit keyed antis") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // CV gate: fold totals and the prediction pass BOTH read the one
    // cached scored frame; fold stats broadcast back (no 5x rework)
    val cv = SparkEntry.queries("q_cv_gate")(spark, sf).queryExecution
    assert(cv.executedPlan.collect { case s: FileSourceScanExec => s }.isEmpty,
      "q_cv_gate must read the cached scored pass")
    assert(!cv.executedPlan.toString.contains("SortMergeJoin"),
      "fold-stat fan-in must broadcast")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // l-diversity: one corpus scan, two keyed aggregates, no join
    val ld = SparkEntry.queries("q_l_diversity")(spark, sf).queryExecution
    assert(ld.executedPlan.collect {
      case s: FileSourceScanExec => s }.size <= 1,
      "q_l_diversity is a single-scan double aggregate")
    // FK audit: every arm is a keyed LEFT ANTI join; the only
    // nested-loop joins are the 1-row count fan-ins
    val fk = SparkEntry.queries("q_fk_orphans")(spark, sf).queryExecution
    assert(fk.executedPlan.toString.contains("LeftAnti"),
      "orphan checks must be anti joins, not except/distinct chains")
    assert(!fk.executedPlan.toString.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 8: Shapley/conformal/IPW collapse once, broadcast after") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Shapley R2 / IPW: one corpus scan straight into the keyed
    // collapse; the remaining algebra is a 1-row / 5-row frame
    for (q <- Seq("q_shapley_r2", "q_ipw_ate")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(qe.executedPlan.collect {
        case s: FileSourceScanExec => s }.size <= 1,
        s"$q must collapse the corpus in one scan")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse fan-ins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // conformal: the day panel caches; split fits, residual ranking and
    // coverage all read it — no second corpus scan
    val cf = SparkEntry.queries("q_conformal")(spark, sf).queryExecution
    assert(cf.executedPlan.collect {
      case s: FileSourceScanExec => s }.isEmpty,
      "q_conformal must read the cached day panel")
    assert(!cf.executedPlan.toString.contains("SortMergeJoin"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 9: ALS half-steps read cached frontiers") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the published plan reads the cached ratings/factor frontiers —
    // one corpus collapse at build time, keyed joins in every half-step
    val als = SparkEntry.queries("q_als")(spark, sf).queryExecution
    assert(als.executedPlan.collect {
      case s: FileSourceScanExec => s }.isEmpty,
      "q_als must read the cached ratings/factor frames")
    assert(!als.executedPlan.toString.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 10: nonparametric family rides the value-domain " +
       "histogram, one corpus scan each") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // Mood / Brown–Forsythe / fixed-effects / Mahalanobis: ONE cached
    // corpus projection; medians come off domain-bounded histograms and
    // every scalar fan-in broadcasts — no SortMergeJoin anywhere
    for (q <- Seq("q_moods_median", "q_brown_forsythe",
        "q_fixed_effects", "q_mahalanobis")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 1, s"$q must scan the corpus once, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // Mahalanobis top-k must be a TakeOrdered pull, not a global sort
    val mh = SparkEntry.queries("q_mahalanobis")(spark, sf).queryExecution
    assert(mh.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q_mahalanobis top-20 must be TakeOrdered")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // Jonckheere: the dense-grid cumulative windows partition by group
    // (k-way parallel, domain-bounded partitions) — never partition-less;
    // the cross-group reduction joins on the value key
    val jt = SparkEntry.queries("q_jonckheere")(spark, sf).queryExecution
    assert(jt.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "q_jonckheere cumulative counts must window per group")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // Page's L: within-block ranking windows key on the day block
    val pg = SparkEntry.queries("q_page_trend")(spark, sf).queryExecution
    assert(pg.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "q_page_trend ranks must window per day block")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 11: forecast diagnostics collapse once, lag joins " +
       "broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // KPSS / NW / BP / DM / Hampel / matrix profile: ONE corpus collapse
    // to the daily frame; every lag/band self-join broadcasts its
    // bounded side — no SortMergeJoin anywhere in the batch
    for (q <- Seq("q_kpss", "q_newey_west", "q_breusch_pagan",
        "q_diebold_mariano", "q_hampel", "q_matrix_profile")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 1, s"$q must scan the corpus once, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q daily-frame joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // matrix profile: the per-subsequence nearest neighbor windows on
    // the subsequence key, never partition-less
    val mp = SparkEntry.queries("q_matrix_profile")(spark, sf).queryExecution
    assert(mp.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "q_matrix_profile NN selection must window per subsequence")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 12: inequality/survival family keeps user frames " +
       "in keyed shuffles, order stats two-phase") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // Hoover/Atkinson: one corpus scan, scalar fan-ins broadcast
    for (q <- Seq("q_hoover", "q_atkinson")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 1, s"$q must scan the corpus once, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q scalar fan-ins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // Palma: the decile cut is GlobalRank's two-phase row number — the
    // only partition-less window allowed is its bounded offsets frame
    val pa = SparkEntry.queries("q_palma")(spark, sf).queryExecution
    assert(pa.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.orderSpec.flatMap(_.child.references.toSeq)
          .forall(_.name == "_gr_pid") => w }.isEmpty,
      "q_palma ranks must route through GlobalRank")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // Nelson–Aalen: both cumulative passes (risk suffix, hazard prefix)
    // two-phase, same rule
    val na = SparkEntry.queries("q_nelson_aalen")(spark, sf).queryExecution
    assert(na.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.orderSpec.flatMap(_.child.references.toSeq)
          .forall(_.name == "_gr_pid") => w }.isEmpty,
      "q_nelson_aalen cumulatives must route through GlobalRank")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // Slope One: the deviation matrix is the bounded broadcast; the only
    // shuffled joins key on user_id; t-closeness windows key on source
    val so = SparkEntry.queries("q_slope_one")(spark, sf).queryExecution
    assert(!so.executedPlan.toString.contains("CartesianProduct"),
      "q_slope_one must never go cartesian")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    val tc = SparkEntry.queries("q_t_closeness")(spark, sf).queryExecution
    assert(tc.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "q_t_closeness cumulatives must window per source")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-10 batch 5: Naive Bayes trains off one cached tokenize") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // weights, priors, and the scoring expansion ALL derive from the one
    // cached (doc, lang, word) count frame — no second corpus tokenize
    val nb = SparkEntry.queries("q_naive_bayes")(spark, sf).queryExecution
    val scans = nb.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.isEmpty,
      s"q_naive_bayes must read the cached token counts, got ${scans.size}")
    // the 5-class candidate expansion broadcasts; the only shuffled join
    // is the vocabulary-keyed weight lookup
    assert(!nb.executedPlan.toString.contains("CartesianProduct"),
      "class expansion must be a broadcast, not a cartesian")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-11: substring dedup marks grams keyed, windows doc-keyed, " +
       "no pair explosion") {
    val plan = planOf("q_substring_dedup")
    // the Lee-et-al decision never materializes a doc pair: the only join
    // is the shared-gram semi-join back onto the gram frame
    assert(!plan.contains("CartesianProduct"),
      "substring dedup must not enumerate document pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "substring dedup must not nested-loop join")
    // extent merge is a doc_id-partitioned window — never partition-less
    // (a global window would serialize the islands merge on one task)
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")),
      s"extent-merge windows must partition by doc_id:\n${winLines.mkString("\n")}")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-11 ordinal batch: one corpus collapse, grid fan-ins broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Somers' D / gamma / tau-c ride ONE cached 24×10 contingency grid;
    // Cochran's Q and Welch's ANOVA collapse to per-user / per-type
    // frames in one keyed aggregate; Bowker pays one user-keyed lag
    // window. Everything downstream of the collapse is broadcast-small.
    for (q <- Seq("q_somers_d", "q_gk_gamma", "q_stuart_tau_c",
        "q_cochran_q", "q_welch_anova", "q_bowker")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 1, s"$q must scan the corpus once, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // the pair-mass cross join must be the bounded ≤240-row grid against
    // itself (broadcast), never a row-level self-join
    import org.apache.spark.sql.execution.window.WindowExec
    val bw = SparkEntry.queries("q_bowker")(spark, sf).queryExecution
    assert(bw.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "q_bowker's lag window must partition by user_id")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-11 survival/rank batch: GlobalRank routing, one-scan folds") {
    import org.apache.spark.sql.execution.window.WindowExec
    // RMST / Cox / Ansari-Bradley / CvM all rank or prefix over corpus-
    // growing frames (death times, pooled event ranks): every window must
    // ride GlobalRank's two-phase routing — partition-less windows are
    // legal only over the numPartitions-row _gr_pid offsets table
    for (q <- Seq("q_rmst", "q_cox_ph", "q_ansari_bradley",
        "q_cvm_2sample")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame:\n" +
          offenders.map(_.verboseString(3)).mkString("\n"))
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // ADF / theta / spectral entropy collapse to the calendar-bounded
    // daily frame in ONE corpus scan; nothing after may sort-merge
    for (q <- Seq("q_adf", "q_theta_forecast", "q_spectral_entropy")) {
      val p = planOf(q)
      val scans = p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans <= 1, s"$q must scan the corpus once, got $scans")
      assert(!p.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 ML/sketch batch: cached collapses, bounded iteration") {
    import org.apache.spark.sql.execution.window.WindowExec
    // GBM rounds / weighted kappa: one corpus scan into the cached
    // value-domain grid; every downstream frame (margins, stumps,
    // confusion grid) is bounded and fans in by broadcast
    for (q <- Seq("q_gbm2", "q_weighted_kappa")) {
      import org.apache.spark.sql.execution.FileSourceScanExec
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val scans = qe.executedPlan.collect { case sc: FileSourceScanExec => sc }
      assert(scans.size <= 1, s"$q must scan the corpus once, got ${scans.size}")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // Bradley-Terry / Katz / KMV: the only corpus-scale joins are keyed
    // equi-joins (order self-join, trade-edge derivation); MM rounds and
    // Katz hops run on cached bounded frames — no cartesian anywhere,
    // and the KMV rank windows ride GlobalRank or bounded pair frames
    for (q <- Seq("q_bradley_terry", "q_katz", "q_kmv_intersect",
        "q_kmeans_lloyd")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 experimentation batch: value-domain ranks, bounded argmax") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Dunn / Lilliefors rank over the value domain through GlobalRank;
    // TOST / Bayesian A/B collapse to per-group integer moments in one
    // scan; GESD / binseg unroll bounded argmax rounds with broadcast
    // winners — no cartesian, no corpus-frame partition-less window
    for (q <- Seq("q_dunn_test", "q_lilliefors", "q_gesd", "q_tost",
        "q_bayesian_ab", "q_binseg")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") &&
          // q_binseg's prefix window rides the calendar-bounded daily
          // frame (≈30 rows at every sweep point) — the documented
          // exemption class (q_adf, q_durbin_watson)
          q != "q_binseg" => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      // argmax stages must be TakeOrdered / limit-1, never a global sort
      if (q == "q_gesd" || q == "q_binseg") {
        assert(qe.executedPlan.toString.contains("TakeOrderedAndProject"),
          s"$q: argmax rounds must be TakeOrdered, not a global sort")
      }
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 time-series/robust batch: bounded frames, broadcast " +
      "fan-ins") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Kalman / variance-ratio fold over the ≤30-row daily calendar
    // frame, Haar over ≤720 hourly buckets, Fligner's rank prefix over
    // the bounded deviation domain — the documented partition-less
    // exemption classes. Tukey and Yuen must have NO partition-less
    // window at all (per-type windows partition by event_type).
    for (q <- Seq("q_kalman_1d", "q_variance_ratio", "q_tukey_hsd",
        "q_haar_energy", "q_yuen_t", "q_fligner")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      if (q == "q_tukey_hsd" || q == "q_yuen_t") {
        val offenders = qe.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(offenders.isEmpty,
          s"$q: no partition-less window expected")
      }
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 generation-eval batch: map-only grams, no pair blowup") {
    import org.apache.spark.sql.execution.GenerateExec
    // BLEU/ROUGE/chrF count clipped grams with ONE role-conditional
    // aggregate per gram order — never a cand⋈ref gram join; all gram
    // extraction is array-transform explodes (map-only). The only
    // cross joins are broadcast 1-row scalar fan-ins.
    for (q <- Seq("q_bleu", "q_rouge_2", "q_chrf", "q_distinct_n")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      val gens = qe.sparkPlan.collect { case g: GenerateExec => g }
      assert(gens.size <= 2,
        s"$q: gram extraction must be bounded explodes, got ${gens.size}")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 robust-ML/survival batch: moment-frame iteration") {
    // Huber's IRLS rounds and lasso's whole CD sweep must be broadcast
    // 1-row fan-ins over ONE corpus collapse — no cartesian, no
    // driver-side loop artifacts; kNN-classify reuses the panel
    // broadcast shape (BroadcastNestedLoopJoin over the frozen panel,
    // never a corpus×corpus product).
    for (q <- Seq("q_huber_reg", "q_lasso_cd", "q_cum_incidence",
        "q_knn_classify", "q_psm_att")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 sequential-decision batch: calendar folds, broadcast " +
      "fan-ins") {
    // Viterbi/UCB fold over the ≤31-row calendar prefix (documented
    // partition-less exemption); group-seq's look grid and
    // beta-binomial's (alpha, beta) are broadcast bounded fan-ins.
    for (q <- Seq("q_viterbi", "q_ucb_replay", "q_group_seq",
        "q_beta_binomial", "q_absorbing_markov")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 graph batch: one corpus collapse, bounded rounds") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Borůvka / diameter: every algorithmic round reads eager
    // checkpoints of bounded frames — the executed plan must NOT
    // re-derive the corpus per round (the q_scc round-5 lesson);
    // k-truss re-scans the cached edge list once per support pass.
    for (q <- Seq("q_boruvka_mst", "q_graph_diameter", "q_ktruss",
        "q_betweenness", "q_rich_club")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct") ||
        q == "q_graph_diameter", // 1-row limit-capped scalar fan-ins
        s"$q: no cartesian outside 1-row fan-ins")
      val scans = qe.executedPlan.collect {
        case sc: FileSourceScanExec => sc
      }
      assert(scans.size <= 4,
        s"$q: rounds must read checkpoints, not re-derive the corpus " +
          s"(got ${scans.size} file scans)")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // MST result is a tree: |edges| = |nodes| - 1 on the connected
    // trade graph, and Borůvka's edge set must match Prim's (the
    // oracle re-derivation) — here just pin the tree invariant
    val mst = SparkEntry.queries("q_boruvka_mst")(spark, sf).collect()
    val nodes = mst.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    assert(mst.length == nodes.length - 1,
      s"MST must span: ${mst.length} edges over ${nodes.length} nodes")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-11 distribution-geometry batch: value-domain histograms, " +
      "GlobalRank routing, broadcast node frames") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Wasserstein / Brunner-Munzel / Chatterjee / GPD all rank or
    // prefix over corpus-growing frames (value domains, exceedance
    // order statistics): every window must ride GlobalRank's two-phase
    // routing — partition-less windows only over the _gr_pid offsets
    // table. Moran / Geary join the 25-row wealth frame by broadcast.
    for (q <- Seq("q_wasserstein_1d", "q_brunner_munzel",
        "q_chatterjee_xi", "q_gpd_pot", "q_moran_i", "q_geary_c")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame:\n" +
          offenders.map(_.verboseString(3)).mkString("\n"))
      if (q == "q_moran_i" || q == "q_geary_c") {
        assert(qe.executedPlan.toString.contains("BroadcastHashJoin"),
          s"$q: the 25-row node frame must broadcast onto the edge list")
      }
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 sequence/attribution batch: map-only DPs, bounded grids") {
    // NW is the corpus-scale path: the per-doc DP must be ONE scan with
    // no join/shuffle before the TakeOrdered top-k
    val nwPlan = planOf("q_needleman_wunsch")
    assert(nwPlan.linesIterator
      .count(_.trim.matches("""\(\d+\) Scan parquet\s*""")) == 1,
      "NW must be one documents scan")
    assert(!nwPlan.contains("Join"),
      "NW is map-only — no join of any kind")
    assert(nwPlan.contains("TakeOrderedAndProject"),
      "NW top-k must be TakeOrdered, not a global sort")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    // DTW / AdaBoost / Shapley collapse once (calendar frame, cell
    // grid, coalition lattice) — everything after is broadcast-bounded
    for (q <- Seq("q_dtw", "q_adaboost", "q_channel_shapley")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar fan-ins must broadcast")
      assert(!qe.executedPlan.toString.contains("SortMergeJoin"),
        s"$q: post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 dependence/sequence-mining batch: one collapse, " +
      "bounded pair frames") {
    import org.apache.spark.sql.execution.window.WindowExec
    // All five collapse the corpus once (daily calendar / per-user
    // firsts); Hoeffding's 366² pair frame and the CCF lag grid are
    // broadcast bounded fan-ins; the only partition-less windows ride
    // the calendar/cell frames (documented exemption class). seq_pairs
    // must have NO window and NO cartesian — it is one keyed self-join.
    for (q <- Seq("q_hoeffding_d", "q_transfer_entropy", "q_seq_pairs",
        "q_ccf", "q_partial_corr")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded grids must broadcast, not cartesian")
      if (q == "q_seq_pairs") {
        assert(qe.sparkPlan.collect { case w: WindowExec => w }.isEmpty,
          "q_seq_pairs needs no window at all")
      }
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 partition-agreement batch: one contingency collapse, " +
      "GlobalRank-only rank windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_adjusted_rand", "q_fowlkes_mallows", "q_gk_lambda",
        "q_dixon_q", "q_distance_corr", "q_kuiper")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: scalar/bounded fan-ins must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 econometrics batch: one corpus collapse, broadcast " +
      "moment frames, TakeOrdered top-k") {
    for (q <- Seq("q_iv_wald", "q_event_study", "q_goldfeld_quandt",
        "q_cooks_distance", "q_press", "q_jackknife_slope")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$q: one-row moment frames must broadcast")
      assert(!p.contains("SortMergeJoin"),
        s"$q: post-collapse joins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    val ck = SparkEntry.queries("q_cooks_distance")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ck.contains("TakeOrderedAndProject"),
      "cooks top-5 must be TakeOrdered, not a global sort")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-11 density/geometry batch: grid-join closest pair, " +
      "broadcast grids, TakeOrdered argmins") {
    // closest pair: the neighbor probe must be a shuffled HASH join on
    // the cell key (the scalable shape), never a nested-loop pairing
    val cp = SparkEntry.queries("q_closest_pair")(spark, sf)
      .queryExecution
    val cps = cp.executedPlan.toString
    assert(!cps.contains("CartesianProduct"),
      "closest pair must never go quadratic")
    assert(cps.contains("TakeOrderedAndProject"),
      "closest-pair argmin must be TakeOrdered")
    graft.CacheScope.drain(); spark.catalog.clearCache()
    for (q <- Seq("q_kde_grid", "q_hbos", "q_copod")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded grids must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 sequence batch 2: map-only alignment DPs, bounded " +
      "entropy frames, one HMM shuffle") {
    for (q <- Seq("q_smith_waterman", "q_rouge_l")) {
      val p = planOf(q)
      assert(p.linesIterator
        .count(_.trim.matches("""\(\d+\) Scan parquet\s*""")) == 1,
        s"$q must be one documents scan")
      assert(!p.contains("Join"), s"$q is map-only — no join")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    for (q <- Seq("q_permutation_entropy", "q_sample_entropy",
        "q_hmm_forward", "q_dfa", "q_garch_grid", "q_cucconi")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded fan-ins must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-11 structure/fairness batch: broadcast grids, " +
      "TakeOrdered simplex argmin") {
    for (q <- Seq("q_v_measure", "q_turning_points", "q_von_neumann",
        "q_k4_count", "q_synth_control", "q_demographic_parity",
        "q_equalized_odds", "q_theil_decomp")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded grids/frames must broadcast")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // the 66-point simplex argmin must be a TakeOrdered, not a sort
    val sc = SparkEntry.queries("q_synth_control")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sc.contains("TakeOrderedAndProject"),
      "synth-control weight argmin must be TakeOrdered")
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("round-11 diagnostics batch 2: closed-form regressions, " +
      "quantize-then-sum spectra, GlobalRank-only rank windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_glejser", "q_weibull_fit", "q_coherence",
        "q_pp_test")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded fan-ins must broadcast")
      // r14: q_pp_test's lag pairs and autocovariances come from ONE
      // lead() window over the bounded hourly calendar axis t (the
      // documented bounded-frame exemption class) instead of six
      // broadcast self-joins — that sort key is exempt alongside
      // GlobalRank's offsets table.
      val exemptKeys =
        if (q == "q_pp_test") Set("_gr_pid", "t") else Set("_gr_pid")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(a => exemptKeys.contains(a.name)) => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-12 combined rank tests: GlobalRank-only windows, " +
      "broadcast one-row totals") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Lepage ranks the cent-value histogram via one prefix pass; BWS
    // runs the q_cvm_2sample two-pass rank scaffolding — in both, any
    // partition-less window must be GlobalRank's offsets table and the
    // one-row totals frame must broadcast, never cartesian over an
    // unbounded side.
    for (q <- Seq("q_lepage", "q_bws")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: one-row fan-ins must broadcast")
      assert(qe.executedPlan.toString.contains("BroadcastNestedLoopJoin")
          || qe.executedPlan.toString.contains("BroadcastHashJoin"),
        s"$q: the totals frame must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-12 risk/effect-size/agreement/corpus batch: calendar " +
      "folds, histogram collapses, GlobalRank-only windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Risk ops fold the one-array-row calendar; Stats21 rides the cent
    // histogram + GlobalRank; Agree is one map + one aggregate;
    // TextEval2 joins vocabulary-bounded gram tables. In all of them a
    // partition-less window may only be GlobalRank's offsets table and
    // every cross join must be a broadcast bounded fan-in.
    for (q <- Seq("q_max_drawdown", "q_cvar", "q_sharpe",
        "q_mann_kendall", "q_mood_median", "q_cliff_delta",
        "q_cohens_d", "q_siegel_tukey", "q_fleiss_kappa",
        "q_krippendorff_alpha", "q_heaps", "q_self_bleu",
        "q_perplexity", "q_gwet_ac1", "q_scott_pi", "q_quade",
        "q_odds_ratio", "q_relative_risk")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded fan-ins must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-13 diagnostics/SPC/corpus batch: histogram order " +
      "statistics, GlobalRank-only windows, broadcast fan-ins") {
    import org.apache.spark.sql.execution.window.WindowExec
    // Stats22 rides value-domain histograms + GlobalRank prefix
    // passes (order statistics with no corpus sort); the SPC charts
    // and Bland–Altman collapse to the calendar; Text3 reduces to
    // vocabulary/species histograms. Any partition-less window must
    // be GlobalRank's offsets table; every cross join must broadcast
    // a bounded side.
    for (q <- Seq("q_sign_test", "q_watson_u2", "q_gastwirth",
        "q_tail_dependence", "q_icc", "q_delta_method",
        "q_hosmer_lemeshow", "q_bland_altman", "q_xbar_chart",
        "q_p_chart", "q_good_turing", "q_renyi", "q_burrows_delta")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$q: bounded fan-ins must broadcast")
      val offenders = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          !w.orderSpec.flatMap(_.child.references.toSeq)
            .forall(_.name == "_gr_pid") => w
      }
      assert(offenders.isEmpty,
        s"$q: partition-less window over a non-offsets frame")
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
  }

  test("round-13 survival grids read checkpoints; G2 top-k is " +
      "TakeOrdered") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Gehan / life table: ONE corpus collapse to the checkpointed
    // calendar/interval grid — the final plan (reverse-cumsum windows
    // included) must read the materialized grid, never re-derive the
    // user aggregate (the q_log_rank/q_label_prop discipline). Their
    // bounded-grid windows are the documented single-partition
    // exemption class, so the offsets-only rule doesn't apply here.
    for (q <- Seq("q_gehan", "q_life_table")) {
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      assert(qe.executedPlan.collect {
        case s: FileSourceScanExec => s }.isEmpty,
        s"$q final plan must read the checkpointed grid")
      assert(!qe.executedPlan.toString.contains("CartesianProduct"))
      graft.CacheScope.drain(); spark.catalog.clearCache()
    }
    // Dunning G²: global top-10 must be TakeOrderedAndProject
    // (distributed top-k), not a global sort; margin fan-ins broadcast
    val g2 = SparkEntry.queries("q_dunning_g2")(spark, sf).queryExecution
    assert(g2.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q_dunning_g2 top-10 must be TakeOrdered")
    assert(!g2.executedPlan.toString.contains("CartesianProduct"))
    graft.CacheScope.drain(); spark.catalog.clearCache()
  }

  test("fold-family keys evaluate no loop-invariant array work") {
    val found = Seq("q_closeness", "q_betweenness", "q_eccentricity",
        "q_bfs_dist", "q_graph_diameter").flatMap(k =>
      LoopInvariants.find(SparkEntry.queries(k)(spark, sf))
        .map(f => s"$k: $f"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
