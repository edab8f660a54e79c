package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Four operators, from exact baseline to scale path:
  *  - q_knn_brute: brute-force cosine top-k for a query subset — the
  *    correctness baseline. Dot products via `zip_with` + `aggregate`
  *    (codegen'd higher-order functions, no explode of the vector).
  *  - q_cosine_pairs: all-pairs above a threshold (exact near-dup dedup by
  *    embedding) — quadratic by definition; at 100 TB you run the LSH
  *    variant and reserve this for within-bucket verification.
  *  - q_ann_lsh: random-hyperplane LSH — sign-pattern bucket per vector,
  *    candidate pairs only within a bucket. Hyperplane weights come from an
  *    integer LCG, not a float RNG, so every engine derives identical
  *    buckets. This is the sublinear scale path (shuffle keys = buckets).
  *  - q_ivf_assign: IVF coarse quantization — per-label centroids
  *    (the "training" stand-in), each vector assigned to its nearest
  *    centroid; at scale this becomes the partitioning key for ANN probes.
  *
  * Float policy: vectors are float32; all math is done in double, cosine is
  * rounded to 6 dp before any ranking/threshold so cross-engine summation
  * order can't flip results. Ranking ties break by vector id.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** embedding as double array plus its L2 norm.
    *
    * `repartition(defaultParallelism)`: the fixture is a single small
    * parquet file → one input split → the quadratic pair-joins below would
    * run on ONE core. At 100 TB the scan itself yields thousands of splits
    * and this becomes a cheap no-op-ish round-robin; on a tiny input it is
    * the difference between 1× and 32× parallelism for the O(n²) kernels. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .transform(Tables.fanoutReady)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Native codegen'd dot product as a typed Column
    * ([[graft.functions.DotProduct.col]]; no session setup) — same
    * ascending-index accumulation as the `aggregate(zip_with(...))` form it
    * replaced, so results are bit-identical; just no per-row array
    * allocation in the O(n²) kernels. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.col(a, b)

  /** FROZEN evaluation panel: query vectors are vec_id % 40 == 0 AND
    * vec_id < [[PanelCap]]. The cap is what makes every evaluation
    * query in this family (brute-force ground truth, ADC sweeps, recall
    * audits) scale LINEARLY: without it the panel grows with the corpus
    * and "queries × corpus" work is quadratic by construction — the
    * sf0.1→sf1 sweep measured shuffle exponents ≈ 2.2 for exactly this
    * reason. A fixed panel is also the standard ANN-benchmark design
    * (BEIR/ann-benchmarks freeze the query set so recall numbers stay
    * comparable across corpus scales). The cap equals the sf0.1
    * fixture's id range, so results at every driver-verified SF are
    * byte-identical to the uncapped form; only larger fixtures see the
    * bound. The SQL oracles carry the same literal. */
  private val PanelCap = 2000L

  private def panelQuery(id: Column): Column =
    id % 40 === 0 && id < PanelCap

  /** Brute-force cosine top-5 for the frozen query panel
    * ([[panelQuery]]) — shared by q_knn_brute and the q_ann_recall
    * ground truth. */
  private def knnBrute(s: SparkSession, d: String): DataFrame = {
    // r13: cached — `all` feeds the panel broadcast AND the scored join,
    // so un-cached the embeddings scan + norm pass ran twice per call.
    val all = graft.CacheScope.cached(vecs(s, d))
    val q = all.filter(panelQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nb_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_r").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "nb_id", "rank", "cos_r")
      .orderBy("q_id", "rank")
  }

  val queries: Map[String, Q] = Map(
    // ---- brute-force cosine top-5 for query vectors (vec_id % 40 == 0)
    "q_knn_brute" -> ((s, d) => knnBrute(s, d)),

    // ---- kNN classification (k = 5, majority vote) over the frozen
    // panel: the label-propagation eval a curation pipeline runs to
    // audit embedding quality — if 5-NN votes can't recover a vector's
    // own label, the embedding space is too mixed for clustering-based
    // dedup/curation. Reuses the brute-force panel scoring shape
    // (panel-broadcast, never all-pairs); the vote is a per-query
    // (≤5-row) count with deterministic (votes desc, label asc)
    // tie-break.
    "q_knn_classify" -> ((s, d) => {
      val all = graft.CacheScope.cached(vecs(s, d))
      val q = all.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"),
          col("label").as("true_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("true_label"),
          col("label").as("nb_label"), col("vec_id").as("nb_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
            .as("cos_r"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cos_r").desc, col("nb_id").asc)
      val votes = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .groupBy("q_id", "true_label", "nb_label")
        .agg(count(lit(1)).as("n_votes"))
      val wv = Window.partitionBy("q_id")
        .orderBy(col("n_votes").desc, col("nb_label").asc)
      votes.withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("q_id"), col("true_label"),
          col("nb_label").as("pred_label"), col("n_votes"),
          (col("nb_label") === col("true_label")).as("correct"))
        .orderBy("q_id")
    }),

    // ---- Matryoshka-prefix recall: how much of the full-dimension
    // top-5 survives if search only reads the first 8/16/32 of the 64
    // dims? This is the adaptive-retrieval question (MRL, Kusupati et
    // al. 2022): truncated prefixes are the cheap first pass at 100 TB
    // (4–8× less scan + ALU per query), and this query prices the
    // recall each prefix buys BEFORE a deployment picks its rerank
    // cutoff. All three arms share one cached corpus and the frozen
    // panel's cached full-dim truth; each arm is the production search
    // shape (panel-broadcast scoring, never all-pairs).
    "q_mrl_recall" -> ((s, d) => {
      val all = graft.CacheScope.cached(vecs(s, d))
      val truth = graft.CacheScope.cached(
        knnBrute(s, d).select(col("q_id"), col("nb_id")))
      val tt = truth.agg(count(lit(1)).as("n_truth"),
        countDistinct("q_id").as("n_queries"))
      // r14 fusion (guide §2.4): the three prefix arms each ran their own
      // panel-broadcast join + window + counter chain over the same
      // corpus. One pass computes all three prefix cosines per (query,
      // vector) pair — the same slice/dot/round expressions, so each
      // arm's scores and tie-breaks are bit-identical — then explodes to
      // (prefix, pair) rows for ONE window + ONE counter aggregate.
      val ps = Seq(8, 16, 32)
      val pre = all.select(col("vec_id") +:
        ps.flatMap { p =>
          val pv = slice(col("v"), 1, p)
          Seq(pv.as(s"pv$p"), sqrt(dot(pv, pv)).as(s"pn$p"))
        }: _*)
      val q = pre.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id") +:
          ps.flatMap(p => Seq(col(s"pv$p").as(s"qv$p"),
            col(s"pn$p").as(s"qn$p"))): _*)
      val scored = pre.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nb_id"),
          explode(array(ps.map(p => struct(lit(p).as("p"),
            round(dot(col(s"qv$p"), col(s"pv$p")) /
              (col(s"qn$p") * col(s"pn$p")), 6).as("cos_r"))): _*))
            .as("pc"))
        .select(col("q_id"), col("nb_id"),
          col("pc.p").as("p"), col("pc.cos_r").as("cos_r"))
      val w = Window.partitionBy("p", "q_id")
        .orderBy(col("cos_r").desc, col("nb_id").asc)
      val hits = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .join(broadcast(truth), Seq("q_id", "nb_id"))
        .groupBy("p").agg(count(lit(1)).as("hits"))
      import s.implicits._
      ps.toDF("p")
        .join(broadcast(hits), Seq("p"), "left").na.fill(0L, Seq("hits"))
        .crossJoin(broadcast(tt))
        .select(col("p").as("prefix_dim"), col("n_queries"),
          col("n_truth"), col("hits"),
          round(when(col("n_truth") === 0L, lit(null))
            .otherwise(col("hits").cast("double") / col("n_truth")), 6)
            .as("recall"))
        .orderBy("prefix_dim")
    }),

    // ---- IVF nprobe sweep — the coarse-quantizer dial next to
    // q_pq_sweep's subspace dial: recall@5 (vs the brute-force panel
    // truth) and candidate volume at nprobe ∈ {1,2,3} probed cells.
    // This is the query that prices the IVF index's recall/cost curve
    // before a 100 TB ANN deployment commits to a probe count. The
    // three arms share ONE cached cell-ranking and ONE cached truth
    // frame; each arm is a cell equi-join (assign ⋈ probes) + exact
    // cosine rank inside the probed candidates — the production search
    // shape, never all-pairs. Counts are BIGINTs; the two ratios
    // divide once at the end.
    "q_ivf_nprobe_sweep" -> ((s, d) => {
      val all = graft.CacheScope.cached(vecs(s, d))
      // r14: clustered by vec_id — the cell-distance agg and its rank
      // window then share this one exchange (§2.4)
      val fl = all.select(col("vec_id"), col("label"),
        posexplode(col("v")).as(Seq("i", "x")))
        .repartition(col("vec_id"))
      val centroids = fl.groupBy(col("label").as("c_label"), col("i"))
        .agg(avg("x").as("cx"))
      val d2a = fl.join(broadcast(centroids), Seq("i"))
        .groupBy("vec_id", "c_label")
        .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6)
          .as("d2"))
      val wv = Window.partitionBy("vec_id")
        .orderBy(col("d2").asc, col("c_label").asc)
      val ranked = graft.CacheScope.cached(
        d2a.withColumn("rn", row_number().over(wv)))
      val assign = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"))
      val exact = graft.CacheScope.cached(
        knnBrute(s, d).select("q_id", "nb_id"))
      val q = all.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      // r14 fusion (guide §2.4): the three nprobe arms re-scored growing
      // candidate supersets (≈2× the p=3 work in total) and ran 3×3
      // counter jobs. Each vector sits in exactly ONE cell and each
      // query's probed cells carry a unique rank, so candidate-of-arm-p
      // ⇔ probe rank ≤ p: score the p=3 superset ONCE with the probe
      // rank attached, then explode to the arms it belongs to. Same
      // cosine expression over the same rows → identical per-arm ranks,
      // counts and divisions.
      val probes = ranked
        .filter(panelQuery(col("vec_id")) && col("rn") <= 3)
        .select(col("vec_id").as("q_id"), col("c_label").as("cell"),
          col("rn").as("prn"))
      val scored = graft.CacheScope.cached(
        assign.join(probes, Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .join(all.select(col("vec_id"), col("v"), col("nrm")),
            Seq("vec_id"))
          .join(broadcast(q), Seq("q_id"))
          .select(col("q_id"), col("vec_id").as("nb_id"), col("prn"),
            round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
              .as("cos_r")))
      val arms = scored.select(col("q_id"), col("nb_id"), col("cos_r"),
          explode(array(lit(1), lit(2), lit(3))).as("p"))
        .filter(col("p") >= col("prn"))
      val wq = Window.partitionBy("p", "q_id")
        .orderBy(col("cos_r").desc, col("nb_id").asc)
      val hits = arms.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 5)
        .join(broadcast(exact), Seq("q_id", "nb_id"))
        .groupBy("p").agg(count(lit(1)).as("n_hits"))
      val nc = scored.select(col("prn"),
          explode(array(lit(1), lit(2), lit(3))).as("p"))
        .filter(col("p") >= col("prn"))
        .groupBy("p").agg(count(lit(1)).as("n_cand"))
      val nq = exact.select("q_id").distinct()
        .agg(count(lit(1)).as("n_queries"))
      import s.implicits._
      Seq(1, 2, 3).toDF("p")
        .join(broadcast(hits), Seq("p"), "left")
        .join(broadcast(nc), Seq("p"), "left")
        .na.fill(0L, Seq("n_hits", "n_cand"))
        .crossJoin(broadcast(nq))
        .select(col("p").cast("long").as("nprobe"), col("n_queries"),
          round(when(col("n_queries") === 0, lit(null))
            .otherwise(col("n_cand").cast("double") / col("n_queries")),
            2).as("avg_candidates"),
          round(when(col("n_queries") === 0, lit(null))
            .otherwise(col("n_hits").cast("double") /
              (col("n_queries") * 5)), 6).as("recall_at_5"))
        .orderBy("nprobe")
    }),

    // ---- Local Outlier Factor (Breunig et al. 2000, k=5) — the
    // density-aware outlier score over the embedding space: a vector is
    // anomalous when its local density is low RELATIVE to its
    // neighbors' (a point at a cluster edge scores ~1, a point in a
    // void scores ≫1 even if a dense cluster sits nearby — the case
    // global z-scores miss). Composable from the kNN frame: k-distance
    // → reachability → local reachability density → density ratio.
    // Exactness discipline: pair distances quantize to micro-unit
    // BIGINTs (the q_coreset pico-quantized d² under one deterministic
    // sqrt), reachabilities are integer max/sums, and the reciprocal
    // densities quantize to 1e-12 units BEFORE summation (the
    // q_adamic_adar rule) so every cross-engine sum is integer. Scale
    // shape: the O(n²) kNN base is the q_cosine_pairs trade — at 100 TB
    // the candidate set comes from q_ann_lsh buckets and everything
    // downstream of `knn` (three node-keyed joins over k·N rows) is
    // unchanged. Top-20 outliers, ties by vec_id.
    "q_lof" -> ((s, d) => {
      val emb = graft.CacheScope.cached(vecs(s, d).select("vec_id", "v"))
      // codegen'd kernel, value-identical to the
      // aggregate(zip_with(round...)) fold it replaced (Dist2PicoSpec) —
      // the interpreted form paid a per-element BigDecimal inside the
      // O(n²) base and was the worst loop of the 30× scale run
      def d2m(a: Column, b: Column) =
        graft.functions.Dist2Pico.col(a, b)
      val pairs = emb.toDF("a", "va")
        .join(emb.toDF("b", "vb"), col("a") =!= col("b"))
        .select(col("a"), col("b"),
          round(sqrt(d2m(col("va"), col("vb")).cast("double") / lit(1e12))
            * lit(1e6)).cast("long").as("du"))
      val w = Window.partitionBy("a").orderBy(col("du").asc, col("b").asc)
      val knn = graft.CacheScope.cached(pairs
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5).select("a", "b", "du"))
      val kd = knn.groupBy(col("a").as("b")).agg(max("du").as("kdist"))
      val reach = knn.join(kd, "b")
        .select(col("a"), col("b"),
          greatest(col("kdist"), col("du")).as("r"))
      val ra = reach.groupBy("a")
        .agg(sum("r").as("ra"), count(lit(1)).as("kn"))
      val recip = ra.select(col("a").as("b"),
        when(col("ra") > 0, round(lit(1e12) / col("ra")).cast("long"))
          .as("cb"))
      val sc = knn.join(recip, "b").groupBy("a").agg(sum("cb").as("sc"))
      ra.join(sc, "a")
        .select(col("a").as("vec_id"),
          round(col("ra").cast("double") / col("kn") *
            (col("sc").cast("double") / lit(1e12)), 4).as("lof"))
        .orderBy(col("lof").desc, col("vec_id").asc).limit(20)
    }),

    // ---- coreset selection by greedy k-center (Gonzalez 1985; the
    // SemDeDup-adjacent "pick maximally-diverse training examples"
    // primitive): seed at the smallest vec_id, then 3× pick the vector
    // FARTHEST from the selected set (max over the running min-distance
    // frame) — each pick also certifies the 2-approximation cover
    // radius at that k. Scale shape: per round ONE broadcast of the
    // picked vector + a linear min-update over the corpus (k·N
    // distances total, never N²); the argmax is a TakeOrdered. Exact
    // by construction: per-dimension distance terms quantize to
    // pico-unit longs (q_vec_analogy discipline), so min/argmax
    // decisions compare integers and the pick sequence cannot drift.
    "q_coreset" -> ((s, d) => {
      val emb = graft.CacheScope.cached(Tables.embeddings(s, d)
        .transform(Tables.fanoutReady)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v")))
      // same codegen'd kernel as q_lof (value-identical to the lambda
      // fold — Dist2PicoSpec)
      def d2m(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.functions.Dist2Pico.col(a, b)
      val seed = emb.agg(min("vec_id").as("sid"))
      val seedVec = emb.join(broadcast(seed),
        col("vec_id") === col("sid")).select(col("v").as("sv"))
      var dmin = emb.crossJoin(broadcast(seedVec))
        .select(col("vec_id"), col("v"), d2m(col("v"), col("sv")).as("dm"))
        .localCheckpoint(true)
      var picks = Seq.empty[DataFrame]
      for (r <- 1 to 3) {
        val pick = dmin.orderBy(col("dm").desc, col("vec_id").asc).limit(1)
          .select(col("vec_id").as("pid"), col("v").as("pv"),
            col("dm").as("pdm"))
          .localCheckpoint(true)
        picks = picks :+ pick.select(lit(r).as("rank"),
          col("pid").as("vec_id"),
          round(col("pdm") / 1e12, 6).as("d2_at_pick"))
        dmin = dmin.crossJoin(broadcast(pick.select("pv")))
          .select(col("vec_id"), col("v"),
            least(col("dm"), d2m(col("v"), col("pv"))).as("dm"))
          .localCheckpoint(true)
      }
      val seedRow = seed.select(lit(0).as("rank"),
        col("sid").as("vec_id"),
        lit(null).cast("double").as("d2_at_pick"))
      picks.foldLeft(seedRow)(_ unionByName _).orderBy("rank")
    }),

    // ---- exact all-pairs cosine above threshold
    "q_cosine_pairs" -> ((s, d) => {
      val a = vecs(s, d).select(col("vec_id").as("va"), col("v").as("xa"),
        col("nrm").as("na"))
      val b = vecs(s, d).select(col("vec_id").as("vb"), col("v").as("xb"),
        col("nrm").as("nb"))
      a.join(b, col("va") < col("vb"))
        .select(col("va"), col("vb"),
          round(dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
            .as("cos_r"))
        .filter(col("cos_r") >= 0.4)
        .orderBy("va", "vb")
    }),

    // ---- random-hyperplane LSH buckets → within-bucket exact cosine.
    // The plane count LADDERS with the corpus: a fixed 4-plane index is
    // a FIXED-CAPACITY index — 16 buckets means within-bucket pairs
    // (and so the whole query) grow as n²/16 no matter how big the
    // corpus gets. The 1×/3×/10×/30× sweep measured exactly that
    // (cpu 35.7 s → 177.1 s from 10× to 30×, e≈1.46) — an index must
    // add a bit per corpus doubling to keep per-bucket occupancy
    // constant. The ladder is integer threshold sums (no float log2
    // whose ceil could flip at a power-of-two boundary), identical
    // literals in the oracle; ≤ 2000 vectors (every driver-gate SF)
    // stays at the historical 4 planes, so gate results are unchanged.
    "q_ann_lsh" -> ((s, d) => {
      val v = graft.CacheScope.cached(vecs(s, d))
      val nVec = v.count() // bounded driver action (1 long) on the cached corpus
      val nPlanes = 4 + Seq(2000L, 4000L, 8000L, 16000L, 32000L,
        64000L, 128000L, 256000L).count(nVec > _)
      // sign bit per plane: dot(v, w_k) >= 0; w_k precomputed driver-side
      // from the integer LCG (same arithmetic as the oracle SQL) and shipped
      // as a 64-double literal — the projection is then one native
      // dot_product per plane instead of a per-element lambda chain
      val planeBits = (0 until nPlanes).map { k =>
        val weights = (0 until 64).map(i =>
          ((1103515245L * (k * 64L + i) + 12345L) % 65536L - 32768L).toDouble)
        val dotK = dot(col("v"), typedlit(weights))
        when(dotK >= 0, lit(1L) * (1L << k)).otherwise(0L)
      }
      val bucketed = v.withColumn("bucket", planeBits.reduce(_ + _))
      val a = bucketed.select(col("bucket"), col("vec_id").as("va"),
        col("v").as("xa"), col("nrm").as("na"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("vb"),
        col("v").as("xb"), col("nrm").as("nb"))
      a.join(b, Seq("bucket"))
        .filter(col("va") < col("vb"))
        .select(col("bucket"), col("va"), col("vb"),
          round(dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
            .as("cos_r"))
        .filter(col("cos_r") >= 0.3)
        .orderBy("va", "vb")
    }),

    // ---- embedding-cosine near-dup dedup: the LSH candidate generator
    // (6 planes → 64 buckets) feeding a within-bucket cosine threshold,
    // then a dedup DECISION — every vector keeps its lowest-id near
    // neighbor (the retained representative), i.e. the "drop near-dups,
    // keep first" policy of a training-corpus pipeline. Scale shape: one
    // shuffle on bucket (candidate generation is sublinear, never all
    // pairs), one aggregation keyed by the duplicate id.
    "q_embedding_neardup" -> ((s, d) => {
      val v = vecs(s, d)
      val planeBits = (0 until 6).map { k =>
        val weights = (0 until 64).map(i =>
          ((1103515245L * (k * 64L + i) + 12345L) % 65536L - 32768L).toDouble)
        when(dot(col("v"), typedlit(weights)) >= 0, lit(1L) * (1L << k))
          .otherwise(0L)
      }
      val bucketed = v.withColumn("bucket", planeBits.reduce(_ + _))
      val a = bucketed.select(col("bucket"), col("vec_id").as("va"),
        col("v").as("xa"), col("nrm").as("na"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("vb"),
        col("v").as("xb"), col("nrm").as("nb"))
      val sims = a.join(b, Seq("bucket"))
        .filter(col("va") < col("vb"))
        .select(col("va"), col("vb"),
          round(dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
            .as("cos_r"))
        .filter(col("cos_r") >= 0.3)
      sims.groupBy(col("vb").as("dup_id"))
        .agg(min(struct(col("va"), col("cos_r"))).as("m"))
        .select(col("dup_id"), col("m.va").as("kept_id"),
          col("m.cos_r").as("cos_r"))
        .orderBy("dup_id")
    }),

    // ---- trained IVF: deterministic k-means (operators.KMeans) centroids
    // as the partition key — the real index-build path. The fixed 2-round
    // Lloyd loop unrolls as chained CTEs in the oracle (seeds → assign →
    // mean → assign → mean → final assign), same pattern as the PageRank
    // oracle.
    "q_kmeans_assign" -> ((s, d) => {
      val v = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      graft.operators.KMeans.fit(v, k = 8, iters = 2)._2
        .orderBy("id")
    }),

    // ---- SemDeDup (semantic dedup, Abbas et al. 2023 shape): k-means
    // partitions the embedding space, then near-duplicate pruning runs
    // ONLY within each cluster — a vector is dropped when an earlier
    // (lower-id) vector in the same cluster has cosine ≥ 0.35 with it.
    // Output: one row per dropped vector with its keeper and the max
    // qualifying cosine. Scale shape: this is THE trick that makes
    // embedding dedup tractable at 100 TB — pairwise work is O(Σ|c_i|²)
    // with k chosen so clusters are bounded (k ~ N/10⁴), not O(N²); the
    // cluster id is the shuffle key, vectors never compare across
    // clusters, and the k×dim centroid matrix is the only global state
    // (broadcast as plan literals by operators.KMeans).
    "q_semdedup" -> ((s, d) => {
      val v = vecs(s, d)
      val assign = graft.operators.KMeans
        .fit(v.select(col("vec_id").as("id"), col("v")), k = 8, iters = 2)
        ._2.select(col("id"), col("cluster"))
      val withC = graft.CacheScope.cached(
        v.join(assign, col("vec_id") === col("id"))
          .select(col("vec_id"), col("cluster"), col("v"), col("nrm")))
      val a = withC.toDF("va", "cluster", "xa", "na")
      val b = withC.toDF("vb", "cluster", "xb", "nb")
      a.join(b, Seq("cluster"))
        .filter(col("va") < col("vb"))
        .select(col("cluster"), col("vb"), col("va"),
          round(dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
            .as("cos_r"))
        .filter(col("cos_r") >= 0.35)
        .groupBy(col("vb").as("vec_id"), col("cluster"))
        .agg(min("va").as("dup_of"), max("cos_r").as("max_cos"))
        .select("vec_id", "cluster", "dup_of", "max_cos")
        .orderBy("vec_id")
    }),

    // ---- simplified silhouette (centroid form) of the k-means
    // clustering — the cluster-quality score that tells a curation
    // pipeline whether its SemDeDup partitioning is real structure or
    // noise: per vector s = 1 − dist(x, own centroid)/dist(x, second
    // centroid) ∈ [0, 1], reported as the per-cluster mean. The classic
    // silhouette needs all pairwise distances (O(N²)); the centroid
    // form needs only the k distances the assignment already computes —
    // THE version that exists at 100 TB. Float discipline: per-vector s
    // rounds to 6 dp (micro-units, exact integer sum under any
    // partition order); distances clamp at 0 before sqrt (the ‖x‖²
    // expansion can go −1e-15 in floats). Scale shape: one narrow pass
    // over vectors with the k×dim centroid matrix as plan literals,
    // then a k-row aggregate — nothing else moves.
    "q_silhouette" -> ((s, d) => {
      val v = Tables.embeddings(s, d)
        .transform(Tables.fanoutReady)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val (model, _) = graft.operators.KMeans.fit(v, k = 8, iters = 2)
      if (model.centroids.isEmpty)
        v.select(lit(0).cast("int").as("cluster"), lit(0L).as("n"),
          lit(0.0).as("mean_sil")).limit(0)
      else {
        val x2 = dot(col("v"), col("v"))
        val scored = model.centroids.zipWithIndex.map { case (c, j) =>
          val c2 = c.map(x => x * x).sum
          struct(
            (lit(c2) - lit(2.0) * dot(col("v"), typedlit(c.toSeq)) + x2)
              .as("d"),
            lit(j).as("j"))
        }
        val arr = array(scored.toIndexedSeq: _*)
        val best = array_min(arr)
        val second = array_min(filter(arr,
          e => e.getField("j") =!= best.getField("j")))
        val da = greatest(best.getField("d"), lit(0.0))
        val db = greatest(second.getField("d"), lit(0.0))
        val sil = when(db <= 0.0, lit(0.0))
          .otherwise(lit(1.0) - sqrt(da / db))
        v.select(best.getField("j").as("cluster"),
            round(sil * 1e6).cast("long").as("s6"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"),
            round(sum("s6").cast("double") / count(lit(1)) / 1e6, 4)
              .as("mean_sil"))
          .orderBy("cluster")
      }
    }),

    // ---- product quantization (PQ) encode: the vector-compression step
    // of a billion-scale ANN index (IVF-PQ). The 64-dim space splits into
    // 8 subspaces × 8 dims; each subvector is assigned to its nearest of
    // 8 codebook entries by L2² — 8 codes ≈ 8 bytes per vector versus
    // 256 bytes of float32. Codebook entries here are the subvectors of
    // vec_id 0..7 (a deterministic training sample; a real build would
    // k-means each subspace — operators.KMeans covers that path). Scale
    // shape: the codebook is 8 subspaces × 8 codes × 8 dims = tiny →
    // broadcast; the corpus side is one posexplode + one hash-aggregate
    // keyed (vec_id, sub, code), partials map-side. d2 rounds to 6 dp
    // BEFORE the argmin so cross-engine summation order can't flip ranks.
    "q_pq_encode" -> ((s, d) => {
      val flat = Tables.embeddings(s, d)
        .transform(Tables.fanoutReady)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), (col("i") / 8).cast("int").as("sub"),
          col("i"), col("x").cast("double").as("x"))
      val codebook = flat.filter(col("vec_id") < 8)
        .select(col("vec_id").as("code"), col("sub"), col("i"),
          col("x").as("cx"))
      val dist = flat.join(broadcast(codebook), Seq("sub", "i"))
        .groupBy("vec_id", "sub", "code")
        .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6)
          .as("d2"))
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2").asc, col("code").asc)
      dist.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("code"), col("d2"))
        .orderBy("vec_id", "sub")
    }),

    // ---- PQ asymmetric-distance (ADC) top-k: the SEARCH half of the
    // IVF-PQ index. Each query vector precomputes its distance to every
    // codebook entry (13 queries × 8 subspaces × 8 codes = a few hundred
    // rows → broadcast); a compressed corpus vector's approximate distance
    // is then the SUM of 8 table lookups — the scan touches only the
    // 8-byte PQ codes, never the float vectors. Top-5 per query by the
    // rounded approximate distance (ties → vec_id). This is the plan
    // shape that searches a billion vectors: broadcast distance tables,
    // map-side lookup-sum, TakeOrdered per query.
    "q_pq_adc" -> ((s, d) => pqAdc(s, d)),

    // ---- ANN quality evaluation: recall@5 of the PQ-ADC search against
    // the brute-force ground truth, per query — the "measure, don't
    // guess" op every ANN index build needs before swapping it in for
    // exact search. The join is on (query, neighbor) pairs: 65 rows a
    // side at fixture scale, and at 100 TB still only |queries|×k —
    // evaluation cost never scales with the corpus.
    "q_ann_recall" -> ((s, d) => {
      val exact = knnBrute(s, d).select(col("q_id"), col("nb_id"))
      val approx = pqAdc(s, d)
        .select(col("q_id").as("aq"), col("nb_id").as("anb"))
      val hits = exact.join(approx,
          col("q_id") === col("aq") && col("nb_id") === col("anb"),
          "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      exact.select("q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / 5.0, 2).as("recall_at_5"))
        .orderBy("q_id")
    }),

    // ---- PQ design sweep: recall@5 of the ADC search at m ∈ {4, 8, 16}
    // subspaces against the brute-force ground truth — the
    // quality-vs-compression trade (m·log2(codes) bits per vector)
    // measured in ONE query before committing an index build to a
    // configuration. The corpus flattening and the exact ground truth
    // are computed once and shared by all three arms (CacheScope);
    // each arm is the q_pq_adc plan shape (broadcast codebook +
    // distance tables, map-side lookup-sum), so the sweep costs ~3×
    // one search evaluation, never 3× the corpus.
    "q_pq_sweep" -> ((s, d) => pqSweep(s, d)),

    // ---- IVF-style coarse quantization: per-label centroids, assign each
    // vector to nearest centroid by L2²  (rounded; ties → lowest label)
    "q_ivf_assign" -> ((s, d) => {
      // r14: clustered by vec_id so the distance agg + rank window share
      // one exchange (§2.4); cached — it feeds the centroid broadcast
      // build AND the distance pass (two consumers, was re-exploded)
      val flat = graft.CacheScope.cached(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")))
        .toDF("vec_id", "label", "i", "x")
        .withColumn("x", col("x").cast("double"))
        .repartition(col("vec_id")))
      val centroids = flat.groupBy(col("label").as("c_label"), col("i"))
        .agg(avg("x").as("cx"))
      val dist = flat.join(broadcast(centroids), Seq("i"))
        .groupBy("vec_id", "c_label")
        .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6)
          .as("d2"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("d2").asc, col("c_label").asc)
      dist.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("nearest"), col("d2"))
        .orderBy("vec_id")
    }),

    // ---- the COMBINED IVF-PQ search path — what a billion-scale ANN
    // index actually executes per query: (1) coarse-quantize every
    // corpus vector to its nearest centroid cell (the inverted lists);
    // (2) probe only the query's nprobe=3 nearest cells; (3) rank the
    // candidates by PQ asymmetric distance (8 table lookups per
    // candidate), top-5. q_ivf_assign and q_pq_adc are the two halves
    // benchmarked alone; this is their composition, and the scale claim
    // is the product of theirs: ADC work per query drops from O(N) to
    // O(N · nprobe/k), candidates come from an equi-join on the cell id,
    // centroid matrix + codebook + distance tables all broadcast.
    "q_ivfpq_search" -> ((s, d) => ivfpqTop(s, d)),

    // ---- NDCG@5 of the combined path: recall treats every true top-5
    // neighbor as equally valuable; NDCG grades each RETURNED neighbor by
    // its true cosine and discounts by rank, so "found the 6th-best
    // instead of the 5th" costs almost nothing while "returned junk at
    // rank 1" costs a lot — the ranking-quality lens on the same index.
    // Exactness: each rank term rounds to nano-units BEFORE the per-query
    // sum (integer addition), and the scale factor cancels in the final
    // DCG/IDCG ratio.
    "q_ndcg" -> ((s, d) => {
      val all = vecs(s, d)
      val q = all.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val scored = graft.CacheScope.cached(
        all.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("nb_id"),
            round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
              .as("cos_r")))
      val rel = greatest(col("cos_r"), lit(0.0))
      def dcgTerm(rank: org.apache.spark.sql.Column) =
        round(rel / log2(rank + 1) * 1e9).cast("long")
      val da = ivfpqTop(s, d).select("q_id", "nb_id", "rank")
        .join(scored, Seq("q_id", "nb_id"))
        .select(col("q_id"), dcgTerm(col("rank")).as("t"))
        .groupBy("q_id").agg(sum("t").as("dcg"))
      val wi = Window.partitionBy("q_id")
        .orderBy(col("cos_r").desc, col("nb_id").asc)
      val di = scored.withColumn("rank", row_number().over(wi))
        .filter(col("rank") <= 5)
        .select(col("q_id"), dcgTerm(col("rank")).as("t"))
        .groupBy("q_id").agg(sum("t").as("idcg"))
      di.join(da, Seq("q_id"), "left")
        .select(col("q_id"),
          when(col("idcg") > 0, round(
            coalesce(col("dcg"), lit(0L)).cast("double") / col("idcg"), 6))
            .otherwise(0.0).as("ndcg_at_5"))
        .orderBy("q_id")
    }),

    // ---- recall@5 of the COMBINED path against brute-force ground truth.
    // q_ann_recall isolates the PQ quantization loss (ADC over ALL
    // vectors); this adds the coarse-probing loss (nprobe=3 of 10 cells)
    // on top — the two numbers bracket the index's accuracy budget, the
    // eval a team runs before picking nprobe at production scale.
    "q_ivfpq_recall" -> ((s, d) => {
      val exact = knnBrute(s, d).select(col("q_id"), col("nb_id"))
      val approx = ivfpqTop(s, d)
        .select(col("q_id").as("aq"), col("nb_id").as("anb"))
      val hits = exact.join(approx,
          col("q_id") === col("aq") && col("nb_id") === col("anb"),
          "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      exact.select("q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)) / 5.0, 2).as("recall_at_5"))
        .orderBy("q_id")
    }),

    // ---- shortlist-then-refine: the production IVF-PQ serving shape
    // (FAISS's refine stage) — ADC is cheap but lossy, so the index
    // returns a WIDER shortlist (top-20 by asymmetric distance) and the
    // final ranking re-scores just those candidates with exact
    // distances against the raw vectors. Cost: panel × 20 exact
    // distances instead of panel × corpus — the refine frame is
    // bounded, the corpus is touched only by the keyed flat join that
    // fetches the 20 candidates' components. This is the operator that
    // closes the recall gap q_ivfpq_recall measures without giving up
    // the ADC scan savings.
    "q_ivfpq_refine" -> ((s, d) => {
      val short = ivfpqTop(s, d, 20).select("q_id", "nb_id")
        .localCheckpoint(true) // bounded panel×20 frame
      val fl = Tables.embeddings(s, d)
        .transform(Tables.fanoutReady)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "i", "x")
        .select(col("vec_id"), col("i"), col("x").cast("double").as("x"))
      val ex = short
        .join(fl.toDF("q_id", "i", "qx"), Seq("q_id"))
        .join(fl.toDF("nb_id", "i", "nx"), Seq("nb_id", "i"))
        .groupBy("q_id", "nb_id")
        .agg(round(sum((col("qx") - col("nx")) * (col("qx") - col("nx"))),
          6).as("d2_r"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("d2_r").asc, col("nb_id").asc)
      ex.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("q_id", "nb_id", "rank", "d2_r")
        .orderBy("q_id", "rank")
    }),

    // ---- hard-negative mining for contrastive training: per frozen-
    // panel query, the single most-similar SAME-label vector (the
    // positive) and the three most-similar DIFFERENT-label vectors (the
    // hard negatives) — the triplet/InfoNCE batch construction step of
    // an embedding-training pipeline, where random negatives are too
    // easy to teach anything and the near-boundary ones carry the
    // gradient. Panel-broadcast scoring (never all-pairs); one keyed
    // window partitioned by (query, same-label side).
    "q_contrastive_pairs" -> ((s, d) => {
      val all = vecs(s, d)
      val q = all.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nb_id"),
          (col("label") === col("q_label")).as("same"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
            .as("cos_r"))
      val w = Window.partitionBy("q_id", "same")
        .orderBy(col("cos_r").desc, col("nb_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter((col("same") && col("rank") <= 1) ||
          (!col("same") && col("rank") <= 3))
        .select(col("q_id"),
          when(col("same"), lit("pos")).otherwise(lit("neg")).as("kind"),
          col("rank"), col("nb_id"), col("cos_r"))
        .orderBy(col("q_id"), col("kind").desc, col("rank"))
    }),

    // ---- MAP@5 + MRR of the IVF-PQ path against the brute-force truth —
    // the rank-POSITION-sensitive half of the retrieval scorecard
    // (q_ivfpq_recall counts hits anywhere in the top-5; MAP/MRR pay for
    // WHERE they land; q_ndcg grades by relevance). Exactness: each
    // query's average-precision terms (cum_rel/rank) and reciprocal rank
    // round to micro-units per ROW, so every sum is an integer under any
    // partition order; only the final corpus means divide. Scale shape:
    // both frames are the already-bucketed index paths (≤5 rows per
    // query), joined keyed on (q_id, nb_id); nothing quadratic.
    "q_ir_metrics" -> ((s, d) => {
      val rel = knnBrute(s, d).select(col("q_id"), col("nb_id"))
        .withColumn("is_rel", lit(1L))
      val app = ivfpqTop(s, d).select("q_id", "nb_id", "rank")
      val w = Window.partitionBy("q_id").orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
      val per = app.join(rel, Seq("q_id", "nb_id"), "left")
        .na.fill(0L, Seq("is_rel"))
        .withColumn("cum_rel", sum("is_rel").over(w))
        .groupBy("q_id")
        .agg(sum(when(col("is_rel") === 1L,
            round(col("cum_rel").cast("double") * 1e6 / col("rank"))
              .cast("long")).otherwise(0L)).as("ap6num"),
          min(when(col("is_rel") === 1L, col("rank"))).as("minr"))
      rel.select("q_id").distinct()
        .join(per, Seq("q_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          round(sum(coalesce(col("ap6num"), lit(0L))).cast("double") /
            (count(lit(1)) * 5.0) / 1e6, 6).as("map_at_5"),
          round(sum(coalesce(round(lit(1e6) / col("minr")).cast("long"),
            lit(0L))).cast("double") / count(lit(1)) / 1e6, 6).as("mrr"))
    }),

    // ---- MMR diversity re-ranking (Carbonell–Goldstein 1998, λ = 0.7):
    // greedy-select 3 of each query's top-8 cosine candidates, each pick
    // maximizing λ·rel − (1−λ)·max-sim-to-already-selected — the
    // redundancy suppressor between retrieval and the context window.
    // Candidate generation is the documented brute baseline (the LSH/IVF
    // paths are the scale route); after it, every frame is ≤8 rows per
    // query and every join is keyed on (q_id, vec_id). Rel and pair sims
    // round to 6 dp BEFORE any argmax (the q_knn_brute discipline) so
    // rank ties break identically in both engines; the two greedy rounds
    // unroll (fixed k keeps the oracle plain CTEs).
    "q_mmr" -> ((s, d) => {
      val all = vecs(s, d)
      val q = all.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nb_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
            .as("rel"), col("v"), col("nrm"))
      val wq = Window.partitionBy("q_id")
        .orderBy(col("rel").desc, col("nb_id").asc)
      val cands = graft.CacheScope.cached(
        scored.withColumn("rnk", row_number().over(wq))
          .filter(col("rnk") <= 8))
      val sims = graft.CacheScope.cached(cands
        .select(col("q_id"), col("nb_id").as("ia"), col("v").as("va"),
          col("nrm").as("na"))
        .join(cands.select(col("q_id"), col("nb_id").as("ib"),
          col("v").as("vb"), col("nrm").as("nb")), Seq("q_id"))
        .filter(col("ia") =!= col("ib"))
        .select(col("q_id"), col("ia"), col("ib"),
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("sim")))
      val slim = cands.select("q_id", "nb_id", "rel")
      var sel = cands.filter(col("rnk") === 1)
        .select(col("q_id"), col("nb_id"), lit(1).as("mmr_rank"),
          col("rel").as("score"))
      for (r <- 2 to 3) {
        val rem = slim.join(sel.select(col("q_id").as("aq"),
            col("nb_id").as("sid")),
          col("q_id") === col("aq") && col("nb_id") === col("sid"),
          "left_anti")
        val ms = sims.join(sel.select(col("q_id").as("sq"),
            col("nb_id").as("sid")),
            col("q_id") === col("sq") && col("ib") === col("sid"))
          .groupBy(col("q_id"), col("ia").as("nb_id"))
          .agg(max("sim").as("maxsim"))
        val wr = Window.partitionBy("q_id")
          .orderBy(col("score_i").desc, col("nb_id").asc)
        // micro-unit integer score (round(x,6) sits Spark's BigDecimal
        // HALF_UP against DuckDB's FP rounding at .5e-6 boundaries —
        // round(x*1e6)→BIGINT is computed identically by both)
        val pick = rem.join(ms, Seq("q_id", "nb_id"))
          .select(col("q_id"), col("nb_id"),
            round((lit(0.7) * col("rel") - lit(0.3) * col("maxsim")) * 1e6)
              .cast("long").as("score_i"))
          .withColumn("prnk", row_number().over(wr))
          .filter(col("prnk") === 1)
          .select(col("q_id"), col("nb_id"), lit(r).as("mmr_rank"),
            (col("score_i").cast("double") / 1e6).as("score"))
        sel = sel.unionByName(pick).localCheckpoint(true)
      }
      sel.orderBy("q_id", "mmr_rank")
    })
  )

  /** Bench-only production forms of the two exact verifiers (VERDICT r9
    * "Next round" #3/#5). The gate queries stay exact — q_cosine_pairs IS
    * the all-pairs ground truth and q_semdedup's cluster-local pruning is
    * the oracle-checked semantics — but at 100 TB both are the cost their
    * production twins exist to avoid: together they were ~39% of the 30×
    * sweep wall (q_cosine_pairs e_cpu 1.95 = 194 s, q_semdedup 1.58 =
    * 63 s). These forms keep the IDENTICAL thresholds and output shape and
    * bound the pairwise work with the same integer-threshold capacity
    * ladder q_ann_lsh uses (one hyperplane per corpus doubling above 2000
    * vectors — constant per-bucket occupancy, so Σ|bucket|² is ~linear):
    *  - q_cosine_pairs: random-hyperplane buckets gate candidate
    *    generation; below the first rung (every driver-gate SF, ≤ 2000
    *    vectors) the EXACT form runs unchanged, so the driver bench times
    *    the same query the oracle verifies.
    *  - q_semdedup: the coarse k=8 k-means partitioning stays (the
    *    laddered-k production form — capacity grows by sub-bucketing each
    *    cluster on hyperplane bits rather than re-fitting an enormous k,
    *    keeping the centroid matrix a bounded plan literal); 0 extra bits
    *    at gate SFs → byte-identical to the exact form there.
    * Bench times `queries ++ benchForm` (same keys, so the bench row
    * prices the production path); Verify and the DuckDB hash gate run
    * `queries` unchanged.
    */
  val benchForm: Map[String, Q] = Map(
    // q_lof's production shape (round-11 sweep: the exact all-pairs kNN
    // base is the last un-priced quadratic — 43 s cold at 10× vs 1.4 s
    // for this form). Hyperplane-bucketed candidates (plane count
    // ladders with corpus size, +32 plane-index offset so projections
    // are independent of the q_ann_lsh / q_semdedup families); the
    // k-distance → reachability → LRD chain downstream is IDENTICAL to
    // the gate query — only the candidate generation changes, exactly
    // the documented 100 TB path in q_lof's Scaladoc.
    "q_lof" -> ((s, d) => {
      val v = graft.CacheScope.cached(vecs(s, d))
      val nVec = v.count() // bounded driver action (1 long), as in q_ann_lsh
      val nPlanes = Seq(2000L, 4000L, 8000L, 16000L, 32000L, 64000L,
        128000L, 256000L).count(nVec > _)
      if (nPlanes == 0) queries("q_lof")(s, d)
      else {
        val planeBits = (0 until nPlanes).map { k =>
          val weights = (0 until 64).map(i =>
            ((1103515245L * ((k + 32) * 64L + i) + 12345L) % 65536L
              - 32768L).toDouble)
          when(dot(col("v"), typedlit(weights)) >= 0, lit(1L) * (1L << k))
            .otherwise(0L)
        }
        val emb = graft.CacheScope.cached(
          v.withColumn("bucket", planeBits.reduce(_ + _))
            .select(col("vec_id"), col("v"), col("bucket")))
        def d2m(a: Column, b: Column) =
          graft.functions.Dist2Pico.col(a, b)
        val pairs = emb.toDF("a", "va", "bucket")
          .join(emb.toDF("b", "vb", "bucket"), Seq("bucket"))
          .filter(col("a") =!= col("b"))
          .select(col("a"), col("b"),
            round(sqrt(d2m(col("va"), col("vb")).cast("double") /
              lit(1e12)) * lit(1e6)).cast("long").as("du"))
        val w = Window.partitionBy("a").orderBy(col("du").asc, col("b").asc)
        val knn = graft.CacheScope.cached(pairs
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5).select("a", "b", "du"))
        val kd = knn.groupBy(col("a").as("b")).agg(max("du").as("kdist"))
        val reach = knn.join(kd, "b")
          .select(col("a"), col("b"),
            greatest(col("kdist"), col("du")).as("r"))
        val ra = reach.groupBy("a")
          .agg(sum("r").as("ra"), count(lit(1)).as("kn"))
        val recip = ra.select(col("a").as("b"),
          when(col("ra") > 0, round(lit(1e12) / col("ra")).cast("long"))
            .as("cb"))
        val sc = knn.join(recip, "b").groupBy("a").agg(sum("cb").as("sc"))
        ra.join(sc, "a")
          .select(col("a").as("vec_id"),
            round(col("ra").cast("double") / col("kn") *
              (col("sc").cast("double") / lit(1e12)), 4).as("lof"))
          .orderBy(col("lof").desc, col("vec_id").asc).limit(20)
      }
    }),
    "q_cosine_pairs" -> ((s, d) => {
      val v = graft.CacheScope.cached(vecs(s, d))
      val nVec = v.count() // bounded driver action (1 long), as in q_ann_lsh
      val nPlanes = Seq(2000L, 4000L, 8000L, 16000L, 32000L, 64000L,
        128000L, 256000L).count(nVec > _)
      if (nPlanes == 0) queries("q_cosine_pairs")(s, d)
      else {
        val planeBits = (0 until nPlanes).map { k =>
          val weights = (0 until 64).map(i =>
            ((1103515245L * (k * 64L + i) + 12345L) % 65536L - 32768L).toDouble)
          when(dot(col("v"), typedlit(weights)) >= 0, lit(1L) * (1L << k))
            .otherwise(0L)
        }
        val bucketed = v.withColumn("bucket", planeBits.reduce(_ + _))
        val a = bucketed.select(col("bucket"), col("vec_id").as("va"),
          col("v").as("xa"), col("nrm").as("na"))
        val b = bucketed.select(col("bucket"), col("vec_id").as("vb"),
          col("v").as("xb"), col("nrm").as("nb"))
        a.join(b, Seq("bucket"))
          .filter(col("va") < col("vb"))
          .select(col("va"), col("vb"),
            round(dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
              .as("cos_r"))
          .filter(col("cos_r") >= 0.4)
          .orderBy("va", "vb")
      }
    }),
    "q_semdedup" -> ((s, d) => {
      val v = graft.CacheScope.cached(vecs(s, d))
      val nVec = v.count()
      val nSub = Seq(2000L, 4000L, 8000L, 16000L, 32000L, 64000L,
        128000L, 256000L).count(nVec > _)
      val assign = graft.operators.KMeans
        .fit(v.select(col("vec_id").as("id"), col("v")), k = 8, iters = 2)
        ._2.select(col("id"), col("cluster"))
      // sub-bucket bits use a +16 plane-index offset so the projections
      // are independent of the q_ann_lsh / q_cosine_pairs planes
      val subBits = (0 until nSub).map { k =>
        val weights = (0 until 64).map(i =>
          ((1103515245L * ((k + 16) * 64L + i) + 12345L) % 65536L - 32768L)
            .toDouble)
        when(dot(col("v"), typedlit(weights)) >= 0, lit(1L) * (1L << k))
          .otherwise(0L)
      }
      val withC = graft.CacheScope.cached(
        v.join(assign, col("vec_id") === col("id"))
          .withColumn("ckey", col("cluster").cast("long") * (1L << nSub) +
            subBits.reduceOption[Column](_ + _).getOrElse(lit(0L)))
          .select(col("vec_id"), col("cluster"), col("ckey"), col("v"),
            col("nrm")))
      val a = withC.select(col("ckey"), col("vec_id").as("va"),
        col("cluster").as("ca"), col("v").as("xa"), col("nrm").as("na"))
      val b = withC.select(col("ckey"), col("vec_id").as("vb"),
        col("v").as("xb"), col("nrm").as("nb"))
      a.join(b, Seq("ckey"))
        .filter(col("va") < col("vb"))
        .select(col("ca").as("cluster"), col("vb"), col("va"),
          round(dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
            .as("cos_r"))
        .filter(col("cos_r") >= 0.35)
        .groupBy(col("vb").as("vec_id"), col("cluster"))
        .agg(min("va").as("dup_of"), max("cos_r").as("max_cos"))
        .select("vec_id", "cluster", "dup_of", "max_cos")
        .orderBy("vec_id")
    }))

  /** Combined IVF-PQ top-k by ADC — shared by q_ivfpq_search /
    * q_ivfpq_recall (k=5) and the q_ivfpq_refine shortlist (k=20).
    *
    * r14 (guide §2.4 "share one exchange"): the cached exploded frame is
    * hash-clustered by vec_id (instead of fanoutReady's round-robin), so
    * every downstream vec-keyed aggregate and window — the coarse
    * distance agg + rank, the PQ code agg + rank, the ADC candidate agg
    * — reuses that ONE exchange instead of inserting its own. Same
    * parallelism on a single-split fixture (hash over |V| ids spreads
    * across all shuffle partitions); per-group sums still combine the
    * same per-(key) terms. */
  private def ivfpqTop(s: SparkSession, d: String, k: Int = 5): DataFrame = {
      val fl = graft.CacheScope.cached(
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), posexplode(col("embedding")))
          .toDF("vec_id", "label", "i", "x")
          .withColumn("x", col("x").cast("double"))
          .repartition(col("vec_id")))
      // coarse layer: per-label centroids, every vector ranked by cell
      val centroids = fl.groupBy(col("label").as("c_label"), col("i"))
        .agg(avg("x").as("cx"))
      val d2a = fl.join(broadcast(centroids), Seq("i"))
        .groupBy("vec_id", "c_label")
        .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6)
          .as("d2"))
      val wv = Window.partitionBy("vec_id")
        .orderBy(col("d2").asc, col("c_label").asc)
      val ranked = graft.CacheScope.cached(
        d2a.withColumn("rn", row_number().over(wv)))
      val assign = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("c_label").as("cell"))
      val probes = ranked.filter(panelQuery(col("vec_id")) && col("rn") <= 3)
        .select(col("vec_id").as("q_id"), col("c_label").as("cell"))
      // PQ layer: identical rules to q_pq_encode / q_pq_adc
      val sflat = fl.select(col("vec_id"), (col("i") / 8).cast("int")
        .as("sub"), col("i"), col("x"))
      val codebook = sflat.filter(col("vec_id") < 8)
        .select(col("vec_id").as("code"), col("sub"), col("i"),
          col("x").as("cx"))
      val dist = sflat.join(broadcast(codebook), Seq("sub", "i"))
        .groupBy("vec_id", "sub", "code")
        .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6)
          .as("d2"))
      val wc = Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2").asc, col("code").asc)
      val codes = dist.withColumn("rn", row_number().over(wc))
        .filter(col("rn") === 1).select("vec_id", "sub", "code")
      val dtab = sflat.filter(panelQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("sub"), col("i"),
          col("x").as("qx"))
        .join(broadcast(codebook), Seq("sub", "i"))
        .groupBy("q_id", "sub", "code")
        .agg(round(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))), 6)
          .as("dq"))
      // search: candidates restricted to probed cells, then ADC rank
      val cand = assign.join(probes, Seq("cell")).select("q_id", "vec_id")
      val adc = codes.join(cand, Seq("vec_id"))
        .join(broadcast(dtab), Seq("q_id", "sub", "code"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(round(sum("dq"), 6).as("adist"))
      val wq = Window.partitionBy("q_id")
        .orderBy(col("adist").asc, col("vec_id").asc)
      adc.withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("vec_id").as("nb_id"), col("rank"),
          col("adist"))
        .orderBy("q_id", "rank")
  }

  /** PQ asymmetric-distance top-5 — shared by q_pq_adc and q_ann_recall. */
  private def pqAdc(s: SparkSession, d: String): DataFrame = {
    // r13: cached — `flat` feeds the codebook (broadcast-built twice),
    // the corpus-code pass and the query distance tables; un-cached the
    // explode pipeline re-ran ~5x per call (each broadcast build is its
    // own job re-executing the subtree).
    // r14: hash-clustered by vec_id (not round-robin) so the code agg,
    // the code-rank window and the ADC agg reuse ONE exchange (§2.4)
    val flat = graft.CacheScope.cached(Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), (col("i") / 8).cast("int").as("sub"),
        col("i"), col("x").cast("double").as("x"))
      .repartition(col("vec_id")))
    val codebook = flat.filter(col("vec_id") < 8)
      .select(col("vec_id").as("code"), col("sub"), col("i"),
        col("x").as("cx"))
    // corpus → PQ codes (same assignment rule as q_pq_encode)
    val dist = flat.join(broadcast(codebook), Seq("sub", "i"))
      .groupBy("vec_id", "sub", "code")
      .agg(round(sum((col("x") - col("cx")) * (col("x") - col("cx"))), 6)
        .as("d2"))
    val wc = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2").asc, col("code").asc)
    val codes = dist.withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1).select("vec_id", "sub", "code")
    // query-side distance tables: query × (sub, code) → partial distance
    val dtab = flat.filter(panelQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("sub"), col("i"),
        col("x").as("qx"))
      .join(broadcast(codebook), Seq("sub", "i"))
      .groupBy("q_id", "sub", "code")
      .agg(round(sum((col("qx") - col("cx")) * (col("qx") - col("cx"))), 6)
        .as("dq"))
    // ADC: sum the 8 lookups per (query, vector), rank top-5
    val adc = codes.join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(round(sum("dq"), 6).as("adist"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("nb_id"), col("rank"),
        col("adist"))
      .orderBy("q_id", "rank")
  }

  /** PQ recall sweep over subspace counts — see the q_pq_sweep entry. */
  private def pqSweep(s: SparkSession, d: String): DataFrame = {
    // r14: hash-clustered by vec_id (not round-robin) — the d16 agg, the
    // fused arm agg and its rank window all reuse ONE exchange (§2.4)
    val flat = graft.CacheScope.cached(Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), col("x").cast("double").as("x"))
      .repartition(col("vec_id")))
    // The 4/8/16 subspace grids NEST: a 16-dim m=4 segment is four 4-dim
    // m=16 segments over the SAME 8 codebook rows. So the corpus pays ONE
    // distance pass, at the finest granularity, per (vector, 4-dim
    // sub-segment, code) — the two coarser arms re-aggregate this cached
    // 128-rows-per-vector frame instead of re-scanning the corpus
    // (VERDICT r8: q_pq_sweep re-trained its sub-codebooks per arm).
    // Micro-unit integer quantization (round(term*1e12)→BIGINT, the
    // q_coreset discipline) makes the re-aggregation exactly associative
    // in both engines; it also serves the query-side distance tables,
    // which are just the panel rows of the same frame.
    val cb = flat.filter(col("vec_id") < 8)
      .select(col("vec_id").as("code"), col("i"), col("x").as("cx"))
    // r14: d16 no longer needs its own cache — the arm fusion below makes
    // the windowed dmc frame its single consumer (dmc is the cached one)
    val d16 = flat.join(broadcast(cb), Seq("i"))
      .groupBy(col("vec_id"), (col("i") / 4).cast("int").as("s16"),
        col("code"))
      .agg(sum(round((col("x") - col("cx")) * (col("x") - col("cx"))
        * 1e12).cast("long")).as("d2i"))
    val exact = graft.CacheScope.cached(
      knnBrute(s, d).select(col("q_id"), col("nb_id")))
    val nq = exact.select("q_id").distinct()
      .agg(count(lit(1)).as("n_queries"))
    // r14 fusion (guide §2.4): the three m-arms each re-aggregated the
    // cached d16 frame and ran their own window + ADC join + counter
    // jobs (3 sequential chains). One frame tagged with `m` (an explode
    // over the cached d16 — tiny: |V|·16·8 rows ×3) runs the whole sweep
    // as ONE groupBy → window → ADC join → window → counter chain.
    // Per-arm sums are the same BIGINT pico-unit additions (associative),
    // tie-breaks are per-(m,…) partitions — identical winners per arm.
    val dm = d16.select(col("vec_id"), col("s16"), col("code"),
        col("d2i"), explode(array(lit(4), lit(8), lit(16))).as("m"))
      .groupBy(col("vec_id"), col("m"),
        (col("s16") / (lit(16) / col("m"))).cast("int").as("sub"),
        col("code"))
      .agg(sum("d2i").as("d2"))
    val wc = Window.partitionBy("vec_id", "m", "sub")
      .orderBy(col("d2").asc, col("code").asc)
    val dmc = graft.CacheScope.cached(
      dm.withColumn("rn", row_number().over(wc)))
    val codes = dmc.filter(col("rn") === 1)
      .select("vec_id", "m", "sub", "code")
    val dtab = dmc.filter(panelQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("m"), col("sub"), col("code"),
        col("d2").as("dq"))
    val adc = codes.join(broadcast(dtab), Seq("m", "sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("m", "q_id", "vec_id")
      .agg(sum("dq").as("adist"))
    val w = Window.partitionBy("m", "q_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    val top5 = adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("m"), col("q_id"), col("vec_id").as("nb_id"))
    // exact pairs are unique per query, so the inner join counts exactly
    // the per-arm semi-join hits of the unfused form
    val hits = top5.join(broadcast(exact), Seq("q_id", "nb_id"))
      .groupBy("m").agg(count(lit(1)).as("hits"))
    import s.implicits._
    Seq(4, 8, 16).toDF("m")
      .join(broadcast(hits), Seq("m"), "left").na.fill(0L, Seq("hits"))
      .crossJoin(broadcast(nq))
      .select(col("m"), col("n_queries"),
        // empty-corpus guard: ANSI division would throw on 0 queries
        when(col("n_queries") === 0, lit(null).cast("double"))
          .otherwise(round(col("hits").cast("double") /
            (col("n_queries") * 5).cast("double"), 4)).as("recall_at_5"))
      .orderBy("m")
  }

  /** Shared SQL scaffolding: flattened vectors + norms. */
  private val flatSql =
    """flat AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |norm AS (
      |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_coreset" -> {
      // one (qK, nK, dK, sK+1) block per greedy round: the picked
      // vector's 64 (i, x) rows FIRST as an explicit pre-filtered CTE
      // (left inline, DuckDB joined full pos x pos on i before the
      // 1-row pick filter: ~256M rows/round, 789 s at sf0.1; this form
      // is 0.5 s, values identical), then distance to the pick,
      // min-update, next argmax
      def round(k: Int): String =
        s"""q$k AS (SELECT q.i, q.x FROM pos q
           |  JOIN s$k ON q.vec_id = s$k.id),
           |n$k AS (
           |  SELECT p.vec_id, CAST(sum(CAST(round((p.x - q$k.x) *
           |    (p.x - q$k.x) * 1e12) AS BIGINT)) AS BIGINT) AS d
           |  FROM pos p JOIN q$k ON q$k.i = p.i GROUP BY 1),
           |d$k AS (SELECT d${k - 1}.vec_id, least(d${k - 1}.dm, n$k.d)
           |  AS dm FROM d${k - 1} JOIN n$k USING (vec_id)),
           |s${k + 1} AS (SELECT vec_id AS id, dm FROM d$k
           |  ORDER BY dm DESC, vec_id LIMIT 1)""".stripMargin
      s"""WITH pos AS MATERIALIZED (
         |  SELECT vec_id, CAST(i AS INTEGER) AS i,
         |    CAST(embedding[i] AS DOUBLE) AS x
         |  FROM (SELECT vec_id, embedding,
         |          generate_subscripts(embedding, 1) AS i FROM embeddings)),
         |s0 AS (SELECT min(vec_id) AS id FROM pos),
         |q0a AS (SELECT q.i, q.x FROM pos q JOIN s0 ON q.vec_id = s0.id),
         |d0 AS (
         |  SELECT p.vec_id, CAST(sum(CAST(round((p.x - q0a.x) *
         |    (p.x - q0a.x) * 1e12) AS BIGINT)) AS BIGINT) AS dm
         |  FROM pos p JOIN q0a ON q0a.i = p.i GROUP BY 1),
         |s1 AS (SELECT vec_id AS id, dm FROM d0
         |  ORDER BY dm DESC, vec_id LIMIT 1),
         |${Seq(1, 2).map(round).mkString(",\n")}
         |SELECT CAST(0 AS INTEGER) AS rank, s0.id AS vec_id,
         |  CAST(NULL AS DOUBLE) AS d2_at_pick FROM s0
         |UNION ALL SELECT 1, s1.id, round(s1.dm / 1e12, 6) FROM s1
         |UNION ALL SELECT 2, s2.id, round(s2.dm / 1e12, 6) FROM s2
         |UNION ALL SELECT 3, s3.id, round(s3.dm / 1e12, 6) FROM s3
         |ORDER BY rank""".stripMargin
    },
    "q_ivf_nprobe_sweep" -> {
      def armSql(p: Int): String =
        s"""probes$p AS (SELECT vec_id AS q_id, c_label AS cell
           |  FROM cranked
           |  WHERE vec_id % 40 = 0 AND vec_id < 2000 AND rn <= $p),
           |cand$p AS (
           |  SELECT pr.q_id, a.vec_id
           |  FROM assign a JOIN probes$p pr ON pr.cell = a.cell
           |  WHERE a.vec_id <> pr.q_id),
           |top$p AS (
           |  SELECT q_id, nb_id FROM (
           |    SELECT s.q_id, s.nb_id, row_number() OVER (
           |      PARTITION BY s.q_id
           |      ORDER BY s.cos_r DESC, s.nb_id ASC) AS rank
           |    FROM scored s JOIN cand$p c
           |      ON c.q_id = s.q_id AND c.vec_id = s.nb_id) t
           |  WHERE rank <= 5),
           |row$p AS (
           |  SELECT CAST($p AS BIGINT) AS nprobe,
           |    (SELECT CAST(count(DISTINCT q_id) AS BIGINT) FROM etop)
           |      AS n_queries,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand$p) AS n_cand,
           |    (SELECT CAST(count(*) AS BIGINT) FROM top$p t
           |     JOIN etop e ON e.q_id = t.q_id AND e.nb_id = t.nb_id)
           |      AS n_hits)""".stripMargin
      val rowSel =
        """SELECT nprobe, n_queries,
          |  round(CASE WHEN n_queries = 0 THEN NULL
          |    ELSE CAST(n_cand AS DOUBLE) / n_queries END, 2)
          |    AS avg_candidates,
          |  round(CASE WHEN n_queries = 0 THEN NULL
          |    ELSE CAST(n_hits AS DOUBLE) / (n_queries * 5) END, 6)
          |    AS recall_at_5""".stripMargin
      s"""WITH $flatSql,
         |cent AS (
         |  SELECT label AS c_label, i, avg(x) AS cx
         |  FROM flat GROUP BY 1, 2),
         |cdist AS (
         |  SELECT f.vec_id, c.c_label,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
         |  FROM flat f JOIN cent c ON c.i = f.i
         |  GROUP BY 1, 2),
         |cranked AS (
         |  SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, c_label ASC) AS rn
         |  FROM cdist),
         |assign AS (SELECT vec_id, c_label AS cell FROM cranked
         |           WHERE rn = 1),
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |etop AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5),
         |${armSql(1)},
         |${armSql(2)},
         |${armSql(3)}
         |$rowSel FROM row1
         |UNION ALL $rowSel FROM row2
         |UNION ALL $rowSel FROM row3
         |ORDER BY nprobe""".stripMargin
    },
    "q_lof" ->
      """WITH pos AS MATERIALIZED (
        |  SELECT vec_id, CAST(i AS INTEGER) AS i,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |pd AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    CAST(round(sqrt(CAST(sum(CAST(round((a.x - b.x) *
        |      (a.x - b.x) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) * 1e6)
        |      AS BIGINT) AS du
        |  FROM pos a JOIN pos b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |knn AS (
        |  SELECT a, b, du FROM (
        |    SELECT *, row_number() OVER (PARTITION BY a
        |      ORDER BY du ASC, b ASC) AS rk FROM pd) t
        |  WHERE rk <= 5),
        |kd AS (
        |  SELECT a AS b, CAST(max(du) AS BIGINT) AS kdist
        |  FROM knn GROUP BY 1),
        |reach AS (
        |  SELECT knn.a, knn.b, greatest(kd.kdist, knn.du) AS r
        |  FROM knn JOIN kd ON knn.b = kd.b),
        |ra AS (
        |  SELECT a, CAST(sum(r) AS BIGINT) AS ra,
        |    CAST(count(*) AS BIGINT) AS kn
        |  FROM reach GROUP BY 1),
        |recip AS (
        |  SELECT a AS b, CASE WHEN ra > 0
        |    THEN CAST(round(1e12 / ra) AS BIGINT) END AS cb
        |  FROM ra),
        |sc AS (
        |  SELECT knn.a, CAST(sum(cb) AS BIGINT) AS sc
        |  FROM knn JOIN recip ON knn.b = recip.b GROUP BY 1)
        |SELECT ra.a AS vec_id,
        |  round(CAST(ra.ra AS DOUBLE) / kn *
        |    (CAST(sc.sc AS DOUBLE) / 1e12), 4) AS lof
        |FROM ra JOIN sc ON ra.a = sc.a
        |ORDER BY lof DESC, vec_id ASC LIMIT 20""".stripMargin,
    "q_knn_brute" ->
      s"""WITH $flatSql,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id)
         |SELECT q_id, nb_id, rank, cos_r FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos_r DESC, nb_id ASC) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q_knn_classify" ->
      s"""WITH $flatSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |top AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5),
         |votes AS (
         |  SELECT t.q_id, lq.label AS true_label, ln.label AS nb_label,
         |    CAST(count(*) AS BIGINT) AS n_votes
         |  FROM top t JOIN lab lq ON lq.vec_id = t.q_id
         |  JOIN lab ln ON ln.vec_id = t.nb_id
         |  GROUP BY 1, 2, 3)
         |SELECT q_id, true_label, nb_label AS pred_label, n_votes,
         |  nb_label = true_label AS correct
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY n_votes DESC, nb_label ASC) AS vr
         |  FROM votes) v
         |WHERE vr = 1 ORDER BY q_id""".stripMargin,
    "q_mrl_recall" -> {
      def armSql(p: Int): String =
        s"""norm$p AS (
           |  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat
           |  WHERE i <= $p GROUP BY vec_id),
           |dots$p AS (
           |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
           |    sum(q.x * p.x) AS dt
           |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
           |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000 AND q.i <= $p
           |  GROUP BY 1, 2),
           |top$p AS (
           |  SELECT q_id, nb_id FROM (
           |    SELECT q_id, nb_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY round(dt / (nq.nrm * np.nrm), 6) DESC,
           |        nb_id ASC) AS rank
           |    FROM dots$p JOIN norm$p nq ON nq.vec_id = q_id
           |                JOIN norm$p np ON np.vec_id = nb_id) t
           |  WHERE rank <= 5)""".stripMargin
      val arms = Seq(8, 16, 32).map(armSql).mkString(",\n")
      val armRows = Seq(8, 16, 32).map { p =>
        s"""  SELECT $p AS prefix_dim, CAST(count(*) AS BIGINT) AS hits
           |  FROM top$p JOIN truth USING (q_id, nb_id)""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH $flatSql,
         |tdots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT q_id, nb_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(dt / (nq.nrm * np.nrm), 6) DESC,
         |        nb_id ASC) AS rank
         |    FROM tdots JOIN norm nq ON nq.vec_id = q_id
         |               JOIN norm np ON np.vec_id = nb_id) t
         |  WHERE rank <= 5),
         |$arms,
         |tt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_truth,
         |    CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries
         |  FROM truth),
         |arms AS (
         |$armRows)
         |SELECT prefix_dim, n_queries, n_truth, hits,
         |  round(CASE WHEN n_truth = 0 THEN NULL
         |    ELSE CAST(hits AS DOUBLE) / n_truth END, 6) AS recall
         |FROM arms CROSS JOIN tt ORDER BY prefix_dim""".stripMargin
    },
    "q_cosine_pairs" ->
      s"""WITH $flatSql,
         |dots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.x * b.x) AS dt
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2)
         |SELECT va, vb, round(dt / (na.nrm * nb.nrm), 6) AS cos_r
         |FROM dots JOIN norm na ON na.vec_id = va
         |          JOIN norm nb ON nb.vec_id = vb
         |WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.4
         |ORDER BY va, vb""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH $flatSql,
         |params AS (
         |  SELECT 4 + CAST(count(*) > 2000 AS INTEGER)
         |    + CAST(count(*) > 4000 AS INTEGER)
         |    + CAST(count(*) > 8000 AS INTEGER)
         |    + CAST(count(*) > 16000 AS INTEGER)
         |    + CAST(count(*) > 32000 AS INTEGER)
         |    + CAST(count(*) > 64000 AS INTEGER)
         |    + CAST(count(*) > 128000 AS INTEGER)
         |    + CAST(count(*) > 256000 AS INTEGER) AS np
         |  FROM embeddings),
         |plane_dots AS (
         |  SELECT f.vec_id, g.k,
         |    sum(f.x * CAST((1103515245 * (g.k * 64 + (f.i - 1)) + 12345)
         |        % 65536 - 32768 AS DOUBLE)) AS pd
         |  FROM flat f, generate_series(0, 11) g(k), params p
         |  WHERE g.k < p.np
         |  GROUP BY 1, 2),
         |buckets AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN pd >= 0
         |      THEN CAST(power(2, k) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS bucket
         |  FROM plane_dots GROUP BY vec_id),
         |dots AS (
         |  SELECT ba.bucket, a.vec_id AS va, b.vec_id AS vb,
         |    sum(a.x * b.x) AS dt
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
         |  JOIN buckets ba ON ba.vec_id = a.vec_id
         |  JOIN buckets bb ON bb.vec_id = b.vec_id AND bb.bucket = ba.bucket
         |  GROUP BY 1, 2, 3)
         |SELECT bucket, va, vb, round(dt / (na.nrm * nb.nrm), 6) AS cos_r
         |FROM dots JOIN norm na ON na.vec_id = va
         |          JOIN norm nb ON nb.vec_id = vb
         |WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.3
         |ORDER BY va, vb""".stripMargin,
    "q_embedding_neardup" ->
      s"""WITH $flatSql,
         |plane_dots AS (
         |  SELECT f.vec_id, k,
         |    sum(f.x * CAST((1103515245 * (k * 64 + (f.i - 1)) + 12345)
         |        % 65536 - 32768 AS DOUBLE)) AS pd
         |  FROM flat f, generate_series(0, 5) g(k)
         |  GROUP BY 1, 2),
         |buckets AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN pd >= 0
         |      THEN CAST(power(2, k) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS bucket
         |  FROM plane_dots GROUP BY vec_id),
         |dots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.x * b.x) AS dt
         |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
         |  JOIN buckets ba ON ba.vec_id = a.vec_id
         |  JOIN buckets bb ON bb.vec_id = b.vec_id AND bb.bucket = ba.bucket
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT va, vb, round(dt / (na.nrm * nb.nrm), 6) AS cos_r
         |  FROM dots JOIN norm na ON na.vec_id = va
         |            JOIN norm nb ON nb.vec_id = vb
         |  WHERE round(dt / (na.nrm * nb.nrm), 6) >= 0.3)
         |SELECT vb AS dup_id, va AS kept_id, cos_r FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vb
         |    ORDER BY va ASC, cos_r ASC) AS rn
         |  FROM sims) t
         |WHERE rn = 1 ORDER BY dup_id""".stripMargin,
    "q_pq_encode" ->
      """WITH flat AS (
        |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub, i,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |cb AS (SELECT vec_id AS code, sub, i, x AS cx
        |       FROM flat WHERE vec_id < 8),
        |dist AS (
        |  SELECT f.vec_id, f.sub, c.code,
        |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
        |  FROM flat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
        |  GROUP BY 1, 2, 3)
        |SELECT vec_id, sub, code, d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY d2 ASC, code ASC) AS rn
        |  FROM dist) t
        |WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,
    "q_ivf_assign" ->
      s"""WITH $flatSql,
         |centroids AS (
         |  SELECT label AS c_label, i, avg(x) AS cx
         |  FROM flat GROUP BY 1, 2),
         |dist AS (
         |  SELECT f.vec_id, c.c_label,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
         |  FROM flat f JOIN centroids c ON c.i = f.i
         |  GROUP BY 1, 2)
         |SELECT vec_id, c_label AS nearest, d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, c_label ASC) AS rn
         |  FROM dist) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // ADC extends q_pq_encode's CTEs: corpus PQ codes + query distance
    // tables (dq rounded to 6 dp like the Spark side), approximate
    // distance = sum of the 8 per-subspace lookups, top-5 per query with
    // the same (adist ASC, vec_id ASC) tie-break.
    "q_pq_adc" ->
      """WITH flat AS (
        |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub, i,
        |    CAST(embedding[i] AS DOUBLE) AS x
        |  FROM (SELECT vec_id, embedding,
        |          generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |cb AS (SELECT vec_id AS code, sub, i, x AS cx
        |       FROM flat WHERE vec_id < 8),
        |dist AS (
        |  SELECT f.vec_id, f.sub, c.code,
        |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
        |  FROM flat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY d2 ASC, code ASC) AS rn
        |    FROM dist) t
        |  WHERE rn = 1),
        |dtab AS (
        |  SELECT f.vec_id AS q_id, f.sub, c.code,
        |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS dq
        |  FROM flat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
        |  WHERE f.vec_id % 40 = 0 AND f.vec_id < 2000
        |  GROUP BY 1, 2, 3),
        |adc AS (
        |  SELECT d.q_id, k.vec_id, round(sum(d.dq), 6) AS adist
        |  FROM codes k JOIN dtab d ON d.sub = k.sub AND d.code = k.code
        |  WHERE k.vec_id <> d.q_id
        |  GROUP BY 1, 2)
        |SELECT q_id, vec_id AS nb_id, rank, adist FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY adist ASC, vec_id ASC) AS INTEGER) AS rank
        |  FROM adc) t
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // sweep = the q_pq_adc CTE chain instantiated per m ∈ {4, 8, 16}
    // against the q_knn_brute ground truth; recall = hits/(5·queries).
    "q_pq_sweep" -> {
      // mirrors the nested-subspace rewrite: ONE finest-granularity
      // integer distance frame (d16), re-aggregated per arm — BIGINT sums
      // are exactly associative, so the grouping order can't diverge
      val arms = Seq(4, 8, 16).map { m =>
        val g = 16 / m
        s"""dist$m AS (
           |  SELECT vec_id, CAST(s16 // $g AS INTEGER) AS sub, code,
           |    CAST(sum(d2i) AS BIGINT) AS d2
           |  FROM d16 GROUP BY 1, 2, 3),
           |codes$m AS (
           |  SELECT vec_id, sub, code FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
           |      ORDER BY d2 ASC, code ASC) AS rn FROM dist$m) t
           |  WHERE rn = 1),
           |dtab$m AS (
           |  SELECT vec_id AS q_id, sub, code, d2 AS dq FROM dist$m
           |  WHERE vec_id % 40 = 0 AND vec_id < 2000),
           |adc$m AS (
           |  SELECT d.q_id, k.vec_id, CAST(sum(d.dq) AS BIGINT) AS adist
           |  FROM codes$m k JOIN dtab$m d
           |    ON d.sub = k.sub AND d.code = k.code
           |  WHERE k.vec_id <> d.q_id GROUP BY 1, 2),
           |top$m AS (
           |  SELECT q_id, vec_id AS nb_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id
           |      ORDER BY adist ASC, vec_id ASC) AS rk FROM adc$m) t
           |  WHERE rk <= 5)""".stripMargin
      }.mkString(",\n")
      val unions = Seq(4, 8, 16).map { m =>
        s"""SELECT $m AS m,
           |  (SELECT CAST(count(DISTINCT q_id) AS BIGINT) FROM gt)
           |    AS n_queries,
           |  round(CAST((SELECT count(*) FROM gt g JOIN top$m t
           |      ON t.q_id = g.q_id AND t.nb_id = g.nb_id) AS DOUBLE) /
           |    CAST((SELECT count(DISTINCT q_id) FROM gt) * 5 AS DOUBLE), 4)
           |    AS recall_at_5""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $flatSql,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |gt AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS rank FROM scored) t
         |  WHERE rank <= 5),
         |cb AS (SELECT vec_id AS code, i, x AS cx FROM flat
         |  WHERE vec_id < 8),
         |d16 AS MATERIALIZED (
         |  SELECT f.vec_id, CAST((f.i - 1) // 4 AS INTEGER) AS s16, c.code,
         |    CAST(sum(CAST(round((f.x - c.cx) * (f.x - c.cx) * 1e12)
         |      AS BIGINT)) AS BIGINT) AS d2i
         |  FROM flat f JOIN cb c ON c.i = f.i GROUP BY 1, 2, 3),
         |$arms
         |$unions
         |ORDER BY m""".stripMargin
    },

    // combined IVF-PQ: the q_ivf_assign coarse CTEs (ranked, not just
    // rn=1 — probes take rn<=3) + the q_pq_adc PQ CTEs, with the ADC
    // restricted to candidates whose assigned cell is probed
    "q_ivfpq_search" ->
      s"""WITH $flatSql,
         |$ivfpqCtes
         |SELECT q_id, vec_id AS nb_id, rank, adist FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY adist ASC, vec_id ASC) AS INTEGER) AS rank
         |  FROM iadc) t
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // refine: the IVF-PQ CTEs widen to a top-20 ADC shortlist, then the
    // exact per-dimension distances re-rank just those candidates
    "q_ivfpq_refine" ->
      s"""WITH $flatSql,
         |$ivfpqCtes,
         |short AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adist ASC, vec_id ASC) AS rank
         |    FROM iadc) t
         |  WHERE rank <= 20),
         |ex AS (
         |  SELECT s.q_id, s.vec_id AS nb_id,
         |    round(sum((q.x - p.x) * (q.x - p.x)), 6) AS d2_r
         |  FROM short s
         |  JOIN flat q ON q.vec_id = s.q_id
         |  JOIN flat p ON p.vec_id = s.vec_id AND p.i = q.i
         |  GROUP BY 1, 2)
         |SELECT q_id, nb_id, rank, d2_r FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY d2_r ASC, nb_id ASC) AS INTEGER) AS rank
         |  FROM ex) t
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // contrastive mining: the knn scoring CTEs + label sides; one ranked
    // window per (query, same-label) side
    "q_contrastive_pairs" ->
      s"""WITH $flatSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.q_id, d.nb_id, lq.label = ln.label AS same,
         |    round(d.dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots d JOIN norm nq ON nq.vec_id = d.q_id
         |  JOIN norm np ON np.vec_id = d.nb_id
         |  JOIN lab lq ON lq.vec_id = d.q_id
         |  JOIN lab ln ON ln.vec_id = d.nb_id),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id, same
         |    ORDER BY cos_r DESC, nb_id ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT q_id, CASE WHEN same THEN 'pos' ELSE 'neg' END AS kind,
         |  rank, nb_id, cos_r
         |FROM rk
         |WHERE (same AND rank <= 1) OR (NOT same AND rank <= 3)
         |ORDER BY q_id, kind DESC, rank""".stripMargin,
    // NDCG@5: the IVF-PQ CTEs + the full cosine frame; per-rank terms
    // round to nano-units before integer summation (scale cancels in the
    // DCG/IDCG ratio)
    "q_ndcg" ->
      s"""WITH $flatSql,
         |$ivfpqCtes,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |iatop AS (
         |  SELECT q_id, vec_id AS nb_id, rank FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY adist ASC, vec_id ASC) AS INTEGER) AS rank
         |    FROM iadc) t
         |  WHERE rank <= 5),
         |da AS (
         |  SELECT a.q_id,
         |    CAST(sum(CAST(round(greatest(s.cos_r, 0.0)
         |      / log2(a.rank + 1) * 1e9) AS BIGINT)) AS BIGINT) AS dcg
         |  FROM iatop a JOIN scored s
         |    ON s.q_id = a.q_id AND s.nb_id = a.nb_id
         |  GROUP BY 1),
         |di AS (
         |  SELECT q_id,
         |    CAST(sum(CAST(round(greatest(cos_r, 0.0)
         |      / log2(rank + 1) * 1e9) AS BIGINT)) AS BIGINT) AS idcg
         |  FROM (
         |    SELECT q_id, cos_r, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS INTEGER) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5 GROUP BY 1)
         |SELECT di.q_id,
         |  CASE WHEN di.idcg > 0 THEN round(
         |    CAST(COALESCE(da.dcg, 0) AS DOUBLE) / di.idcg, 6)
         |  ELSE 0.0 END AS ndcg_at_5
         |FROM di LEFT JOIN da ON da.q_id = di.q_id
         |ORDER BY di.q_id""".stripMargin,
    // combined-path recall: the knn ground-truth CTEs + the IVF-PQ CTEs,
    // hits joined on (query, neighbor) exactly like q_ann_recall
    "q_ivfpq_recall" ->
      s"""WITH $flatSql,
         |$ivfpqCtes,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |etop AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5),
         |iatop AS (
         |  SELECT q_id, vec_id AS nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adist ASC, vec_id ASC) AS rank
         |    FROM iadc) t
         |  WHERE rank <= 5),
         |ihits AS (
         |  SELECT e.q_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM etop e JOIN iatop a
         |    ON a.q_id = e.q_id AND a.nb_id = e.nb_id
         |  GROUP BY 1)
         |SELECT q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0, 2)
         |    AS recall_at_5
         |FROM (SELECT DISTINCT q_id FROM etop) q
         |LEFT JOIN ihits h ON h.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin,
    // MAP@5 + MRR: the same exact/approx top-5 CTEs as q_ivfpq_recall,
    // scored by rank position with micro-unit integer AP/RR terms
    "q_ir_metrics" ->
      s"""WITH $flatSql,
         |$ivfpqCtes,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |etop AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5),
         |iatop AS (
         |  SELECT q_id, vec_id AS nb_id, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adist ASC, vec_id ASC) AS rank
         |    FROM iadc) t
         |  WHERE rank <= 5),
         |hit AS (
         |  SELECT a.q_id, a.rank,
         |    CASE WHEN e.nb_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
         |  FROM iatop a LEFT JOIN etop e
         |    ON e.q_id = a.q_id AND e.nb_id = a.nb_id),
         |cum AS (
         |  SELECT q_id, rank, is_rel,
         |    sum(is_rel) OVER (PARTITION BY q_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_rel
         |  FROM hit),
         |per AS (
         |  SELECT q_id,
         |    sum(CASE WHEN is_rel = 1 THEN
         |      CAST(round(CAST(cum_rel AS DOUBLE) * 1e6 / rank) AS BIGINT)
         |      ELSE 0 END) AS ap6num,
         |    min(CASE WHEN is_rel = 1 THEN rank END) AS minr
         |  FROM cum GROUP BY 1),
         |qs AS (SELECT DISTINCT q_id FROM etop)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  round(CAST(sum(coalesce(ap6num, 0)) AS DOUBLE) /
         |    (count(*) * 5.0) / 1e6, 6) AS map_at_5,
         |  round(CAST(sum(coalesce(CAST(round(1e6 / minr) AS BIGINT), 0))
         |    AS DOUBLE) / count(*) / 1e6, 6) AS mrr
         |FROM qs LEFT JOIN per ON per.q_id = qs.q_id""".stripMargin,
        // recall@5: the knn ground-truth CTEs + the ADC CTEs (renamed pflat/
    // adc_ to avoid clashing with flat), joined on (query, neighbor)
    "q_ann_recall" ->
      s"""WITH $flatSql,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT q_id, nb_id,
         |    round(dt / (nq.nrm * np.nrm), 6) AS cos_r
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |etop AS (
         |  SELECT q_id, nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_r DESC, nb_id ASC) AS rank
         |    FROM scored) t
         |  WHERE rank <= 5),
         |pflat AS (
         |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub, i,
         |    CAST(embedding[i] AS DOUBLE) AS x
         |  FROM (SELECT vec_id, embedding,
         |          generate_subscripts(embedding, 1) AS i FROM embeddings)),
         |cb AS (SELECT vec_id AS code, sub, i, x AS cx
         |       FROM pflat WHERE vec_id < 8),
         |dist AS (
         |  SELECT f.vec_id, f.sub, c.code,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
         |  FROM pflat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
         |  GROUP BY 1, 2, 3),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2 ASC, code ASC) AS rn
         |    FROM dist) t
         |  WHERE rn = 1),
         |dtab AS (
         |  SELECT f.vec_id AS q_id, f.sub, c.code,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS dq
         |  FROM pflat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
         |  WHERE f.vec_id % 40 = 0 AND f.vec_id < 2000
         |  GROUP BY 1, 2, 3),
         |adc_ AS (
         |  SELECT d.q_id, k.vec_id, round(sum(d.dq), 6) AS adist
         |  FROM codes k JOIN dtab d ON d.sub = k.sub AND d.code = k.code
         |  WHERE k.vec_id <> d.q_id
         |  GROUP BY 1, 2),
         |atop AS (
         |  SELECT q_id, vec_id AS nb_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adist ASC, vec_id ASC) AS rank
         |    FROM adc_) t
         |  WHERE rank <= 5),
         |hits AS (
         |  SELECT e.q_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM etop e JOIN atop a
         |    ON a.q_id = e.q_id AND a.nb_id = e.nb_id
         |  GROUP BY 1)
         |SELECT q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0, 2) AS recall_at_5
         |FROM (SELECT DISTINCT q_id FROM etop) q
         |LEFT JOIN hits h ON h.q_id = q.q_id
         |ORDER BY q.q_id""".stripMargin,
    // k-means unrolled: c0 = the 8 seed vectors (lexicographically
    // smallest md5(id), centroid index = md5 order), then two Lloyd
    // rounds — assign by argmin_j (Σcx² − 2Σx·cx), per-(cluster, dim)
    // means with empty clusters keeping their previous centroid — and a
    // final assignment whose d2 adds back the ‖x‖² term, rounded to 6 dp
    // exactly like operators.KMeans.fit.
    "q_kmeans_assign" ->
      s"""WITH $kmeansCtes,
         |xx AS (SELECT vec_id, sum(x * x) AS x2 FROM flat GROUP BY 1)
         |SELECT t.vec_id AS id, t.j AS cluster, round(t.d + xx.x2, 6) AS d2
         |FROM (
         |  SELECT vec_id, j, d, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, j ASC) AS rn FROM df_) t
         |JOIN xx ON xx.vec_id = t.vec_id
         |WHERE t.rn = 1 ORDER BY id""".stripMargin,
    // SemDeDup = the k-means chain above + within-cluster pairwise cosine
    // (flat-form dot products), dropped-vector rows only.
    "q_semdedup" ->
      s"""WITH $kmeansCtes,
         |afin AS (
         |  SELECT vec_id, j AS cluster FROM (
         |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d ASC, j ASC) AS rn FROM df_) t
         |  WHERE rn = 1),
         |dots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, ca.cluster,
         |    sum(a.x * b.x) AS dt
         |  FROM flat a JOIN flat b ON b.i = a.i AND b.vec_id > a.vec_id
         |  JOIN afin ca ON ca.vec_id = a.vec_id
         |  JOIN afin cb ON cb.vec_id = b.vec_id AND cb.cluster = ca.cluster
         |  GROUP BY 1, 2, 3),
         |sims AS (
         |  SELECT va, vb, cluster,
         |    round(dt / (na.nrm * nb.nrm), 6) AS cos_r
         |  FROM dots
         |  JOIN norm na ON na.vec_id = va
         |  JOIN norm nb ON nb.vec_id = vb)
         |SELECT vb AS vec_id, cluster, min(va) AS dup_of,
         |  max(cos_r) AS max_cos
         |FROM sims WHERE cos_r >= 0.35
         |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,
    // simplified silhouette = the k-means chain + nearest/second-nearest
    // final-centroid distances per vector (df_ is ‖x‖²-free, so add the
    // x² term back before the ratio, clamped at 0 like the Spark side)
    "q_silhouette" ->
      s"""WITH $kmeansCtes,
         |xx AS (SELECT vec_id, sum(x * x) AS x2 FROM flat GROUP BY 1),
         |ranked AS (
         |  SELECT vec_id, j, d, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, j ASC) AS rn FROM df_),
         |ab AS (
         |  SELECT r1.vec_id, r1.j AS cluster,
         |    greatest(r1.d + xx.x2, 0) AS da,
         |    greatest(r2.d + xx.x2, 0) AS db
         |  FROM ranked r1
         |  JOIN ranked r2 ON r2.vec_id = r1.vec_id AND r2.rn = 2
         |  JOIN xx ON xx.vec_id = r1.vec_id
         |  WHERE r1.rn = 1),
         |sil AS (
         |  SELECT vec_id, cluster,
         |    CAST(round((CASE WHEN db <= 0 THEN 0.0
         |      ELSE 1.0 - sqrt(da / db) END) * 1e6) AS BIGINT) AS s6
         |  FROM ab)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(s6) AS DOUBLE) / count(*) / 1e6, 4) AS mean_sil
         |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin,
    "q_mmr" ->
      s"""WITH $flatSql,
         |dots AS (
         |  SELECT q.vec_id AS q_id, p.vec_id AS nb_id,
         |    sum(q.x * p.x) AS dt
         |  FROM flat q JOIN flat p ON q.i = p.i AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 40 = 0 AND q.vec_id < 2000
         |  GROUP BY 1, 2),
         |rels AS (
         |  SELECT q_id, nb_id, round(dt / (nq.nrm * np.nrm), 6) AS rel
         |  FROM dots JOIN norm nq ON nq.vec_id = q_id
         |            JOIN norm np ON np.vec_id = nb_id),
         |cands AS (
         |  SELECT q_id, nb_id, rel, rnk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, nb_id ASC) AS rnk FROM rels) t
         |  WHERE rnk <= 8),
         |psim AS (
         |  SELECT f1.vec_id AS ia, f2.vec_id AS ib, sum(f1.x * f2.x) AS dt
         |  FROM flat f1 JOIN flat f2
         |    ON f1.i = f2.i AND f1.vec_id <> f2.vec_id
         |  WHERE f1.vec_id IN (SELECT DISTINCT nb_id FROM cands)
         |    AND f2.vec_id IN (SELECT DISTINCT nb_id FROM cands)
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT a.q_id, a.nb_id AS ia, b.nb_id AS ib,
         |    round(ps.dt / (na.nrm * nb.nrm), 6) AS sim
         |  FROM cands a
         |  JOIN cands b ON b.q_id = a.q_id AND b.nb_id <> a.nb_id
         |  JOIN psim ps ON ps.ia = a.nb_id AND ps.ib = b.nb_id
         |  JOIN norm na ON na.vec_id = a.nb_id
         |  JOIN norm nb ON nb.vec_id = b.nb_id),
         |s1 AS (SELECT q_id, nb_id, rel AS score FROM cands
         |       WHERE rnk = 1),
         |sc2 AS (
         |  SELECT c.q_id, c.nb_id,
         |    CAST(round((CAST(0.7 AS DOUBLE) * c.rel -
         |      CAST(0.3 AS DOUBLE) * si.sim) * 1e6) AS BIGINT) AS score_i
         |  FROM cands c
         |  JOIN s1 ON s1.q_id = c.q_id AND s1.nb_id <> c.nb_id
         |  JOIN sims si ON si.q_id = c.q_id AND si.ia = c.nb_id
         |              AND si.ib = s1.nb_id),
         |p2 AS (SELECT q_id, nb_id,
         |    CAST(score_i AS DOUBLE) / 1e6 AS score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_i DESC, nb_id ASC) AS rn FROM sc2) t
         |  WHERE rn = 1),
         |sel2 AS (SELECT q_id, nb_id FROM s1
         |         UNION ALL SELECT q_id, nb_id FROM p2),
         |mx3 AS (
         |  SELECT si.q_id, si.ia AS nb_id, max(si.sim) AS m
         |  FROM sims si JOIN sel2 s
         |    ON s.q_id = si.q_id AND s.nb_id = si.ib
         |  GROUP BY 1, 2),
         |sc3 AS (
         |  SELECT c.q_id, c.nb_id,
         |    CAST(round((CAST(0.7 AS DOUBLE) * c.rel -
         |      CAST(0.3 AS DOUBLE) * mx3.m) * 1e6) AS BIGINT) AS score_i
         |  FROM cands c
         |  JOIN mx3 ON mx3.q_id = c.q_id AND mx3.nb_id = c.nb_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel2 s
         |    WHERE s.q_id = c.q_id AND s.nb_id = c.nb_id)),
         |p3 AS (SELECT q_id, nb_id,
         |    CAST(score_i AS DOUBLE) / 1e6 AS score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_i DESC, nb_id ASC) AS rn FROM sc3) t
         |  WHERE rn = 1)
         |SELECT q_id, nb_id, 1 AS mmr_rank, score FROM s1
         |UNION ALL SELECT q_id, nb_id, 2, score FROM p2
         |UNION ALL SELECT q_id, nb_id, 3, score FROM p3
         |ORDER BY q_id, mmr_rank""".stripMargin
  )

  /** k-means (k=8, 2 Lloyd rounds) unrolled as chained CTEs, ending at
    * `df_(vec_id, j, d)` — the final-round distances (‖x‖²-free form);
    * shared by the q_kmeans_assign and q_semdedup oracles. */
  private def kmeansCtes: String =
      s"""$flatSql,
         |seed_ids AS (
         |  SELECT vec_id, CAST(rn - 1 AS INTEGER) AS j FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM embeddings) t
         |  WHERE rn <= 8),
         |c0 AS (
         |  SELECT s.j, f.i, f.x AS cx
         |  FROM seed_ids s JOIN flat f ON f.vec_id = s.vec_id),
         |d1 AS (
         |  SELECT f.vec_id, c.j, sum(c.cx * c.cx - 2 * f.x * c.cx) AS d
         |  FROM flat f JOIN c0 c ON c.i = f.i GROUP BY 1, 2),
         |a1 AS (
         |  SELECT vec_id, j AS cluster FROM (
         |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d ASC, j ASC) AS rn FROM d1) t
         |  WHERE rn = 1),
         |c1 AS (
         |  SELECT c0.j, c0.i, COALESCE(m.mx, c0.cx) AS cx
         |  FROM c0 LEFT JOIN (
         |    SELECT a.cluster AS j, f.i, avg(f.x) AS mx
         |    FROM a1 a JOIN flat f ON f.vec_id = a.vec_id
         |    GROUP BY 1, 2) m ON m.j = c0.j AND m.i = c0.i),
         |d2_ AS (
         |  SELECT f.vec_id, c.j, sum(c.cx * c.cx - 2 * f.x * c.cx) AS d
         |  FROM flat f JOIN c1 c ON c.i = f.i GROUP BY 1, 2),
         |a2 AS (
         |  SELECT vec_id, j AS cluster FROM (
         |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d ASC, j ASC) AS rn FROM d2_) t
         |  WHERE rn = 1),
         |c2 AS (
         |  SELECT c1.j, c1.i, COALESCE(m.mx, c1.cx) AS cx
         |  FROM c1 LEFT JOIN (
         |    SELECT a.cluster AS j, f.i, avg(f.x) AS mx
         |    FROM a2 a JOIN flat f ON f.vec_id = a.vec_id
         |    GROUP BY 1, 2) m ON m.j = c1.j AND m.i = c1.i),
         |df_ AS (
         |  SELECT f.vec_id, c.j, sum(c.cx * c.cx - 2 * f.x * c.cx) AS d
         |  FROM flat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2)""".stripMargin

  /** IVF-PQ CTE chain (coarse assign/probe + PQ codes/dtab + cell-
    * restricted ADC), ending at `iadc(q_id, vec_id, adist)` — shared
    * by the q_ivfpq_search and q_ivfpq_recall oracles. */
  private def ivfpqCtes: String =
    s"""cent AS (
         |  SELECT label AS c_label, i, avg(x) AS cx
         |  FROM flat GROUP BY 1, 2),
         |cdist AS (
         |  SELECT f.vec_id, c.c_label,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
         |  FROM flat f JOIN cent c ON c.i = f.i
         |  GROUP BY 1, 2),
         |cranked AS (
         |  SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, c_label ASC) AS rn
         |  FROM cdist),
         |assign AS (SELECT vec_id, c_label AS cell FROM cranked
         |           WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, c_label AS cell FROM cranked
         |           WHERE vec_id % 40 = 0 AND vec_id < 2000 AND rn <= 3),
         |pflat AS (
         |  SELECT vec_id, CAST((i - 1) // 8 AS INTEGER) AS sub, i, x
         |  FROM flat),
         |cb AS (SELECT vec_id AS code, sub, i, x AS cx
         |       FROM pflat WHERE vec_id < 8),
         |pdist AS (
         |  SELECT f.vec_id, f.sub, c.code,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
         |  FROM pflat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
         |  GROUP BY 1, 2, 3),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY d2 ASC, code ASC) AS rn
         |    FROM pdist) t
         |  WHERE rn = 1),
         |dtab AS (
         |  SELECT f.vec_id AS q_id, f.sub, c.code,
         |    round(sum((f.x - c.cx) * (f.x - c.cx)), 6) AS dq
         |  FROM pflat f JOIN cb c ON c.sub = f.sub AND c.i = f.i
         |  WHERE f.vec_id % 40 = 0 AND f.vec_id < 2000
         |  GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT p.q_id, a.vec_id
         |  FROM assign a JOIN probes p ON p.cell = a.cell),
         |iadc AS (
         |  SELECT c.q_id, k.vec_id, round(sum(d.dq), 6) AS adist
         |  FROM codes k
         |  JOIN cand c ON c.vec_id = k.vec_id
         |  JOIN dtab d ON d.q_id = c.q_id AND d.sub = k.sub
         |             AND d.code = k.code
         |  WHERE k.vec_id <> c.q_id
         |  GROUP BY 1, 2)""".stripMargin

}
