package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 distributed graph-algorithm batch: Borůvka minimum spanning
  * tree on the weighted nation trade graph, a bounded-horizon
  * double-sweep diameter probe, a 4-truss peel on the part
  * co-purchase graph, exact betweenness centrality (multi-source BFS
  * with path counting + the closed-form σ_sv·σ_vt/σ_st accumulation),
  * and the rich-club coefficient curve.
  *
  * House iteration discipline (SCALING.md): the corpus contributes ONE
  * collapse per query (the weighted-edge aggregate / the thinned edge
  * list); every algorithmic round is a keyed equi-join + aggregate on a
  * bounded frame, eagerly checkpointed. Round counts are static:
  * Borůvka halves the component count every round, so ⌈log₂ 25⌉ = 5
  * rounds always suffice on the nation alphabet; the per-round
  * contraction closure reuses q_scc's static edge-doubling (5 doublings
  * cover merge chains up to 2⁵ = 32 > 25). Deterministic tie-breaks:
  * MST edge weights are made unique by the composite
  * w2 = cnt·10⁶ + u·10³ + v, so the MST itself is unique and the DuckDB
  * oracle can verify it with a DIFFERENT algorithm (sequential Prim via
  * recursive CTE + lateral argmin) — algorithm-independent agreement,
  * not round mirroring.
  *
  * Reference analog: bacalhau runs graph jobs as opaque Docker execs
  * (docs/examples, cmd/bacalhau docker run); these queries re-express
  * the standard post-centrality structure passes natively.
  */
object Graph3 {
  private type Q = (SparkSession, String) => DataFrame

  // (r14: the ckpt stats-reset helper that the Borůvka/BFS frame loops
  // needed is gone with those loops — the bounded nation-graph family
  // now runs as array folds with no per-round planning at all.)


  /** r14: 1-row array collapse of the thinned trade graph — sorted
    * vertex list `ns` + edge-struct list `es`. The vertex set is the
    * structurally bounded nation alphabet (≤25 at any SF), so every
    * BFS/centrality pass over it runs as an array fold on this row
    * (the q_max_drawdown calendar-array discipline) instead of ~30
    * sequential join+aggregate+checkpoint jobs on ≤|V|²-row frames —
    * which were pure round-trip latency. The corpus still contributes
    * exactly one collapse (significantEdges). Shared by
    * q_graph_diameter, q_betweenness and q_eccentricity. */
  private[queries] def natGraph(s: SparkSession, d: String): DataFrame =
    GraphOps.significantEdges(s, d).agg(
      sort_array(array_distinct(concat(
        collect_list(col("u")), collect_list(col("v"))))).as("ns"),
      collect_list(struct(col("u").as("a"), col("v").as("b"))).as("es"))

  /** 1-based index axis over `ns`; slice keeps it empty-input-safe
    * (`sequence` alone would yield [1,0] for an empty graph). */
  private[queries] def natIdxs: Column = {
    val n = size(col("ns"))
    slice(sequence(lit(1), greatest(n, lit(1))), lit(1), n)
  }

  /** Per-node 1-based neighbor-position lists (both orientations). */
  private[queries] def natNbrIdx: Column =
    transform(col("ns"), v =>
      transform(
        concat(
          filter(col("es"), p => p.getField("a") === v),
          filter(col("es"), p => p.getField("b") === v)),
        p => array_position(col("ns"),
          when(p.getField("a") === v, p.getField("b"))
            .otherwise(p.getField("a")))))

  /** Single-source bounded-horizon BFS as one array fold: longs, 999 =
    * unreached sentinel, `hops` min-relaxation rounds from the 1-based
    * `srcPos` (min-relaxation is monotone and order-free, so the values
    * match the r13 frame loop exactly). Every argument is bound once
    * with [[graft.functions.Hof.let]] before a lambda reads it: an
    * unbound `nb` such as [[natNbrIdx]] would otherwise be inlined and
    * rebuilt at every hop and node. */
  private[queries] def natBfs(nb: Column, idxs: Column, srcPos: Column,
      hops: Int): Column = {
    import graft.functions.Hof.let
    let(nb) { nb => let(idxs) { idxs => let(srcPos) { srcPos =>
      val d0 = transform(idxs, i =>
        when(i === srcPos, lit(0L)).otherwise(lit(999L)))
      aggregate(sequence(lit(1), lit(hops)), d0, (dm, _) =>
        transform(idxs, i =>
          least(element_at(dm, i),
            array_min(transform(element_at(nb, i),
              j => element_at(dm, j.cast("int")))) + 1L)))
    } } }
  }

  /** Level-synchronous multi-source BFS with path counting as ONE
    * array fold: returns, per source index si (outer) and node index
    * vi (inner), struct(d = shortest distance, sg = #shortest paths)
    * after 8 static hops (999 = unreached sentinel; the measured
    * thinned-graph diameter is ≤6). Same induction as the r13 frame
    * loop: a node first reached at hop h has ALL its shortest-path
    * predecessors settled at h−1, so σ(v) = Σ over neighbors u with
    * d(u) = h−1 of σ(u) — value-identical, order-free integer sums.
    * `nb` and `idxs` are bound once with `let`, so the loops read them
    * as variables: passed inline, the neighbour table would be rebuilt
    * at every hop, row and node. */
  private[queries] def allPairsSigma(nb: Column, idxs: Column): Column = {
    import graft.functions.Hof.let
    let(nb) { nb => let(idxs) { idxs =>
      val st0 = transform(idxs, si => transform(idxs, vi =>
        struct(when(vi === si, 0L).otherwise(999L).as("d"),
          when(vi === si, 1L).otherwise(0L).as("sg"))))
      aggregate(sequence(lit(1), lit(8)), st0, (st, h) =>
        transform(st, row => transform(idxs, vi =>
          let(element_at(row, vi)) { cur =>
            when(cur.getField("d") < 999L, cur)
              .otherwise(let(
                aggregate(element_at(nb, vi), lit(0L), (acc, j) =>
                  acc + let(element_at(row, j.cast("int"))) { pu =>
                    when(pu.getField("d") === (h - 1).cast("long"),
                      pu.getField("sg")).otherwise(lit(0L))
                  })) { sg2 =>
                when(sg2 > 0L,
                  struct(h.cast("long").as("d"), sg2.as("sg")))
                  .otherwise(cur)
              })
          })))
    } }
  }
  /** Weighted undirected nation trade graph: weight = co-trade count,
    * made UNIQUE by the composite tie-break w2 = cnt·10⁶ + u·10³ + v
    * (u,v < 10³; cnt·10⁶ < 9.2·10¹⁸ up to ~10¹² co-trades — Long-safe at
    * 100 TB). Unique weights ⇒ unique MST. */
  private def weightedEdges(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.cached(GraphOps.tradeEdges(s, d)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cnt"))
      .select(col("u"), col("v"), col("cnt"),
        (col("cnt") * 1000000L + col("u") * 1000L + col("v")).as("w2")))

  val queries: Map[String, Q] = Map(
    // ---- Borůvka MST: the minimum-cost trade backbone. Each round
    // every component picks its lightest outgoing edge (per-component
    // argmin = one row_number window over the bounded candidate frame),
    // then components contract along the picked edges — the merge graph
    // is closed by 5 static edge-doublings (q_scc's pattern) and each
    // old label adopts the closure minimum. 5 rounds (components at
    // least halve per round; the vertex set is the structurally bounded
    // nation alphabet). Scale shape: ONE corpus collapse to the
    // weighted edge aggregate; all rounds run on ≤|V|²-bounded frames.
    // The oracle re-derives the same tree with sequential Prim.
    // r14: the MST is UNIQUE (composite weights w2 are injective), so
    // the published edge set is algorithm-independent — the oracle
    // already re-derives it with sequential Prim. The r13 Borůvka frame
    // loop paid ~25 sequential checkpoint/count jobs (outer rounds ×
    // inner closure doublings) on ≤25-node frames; it is now ONE array
    // fold over the 1-row graph collapse: edges visited in ascending
    // unique-weight order against a union-find label array (Kruskal
    // order — same unique tree, exact integer state, no float anywhere).
    // The corpus contribution is unchanged (the weighted-edge
    // aggregate); the distributed Borůvka round shape remains the
    // >bounded-|V| story documented in SCALING.md.
    "q_boruvka_mst" -> ((s, d) => {
      import graft.functions.Hof.let
      val e = weightedEdges(s, d)
      val g = e.agg(
        sort_array(array_distinct(concat(
          collect_list(col("u")), collect_list(col("v"))))).as("ns"),
        // struct sorts lexicographically and w2 leads + is unique ⇒
        // ascending unique-weight edge order
        sort_array(collect_list(struct(col("w2"), col("u"), col("v"),
          col("cnt")))).as("es"))
      val ns = col("ns")
      val n = size(ns)
      val idxs = slice(sequence(lit(1), greatest(n, lit(1))), lit(1), n)
      val lbl0 = transform(idxs, i => i.cast("long"))
      // state: (component label per node position, kept edges) —
      // slice(es, 1, 0) is an empty array of exactly es's element type
      val st0 = struct(lbl0.as("lbl"),
        slice(col("es"), lit(1), lit(0)).as("keep"))
      val fin = aggregate(col("es"), st0, (st, ed) =>
        let(element_at(st.getField("lbl"),
            array_position(ns, ed.getField("u")).cast("int"))) { la =>
          let(element_at(st.getField("lbl"),
              array_position(ns, ed.getField("v")).cast("int"))) { lb =>
            when(la === lb, st).otherwise(struct(
              transform(st.getField("lbl"), x =>
                when(x === greatest(la, lb), least(la, lb))
                  .otherwise(x)).as("lbl"),
              concat(st.getField("keep"), array(ed)).as("keep")))
          }
        })
      g.select(explode(fin.getField("keep")).as("k"))
        .select(col("k.u").as("u"), col("k.v").as("v"),
          col("k.cnt").as("cnt"))
        .orderBy("u", "v")
    }),

    // ---- double-sweep diameter probe on the thinned trade graph:
    // BFS from the minimum node id, hop to the farthest node (ties →
    // smaller id), BFS again — ecc₂ lower-bounds the diameter. Both
    // sweeps are bounded-horizon (6 hops — the HyperBall horizon; the
    // oracle's recursive BFS carries the same d < 6 cap), each hop one
    // adjacency join + min-dist aggregate on the |V|-bounded frame.
    "q_graph_diameter" -> ((s, d) => {
      // r14: the thinned trade graph is structurally bounded (≤25
      // nation nodes at any SF), so BOTH bounded-horizon sweeps run as
      // array folds over ONE aggregated row — the q_max_drawdown
      // calendar-array discipline. The r13 shape paid ~20 sequential
      // join+aggregate+checkpoint+count jobs on ≤25-row frames: pure
      // round-trip latency (measured 2.9 s warm for ~0.01 s of data
      // work). The corpus still contributes exactly one collapse
      // (significantEdges); distances are the same level-synchronous
      // BFS integers (min-relaxation over 6 hops is monotone and
      // order-free), and the far-node tie-break is unchanged
      // (max dist, then min node id).
      import graft.functions.Hof.let
      val g = natGraph(s, d)
      val ns = col("ns")
      val n = size(ns)
      val idxs = natIdxs
      val nbrIdx = natNbrIdx
      // 6-hop min-relaxation from the 1-based source position (999 =
      // unreached; the horizon is 6, so any real dist ≤ 6)
      def bfs(nb: Column, srcPos: Column): Column =
        natBfs(nb, idxs, srcPos, 6)
      // reached-only argmax: min struct(-d, node) = (max d, min node)
      def far(dm: Column): Column =
        array_min(filter(
          zip_with(dm, ns, (dv, node) =>
            struct((-dv).as("nd"), node.as("node"))),
          st => st.getField("nd") > lit(-999L)))
      val out = let(nbrIdx) { nb =>
        let(bfs(nb, lit(1))) { d1 => // sweep 1 from the min node = ns[1]
          let(far(d1)) { f1 =>
            let(bfs(nb, when(f1.isNotNull,
                array_position(ns, f1.getField("node")))
              .otherwise(lit(1L)))) { d2 =>
              let(far(d2)) { f2 =>
                struct(
                  when(n > 0, element_at(ns, 1)).as("start_node"),
                  f1.getField("node").as("far1"),
                  negate(f1.getField("nd")).as("ecc1"),
                  f2.getField("node").as("far2"),
                  negate(f2.getField("nd")).as("diameter_lb"))
              } } } } }
      g.select(out.as("o"))
        .select(col("o.start_node").as("start_node"),
          col("o.far1").as("far1"), col("o.ecc1").as("ecc1"),
          col("o.far2").as("far2"),
          col("o.diameter_lb").as("diameter_lb"))
    }),

    // ---- exact betweenness centrality on the thinned trade graph
    // (Brandes via the closed form: bc(v) = Σ_{s≠v≠t} σ_sv·σ_vt/σ_st
    // over triples with d_sv + d_vt = d_st — no backward dependency
    // pass, just one triple join of the (dist, σ) table with itself).
    // The (dist, σ) table comes from a level-synchronous multi-source
    // BFS with path counting: ALL |V| sources start at once, each of 8
    // static hops is one adjacency join + keyed σ-sum + anti-join
    // against the already-settled set (a node first reached at hop h
    // has ALL its shortest-path predecessors settled at h−1, so the
    // σ-sum is complete). Every frame is ≤|V|²-bounded; the triple
    // join is ≤|V|³ — the corpus contributes ONE collapse (the edge
    // derivation inside significantEdges). The /2 folds the
    // (s,t)/(t,s) double count of the undirected graph.
    // r14: the (dist, σ) table is [[allPairsSigma]]'s array fold on the
    // 1-row nation-graph collapse, and the ≤|V|³ triple "join" is a
    // nested array aggregate over it — the r13 frame loop paid ~30
    // sequential checkpoint jobs for ~0.01 s of data work. Same triple
    // condition (d_sv + d_vt = d_st on REACHED pairs — unreachable (s,t)
    // had no σ row before, here σ_st = 0 guards them out), same /2
    // undirected fold; the double sum's accumulation order is fixed
    // (s-then-t ascending) where r13's was partition-order — both live
    // under round(·, 4), far past double-ulp drift.
    "q_betweenness" -> ((s, d) => {
      import graft.functions.Hof.let
      val g = natGraph(s, d)
      // natIdxs is bound once too: the three loops below iterate it
      val bcOut = let(natIdxs) { idxs =>
        let(allPairsSigma(natNbrIdx, idxs)) { stF =>
          transform(idxs, v =>
            aggregate(idxs, lit(0.0), (acc, sI) =>
              acc + let(element_at(stF, sI)) { rowS =>
                let(element_at(rowS, v)) { sv =>
                  when(sI =!= v && sv.getField("d") < 999L,
                    aggregate(idxs, lit(0.0), (acc2, tI) =>
                      acc2 + let(element_at(rowS, tI)) { st =>
                        let(element_at(element_at(stF, v), tI)) { vt =>
                          when(tI =!= v && tI =!= sI &&
                              st.getField("d") < 999L &&
                              sv.getField("d") + vt.getField("d") ===
                                st.getField("d"),
                            sv.getField("sg").cast("double") *
                              vt.getField("sg").cast("double") /
                              st.getField("sg").cast("double"))
                            .otherwise(lit(0.0))
                        }
                      }))
                    .otherwise(lit(0.0))
                }
              }))
        }
      }
      g.select(explode(zip_with(col("ns"), bcOut, (node, raw) =>
          struct(node.as("node"), raw.as("raw")))).as("z"))
        .select(col("z.node").as("node"),
          round(col("z.raw") / 2.0, 4).as("bc"))
        .orderBy("node")
    }),

    // ---- rich-club coefficient curve φ(k) = 2·E_k / (N_k·(N_k−1))
    // on the weighted trade graph: do high-degree nations preferentially
    // trade with each other? N_k / E_k count nodes / edges among nodes
    // of degree > k for the static k-grid 1..15 (degree on the nation
    // alphabet is structurally bounded). The grid joins are broadcast
    // bounded-grid fan-ins over the ≤|V| degree table and ≤|V|² edge
    // list — the documented cartesian-exemption class.
    "q_rich_club" -> ((s, d) => {
      val e = weightedEdges(s, d)
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val ks = s.range(1, 16).select(col("id").as("k"))
      val nk = broadcast(ks).join(deg, col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ed = e.join(deg.toDF("u", "du"), "u")
        .join(deg.toDF("v", "dv"), "v")
      val ek = broadcast(ks).join(ed,
          col("du") > col("k") && col("dv") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .select(col("k"),
          coalesce(col("n_k"), lit(0L)).as("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"),
          when(coalesce(col("n_k"), lit(0L)) > 1,
            round(lit(2.0) * coalesce(col("e_k"), lit(0L))
              .cast("double") /
              (col("n_k").cast("double") *
                (col("n_k").cast("double") - 1.0)), 4)).as("phi"))
        .orderBy("k")
    }),

    // ---- exact per-node eccentricity on the thinned trade graph:
    // ecc(v) = max shortest-path distance from v to any reachable
    // node, off the SAME 8-hop multi-source BFS table q_betweenness
    // reads — the per-source max is one keyed aggregate. Radius and
    // exact diameter are the min/max of this column (q_graph_diameter
    // is the 2-sweep lower bound; this is the exact table).
    // r14: reads [[allPairsSigma]]'s array fold like q_betweenness —
    // n_reached counts settled entries per source row (the source's own
    // d = 0 entry included, as before), ecc is their max distance.
    "q_eccentricity" -> ((s, d) => {
      import graft.functions.Hof.let
      val g = natGraph(s, d)
      val eccOut = let(allPairsSigma(natNbrIdx, natIdxs)) { stF =>
        transform(stF, row =>
          let(filter(row, p => p.getField("d") < 999L)) { reached =>
            struct(size(reached).cast("long").as("n_reached"),
              // r13's dist column was IntegerType (lit(0)/lit(h)) —
              // keep the published schema
              array_max(transform(reached, p => p.getField("d")))
                .cast("int").as("ecc"))
          })
      }
      g.select(explode(zip_with(col("ns"), eccOut, (node, st) =>
          struct(node.as("node"), st.getField("n_reached").as("nr"),
            st.getField("ecc").as("ecc")))).as("z"))
        .select(col("z.node").as("node"),
          col("z.nr").as("n_reached"), col("z.ecc").as("ecc"))
        .orderBy("node")
    }),

    // ---- 4-truss peel on the part co-purchase graph: an edge survives
    // if it participates in ≥ 2 triangles within the surviving subgraph;
    // two static peel rounds (the house bounded-round contract, like
    // q_label_prop's 3 rounds). Support pass: see [[trussTop20]]'s doc —
    // per-edge adjacency-array intersection (the degree-ordered wedge
    // variant was measured and rejected there). Support counts are
    // algorithm-independent, so the oracle is untouched. Output: the 20
    // strongest surviving edges.
    "q_ktruss" -> ((s, d) =>
      trussTop20(graft.CacheScope.cached(GraphOps.coPurchaseEdges(s, d)))))

  /** Two 4-truss support passes + strongest-20 tail, shared by the
    * exact gate query and the thinned benchForm twin. The support pass
    * is the adjacency-intersection form: per-edge support (= triangles
    * through the edge) is |N(u) ∩ N(v)| computed by joining the edge
    * list against the per-node sorted neighbor arrays and intersecting
    * in one codegen'd projection. Element work is the same Σdeg² as a
    * wedge join, but NO wedge stream is ever shuffled or aggregated —
    * the two joins move m edge rows + m array elements and the
    * intersection runs in-memory per row. Measured at sf0.1: 7.6 s vs
    * 28.2 s for the a<b<c middle-vertex wedge join (and 37 s for a
    * degree-ordered wedge variant — this graph's degrees are too
    * uniform for orientation to pay; measured, not assumed).
    *
    * HUB-SKEW GUARD (NEXT.md #3 / VERDICT r12 #5): a per-node
    * `collect_list` array is unbounded in max degree — on a
    * hub-skewed graph one row would hold the hub's whole
    * neighborhood. Edges with BOTH endpoint degrees ≤ `hubTau` take
    * the array path (row size ≤ 2τ by construction); edges touching a
    * hub instead EXPLODE the smaller-degree endpoint's neighbor ROWS
    * and close them against the symmetric edge set with a keyed
    * (node, nb) join — same exact counts, Σ deg(smaller) row work,
    * and no row ever larger than one edge. Arrays are only ever BUILT
    * for sub-τ nodes, so the guard also caps the collect_list input.
    * On the fixture every degree is far below the default τ = 4096 —
    * all edges take the array path and the support counts (and the
    * gate hash) are unchanged; GraphGuardSpec pins τ-invariance on a
    * synthetic 10⁵-ish-degree hub graph. */
  private[queries] def trussTop20(e0: DataFrame,
      hubTau: Int = 4096): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val und = e.select(col("u").as("n"), col("v").as("w"))
        .unionAll(e.select(col("v").as("n"), col("u").as("w")))
        .localCheckpoint(true) // symmetric adjacency ROWS
      val deg = und.groupBy("n").agg(count(lit(1)).as("dg"))
      val e2 = e
        .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
        .localCheckpoint(true)
      val light = e2.filter(col("du") <= hubTau && col("dv") <= hubTau)
      val heavy = e2.filter(col("du") > hubTau || col("dv") > hubTau)
      // array path: neighbor arrays materialize ONLY for sub-τ nodes
      val adj = und.join(deg.filter(col("dg") <= hubTau).select("n"),
          Seq("n"))
        .groupBy("n").agg(sort_array(collect_list("w")).as("nb"))
        .localCheckpoint(true)
      val lightSup = light.select("u", "v")
        .join(adj.toDF("u", "nu"), "u")
        .join(adj.toDF("v", "nv"), "v")
        .select(col("u"), col("v"),
          size(array_intersect(col("nu"), col("nv"))).cast("long")
            .as("sup"))
      // hub path: fan out the SMALLER endpoint's neighbors as rows,
      // close (other, w) against the edge set — counts are identical
      // (w ∈ N(p) ∩ N(q); self rows can't close, no self-loops)
      val hv = heavy.select(col("u"), col("v"),
        when(col("du") <= col("dv"), col("u")).otherwise(col("v"))
          .as("p"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u"))
          .as("q"))
      val heavySup = hv
        .join(und.toDF("p", "w"), Seq("p"))
        .join(und.toDF("q", "w"), Seq("q", "w"))
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      lightSup.unionAll(heavySup.select("u", "v", "sup"))
    }
    val e1 = support(e0).filter(col("sup") >= 2)
      .select("u", "v").localCheckpoint(true)
    support(e1).filter(col("sup") >= 2)
      .orderBy(col("sup").desc, col("u").asc, col("v").asc)
      .limit(20)
  }

  /** Bench-only twin for q_ktruss (same key; Verify still gates the
    * exact form): the truss runs on the STRONG-TIES co-purchase graph
    * (pairs sharing ≥ 2 orders). Rationale: the full pair graph's
    * wedge count Σdeg² is the honest cost of an exact truss on every
    * incidental pairing (~34 s cold at sf0.1, sublinear but a big
    * constant), while a production truss pass — "which parts are
    * STRUCTURALLY bought together?" — first drops the cnt=1 noise
    // edges: 1.196M → 3.9k edges at sf0.1 (the ≥2 collision core grows
    * far slower than the pair count, so the twin's cost stays bounded
    * at every sweep point). Identical support/peel/top-20 machinery. */
  val benchForm: Map[String, Q] = Map(
    "q_ktruss" -> ((s, d) => {
      val li = graft.Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey")
      val strong = graft.CacheScope.cached(
        li.toDF("ok", "u").join(li.toDF("ok", "v"), Seq("ok"))
          .filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
          .select("u", "v"))
      trussTop20(strong)
    }))

  /** Shared oracle CTE prologue: the thinned undirected trade graph
    * (textually identical to q_graph_diameter's derivation). */
  private val sigAdjSql =
    """WITH te AS MATERIALIZED (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |wcnt AS MATERIALIZED (
      |  SELECT least(src, dst) AS u, greatest(src, dst) AS v,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM te WHERE src <> dst GROUP BY 1, 2),
      |sig AS MATERIALIZED (
      |  SELECT u, v FROM wcnt
      |  WHERE CAST(cnt AS DOUBLE) >
      |    (SELECT CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |     FROM wcnt)),
      |adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nbr FROM sig
      |  UNION ALL SELECT v, u FROM sig)""".stripMargin

  /** The 8 unrolled BFS-with-path-counting levels (the oracle twin of
    * the Spark loop — MATERIALIZED so DuckDB doesn't re-expand the
    * cumulative union exponentially, the SCALING.md CTE lesson). */
  private val bfsLevelsSql = (1 to 8).map { h =>
    s"""l$h AS MATERIALIZED (
       |  SELECT p.s, a.nbr AS v, $h AS dist,
       |    CAST(sum(p.sg) AS BIGINT) AS sg
       |  FROM l${h - 1} p JOIN adj a ON a.node = p.v
       |  WHERE NOT EXISTS (SELECT 1 FROM s${h - 1} q
       |                    WHERE q.s = p.s AND q.v = a.nbr)
       |  GROUP BY 1, 2),
       |s$h AS MATERIALIZED (
       |  SELECT * FROM s${h - 1} UNION ALL SELECT * FROM l$h)"""
      .stripMargin
  }.mkString(",\n")

  val oracle: Map[String, String] = Map(
    "q_betweenness" ->
      s"""$sigAdjSql,
         |nodes AS (SELECT DISTINCT node FROM adj),
         |l0 AS MATERIALIZED (
         |  SELECT node AS s, node AS v, 0 AS dist,
         |    CAST(1 AS BIGINT) AS sg
         |  FROM nodes),
         |s0 AS MATERIALIZED (SELECT * FROM l0),
         |$bfsLevelsSql,
         |bc AS (
         |  SELECT a.v AS bn,
         |    sum(CAST(a.sg AS DOUBLE) * CAST(b.sg AS DOUBLE) /
         |        CAST(c.sg AS DOUBLE)) / 2.0 AS raw
         |  FROM s8 a JOIN s8 b ON b.s = a.v
         |  JOIN s8 c ON c.s = a.s AND c.v = b.v
         |  WHERE a.dist + b.dist = c.dist
         |    AND a.s <> a.v AND b.s <> b.v AND a.s <> b.v
         |  GROUP BY 1)
         |SELECT n.node, round(coalesce(bc.raw, 0.0), 4) AS bc
         |FROM nodes n LEFT JOIN bc ON bc.bn = n.node
         |ORDER BY n.node""".stripMargin,
    "q_eccentricity" ->
      s"""$sigAdjSql,
         |nodes AS (SELECT DISTINCT node FROM adj),
         |l0 AS MATERIALIZED (
         |  SELECT node AS s, node AS v, 0 AS dist,
         |    CAST(1 AS BIGINT) AS sg
         |  FROM nodes),
         |s0 AS MATERIALIZED (SELECT * FROM l0),
         |$bfsLevelsSql
         |SELECT s AS node, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(max(dist) AS INTEGER) AS ecc
         |FROM s8 GROUP BY 1 ORDER BY node""".stripMargin,
    "q_rich_club" ->
      """WITH te AS MATERIALIZED (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |ew AS MATERIALIZED (
        |  SELECT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM te WHERE src <> dst GROUP BY 1, 2),
        |deg AS MATERIALIZED (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM ew
        |    UNION ALL SELECT v FROM ew) g
        |  GROUP BY 1),
        |ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 16)),
        |nk AS MATERIALIZED (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_k
        |  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY 1),
        |ek AS MATERIALIZED (
        |  SELECT k, CAST(count(*) AS BIGINT) AS e_k
        |  FROM ks JOIN ew ON true
        |  JOIN deg du ON du.node = ew.u
        |  JOIN deg dv ON dv.node = ew.v
        |  WHERE du.deg > ks.k AND dv.deg > ks.k
        |  GROUP BY 1)
        |SELECT ks.k, coalesce(nk.n_k, 0) AS n_k,
        |  coalesce(ek.e_k, 0) AS e_k,
        |  CASE WHEN coalesce(nk.n_k, 0) > 1 THEN
        |    round(2.0 * CAST(coalesce(ek.e_k, 0) AS DOUBLE) /
        |      (CAST(nk.n_k AS DOUBLE) *
        |        (CAST(nk.n_k AS DOUBLE) - 1.0)), 4)
        |  END AS phi
        |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
        |ORDER BY k""".stripMargin,
    "q_boruvka_mst" ->
      """WITH te AS MATERIALIZED (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |ew AS MATERIALIZED (
        |  SELECT least(src, dst) AS u, greatest(src, dst) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(count(*) AS BIGINT) * 1000000 +
        |      least(src, dst) * 1000 + greatest(src, dst) AS w2
        |  FROM te WHERE src <> dst GROUP BY 1, 2),
        |prim AS (
        |  WITH RECURSIVE walk AS (
        |    SELECT 0 AS step,
        |      [CAST((SELECT min(u) FROM ew) AS BIGINT)] AS visited,
        |      CAST(NULL AS BIGINT) AS eu, CAST(NULL AS BIGINT) AS ev,
        |      CAST(NULL AS BIGINT) AS ecnt
        |    UNION ALL
        |    SELECT p.step + 1, list_append(p.visited, c.nd),
        |      c.u, c.v, c.cnt
        |    FROM walk p JOIN LATERAL (
        |      SELECT e.u, e.v, e.cnt,
        |        CASE WHEN list_contains(p.visited, e.u) THEN e.v
        |             ELSE e.u END AS nd
        |      FROM ew e
        |      WHERE list_contains(p.visited, e.u)
        |         <> list_contains(p.visited, e.v)
        |      ORDER BY e.w2 LIMIT 1) c ON true)
        |  SELECT eu, ev, ecnt FROM walk WHERE step > 0)
        |SELECT eu AS u, ev AS v, ecnt AS cnt FROM prim
        |ORDER BY u, v""".stripMargin,
    "q_graph_diameter" ->
      """WITH te AS MATERIALIZED (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |wcnt AS MATERIALIZED (
        |  SELECT least(src, dst) AS u, greatest(src, dst) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM te WHERE src <> dst GROUP BY 1, 2),
        |sig AS MATERIALIZED (
        |  SELECT u, v FROM wcnt
        |  WHERE CAST(cnt AS DOUBLE) >
        |    (SELECT CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |     FROM wcnt)),
        |adj AS MATERIALIZED (
        |  SELECT u AS node, v AS nbr FROM sig
        |  UNION ALL SELECT v, u FROM sig),
        |b1 AS (
        |  WITH RECURSIVE r AS (
        |    SELECT (SELECT min(node) FROM adj) AS node,
        |      CAST(0 AS BIGINT) AS d
        |    UNION
        |    SELECT a.nbr, r.d + 1 FROM r JOIN adj a ON a.node = r.node
        |    WHERE r.d < 6)
        |  SELECT node, min(d) AS d FROM r GROUP BY 1),
        |f1 AS (SELECT node, d FROM b1 ORDER BY d DESC, node LIMIT 1),
        |b2 AS (
        |  WITH RECURSIVE r AS (
        |    SELECT (SELECT node FROM f1) AS node, CAST(0 AS BIGINT) AS d
        |    UNION
        |    SELECT a.nbr, r.d + 1 FROM r JOIN adj a ON a.node = r.node
        |    WHERE r.d < 6)
        |  SELECT node, min(d) AS d FROM r GROUP BY 1),
        |f2 AS (SELECT node, d FROM b2 ORDER BY d DESC, node LIMIT 1)
        |SELECT (SELECT min(node) FROM adj) AS start_node,
        |  (SELECT node FROM f1) AS far1, (SELECT d FROM f1) AS ecc1,
        |  (SELECT node FROM f2) AS far2,
        |  (SELECT d FROM f2) AS diameter_lb""".stripMargin,
    "q_ktruss" ->
      """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |tri1 AS MATERIALIZED (
        |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |  FROM e0 ab JOIN e0 bc ON ab.v = bc.u
        |  JOIN e0 ac ON ac.u = ab.u AND ac.v = bc.v),
        |s1 AS MATERIALIZED (
        |  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
        |    SELECT a AS u, b AS v FROM tri1
        |    UNION ALL SELECT b, c FROM tri1
        |    UNION ALL SELECT a, c FROM tri1) g
        |  GROUP BY 1, 2),
        |e1 AS MATERIALIZED (
        |  SELECT e0.u, e0.v FROM e0 JOIN s1 USING (u, v)
        |  WHERE s1.sup >= 2),
        |tri2 AS MATERIALIZED (
        |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |  FROM e1 ab JOIN e1 bc ON ab.v = bc.u
        |  JOIN e1 ac ON ac.u = ab.u AND ac.v = bc.v),
        |s2 AS MATERIALIZED (
        |  SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
        |    SELECT a AS u, b AS v FROM tri2
        |    UNION ALL SELECT b, c FROM tri2
        |    UNION ALL SELECT a, c FROM tri2) g
        |  GROUP BY 1, 2)
        |SELECT e1.u, e1.v, coalesce(s2.sup, 0) AS sup
        |FROM e1 LEFT JOIN s2 USING (u, v)
        |WHERE coalesce(s2.sup, 0) >= 2
        |ORDER BY sup DESC, u ASC, v ASC LIMIT 20""".stripMargin)
}
