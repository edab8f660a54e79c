package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.jobs.Lifecycle

/** Structured-Streaming operators (SURVEY.md §7 M4) — the live twins of the
  * batch event ops, plus the reference's event-sourced job state machine as
  * a streaming fold.
  *
  * Reference semantics being re-expressed:
  *  - the gossipsub event feed (pkg/transport/libp2p/libp2p.go:219-289) is
  *    "a stream of JobEvent" — here any streaming DataFrame with the events
  *    schema (file source, rate source, or MemoryStream in tests);
  *  - `GetStateFromEvent` + partial update (pkg/controller/
  *    controller.go:351-385, pkg/executor/constants.go:211-251) becomes
  *    `mapGroupsWithState` keyed by (jobId, nodeId) — empty status/resultsId
  *    never overwrite, exactly the reference's fold;
  *  - the "sensor push once per second, export hourly" narrative
  *    (DESIGN.md:76-78) is the tumbling/sliding window aggregation with a
  *    watermark bounding state.
  *
  * Scale notes: every transform here is keyed state — Spark shards state by
  * the grouping key across executors, and the watermark bounds state size
  * (windows older than watermark are evicted). No driver-side state.
  */
object StreamOps {

  /** All transforms expect this event schema (the fixture `events` table's
    * streaming shape): ts TIMESTAMP, user_id LONG, event_type STRING,
    * value DOUBLE. */
  val eventColumns: Seq[String] = Seq("ts", "user_id", "event_type", "value")

  /** Streaming file source over a directory of parquet event files —
    * the A15 "subscribe to the event feed" analog. New files are picked up
    * incrementally; schema must be supplied (streaming reads don't infer). */
  def fileEventSource(spark: SparkSession, dir: String,
                      schemaSample: DataFrame): DataFrame =
    spark.readStream.schema(schemaSample.schema).parquet(dir)

  /** Tumbling (or sliding, when `slide` differs) windowed aggregation with
    * a watermark: counts + value totals per (window, event_type). Late rows
    * beyond the watermark are dropped; closed windows are emitted once in
    * append mode. */
  def windowedCounts(events: DataFrame,
                     watermarkDelay: String = "10 minutes",
                     windowDur: String = "5 minutes",
                     slide: Option[String] = None): DataFrame = {
    val w = slide match {
      case Some(sl) => window(col("ts"), windowDur, sl)
      case None     => window(col("ts"), windowDur)
    }
    events.withWatermark("ts", watermarkDelay)
      .groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n"), col("total"))
  }

  /** Session windows: events within `gap` of each other merge into one
    * session per user (the streaming twin of batch q_sessionize). */
  def sessionCounts(events: DataFrame,
                    gap: String = "30 minutes",
                    watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
      .select(col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n_events"), col("total"))

  /** Streaming exact dedup: drop events whose `keys` were already seen,
    * with state bounded by the watermark (`dropDuplicatesWithinWatermark` —
    * duplicates are only guaranteed-dropped while inside the watermark
    * horizon, which is exactly the at-least-once-delivery dedup the
    * reference's event bus needs: gossipsub redelivers within seconds, not
    * days — pkg/transport/types.go at-least-once note). */
  def dedupeEvents(events: DataFrame,
                   keys: Seq[String],
                   watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup suppression for a document stream — the
    * training-corpus ingestion shape: each doc gets its simhash signature
    * (native `simhash32` expression, map-only) and only the first doc per
    * signature within the watermark horizon survives. Exact-dup streaming
    * drop is [[dedupeEvents]] on a content digest; this catches
    * near-identical variants that hash to the same signature. State is
    * bounded: signature keys age out with the watermark. */
  def dedupeNearDocs(docs: DataFrame, textCol: String = "text",
                     tsCol: String = "ts",
                     watermarkDelay: String = "10 minutes"): DataFrame = {
    docs.withColumn("sig", graft.functions.SimHash64.col(
        graft.functions.SimHash64.tokenHashes(col(textCol))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("sig"))
  }

  /** Streaming NEAR-dup suppression on the batch chain's OWN primitives —
    * the MinHash/LSH twin of [[dedupeNearDocs]] (which uses SimHash).
    * Each doc's word-3-gram shingle codes (`Dedup.shingleCodes`) feed the
    * codegen'd `minhash8` expression; the 8-long signature splits into the
    * batch chain's exact 4 × 2-row LSH bands (`Dedup.bandStructs`), and a
    * doc survives only if NONE of its four band buckets was claimed by an
    * earlier doc inside the watermark horizon — four chained
    * `dropDuplicatesWithinWatermark` operators, one per band, each with
    * its own keyed state store.
    *
    * Parity with the batch chain is structural: identical shingle codes →
    * identical signatures → identical band buckets, so every streaming
    * suppression corresponds to a batch q_lsh_pairs candidate pair (a
    * band collision equates ≥ 2 of 8 minhash positions by construction —
    * the batch chain's own n_match ≥ 2 floor). StreamingSpec asserts both
    * directions on real fixture docs.
    *
    * Docs under 3 words carry no signature in the batch chain (they
    * cannot near-dup); here their band keys are per-doc unique
    * (−(doc_id+1), so they pass through un-suppressed rather than all
    * colliding on an empty-input sentinel.
    *
    * Scale shape: state is 4 stores × one (h1, h2) long-pair per doc in
    * the horizon — sharded by key across executors, aged out by the
    * watermark; the signature step is the same map-only codegen'd pass
    * as batch q_minhash_sig. */
  def dedupeNearDocsMinhash(docs: DataFrame, textCol: String = "text",
                            idCol: String = "doc_id", tsCol: String = "ts",
                            watermarkDelay: String = "10 minutes"): DataFrame = {
    val ws = split(col(textCol), " ")
    val sig = docs.withColumn("_mh",
      when(size(ws) >= 3,
        graft.functions.MinHash8.col(graft.queries.Dedup.shingleCodes(ws))))
    val withBands = (0 until 4).foldLeft(sig) { (df, b) =>
      df.withColumn(s"_b${b}_h1",
          coalesce(element_at(col("_mh"), 2 * b + 1), -(col(idCol) + 1)))
        .withColumn(s"_b${b}_h2",
          coalesce(element_at(col("_mh"), 2 * b + 2), -(col(idCol) + 1)))
    }
    val deduped = (0 until 4).foldLeft(
      withBands.withWatermark(tsCol, watermarkDelay)) { (df, b) =>
      df.dropDuplicatesWithinWatermark(Seq(s"_b${b}_h1", s"_b${b}_h2"))
    }
    deduped.drop("_mh" +:
      (0 until 4).flatMap(b => Seq(s"_b${b}_h1", s"_b${b}_h2")): _*)
  }

  /** Stream-stream interval join: attribute each click to views by the same
    * user within the preceding `horizon`. Both sides carry watermarks so
    * Spark bounds the join state (view rows age out once the click-side
    * watermark passes view.ts + horizon — no unbounded buffering). */
  def clickAttribution(views: DataFrame, clicks: DataFrame,
                       watermarkDelay: String = "10 minutes",
                       horizon: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("ts", watermarkDelay).alias("v")
    val c = clicks.withWatermark("ts", watermarkDelay).alias("c")
    v.join(c,
      expr(s"""v.user_id = c.user_id AND
              |c.ts >= v.ts AND
              |c.ts <= v.ts + INTERVAL $horizon""".stripMargin))
      .select(col("v.user_id").as("user_id"),
        col("v.ts").as("view_ts"), col("c.ts").as("click_ts"))
  }

  /** The streaming twin of the batch corpus-prep pipeline — live ingest:
    * quality-filter (map-only Gopher-style signals) → EXACT dedup on the
    * content digest → NEAR-dup suppression on the simhash signature, all
    * inside one watermark horizon. Two chained
    * `dropDuplicatesWithinWatermark` stateful operators, each keyed on a
    * bounded column (32-byte digest / 32-bit signature) whose state ages
    * out with the watermark — the shape that ingests a firehose without
    * unbounded state. Expects (ts, doc_id, text). */
  def corpusIngest(docs: DataFrame,
                   watermarkDelay: String = "10 minutes",
                   minWords: Int = 5,
                   minDistinctRatio: Double = 0.45): DataFrame = {
    val ws = split(col("text"), " ")
    docs
      .withColumn("n_words", size(ws).cast("long"))
      .withColumn("distinct_ratio",
        round(size(array_distinct(ws)).cast("double") / col("n_words"), 6))
      .filter(col("n_words") >= minWords &&
        col("distinct_ratio") >= minDistinctRatio)
      .withColumn("h", md5(col("text")))
      .withColumn("sig", graft.functions.SimHash64.col(
        graft.functions.SimHash64.tokenHashes(col("text"))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("h"))
      .dropDuplicatesWithinWatermark(Seq("sig"))
      .select("ts", "doc_id", "n_words", "distinct_ratio", "sig")
  }

  /** Trending tokens: sliding-window token counts over a document stream —
    * the live "what is the corpus suddenly full of?" monitor (crawl-loop
    * drift/spam detection). One stateful operator: explode is narrow, the
    * windowed count is watermark-bounded keyed state sharded by (window,
    * token); closed windows emit once (append). Top-k RANKING is not a
    * time-window aggregate, so it deliberately stays OUT of the stream —
    * rank the emitted closed windows with [[topTokensPerWindow]] (batch,
    * or foreachBatch on the sink side): the stream holds counts for every
    * token in the horizon, the rank step reads only closed windows. */
  def trendingTokens(docs: DataFrame,
                     watermarkDelay: String = "10 minutes",
                     windowDur: String = "10 minutes",
                     slide: String = "5 minutes"): DataFrame =
    docs
      .select(col("ts"), explode(split(col("text"), " ")).as("token"))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur, slide).as("w"), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("token"), col("n"))

  /** Batch ranking over [[trendingTokens]] output: top-k tokens per closed
    * window (ties break lexicographically for determinism). */
  def topTokensPerWindow(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_start", "w_end")
      .orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("w_start", "w_end", "rank", "token", "n")
  }

  /** Stream-static enrichment join: decorate a stream with columns from a
    * bounded dimension table. The static side broadcasts, so each
    * micro-batch is a map-side hash join — the stream never shuffles and
    * no join state accumulates (unlike stream-stream joins, the static
    * side is re-readable per batch; swap the underlying files and new
    * batches see the refreshed dim). `how` = "inner" drops unmatched
    * stream rows, "left" keeps them with nulls. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: Seq[String],
                    how: String = "left"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key, how)

  /** Idempotent keyed upsert sink via foreachBatch — the merge-into shape
    * without a lakehouse format: each micro-batch's rows win over stored
    * rows with the same key (latest batch wins; within a batch, max ts
    * wins). Restart-safe: replaying a batch converges to the same table.
    * The store is a parquet dir rewritten per batch — at real scale this
    * body swaps for a format with row-level merge; the streaming side
    * (foreachBatch + dedup-within-batch) is unchanged. */
  def upsertSink(updates: DataFrame, path: String, keys: Seq[String],
                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val keyCols = keys.map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols: _*)
          .orderBy(col("ts").desc)
        val latest = batch
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        val merged =
          if (new java.io.File(path).exists()) {
            val existing = spark.read.parquet(path)
            existing.join(latest, keys, "left_anti").unionByName(latest)
          } else latest
        // rewrite atomically-enough for a local store: stage then move
        val staged = path + ".staging"
        merged.write.mode("overwrite").parquet(staged)
        val target = new java.io.File(path)
        if (target.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          rm(target)
        }
        // a failed rename after the old store was deleted would silently
        // DESTROY the table (next batch sees no store and drops all
        // previously merged rows) — fail the batch loudly instead
        if (!new java.io.File(staged).renameTo(target))
          throw new java.io.IOException(
            s"upsertSink: rename $staged -> $path failed; store lost " +
              "unless the staged directory is recovered manually")
        ()
      }
      .start()

  /** Event record for the streaming state machine (mirrors
    * graft.jobs.JobEvent; a distinct case class so the streaming Encoder
    * schema is explicit and minimal). */
  final case class MetricIn(ts_us: Long, event_id: Long, key: String,
                            value: Double)
  final case class Anomaly(key: String, event_id: Long, value: Double,
                           z: Double, n_seen: Long)
  /** Per-key running-stats state (public: Catalyst's state encoder
    * generates code against it). */
  final case class Welford(n: Long, mean: Double, m2: Double)

  /** Streaming anomaly detection: per-key running mean/variance (Welford's
    * online update — numerically stable, O(1) state per key) via
    * flatMapGroupsWithState; an event whose |z| exceeds `zThresh` against
    * the statistics of the points BEFORE it is emitted as an anomaly.
    * Warmup: nothing fires until `minN` points have been absorbed. State
    * is 3 doubles per key — sharded by key across executors, no history
    * buffer, which is the whole point at 100 TB/day telemetry volume.
    * Determinism: within a batch, points apply in (ts_us, event_id)
    * order, so replicated runs flag identical ids. */
  def anomalies(metrics: Dataset[MetricIn],
                zThresh: Double = 3.0,
                minN: Long = 10): Dataset[Anomaly] = {
    import metrics.sparkSession.implicits._
    metrics.groupByKey(_.key)
      .flatMapGroupsWithState[Welford, Anomaly](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, points, state: GroupState[Welford]) =>
          var w = state.getOption.getOrElse(Welford(0L, 0.0, 0.0))
          val out = Seq.newBuilder[Anomaly]
          points.toSeq.sortBy(p => (p.ts_us, p.event_id)).foreach { p =>
            if (w.n >= minN) {
              val sd = math.sqrt(w.m2 / (w.n - 1))
              if (sd > 0) {
                val z = (p.value - w.mean) / sd
                if (math.abs(z) > zThresh)
                  out += Anomaly(key, p.event_id, p.value,
                    math.rint(z * 1e4) / 1e4, w.n)
              }
            }
            val n1 = w.n + 1
            val d = p.value - w.mean
            val mean1 = w.mean + d / n1
            w = Welford(n1, mean1, w.m2 + d * (p.value - mean1))
          }
          state.update(w)
          out.result().iterator
      }
  }

  final case class SprtTrial(ts_us: Long, event_id: Long,
      purchase: Boolean)
  final case class SprtUpdate(experiment: String, n_trials: Long,
      llr: Double, decision: String)
  final case class SprtState(n: Long, llrPico: Long, decided: String)

  /** Streaming Wald SPRT — the stateful twin of batch q_sprt
    * (queries.Analytics): per experiment key, the cumulative pico-nat
    * log-likelihood ratio of the purchase rate (p0 = 0.2 vs p1 = 0.3,
    * α = β = 0.05 — the SAME integer constants, so batch and stream sum
    * identical values) advances trial by trial; the decision LATCHES at
    * the first boundary crossing exactly like Wald's stopped test, and
    * one update row per micro-batch reports (n, llr, decision). State is
    * two longs + a string per experiment — the always-on A/B monitor at
    * any event volume. Within a batch trials apply in (ts_us, event_id)
    * order, so a time-ordered feed reproduces the batch first-crossing
    * trial exactly (StreamingSpec pins parity on the fixture stream). */
  def sprtMonitor(trials: Dataset[SprtTrial],
      experiment: String = "default"): Dataset[SprtUpdate] = {
    import trials.sparkSession.implicits._
    val up = graft.queries.Analytics.SprtUp
    val dn = graft.queries.Analytics.SprtDn
    val bound = graft.queries.Analytics.SprtBound
    trials.groupByKey(_ => experiment)
      .flatMapGroupsWithState[SprtState, SprtUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[SprtState]) =>
          var s = state.getOption.getOrElse(SprtState(0L, 0L, "continue"))
          rows.toSeq.sortBy(t => (t.ts_us, t.event_id)).foreach { t =>
            val l1 = s.llrPico + (if (t.purchase) up else dn)
            val dec =
              if (s.decided != "continue") s.decided // Wald stop latches
              else if (l1 >= bound) "accept_h1"
              else if (l1 <= -bound) "accept_h0"
              else "continue"
            s = SprtState(s.n + 1, l1, dec)
          }
          state.update(s)
          Iterator(SprtUpdate(key, s.n, s.llrPico / 1e12, s.decided))
      }
  }

  /** Streaming IVF coarse assignment — the online-indexing half of the
    * batch ANN path (queries.Similarity q_ivf_assign): the index's
    * centroids are built OFFLINE (batch KMeans / per-label means, a
    * bounded k×dim matrix), and every arriving vector is assigned to
    * its nearest cell in-stream. The centroids ride the plan as
    * LITERALS (the KMeans-centroid discipline: a bounded driver-side
    * matrix, never a stream-side join or aggregation), so the operator
    * is a pure map stage — Append-mode safe, no watermark, no state —
    * exactly what lets an ingest pipeline route new embeddings into
    * inverted lists at any stream rate. Distances fold per row over the
    * zipped (x−c)² array (deterministic order), round to the batch's
    * 6 dp, and ties break to the lowest label via struct-min — the same
    * (d2 asc, label asc) rule as the batch window, so batch and stream
    * assignments agree row for row (StreamingSpec pins it). Works on
    * static frames too (it is just a map). */
  def ivfAssign(vecs: DataFrame,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign needs a trained centroid matrix")
    val cand = array(centroids.sortBy(_._1).map { case (lbl, c) =>
      struct(
        round(aggregate(
          zip_with(col("embedding"), typedLit(c.toSeq),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v), 6).as("d2"),
        lit(lbl).as("lbl"))
    }: _*)
    vecs.select(col("vec_id"), array_min(cand).as("m"))
      .select(col("vec_id"), col("m.lbl").as("nearest"), col("m.d2").as("d2"))
  }

  final case class HoltPoint(ts_us: Long)
  final case class HoltUpdate(series: String, n_days: Long,
      level: Option[Double], trend: Option[Double],
      forecast_7d: Option[Double])
  final case class HoltState(day: Long, n: Long, nClosed: Long,
      x0: Double, l: Double, b: Double)

  /** Streaming Holt double-exponential forecast — the stateful twin of
    * batch q_holt (queries.Analytics): per series key, daily event
    * counts fold into (level, trend) with the SAME hardcoded constants
    * as the batch recurrence (α=0.5, 1−α=0.5, β=0.3, 1−β=0.7 — literal
    * for literal, so the stream's doubles are bit-identical to the
    * batch fold, not merely close). A day folds when the first event of
    * a LATER day arrives (the count is then final); the still-open day
    * is never folded, and events for already-closed days are dropped —
    * the watermark analog. One update per micro-batch reports
    * (closed days, level, trend, 7-day forecast); level/trend are None
    * until the two init days have closed, matching batch q_holt's null
    * output on a <2-day series. State is three longs + three doubles
    * per series — always-on forecasting at any event volume.
    * StreamingSpec pins batch parity by closing the fixture's last day
    * with a sentinel. */
  def holtForecast(points: Dataset[HoltPoint], series: String = "events",
      dayUs: Long = 86400000000L): Dataset[HoltUpdate] = {
    import points.sparkSession.implicits._
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[HoltState, HoltUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[HoltState]) =>
          var s = state.getOption
            .getOrElse(HoltState(-1L, 0L, 0L, 0.0, 0.0, 0.0))
          // fold the just-finished day's count — exactly batch q_holt's
          // aggregate() lambda, applied once per closed day
          def close(st: HoltState): HoltState = {
            val x = st.n.toDouble
            st.nClosed match {
              case 0L => st.copy(nClosed = 1L, x0 = x)
              case 1L =>
                // init l₀=x₀, b₀=x₁−x₀, then fold x₁ (the batch slice
                // starts at the SECOND element)
                val l0 = st.x0
                val b0 = x - st.x0
                val l1 = 0.5 * x + 0.5 * (l0 + b0)
                val b1 = 0.3 * (l1 - l0) + 0.7 * b0
                st.copy(nClosed = 2L, l = l1, b = b1)
              case _ =>
                val l1 = 0.5 * x + 0.5 * (st.l + st.b)
                val b1 = 0.3 * (l1 - st.l) + 0.7 * st.b
                st.copy(nClosed = st.nClosed + 1L, l = l1, b = b1)
            }
          }
          rows.toSeq.sortBy(_.ts_us).foreach { p =>
            val d = p.ts_us / dayUs
            if (s.day == -1L) s = s.copy(day = d, n = 1L)
            else if (d == s.day) s = s.copy(n = s.n + 1L)
            else if (d > s.day) s = close(s).copy(day = d, n = 1L)
            // d < s.day: late event for a closed day — dropped
          }
          state.update(s)
          Iterator(
            if (s.nClosed >= 2L)
              HoltUpdate(key, s.nClosed, Some(s.l), Some(s.b),
                Some(s.l + 7.0 * s.b))
            else HoltUpdate(key, s.nClosed, None, None, None))
      }
  }

  final case class HhEvent(seq: Long, item: String)
  final case class HhState(n: Long, items: Map[String, Long])
  final case class HhUpdate(series: String, n_seen: Long,
      candidates: Map[String, Long])

  /** Streaming heavy hitters via a Misra–Gries summary (k counters) —
    * the bounded-state twin of the batch frequency queries
    * (q_event_counts exact, q_cms_heavy sketched): state per series is
    * AT MOST k (item, counter) pairs regardless of stream length or
    * item cardinality. Guarantees (and what the spec pins):
    *  - any item with true count > n/(k+1) is PRESENT among the
    *    candidates (no false negatives for genuine heavy hitters);
    *  - counters lower-bound true counts (within n/(k+1));
    *  - when the stream's distinct-item count never exceeds k, no
    *    decrement ever fires and the summary is EXACT — equal to the
    *    batch group-by, the honest one-pass parity claim.
    * Events carry an explicit `seq` so replayed batches fold in a
    * deterministic order (micro-batch iterator order is not a
    * contract). */
  def heavyHitters(events: Dataset[HhEvent], k: Int = 16,
      series: String = "events"): Dataset[HhUpdate] = {
    import events.sparkSession.implicits._
    require(k >= 1, "heavyHitters needs at least one counter")
    events.groupByKey(_ => series)
      .flatMapGroupsWithState[HhState, HhUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[HhState]) =>
          var st = state.getOption.getOrElse(HhState(0L, Map.empty))
          rows.toSeq.sortBy(_.seq).foreach { e =>
            val m = st.items
            val updated =
              if (m.contains(e.item)) m.updated(e.item, m(e.item) + 1L)
              else if (m.size < k) m.updated(e.item, 1L)
              // summary full: the classic all-decrement step — the new
              // item and one unit of every tracked item cancel out
              else m.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
            st = HhState(st.n + 1L, updated)
          }
          state.update(st)
          Iterator(HhUpdate(key, st.n, st.items))
      }
  }

  final case class CusumUpdate(series: String, n_days: Long,
      max_cusum: Double, alarm_day: Option[Long])
  final case class CusumState(day: Long, n: Long, nClosed: Long,
      s: Long, mx: Long, cr: Long)

  /** Streaming one-sided CUSUM monitor — the always-on twin of batch
    * q_cusum (queries.Analytics). The reference mean is CALIBRATED
    * OFFLINE and rides the operator as exact-integer constants
    * (`nd` days / `sx` events from a batch window — the
    * centroid-literal discipline of [[ivfAssign]]): per closed day the
    * state folds s' ← max(0, s' + 2·nd·x − 3·sx) in scaled BIGINT
    * units (k = μ/2, h = 4μ ⟺ alarm at s' > 8·sx), bit-identical to
    * the batch aggregate() fold, so a stream fed the same days lands
    * on the same max_cusum and the same first alarm day
    * (StreamingSpec pins it via the sentinel close). Day-close
    * discipline is [[holtForecast]]'s; state is six longs per series. */
  def cusumMonitor(points: Dataset[HoltPoint], nd: Long, sx: Long,
      series: String = "events",
      dayUs: Long = 86400000000L): Dataset[CusumUpdate] = {
    import points.sparkSession.implicits._
    require(nd > 0 && sx >= 0, "cusumMonitor needs offline (nd, sx)")
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[CusumState, CusumUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[CusumState]) =>
          var st = state.getOption
            .getOrElse(CusumState(-1L, 0L, 0L, 0L, 0L, -1L))
          def close(cur: CusumState): CusumState = {
            val sNew = math.max(0L, cur.s + 2L * nd * cur.n - 3L * sx)
            cur.copy(nClosed = cur.nClosed + 1L, s = sNew,
              mx = math.max(cur.mx, sNew),
              cr = if (cur.cr != -1L) cur.cr
                else if (sNew > 8L * sx) cur.day else -1L)
          }
          rows.toSeq.sortBy(_.ts_us).foreach { p =>
            val d = p.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, n = 1L)
            else if (d == st.day) st = st.copy(n = st.n + 1L)
            else if (d > st.day) st = close(st).copy(day = d, n = 1L)
            // d < st.day: late event for a closed day — dropped
          }
          state.update(st)
          Iterator(CusumUpdate(key, st.nClosed,
            math.rint(st.mx.toDouble / (2.0 * nd) * 1e4) / 1e4,
            if (st.cr == -1L) None else Some(st.cr)))
      }
  }

  final case class PhUpdate(series: String, n_days: Long,
      max_ph: Double, alarm_day: Option[Long])
  final case class PhState(day: Long, n: Long, nClosed: Long,
      m: Long, mn: Long, mph: Long, cr: Long)

  /** Streaming Page–Hinkley drift monitor — the reset-free sibling of
    * [[cusumMonitor]] and the always-on twin of batch q_page_hinkley
    * (queries.Analytics): PH accumulates the deviation from the
    * offline-calibrated mean (10% tolerance band) minus its running
    * minimum, so a SLOW upward drift alarms where CUSUM's max(0,·)
    * reset keeps forgiving it. Identical integer constants to the
    * batch fold (increment 10·nd·x − 11·sx, alarm at gap > 30·sx), so
    * a stream fed the same days lands on the same max_ph and first
    * alarm day (StreamingSpec pins it via the sentinel close).
    * Day-close discipline is [[holtForecast]]'s; state is seven longs
    * per series. */
  def pageHinkleyMonitor(points: Dataset[HoltPoint], nd: Long, sx: Long,
      series: String = "events",
      dayUs: Long = 86400000000L): Dataset[PhUpdate] = {
    import points.sparkSession.implicits._
    require(nd > 0 && sx >= 0, "pageHinkleyMonitor needs offline (nd, sx)")
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[PhState, PhUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[PhState]) =>
          var st = state.getOption
            .getOrElse(PhState(-1L, 0L, 0L, 0L, 0L, 0L, -1L))
          def close(cur: PhState): PhState = {
            val mNew = cur.m + 10L * nd * cur.n - 11L * sx
            val mnNew = math.min(cur.mn, mNew)
            val ph = mNew - mnNew
            cur.copy(nClosed = cur.nClosed + 1L, m = mNew, mn = mnNew,
              mph = math.max(cur.mph, ph),
              cr = if (cur.cr != -1L) cur.cr
                else if (ph > 30L * sx) cur.day else -1L)
          }
          rows.toSeq.sortBy(_.ts_us).foreach { p =>
            val d = p.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, n = 1L)
            else if (d == st.day) st = st.copy(n = st.n + 1L)
            else if (d > st.day) st = close(st).copy(day = d, n = 1L)
            // d < st.day: late event for a closed day — dropped
          }
          state.update(st)
          Iterator(PhUpdate(key, st.nClosed,
            math.rint(st.mph.toDouble / (10.0 * nd) * 1e4) / 1e4,
            if (st.cr == -1L) None else Some(st.cr)))
      }
  }

  final case class KalmanUpdate(series: String, day: Long, x: Long,
      level: Double, p_var: Double)
  final case class KalmanState(day: Long, acc: Long, xh: Double,
      p: Double, started: Boolean)

  /** Streaming local-level Kalman filter — the stateful twin of batch
    * q_kalman_1d (queries.Stats12): same fixed Q = 25 / R = 400
    * constants in the same operation order (P⁻ = P + 25,
    * K = P⁻/(P⁻ + 400), x̂′ = x̂ + K(y − x̂), P′ = (1 − K)P⁻; init
    * x̂ = y₁, P = 400 at the first closed day), so the stream's doubles
    * are bit-identical to the batch prefix fold. Day-close discipline
    * is [[crostonMonitor]]'s: a day folds into the filter when a later
    * day's first event arrives; late events for closed days drop.
    * State is two longs + two doubles + a flag per series.
    * StreamingSpec pins batch parity via the sentinel close. */
  def kalmanMonitor(points: Dataset[HoltPoint], series: String = "events",
      dayUs: Long = 86400000000L): Dataset[KalmanUpdate] = {
    import points.sparkSession.implicits._
    def r4(v: Double): Double = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[KalmanState, KalmanUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[KalmanState]) =>
          var st = state.getOption
            .getOrElse(KalmanState(-1L, 0L, 0.0, 0.0, started = false))
          val out = Vector.newBuilder[KalmanUpdate]
          def close(): Unit = {
            val y = st.acc
            if (!st.started)
              st = st.copy(xh = y.toDouble, p = 400.0, started = true)
            else {
              val ppred = st.p + 25.0
              val k = ppred / (ppred + 400.0)
              st = st.copy(xh = st.xh + k * (y.toDouble - st.xh),
                p = (1.0 - k) * ppred)
            }
            out += KalmanUpdate(key, st.day, y, r4(st.xh), r4(st.p))
          }
          rows.toSeq.sortBy(_.ts_us).foreach { pt =>
            val d = pt.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, acc = 1L)
            else if (d == st.day) st = st.copy(acc = st.acc + 1L)
            else if (d > st.day) {
              close()
              st = st.copy(day = d, acc = 1L)
            } // d < st.day: late event for a closed day — dropped
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class CrostonUpdate(series: String, n_days: Long,
      n_demand: Long, size_hat: Option[Double],
      interval_hat: Option[Double], demand_rate: Option[Double])
  final case class CrostonState(day: Long, n: Long, first: Long,
      lastDemand: Long, seen: Long, z: Double, p: Double)

  /** Streaming Croston intermittent-demand forecast — the stateful twin
    * of batch q_croston (queries.Stats3): the stream carries DEMAND
    * events only (signups), so every arriving day is a nonzero-demand
    * day and the zero-demand calendar days the method cares about exist
    * purely as gaps between arriving days — exactly how the batch
    * recurrence consumes them (only nonzero days update state; zero days
    * only widen the next inter-arrival gap). Same literal constants in
    * the same operation order (z′ = 0.2·x + 0.8·z, p′ = 0.2·gap + 0.8·p,
    * init z = x₁, p = 1 at the first demand day, which IS the calendar
    * origin since the batch calendar starts at min(demand day)), so the
    * stream's doubles are bit-identical to the batch fold. Day-close
    * discipline is [[holtForecast]]'s: a day folds when a later day's
    * first event arrives; late events for closed days drop; estimates
    * are None until one demand day has closed. State is five longs + two
    * doubles per series. StreamingSpec pins batch parity via the
    * sentinel close. */
  def crostonMonitor(points: Dataset[HoltPoint], series: String = "events",
      dayUs: Long = 86400000000L): Dataset[CrostonUpdate] = {
    import points.sparkSession.implicits._
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[CrostonState, CrostonUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[CrostonState]) =>
          var st = state.getOption
            .getOrElse(CrostonState(-1L, 0L, -1L, -1L, 0L, 0.0, 0.0))
          def close(cur: CrostonState): CrostonState = {
            val x = cur.n.toDouble
            if (cur.seen == 0L)
              cur.copy(lastDemand = cur.day, seen = 1L, z = x,
                p = (cur.day - cur.first + 1L).toDouble)
            else {
              val gap = (cur.day - cur.lastDemand).toDouble
              cur.copy(lastDemand = cur.day, seen = cur.seen + 1L,
                z = 0.2 * x + 0.8 * cur.z,
                p = 0.2 * gap + 0.8 * cur.p)
            }
          }
          rows.toSeq.sortBy(_.ts_us).foreach { pt =>
            val d = pt.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, n = 1L, first = d)
            else if (d == st.day) st = st.copy(n = st.n + 1L)
            else if (d > st.day) st = close(st).copy(day = d, n = 1L)
            // d < st.day: late event for a closed day — dropped
          }
          state.update(st)
          Iterator(
            if (st.seen >= 1L)
              CrostonUpdate(key, st.lastDemand - st.first + 1L, st.seen,
                Some(st.z), Some(st.p),
                if (st.p == 0.0) None else Some(st.z / st.p))
            else CrostonUpdate(key, 0L, 0L, None, None, None))
      }
  }

  /** A timestamped value event — the input of monitors that track a daily
    * VALUE aggregate (cents) rather than a count ([[HoltPoint]]). */
  final case class ValuePoint(ts_us: Long, cents: Long)
  final case class HampelVerdict(series: String, day: Long, dollars: Double,
      med_cents: Double, mad_cents: Double, n_window: Long, outlier: Boolean)
  final case class HampelState(day: Long, acc: Long, lastEmitted: Long,
      closedDays: Seq[Long], closedYs: Seq[Long])

  /** Streaming Hampel robust outlier filter — the stateful twin of batch
    * q_hampel (queries.Stats8): each day's revenue against the median ±
    * 3·1.4826·MAD of its ±3-day neighborhood. A CENTERED window needs
    * future days, so a day's verdict is only final once the stream has
    * moved strictly past day+3: verdicts emit with that (bounded) lag,
    * exactly the batch row once emitted. State per series is the open
    * day's accumulating cents plus the closed days still inside some
    * pending center's band — days monotone means at most the trailing
    * 7-day band survives pruning, a fixed bound, never a growing buffer.
    * Both medians use Spark's exact-percentile interpolation formula on
    * cents (half-/quarter-cent exact binary doubles — the batch parity
    * argument), so the stream's verdict doubles are bit-identical to the
    * batch's. Day-close discipline is [[holtForecast]]'s: a day closes
    * when a later day's first event arrives; late events drop.
    * StreamingSpec pins batch parity via the sentinel-close trick. */
  def hampelMonitor(points: Dataset[ValuePoint], series: String = "events",
      dayUs: Long = 86400000000L): Dataset[HampelVerdict] = {
    import points.sparkSession.implicits._
    // Spark Percentile's exact interpolation, literal for literal:
    // position = p·(n−1); (higher−pos)·lo + (pos−lower)·hi
    def pct50(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val pos = 0.5 * (s.length - 1)
      val lower = math.floor(pos).toInt
      val higher = math.ceil(pos).toInt
      if (lower == higher) s(lower)
      else (higher - pos) * s(lower) + (pos - lower) * s(higher)
    }
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[HampelState, HampelVerdict](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[HampelState]) =>
          var st = state.getOption
            .getOrElse(HampelState(-1L, 0L, Long.MinValue,
              Vector.empty, Vector.empty))
          val out = Vector.newBuilder[HampelVerdict]
          def emitFinal(openDay: Long, days: Vector[Long],
              ys: Vector[Long], last: Long): Long = {
            var lastE = last
            days.indices.foreach { i =>
              val c = days(i)
              if (c > lastE && c + 3 < openDay) {
                val win = days.indices
                  .filter(j => math.abs(days(j) - c) <= 3)
                val wys = win.map(j => ys(j).toDouble)
                val med = pct50(wys)
                val y = ys(i).toDouble
                val mad = pct50(win.map(j => math.abs(ys(j) - med)))
                out += HampelVerdict(key, c,
                  BigDecimal(y / 100.0)
                    .setScale(2, BigDecimal.RoundingMode.HALF_UP)
                    .toDouble,
                  med, mad, win.size.toLong,
                  math.abs(y - med) > 3.0 * 1.4826 * mad)
                lastE = c
              }
            }
            lastE
          }
          rows.toSeq.sortBy(_.ts_us).foreach { pt =>
            val d = pt.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, acc = pt.cents)
            else if (d == st.day) st = st.copy(acc = st.acc + pt.cents)
            else if (d > st.day) {
              val days = st.closedDays.toVector :+ st.day
              val ys = st.closedYs.toVector :+ st.acc
              val lastE = emitFinal(d, days, ys, st.lastEmitted)
              // retain only days a pending center (closed > lastE, or the
              // newly-open day once it closes) can still reference
              val minPending = days.find(_ > lastE).getOrElse(d)
              val keep = days.indices.filter(i => days(i) >= minPending - 3)
              st = HampelState(d, pt.cents, lastE,
                keep.map(days).toVector, keep.map(ys).toVector)
            }
            // d < st.day: late event for a closed day — dropped
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HwUpdate(series: String, n_days: Long,
      level: Option[Double], trend: Option[Double],
      forecast_1d: Option[Double], season_range: Option[Double])
  final case class HwState(day: Long, n: Long, nClosed: Long,
      buf: Seq[Double], l: Double, b: Double, s: Seq[Double])

  /** Streaming Holt–Winters additive triple-exponential forecast — the
    * seasonal twin of [[holtForecast]] and the stateful twin of batch
    * q_holt_winters (queries.Analytics): per series key, daily counts
    * fold into (level, trend, 7 seasonal slots) with the SAME literal
    * constants as the batch recurrence (α=0.3/0.7, β=0.2/0.8, γ=0.4/0.6)
    * in the same operation order, so the stream's doubles are
    * bit-identical to the batch fold. The classical two-week init needs
    * the first 14 CLOSED days before any estimate exists: those counts
    * buffer in the state cell (14 doubles, a fixed bound, not a window);
    * when day 14 closes the init means fold LEFT-ASSOCIATED exactly as
    * the batch column expression does, days 8–14 replay through the
    * recurrence, and from day 15 on each closing day folds directly —
    * the buffer never grows past 14. Day-close discipline is
    * [[holtForecast]]'s: a day folds when a later day's first event
    * arrives; late events for closed days drop. State per series is the
    * buffer + 7 slots + three scalars — always-on seasonal forecasting
    * at any event volume. StreamingSpec pins batch parity via the
    * sentinel-close trick. */
  def holtWintersForecast(points: Dataset[HoltPoint],
      series: String = "events",
      dayUs: Long = 86400000000L): Dataset[HwUpdate] = {
    import points.sparkSession.implicits._
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[HwState, HwUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[HwState]) =>
          var st = state.getOption.getOrElse(
            HwState(-1L, 0L, 0L, Vector.empty, 0.0, 0.0, Vector.empty))
          // one recurrence step: day index i (1-based), count xi — the
          // batch aggregate() lambda literal for literal
          def step(l: Double, b: Double, s: Vector[Double], i: Long,
              xi: Double): (Double, Double, Vector[Double]) = {
            val pos = ((i - 1) % 7).toInt // 0-based slot
            val sOld = s(pos)
            val lNew = 0.3 * (xi - sOld) + 0.7 * (l + b)
            val bNew = 0.2 * (lNew - l) + 0.8 * b
            val sNew = 0.4 * (xi - lNew) + 0.6 * sOld
            (lNew, bNew, s.updated(pos, sNew))
          }
          def close(cur: HwState): HwState = {
            val x = cur.n.toDouble
            val i = cur.nClosed + 1 // this day's series index
            if (i < 14L) cur.copy(nClosed = i, buf = cur.buf :+ x)
            else if (i == 14L) {
              val buf = (cur.buf :+ x).toVector
              // left-associated means — identical IEEE fold to the batch
              // reduceLeft column expression
              val m1 = buf.slice(0, 7).reduceLeft(_ + _) / 7
              val m2 = buf.slice(7, 14).reduceLeft(_ + _) / 7
              val l0 = m1
              val b0 = (m2 - m1) / 7
              var s = Vector.tabulate(7)(j => buf(j) - l0)
              var l = l0; var b = b0
              for (j <- 8L to 14L) {
                val r = step(l, b, s, j, buf((j - 1).toInt))
                l = r._1; b = r._2; s = r._3
              }
              cur.copy(nClosed = 14L, buf = Vector.empty, l = l, b = b,
                s = s)
            } else {
              val r = step(cur.l, cur.b, cur.s.toVector, i, x)
              cur.copy(nClosed = i, l = r._1, b = r._2, s = r._3)
            }
          }
          rows.toSeq.sortBy(_.ts_us).foreach { p =>
            val d = p.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, n = 1L)
            else if (d == st.day) st = st.copy(n = st.n + 1L)
            else if (d > st.day) st = close(st).copy(day = d, n = 1L)
            // d < st.day: late event for a closed day — dropped
          }
          state.update(st)
          Iterator(
            if (st.nClosed >= 14L)
              HwUpdate(key, st.nClosed, Some(st.l), Some(st.b),
                Some(st.l + st.b + st.s(((st.nClosed % 7)).toInt)),
                Some(st.s.max - st.s.min))
            else HwUpdate(key, st.nClosed, None, None, None, None))
      }
  }

  final case class EventIn(
      jobId: String,
      nodeId: String,
      eventName: String,
      status: String = "",
      resultsId: String = "",
      eventTimeUs: Long = 0L)

  /** Folded per-(job,node) state — the streaming JobNodeState. */
  final case class NodeState(
      jobId: String,
      nodeId: String,
      state: String,
      status: String,
      resultsId: String,
      updatedUs: Long)

  /** The reference's event→state fold as a streaming stateful operator:
    * one state cell per (jobId, nodeId), updated per micro-batch, with the
    * reference's partial-update rule (empty status/resultsId never
    * overwrite — controller.go:368-379). Emits the new state of every key
    * touched in the batch (OutputMode.Update). */
  def jobStateMachine(events: Dataset[EventIn]): Dataset[NodeState] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.jobId, e.nodeId))
      .mapGroupsWithState[NodeState, NodeState](GroupStateTimeout.NoTimeout) {
        case ((jid, nid), evs, state: GroupState[NodeState]) =>
          var cur = state.getOption
            .getOrElse(NodeState(jid, nid, "", "", "", 0L))
          // within a batch, apply in event-time order; ties break by
          // lifecycle PROGRESS rank, not event-name alphabet (alphabetical
          // order applies 'Running' after 'Completed', leaving a finished
          // node stuck in Running whenever timestamps collide)
          def rank(name: String): Int =
            Lifecycle.stateFromEvent(name)
              .map(Lifecycle.progressRank).getOrElse(0)
          evs.toSeq.sortBy(e => (e.eventTimeUs, rank(e.eventName))).foreach { e =>
            Lifecycle.stateFromEvent(e.eventName).foreach { st =>
              cur = cur.copy(
                state = st,
                status = if (e.status.nonEmpty) e.status else cur.status,
                resultsId =
                  if (e.resultsId.nonEmpty) e.resultsId else cur.resultsId,
                updatedUs = math.max(cur.updatedUs, e.eventTimeUs))
            }
          }
          state.update(cur)
          cur
      }
  }

  final case class GarchUpdate(series: String, hour: Long, r: Long,
      h: Long, nll_micro: Long, late_dropped: Long)
  final case class GarchState(hour: Long, acc: Long, prevX: Long,
      h: Long, nll: Long, seeded: Boolean, late: Long)

  /** Streaming GARCH(1,1) volatility monitor — the stateful twin of one
    * batch q_garch_grid combo (queries.Stats17). The unconditional
    * variance seed s² is a PARAMETER (calibrated offline — a stream
    * cannot know the full-series Σr²/m up front); given the batch's own
    * s², the integer recursion h′ = ((10−a−b)·s² + a·r² + b·h) div 10
    * and the micro-nat NLL accumulate BIT-IDENTICALLY to the batch fold
    * (Spark round() is HALF_UP on doubles — mirrored literally; the
    * recursion runs in BigInt so the div-10 stays exact past the 2⁵³
    * double ceiling, matching the batch's decimal(38,0) `div`).
    * Hour-close discipline is [[kalmanMonitor]]'s, extended for gaps:
    * an hour folds when a later hour's first event arrives, and any
    * empty hours in between fold as x = 0 (the batch calendar frame
    * zero-fills them). PARITY REQUIRES IN-ORDER HOURS per series:
    * a late event for an already-closed hour is DROPPED (the batch
    * would have included it in that hour's sum), so every drop is a
    * potential parity break — the state counts them and every update
    * carries the cumulative `late_dropped` so violations are
    * observable downstream. If a micro-batch increments the counter
    * WITHOUT producing a close (e.g. late events trailing the final
    * hour), a COUNTER-ONLY update is emitted with the sentinel
    * `hour = -1` (r = 0, current h/nll) so the drop is observable
    * immediately rather than absorbed into state until the next close
    * (ADVICE r12 — the 'every drop is observable' contract now holds
    * unconditionally, no sentinel close required). The first closed
    * hour only seeds prevX — diffs start at the second. State is five
    * longs + a flag per series. StreamingSpec pins batch parity via
    * the sentinel close and pins the counter-only late flush. */
  def garchMonitor(points: Dataset[ValuePoint], s2: Long, a: Long = 1L,
      b: Long = 5L, series: String = "events",
      hourUs: Long = 3600000000L): Dataset[GarchUpdate] = {
    import points.sparkSession.implicits._
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[GarchState, GarchUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[GarchState]) =>
          var st = state.getOption.getOrElse(
            GarchState(-1L, 0L, 0L, s2, 0L, seeded = false, late = 0L))
          val out = Vector.newBuilder[GarchUpdate]
          // counter value last made visible downstream — if this batch
          // increments `late` past it with no close to carry it, a
          // counter-only update (hour = -1) flushes it at batch end
          var lateEmitted = st.late
          def close(x: Long, hr: Long): Unit = {
            if (!st.seeded) st = st.copy(prevX = x, seeded = true)
            else {
              val r = x - st.prevX
              val h = math.max(st.h, 1L)
              // Spark round(double) is HALF_UP — literal for literal
              val step = BigDecimal(1000000.0 *
                (math.log(h.toDouble) +
                  r.toDouble * r.toDouble / h.toDouble))
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
              // exact integer div (num > 0 ⇒ truncation == floor),
              // BigInt mirrors the batch's decimal(38,0) promotion
              val num = BigInt(10L - a - b) * s2 +
                BigInt(a) * BigInt(r) * r + BigInt(b) * h
              val h2 = math.max((num / 10).toLong, 1L)
              st = st.copy(prevX = x, h = h2, nll = st.nll + step)
              out += GarchUpdate(key, hr, r, h2, st.nll, st.late)
              lateEmitted = st.late
            }
          }
          rows.toSeq.sortBy(_.ts_us).foreach { pt =>
            val hr = pt.ts_us / hourUs
            if (st.hour == -1L) st = st.copy(hour = hr, acc = pt.cents)
            else if (hr == st.hour) st = st.copy(acc = st.acc + pt.cents)
            else if (hr > st.hour) {
              close(st.acc, st.hour)
              var g = st.hour + 1L
              while (g < hr) { close(0L, g); g += 1L }
              st = st.copy(hour = hr, acc = pt.cents)
            } else {
              // late event for a closed hour: the batch fold would
              // have summed it — dropping breaks parity, so count it
              st = st.copy(late = st.late + 1L)
            }
          }
          if (st.late > lateEmitted)
            out += GarchUpdate(key, -1L, 0L, st.h, st.nll, st.late)
          state.update(st)
          out.result().iterator
      }
  }

  final case class ViterbiUpdate(series: String, day: Long, x: Long,
      busy: Long, path: String, score_micronat: Long,
      late_dropped: Long)
  final case class ViterbiState(day: Long, acc: Long, dl: Long,
      dh: Long, pl: String, ph: String, late: Long)

  /** Streaming Viterbi regime decoder — the stateful twin of batch
    * q_viterbi (queries.Stats13): the same 2-state integer micro-nat
    * DP (δ_L, δ_H plus the two argmax path strings) folded one day at
    * a time, with the same prefer-Low tie-breaks. The batch marks a
    * day busy iff x·n > Σx against the FULL series' mean — a stream
    * cannot know that up front, so (n, Σx) are PARAMETERS calibrated
    * offline, exactly [[garchMonitor]]'s s² discipline. Day-close is
    * [[kalmanMonitor]]'s: a day folds when a later day's first event
    * arrives; days with no events are simply absent (the batch daily
    * frame does not zero-fill); a late event for a closed day is
    * DROPPED and counted in `late_dropped` (parity observability —
    * and, as in [[garchMonitor]], a micro-batch that increments the
    * counter with no close flushes it via a counter-only update with
    * the sentinel `day = -1`, so a drop after the final close is
    * still observable downstream).
    * Every closed day emits the CURRENT full-sequence winning path —
    * Viterbi decode is retroactive by nature, so earlier days' labels
    * may differ from the final decode until the last update; the
    * final update's path and score are bit-identical to the batch's
    * (day, state) column and path_score_micronat. State per series is
    * the open day's count, two longs, and the two candidate paths
    * (one char per closed day — prune/restart periodically in a
    * production deployment; the fixture calendar is ≤31 days).
    * StreamingSpec pins batch parity via the sentinel close. */
  def viterbiMonitor(points: Dataset[HoltPoint], totN: Long,
      totSx: Long, series: String = "events",
      dayUs: Long = 86400000000L): Dataset[ViterbiUpdate] = {
    import points.sparkSession.implicits._
    import graft.queries.Stats13._
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[ViterbiState, ViterbiUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[ViterbiState]) =>
          var st = state.getOption
            .getOrElse(ViterbiState(-1L, 0L, 0L, 0L, "", "", 0L))
          val out = Vector.newBuilder[ViterbiUpdate]
          var lateEmitted = st.late
          def close(): Unit = {
            val x = st.acc
            val o = if (x * totN > totSx) 1L else 0L
            val bl = if (o == 1L) LnB1L else LnB0L
            val bh = if (o == 1L) LnB1H else LnB0H
            st = if (st.pl.isEmpty)
              st.copy(dl = LnHalf + bl, dh = LnHalf + bh,
                pl = "L", ph = "H")
            else {
              val fromLtoL = st.dl + LnLL >= st.dh + LnHL
              val fromLtoH = st.dl + LnLH >= st.dh + LnHH
              st.copy(
                dl = math.max(st.dl + LnLL, st.dh + LnHL) + bl,
                dh = math.max(st.dl + LnLH, st.dh + LnHH) + bh,
                pl = (if (fromLtoL) st.pl else st.ph) + "L",
                ph = (if (fromLtoH) st.pl else st.ph) + "H")
            }
            val win = st.dl >= st.dh
            out += ViterbiUpdate(key, st.day, x, o,
              if (win) st.pl else st.ph,
              if (win) st.dl else st.dh, st.late)
            lateEmitted = st.late
          }
          rows.toSeq.sortBy(_.ts_us).foreach { pt =>
            val d = pt.ts_us / dayUs
            if (st.day == -1L) st = st.copy(day = d, acc = 1L)
            else if (d == st.day) st = st.copy(acc = st.acc + 1L)
            else if (d > st.day) { close(); st = st.copy(day = d, acc = 1L) }
            else st = st.copy(late = st.late + 1L)
          }
          if (st.late > lateEmitted)
            out += ViterbiUpdate(key, -1L, 0L, -1L, "", 0L, st.late)
          state.update(st)
          out.result().iterator
      }
  }

  final case class FunnelEvent(user_id: Long, ts_us: Long,
      event_type: String, cents: Long)
  final case class FirstTouch(user_id: Long, first_day: Long,
      first_conv_day: Option[Long])
  final case class FirstState(fd: Long, fp: Long)

  /** Streaming first-touch extractor — the stateful front end of the
    * group-sequential test (batch q_group_seq, queries.Stats13): per
    * user, the first enrollment day (any event) and the first
    * QUALIFYING conversion day (convType with cents ≥ minCents), each
    * a running MIN. Because min is commutative and idempotent, this
    * monitor is ORDER-INSENSITIVE — late, duplicated, or shuffled
    * events cannot break parity (a strictly stronger contract than the
    * day-close monitors' in-order requirement; there is no
    * late_dropped counter because nothing ever drops). An update is
    * emitted only when a user's state actually improves, so the LAST
    * emission per user equals the batch's per-user (fd, fp) row
    * exactly, and any look-grid sequential boundary (O'Brien–Fleming
    * in the batch twin) can be evaluated downstream from the emitted
    * firsts. State is two longs per user. StreamingSpec pins exact
    * cell + z parity against q_group_seq under a deliberately
    * SHUFFLED feed. */
  def firstTouchMonitor(events: Dataset[FunnelEvent],
      convType: String = "purchase", minCents: Long = 10000L,
      dayUs: Long = 86400000000L): Dataset[FirstTouch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FirstState, FirstTouch](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FirstState]) =>
          var st = state.getOption.getOrElse(
            FirstState(Long.MaxValue, Long.MaxValue))
          val before = st
          rows.foreach { ev =>
            val day = ev.ts_us / dayUs
            if (day < st.fd) st = st.copy(fd = day)
            if (ev.event_type == convType && ev.cents >= minCents &&
                day < st.fp) st = st.copy(fp = day)
          }
          if (st == before) Iterator.empty
          else {
            state.update(st)
            Iterator(FirstTouch(uid, st.fd,
              if (st.fp == Long.MaxValue) None else Some(st.fp)))
          }
      }
  }

  /** One user event for the HMM forward monitor — (ts_us, event_id) is
    * the batch sort key, so parity requires per-user arrival in that
    * order. */
  final case class HmmPoint(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  final case class HmmUpdate(user_id: Long, len: Long, a0: Long,
      a1: Long, ll_micro: Long, late_dropped: Long)
  final case class HmmState(len: Long, a0: Long, a1: Long,
      lastTs: Long, lastId: Long, late: Long)

  /** Streaming HMM forward pass — the stateful twin of batch
    * q_hmm_forward (queries.SeqMl2), and unlike the day-close monitors
    * it is TRULY online: every arriving event advances the per-user
    * integer α row immediately (α′ = α·Tᵀ ⊙ E[o], tenth-scaled — after
    * L steps α is an integer over 10^(2L+1), Long-safe at the batch's
    * L ≤ 8 cap) and emits the running per-user log-likelihood
    * quantized to micro-nats with the batch's exact formula. Events
    * beyond the 8th are ignored ENTIRELY (the batch slices to 8):
    * once the state is capped, arrivals neither advance the order
    * cursor nor count as late — a capped event cannot affect parity,
    * so counting order violations against it would over-report
    * (ADVICE r12). Below the cap, parity requires per-user arrival in
    * (ts_us, event_id) order — an event sorting BEFORE the last
    * folded one cannot be folded (the batch would have placed it
    * earlier in the α product), so it is dropped and counted in
    * `late_dropped`; a micro-batch that increments the counter with
    * no in-order event to carry it flushes it via a counter-only
    * update with the sentinel `len = -1` (current α, ll 0), as in
    * [[garchMonitor]]. State per user is five longs. StreamingSpec
    * pins exact batch parity on the final per-user updates grouped by
    * length (counter-only and capped rows are excluded by len). */
  def hmmForwardMonitor(points: Dataset[HmmPoint])
      : Dataset[HmmUpdate] = {
    import points.sparkSession.implicits._
    def code(t: String): Long = t match {
      case "click" => 0L; case "view" => 1L; case "signup" => 2L
      case "purchase" => 3L; case _ => 4L
    }
    // emission columns of the batch's e0/e1 (tenth-scaled)
    val e0 = Array(3L, 4L, 1L, 1L, 1L)
    val e1 = Array(1L, 1L, 1L, 5L, 2L)
    points.groupByKey(_.user_id)
      .flatMapGroupsWithState[HmmState, HmmUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[HmmState]) =>
          var st = state.getOption
            .getOrElse(HmmState(0L, 5L, 5L, Long.MinValue,
              Long.MinValue, 0L))
          val out = Vector.newBuilder[HmmUpdate]
          var lateEmitted = st.late
          rows.toSeq.sortBy(p => (p.ts_us, p.event_id)).foreach { pt =>
            if (st.len < 8L) {
              val inOrder = pt.ts_us > st.lastTs ||
                (pt.ts_us == st.lastTs && pt.event_id > st.lastId)
              if (!inOrder) st = st.copy(late = st.late + 1L)
              else {
                val c = code(pt.event_type).toInt
                val a0n = (st.a0 * 7L + st.a1 * 4L) * e0(c)
                val a1n = (st.a0 * 3L + st.a1 * 6L) * e1(c)
                st = st.copy(len = st.len + 1L, a0 = a0n, a1 = a1n,
                  lastTs = pt.ts_us, lastId = pt.event_id)
                val ll = BigDecimal(1000000.0 *
                  (math.log((a0n + a1n).toDouble) -
                    (2.0 * st.len + 1.0) * math.log(10.0)))
                  .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
                out += HmmUpdate(uid, st.len, a0n, a1n, ll, st.late)
                lateEmitted = st.late
              }
            } // capped: parity-irrelevant — no fold, no cursor, no late
          }
          if (st.late > lateEmitted)
            out += HmmUpdate(uid, -1L, st.a0, st.a1, 0L, st.late)
          state.update(st)
          out.result().iterator
      }
  }

  final case class UcbPoint(ts_us: Long, event_type: String,
      cents: Long)
  final case class UcbUpdate(series: String, day: Long, t: Long,
      arm: String, reward: Double, cum_reward: Double,
      late_dropped: Long)
  final case class UcbState(day: Long, daySum: Array[Long],
      dayCnt: Array[Long], n: Array[Long], s: Array[Double], t: Long,
      cum: Double, late: Long)

  /** Streaming UCB1 replay — the stateful twin of batch q_ucb_replay
    * (queries.Stats13): each closed day contributes one bandit round
    * whose five arm rewards are that day's per-event-type mean cents
    * over 50 000 (absent arms reward 0, exactly the batch's coalesce);
    * the UCB1 fold (5 forced initial picks, then argmax of
    * s/n + √(2·ln t̂/n) with prefer-lower-index ties — t̂ the round
    * count BEFORE this round, the batch's own convention) advances on
    * close and emits the picked arm, its reward, and the cumulative
    * reward. Running in the same JVM as the batch, the double
    * arithmetic is operation-for-operation identical, so the replay
    * is bit-identical to q_ucb_replay's rows after the sentinel
    * close. Day-close discipline is [[kalmanMonitor]]'s (a day folds
    * when a later day's first event arrives; eventless days are
    * absent, as in the batch daily frame); a late event for a closed
    * day is dropped, counted, and — per the [[garchMonitor]]
    * contract — flushed as a counter-only `day = -1` update if no
    * close carries it. State per series: open-day arm sums/counts +
    * the bandit's (n, s, t, cum) — ~22 scalars. */
  def ucbMonitor(points: Dataset[UcbPoint], series: String = "events",
      dayUs: Long = 86400000000L): Dataset[UcbUpdate] = {
    import points.sparkSession.implicits._
    val armNames = Array("click", "error", "purchase", "signup", "view")
    def armIdx(t: String): Int = armNames.indexOf(t)
    points.groupByKey(_ => series)
      .flatMapGroupsWithState[UcbState, UcbUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[UcbState]) =>
          var st = state.getOption.getOrElse(UcbState(-1L,
            Array.fill(5)(0L), Array.fill(5)(0L), Array.fill(5)(0L),
            Array.fill(5)(0.0), 0L, 0.0, 0L))
          val out = Vector.newBuilder[UcbUpdate]
          var lateEmitted = st.late
          def close(): Unit = {
            // the day's arm rewards — the batch's
            // coalesce(sum/cnt, 0)/50000 on exact integers
            val r = Array.tabulate(5) { i =>
              if (st.dayCnt(i) > 0)
                (st.daySum(i).toDouble / st.dayCnt(i).toDouble) / 50000.0
              else 0.0
            }
            val t1 = st.t + 1L
            val pick =
              if (t1 <= 5L) (t1 - 1L).toInt
              else {
                // u uses ln(t BEFORE increment) — mirror the batch
                val u = Array.tabulate(5) { i =>
                  st.s(i) / st.n(i).toDouble +
                    math.sqrt(2.0 * math.log(st.t.toDouble) /
                      st.n(i).toDouble)
                }
                if (u(0) >= u(1) && u(0) >= u(2) && u(0) >= u(3) &&
                  u(0) >= u(4)) 0
                else if (u(1) >= u(2) && u(1) >= u(3) && u(1) >= u(4)) 1
                else if (u(2) >= u(3) && u(2) >= u(4)) 2
                else if (u(3) >= u(4)) 3
                else 4
              }
            val rew = r(pick)
            val n2 = st.n.clone(); n2(pick) += 1L
            val s2 = st.s.clone(); s2(pick) += rew
            st = st.copy(n = n2, s = s2, t = t1, cum = st.cum + rew,
              daySum = Array.fill(5)(0L), dayCnt = Array.fill(5)(0L))
            out += UcbUpdate(key, st.day, t1, armNames(pick), rew,
              st.cum, st.late)
            lateEmitted = st.late
          }
          rows.toSeq.sortBy(_.ts_us).foreach { pt =>
            val d = pt.ts_us / dayUs
            val a = armIdx(pt.event_type)
            def fold(): Unit = if (a >= 0) {
              val ds = st.daySum.clone(); val dc = st.dayCnt.clone()
              ds(a) += pt.cents; dc(a) += 1L
              st = st.copy(daySum = ds, dayCnt = dc)
            }
            if (st.day == -1L) { st = st.copy(day = d); fold() }
            else if (d == st.day) fold()
            else if (d > st.day) { close(); st = st.copy(day = d); fold() }
            else st = st.copy(late = st.late + 1L)
          }
          if (st.late > lateEmitted)
            out += UcbUpdate(key, -1L, 0L, "", 0.0, 0.0, st.late)
          state.update(st)
          out.result().iterator
      }
  }
}
