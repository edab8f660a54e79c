package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up fixture synthesizer: reads a driver-generated
  * scale-factor directory and writes an N×-replicated copy with disjoint
  * key spaces — the fixture behind the sf0.1→sf1 scaling sweep in
  * SCALING.md (VERDICT r7 #1: turn the extrapolated 100×-scale arguments
  * into measured exponents).
  *
  * Replication discipline (copy index c = 0..N−1; copy 0 is the source
  * verbatim, so sfSrc ⊂ sfDst):
  *
  *  - Every key column shifts by c × stride, stride = the next power of
  *    ten above the source max — key spaces stay disjoint and dense, and
  *    foreign keys (l_orderkey→o_orderkey, o_custkey→c_custkey, …) shift
  *    in lockstep so referential integrity holds per copy.
  *  - customer/supplier names regenerate from the NEW key in the
  *    fixture's own `Customer#%09d` format — name uniqueness scales the
  *    way a true larger scale factor would (duplicating names 10× would
  *    make fuzzy-join candidate sets grow quadratically by construction,
  *    a fixture artifact rather than a plan property).
  *  - documents: copies c > 0 rename every token to a 6-hex digest of
  *    (token, c). This preserves each document's length, token-count
  *    profile, and WITHIN-copy duplicate/near-duplicate structure
  *    exactly (the renaming is a per-copy injective vocabulary map), and
  *    makes cross-copy vocabularies disjoint — so dedup/shingle
  *    workloads scale linearly, the way 10× more real corpus would, not
  *    quadratically the way 10 literal copies would.
  *  - embeddings: copies c > 0 rotate the vector by c components —
  *    within-copy geometry (distances, neighborhoods, recall structure)
  *    is preserved exactly; cross-copy cosines decorrelate.
  *  - events: event/user ids shift; timestamps keep the source range —
  *    10× the density over the same month, which is what a larger
  *    deployment's event stream looks like (daily frames get 10× rows
  *    per day, not 10× more days).
  *  - region/nation are TPC-H-fixed dimensions: copied verbatim.
  *
  * All of it is one explode-fan-out pass per table (no driver-side loops
  * beyond 1-row max-key lookups) plus one round-robin shuffle per
  * corpus-scaled table so the OUTPUT is multi-file: real-scale tables
  * scan as many splits, and the engine's fan-out staging
  * (Tables.fanoutReady) must take its no-op path in the sweep, not the
  * fixture-only rebalance.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <dstDir> [copies=10]
  *
  * Corpus-scaled tables get one part file per core (`SPARK_GRAFT_CPUS`,
  * default every processor); `SPARK_GRAFT_CPUS=32` reproduces the
  * 32-file layout of the published sweeps.
  */
object ScaleGen {

  /** Next power of ten strictly above n (≥ 10): keys 0..n map into a
    * stride that keeps every copy's key block visually separable. */
  def strideFor(maxKey: Long): Long = {
    var s = 10L
    while (s <= maxKey) s *= 10
    s
  }

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head.getLong(0)

  /** Fan a frame out N× with a copy-index column `_c` (map-only). */
  private def fan(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("_c", explode(lit((0 until copies).toArray)))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcDir> <dstDir> [copies]")
    val spark = graft.Session.local(graft.Session.envCores)
    try run(spark, args(0), args(1),
      args.lift(2).map(_.toInt).getOrElse(10))
    finally spark.stop()
  }

  /** The generator body, on a caller-owned session (tests pass theirs). */
  def run(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    // ns timestamps (events.ts) read as raw longs, scoped to these reads
    def read(t: String): DataFrame = spark.read.option("nanosAsLong", "true")
      .parquet(s"$src/$t.parquet")
    // Corpus-scaled tables write MULTI-FILE (defaultParallelism part
    // files): real-scale tables always scan as many splits, and the
    // engine's fan-out staging (Tables.fanoutReady) is a no-op exactly
    // when the layout provides them — single-file scale fixtures would
    // re-route every sweep through the fixture-only rebalance path and
    // measure a shuffle that 100 TB never pays (VERDICT r8 #4).
    val nFiles = spark.sparkContext.defaultParallelism
    def write(df: DataFrame, t: String): Unit =
      df.repartition(nFiles).write.mode(SaveMode.Overwrite)
        .parquet(s"$dst/$t.parquet")
    def writeDim(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")

    // dimension tables are scale-invariant in TPC-H: verbatim
    writeDim(read("region"), "region")
    writeDim(read("nation"), "nation")

    val cust = read("customer")
    val ords = read("orders")
    val part = read("part")
    val supp = read("supplier")
    val custStride = strideFor(maxOf(cust, "c_custkey"))
    val ordStride = strideFor(maxOf(ords, "o_orderkey"))
    val partStride = strideFor(maxOf(part, "p_partkey"))
    val suppStride = strideFor(maxOf(supp, "s_suppkey"))

    def shifted(c: String, stride: Long): Column =
      (col(c) + col("_c").cast("long") * stride).as(c)

    write(fan(cust, copies).select(
      shifted("c_custkey", custStride),
      format_string("Customer#%09d",
        col("c_custkey") + col("_c").cast("long") * custStride)
        .as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer")

    write(fan(supp, copies).select(
      shifted("s_suppkey", suppStride),
      format_string("Supplier#%09d",
        col("s_suppkey") + col("_c").cast("long") * suppStride)
        .as("s_name"),
      col("s_nationkey"), col("s_acctbal")),
      "supplier")

    write(fan(part, copies).select(
      shifted("p_partkey", partStride),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")),
      "part")

    write(fan(ords, copies).select(
      shifted("o_orderkey", ordStride),
      shifted("o_custkey", custStride),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      "orders")

    write(fan(read("lineitem"), copies).select(
      shifted("l_orderkey", ordStride),
      shifted("l_partkey", partStride),
      shifted("l_suppkey", suppStride),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")),
      "lineitem")

    val ev = read("events")
    val evStride = strideFor(maxOf(ev, "event_id"))
    val userStride = strideFor(maxOf(ev, "user_id"))
    write(fan(ev, copies).select(
      shifted("event_id", evStride),
      col("ts"),
      shifted("user_id", userStride),
      col("event_type"), col("value"), col("props")),
      "events")

    val docs = read("documents")
    val docStride = strideFor(maxOf(docs, "doc_id"))
    // copy 0 keeps the source text; copies > 0 rename each token to a
    // 6-hex digest of (token, copy) — injective per copy, disjoint
    // across copies (see class doc for why this is the linear-scaling
    // shape). n_chars re-derives so the text/metadata contract holds.
    val renamed = array_join(
      transform(split(col("text"), " "),
        w => substring(md5(concat(w, lit("#"), col("_c"))), 1, 6)),
      " ")
    write(fan(docs, copies).select(
      shifted("doc_id", docStride),
      when(col("_c") === 0, col("text")).otherwise(renamed).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    val emb = read("embeddings")
    val vecStride = strideFor(maxOf(emb, "vec_id"))
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    // rotate by c: slice is 1-indexed; rotation preserves within-copy
    // geometry exactly and decorrelates cross-copy cosines
    val rotated = concat(
      slice(col("embedding"), col("_c") % dim + 1,
        lit(dim) - col("_c") % dim),
      slice(col("embedding"), lit(1), col("_c") % dim))
    write(fan(emb, copies).select(
      shifted("vec_id", vecStride),
      when(col("_c") === 0, col("embedding")).otherwise(rotated)
        .as("embedding"),
      col("label")),
      "embeddings")

    // summary line for the sweep log
    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s""""$t":${spark.read.parquet(s"$dst/$t.parquet").count()}""")
    // scalastyle:off println
    println(s"""{"scalegen":{"src":"$src","dst":"$dst","copies":$copies,""" +
      counts.mkString("", ",", "}}"))
    // scalastyle:on println
  }
}
