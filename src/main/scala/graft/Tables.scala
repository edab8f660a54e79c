package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the fixture corpus (TESTDATA.md): TPC-H-ish star schema +
  * `events` stream table + `documents`/`embeddings` for the scale ops.
  *
  * Scale notes (the same loaders must behave on a 1000-executor cluster):
  *  - plain `spark.read.parquet` keeps partition planning with the
  *    FileSourceScanExec / `spark.sql.files.maxPartitionBytes`, so a 100 TB
  *    table splits into size-bounded tasks automatically;
  *  - no `.cache()` here — callers decide lifetime;
  *  - `events.ts` has shipped in two fixture generations: nanosecond
  *    parquet (Spark reads it only as a long via
  *    `spark.sql.legacy.parquet.nanosAsLong`) and native `timestamp[us]`.
  *    Both normalize to the same *microsecond* surface (`ts_us` bigint +
  *    `ts` timestamp) because every engine (incl. the DuckDB oracle, whose
  *    `epoch_us(ts)` is unchanged across the two generations) compares at
  *    µs; ordering and window semantics then agree across engines.
  */
object Tables {
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = relational ++ Seq("events", "documents", "embeddings")

  /** Schema cache keyed by (path, reader options) — the metastore role.
    * A bare `spark.read.parquet` infers the schema by reading footers,
    * which on Spark launches a whole job (~200 ms of driver+scheduler
    * time PER LOADER CALL, measured at sf0.1 in OPTIMIZATION_r13.md —
    * 226 ms/call inferred vs 24 ms/call with a supplied schema). Every
    * query builder re-loads its tables on every run, so without this
    * cache the bench pays that inference 2-4× per query per timed run —
    * pure metadata overhead a production deployment keeps in a
    * metastore/manifest instead (guide §6: table formats with manifest
    * metadata avoid relisting; the schema is the same story). Fixture
    * files are immutable per path (test suites write fresh temp dirs),
    * so a path's schema never changes under one JVM. Only METADATA is
    * cached — every query still scans parquet for all data. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private[graft] def readParquet(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val key = path + "?" + options.toSeq.sorted.mkString(",")
    val sch = schemaCache.computeIfAbsent(key,
      _ => spark.read.options(options).parquet(path).schema)
    spark.read.options(options).schema(sch).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => readParquet(spark, s"$dir/$n.parquet")
    }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan-out staging: explode-heavy pipelines (per-dim vector math,
    * shingle/token fan-outs) need their input spread across the session's
    * cores BEFORE the multiplying transform. Parallelism should come from
    * the file layout — any real-scale table scans as thousands of
    * size-bounded splits, and shuffling it here would be a pure tax — so
    * this is a NO-OP whenever the scan already yields at least
    * `defaultParallelism` input files. The explicit round-robin shuffle
    * survives only for few-file fixtures whose single parquet row group
    * Spark cannot split byte-range-wise (the driver's single-file sf
    * dirs); ScaleGen writes multi-file tables precisely so the scale
    * sweep exercises the no-op path (VERDICT r8 #4: make the crutch
    * self-disabling and prove scan parallelism comes from splits). */
  def fanoutReady(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length >= n) df else df.repartition(n)
  }

  /** events with `ts_us` (bigint, µs since epoch) and `ts` (TimestampType,
    * µs precision) — identical values under any fixture generation:
    *  - ns-as-long truncates by integer division (DuckDB's ns→µs scan
    *    behavior);
    *  - native `timestamp[us]` is read with NTZ inference OFF so plain
    *    parquet INT64 micros land verbatim as TimestampType micros
    *    (`unix_micros` then equals DuckDB's `epoch_us` — no
    *    session-timezone conversion);
    *  - Spark-WRITTEN parquet (the test suites' empty-table copies) tags
    *    the column NTZ in file metadata, which overrides the inference
    *    conf — that branch maps wall-time-as-UTC to micros explicitly
    *    (convert_timezone UTC → session zone, then cast, which the
    *    session zone inverts), so the value again equals `epoch_us`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Both schema-inference switches are scoped to THIS read (ADVICE r6:
    // setting them on spark.conf inside a loader made every later parquet
    // read's timestamp typing order-dependent on whether events() ran
    // first). The per-read options map reaches
    // ParquetToSparkSchemaConverter verbatim, so no session state moves.
    val raw = readParquet(spark, s"$dir/events.parquet",
      Map("nanosAsLong" -> "true", "inferTimestampNTZ" -> "false"))
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        val sessTz = spark.conf.get("spark.sql.session.timeZone")
        unix_micros(convert_timezone(lit("UTC"), lit(sessTz), col("ts"))
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_micros(col("ts"))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }
}
