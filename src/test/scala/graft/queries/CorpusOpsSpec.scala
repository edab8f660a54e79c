package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Semantic checks for the corpus-preparation operators (CorpusOps) — the
  * oracle gate proves value parity with DuckDB; these pin the invariants a
  * training pipeline relies on. */
class CorpusOpsSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("repetition fractions live in [0,1] and cover every document") {
    val r = CorpusOps.queries("q_repetition")(spark, sf)
    val n = graft.Tables.documents(spark, sf).count()
    assert(r.count() == n)
    assert(r.filter(col("top1_frac") < 0 || col("top1_frac") > 1 ||
      col("dup3_frac") < 0 || col("dup3_frac") > 1).isEmpty)
  }

  test("shard packing: within a bucket, shard ids are contiguous from the " +
    "bucket base and every shard except the last holds >= 5000 tokens " +
    "counting its overflow doc") {
    val r = CorpusOps.queries("q_shard_pack")(spark, sf)
      .orderBy("bucket", "doc_id").collect()
    r.groupBy(_.getAs[Int]("bucket")).foreach { case (b, rows) =>
      val shards = rows.map(_.getAs[Long]("shard"))
      assert(shards.head == b * (1L << 40))
      // monotone, no gaps
      shards.sliding(2).foreach { case Array(x, y) =>
        assert(y == x || y == x + 1, s"bucket $b shard gap: $x -> $y")
      case _ => }
      // each closed shard's docs (incl. the doc that overflows it) >= budget
      rows.groupBy(_.getAs[Long]("shard")).toSeq.sortBy(_._1).dropRight(1)
        .foreach { case (sh, docs) =>
          val tok = docs.map(_.getAs[Long]("n_tokens")).sum
          assert(tok >= 5000, s"closed shard $sh only $tok tokens")
        }
    }
  }

  test("decontamination flags only non-benchmark docs, with positive hits") {
    val r = CorpusOps.queries("q_decontam")(spark, sf)
    assert(r.filter(col("doc_id") % 97 === 0).isEmpty)
    assert(r.filter(col("n_hits") <= 0).isEmpty)
  }

  test("pii scrub leaves no digits behind (digest matches digit-free text)") {
    val ev = graft.Tables.events(spark, sf).filter(col("event_id") <= 2000)
    val direct = ev.select(col("event_id"),
      md5(regexp_replace(col("props"), "[0-9]+", "#")).as("m"))
    val r = CorpusOps.queries("q_pii_scrub")(spark, sf)
      .join(direct, "event_id")
      .filter(col("scrub_md5") =!= col("m"))
    assert(r.isEmpty)
    // and a scrubbed payload really has no digit runs
    val sample = ev.select(regexp_replace(col("props"), "[0-9]+", "#").as("s"))
      .filter(col("s").rlike("[0-9]")).count()
    assert(sample == 0)
  }

  test("centroids: one row per (label, dim); dims = 64") {
    val r = CorpusOps.queries("q_centroids")(spark, sf)
    val labels = graft.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(r.count() == labels * 64)
    assert(r.groupBy("label").count().filter(col("count") =!= 64).isEmpty)
  }

  test("vector quantization stays in [0,255] with real spread, and the " +
    "full-corpus extremes map to exactly 0 and 255 per dimension") {
    val r = CorpusOps.queries("q_vec_quantize")(spark, sf)
    assert(r.filter(col("q") < 0 || col("q") > 255).isEmpty)
    // the sampled output really uses the range (an all-zeros regression —
    // e.g. an inverted hi>lo guard — would pass a bounds-only check)
    assert(r.agg(countDistinct(col("q"))).head().getLong(0) >= 30)
    // unsampled invariant: each dimension's min/max vector quantizes to
    // exactly 0/255 (computed inline over the full corpus)
    val pe = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val full = pe.join(
        pe.groupBy("pos").agg(min("v").as("lo"), max("v").as("hi")), "pos")
      .select(col("pos"),
        when(col("hi") > col("lo"),
          round((col("v") - col("lo")) / (col("hi") - col("lo")) * 255))
          .otherwise(0.0).cast("int").as("q"))
      .groupBy("pos").agg(min("q").as("qmin"), max("q").as("qmax"))
    assert(full.filter(col("qmin") =!= 0 || col("qmax") =!= 255).isEmpty)
  }
}
