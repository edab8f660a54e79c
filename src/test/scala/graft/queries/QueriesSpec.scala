package graft.queries

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSuite}
import graft.jobs.ResultPublisher

/** Whole-surface query harness, independent of the DuckDB oracle:
  *
  *  1. every SparkEntry query runs at sf0.001 and produces the same
  *     canonical content id twice — the in-repo nondeterminism tripwire
  *     (catching rand(), unordered limits, map-iteration dependence before
  *     the driver gate would);
  *  2. every query also runs against EMPTY copies of all tables — a
  *     complete library doesn't throw on zero rows.
  */
class QueriesSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private var emptyDir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    emptyDir = Files.createTempDirectory("graft-empty").toString
    graft.Tables.all.foreach { t =>
      spark.read.option("nanosAsLong", "true") // raw events read
        .parquet(s"$sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    }
  }

  test("every query is run-to-run deterministic (content ids agree)") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val a = ResultPublisher.contentId(fn(spark, sf))
      val b = ResultPublisher.contentId(fn(spark, sf))
      spark.catalog.clearCache()
      if (a == b) None else Some(name)
    }
    assert(bad.isEmpty, s"nondeterministic queries: $bad")
  }

  // Sketch-estimate quality at two SFs: the hash gate sees only the
  // tolerance BOOLEANS (exact answers hash; estimates are
  // engine-specific) — this is the companion numeric assertion that the
  // raw |estimate − exact| gaps actually sit inside the documented
  // bounds, not just under the in-plan ceiling, at both fixture scales.
  test("sketch estimates stay inside their error bounds at two SFs") {
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // HLL: rsd 0.02, in-plan ceiling 3σ = 6% of exact
      val hllRows = graft.Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("hll"),
             countDistinct(col("l_partkey")).as("exact"))
        .collect()
      assert(hllRows.nonEmpty)
      hllRows.foreach { r =>
        val (hll, exact) = (r.getAs[Long]("hll"), r.getAs[Long]("exact"))
        assert(math.abs(hll - exact) <= 0.06 * exact,
          s"$dir HLL(${r.get(0)}): |$hll - $exact| > 6%")
      }
      // approx_percentile accuracy 1000: within 5% of exact per quantile
      val pctRows = graft.Tables.lineitem(spark, dir)
        .groupBy("l_returnflag")
        .agg(expr(
          "approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
            .as("ap"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ex"))
        .collect()
      pctRows.foreach { r =>
        val ap = r.getSeq[Double](1); val ex = r.getSeq[Double](2)
        for (i <- ap.indices)
          assert(math.abs(ap(i) - ex(i)) <= 0.05 * ex(i),
            s"$dir pct(${r.get(0)})[$i]: |${ap(i)} - ${ex(i)}| > 5%")
      }
      // Bloom: superset is a hard guarantee, fp mass under 10% of
      // non-matching probes (config fpp ≈ 1%)
      val b = SparkEntry.queries("q_bloom_semi")(spark, dir).collect()
      assert(b.length == 1)
      assert(b(0).getAs[Boolean]("superset"), s"$dir bloom lost matches")
      assert(b(0).getAs[Boolean]("fp_bounded"), s"$dir bloom fp mass > 10%")
      spark.catalog.clearCache()
    }
  }

  test("benchForm twins: deterministic, empty-safe; WL hash-combine " +
       "matches the exact summary at two SFs") {
    // same determinism tripwire as the main catalog, over the bench-only
    // production forms (they are timed every round — a nondeterministic
    // twin would make bench rows incomparable)
    val bad = SparkEntry.benchForm.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val a = ResultPublisher.contentId(fn(spark, sf))
        val b = ResultPublisher.contentId(fn(spark, sf))
        graft.CacheScope.drain(); spark.catalog.clearCache()
        if (a == b) None else Some(name)
    }
    assert(bad.isEmpty, s"nondeterministic benchForm: $bad")
    // the WL twin's commutative hash-combine must reproduce the exact
    // form's (round, n_colors, largest_class) trajectory — a 60-bit-sum
    // collision is the only divergence mode and it should never appear
    // at fixture scale
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exact = ResultPublisher.contentId(
        SparkEntry.queries("q_wl_colors")(spark, dir))
      graft.CacheScope.drain(); spark.catalog.clearCache()
      val twin = ResultPublisher.contentId(
        Graph2.benchForm("q_wl_colors")(spark, dir))
      graft.CacheScope.drain(); spark.catalog.clearCache()
      assert(twin == exact, s"$dir: WL twin diverged from exact form")
    }
    val failed = SparkEntry.benchForm.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).write.format("noop").mode("overwrite")
          .save(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}") }
        finally { graft.CacheScope.drain(); spark.catalog.clearCache() }
    }
    assert(failed.isEmpty, s"benchForm failing on empty input: $failed")
  }

  test("every query tolerates empty inputs") {
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, emptyDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}") }
      finally spark.catalog.clearCache()
    }
    assert(failed.isEmpty, s"queries failing on empty input: $failed")
  }
}
