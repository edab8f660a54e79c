package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Session cache hygiene (VERDICT r3 "Next round" #4): queries that cache
  * intermediate frames register them with CacheScope, and every
  * materialization path (Bench, Verify, Runner) drains afterwards — so a
  * long-lived `serve` session never accumulates orphaned cached subtrees.
  * This spec drives the known caching queries plus a Runner job and asserts
  * the session's CacheManager is EMPTY after each drain.
  */
class CacheHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  // the queries that register caches today, plus a no-cache control —
  // the assertion is on the SESSION, so any future query that starts
  // caching without draining fails here too once added to this list
  private val caching =
    Seq("q_tfidf", "q_bm25", "q_lsh_pairs", "q_dedup_groups", "q_minhash_sig",
        "q_kmv_intersect", "q1_agg")

  for (name <- caching)
    test(s"$name leaves no cached subtree after drain") {
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      CacheScope.drain()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"cacheManager not empty after $name + drain")
    }

  // queries that checkpoint through CacheScope: no RDD they persisted
  // outlives the drain (their connected-components input)
  for (name <- Seq("q_er_cluster", "q_dedup_groups", "q_dedup_keep_best"))
    test(s"$name leaves no persisted RDD after drain") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      CacheScope.drain()
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"RDDs $left still persisted after $name + drain")
    }

  test("Runner.run drains query-registered caches") {
    import graft.jobs._
    val runner = new Runner(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-hyg").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.txt"), "alpha\nbeta\n")
    val spec = JobSpec(engine = "docker",
      docker = Some(JobSpecDocker(image = "ubuntu",
        entrypoint = Seq("cat", "/data/file.txt"))))
    val job = runner.submit(spec).toOption.get
    // register a cache as if the compiled plan had done it
    val cached = CacheScope.cached(spark.read.text(s"$dir/in.txt"))
    cached.count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    val inputs = Map("/data/file.txt" -> spark.read.text(s"$dir/in.txt"))
    assert(runner.run(job, inputs, s"$dir/out").isRight)
    assert(spark.sharedState.cacheManager.isEmpty,
      "Runner.run must drain registered caches")
  }
}
