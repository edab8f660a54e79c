package graft.functions

import java.sql.Timestamp
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.{CacheScope, SparkEntry, SparkSuite, Tables}
import graft.queries.{RelationalExt, Similarity}
import graft.streaming.StreamOps

/** The native expressions are typed Columns built straight from their
  * Catalyst nodes: every query that reaches one runs in a bare session
  * (the shape the benchmark harness and each control-plane job build),
  * and none of them leaves a function behind in the session registry. */
class NativeColumnsSpec extends AnyFunSuite with SparkSuite {

  // a fresh SessionState: its function registry holds the built-ins only
  private lazy val fresh: SparkSession = spark.newSession()

  private val sf = "/root/testdata/sf0.001"

  private val natives = Seq("dot_product", "jaro_winkler", "dist2_pico",
    "minhash8", "simhash32", "cms_estimate", "bloom_filter_agg",
    "might_contain")

  test("every native-expression key runs in a fresh session and registers nothing") {
    SparkSession.setActiveSession(fresh)
    val gate = Seq("q_best_match", "q_er_cluster", "q_jaro_winkler", "q_lof",
      "q_coreset", "q_simhash", "q_simhash_pairs", "q_bloom_semi",
      "q_cms_heavy", "q_minhash_sig", "q_knn_brute", "q_kmeans_assign")
      .map(k => k -> SparkEntry.queries(k))
    val bench = Seq("q_lof" -> Similarity.benchForm("q_lof"),
      "q_bloom_semi" -> RelationalExt.benchForm("q_bloom_semi"),
      "q_cms_heavy" -> RelationalExt.benchForm("q_cms_heavy"))
    try {
      for ((key, q) <- gate ++ bench)
        assert(q(fresh, sf).collect().nonEmpty, s"$key returned no rows")
      import fresh.implicits._
      implicit val sqlCtx: SQLContext = fresh.sqlContext
      val docs = Tables.documents(fresh, sf).select("doc_id", "text")
        .as[(Long, String)].collect().toSeq
      val in = MemoryStream[(Timestamp, Long, String)]
      val q = StreamOps.dedupeNearDocs(in.toDF().toDF("ts", "doc_id", "text"))
        .writeStream.format("memory").queryName("native_neardup")
        .outputMode("append").start()
      try {
        in.addData(docs.map { case (id, text) =>
          (Timestamp.valueOf("2024-01-01 10:00:00"), id, text) })
        q.processAllAvailable()
      } finally q.stop()
      assert(fresh.table("native_neardup").count() > 0)
    } finally CacheScope.drain()
    val registry = fresh.sessionState.functionRegistry
    val left = natives.filter(n => registry.functionExists(FunctionIdentifier(n)))
    assert(left.isEmpty, s"registered in the session: ${left.mkString(", ")}")
  }
}
