package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkJobs, SparkSuite}

/** The bounded (driver union-find) path of [[ConnectedComponents.run]]
  * returns exactly what the distributed rounds return — same rows, same
  * schema — and costs one Spark job; past [[ConnectedComponents.MaxLocalEdges]]
  * the rounds run. */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSuite {

  private def longEdges(es: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  private def sameAsRounds(edges: DataFrame): Unit = {
    val fast = ConnectedComponents.run(edges)
    val slow = ConnectedComponents.rounds(edges)
    assert(fast.schema === slow.schema)
    assert(fast.orderBy("node").collect().toSeq ===
      slow.orderBy("node").collect().toSeq)
  }

  test("seeded random graphs: bounded path equals the rounds") {
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      val n = 40 + r.nextInt(200)
      sameAsRounds(longEdges(Seq.fill(n)(
        (r.nextInt(300).toLong, r.nextInt(300).toLong))))
    }
  }

  test("edge cases: pairs, chain, star, self-loops, duplicates, empty") {
    sameAsRounds(longEdges((0 until 100).map(i => (2L * i, 2L * i + 1))))
    sameAsRounds(longEdges((0 until 199).map(i => (i + 1L, i.toLong))))
    sameAsRounds(longEdges((1 to 50).map(i => (7L, 1000L + i))))
    sameAsRounds(longEdges(Seq((5L, 5L), (6L, 6L), (6L, 7L), (9L, 9L))))
    sameAsRounds(longEdges(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L),
      (2L, 3L), (10L, 11L), (11L, 10L))))
    sameAsRounds(longEdges(Nil))
  }

  test("int and long endpoints keep the rounds' widened type") {
    import spark.implicits._
    val ints = Seq((1, 2), (2, 3), (10, 4), (8, 8)).toDF("src", "dst")
    sameAsRounds(ints)
    assert(ConnectedComponents.run(ints).schema("node").dataType ===
      org.apache.spark.sql.types.IntegerType)
    sameAsRounds(ints.select(col("src"), col("dst").cast("long").as("dst")))
    sameAsRounds(ints.select(col("src").cast("long").as("src"), col("dst")))
  }

  test("a bounded graph costs one Spark job; one edge more takes the rounds") {
    // range-backed edges need a job to read (a local Seq would need none)
    val small = spark.range(0, 500, 1, 4)
      .select((col("id") * 2).as("src"), (col("id") * 2 + 1).as("dst"))
    val (out, jobs) = SparkJobs.during(spark)(ConnectedComponents.run(small))
    assert(jobs.size === 1, jobs.map(_.stageInfos.map(_.name)))
    assert(out.count() === 1000)

    val big = spark.range(0, ConnectedComponents.MaxLocalEdges + 1L, 1, 4)
      .select((col("id") * 2).as("src"), (col("id") * 2 + 1).as("dst"))
    val (bigOut, bigJobs) =
      SparkJobs.during(spark)(ConnectedComponents.run(big))
    // the rounds checkpoint every round: several jobs, a block-backed
    // result rather than a local frame
    assert(bigJobs.size > 1)
    assert(bigOut.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.isDefined)
    assert(bigOut.filter(
      col("component") =!= col("node") - col("node") % 2).isEmpty)
  }
}
