package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class KMeansSpec extends AnyFunSuite with SparkSuite {

  private def vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  test("fit is deterministic and assigns every vector") {
    val (m1, a1) = KMeans.fit(vecs, k = 4, iters = 3)
    val (m2, a2) = KMeans.fit(vecs, k = 4, iters = 3)
    assert(m1.centroids.map(_.toSeq).toSeq === m2.centroids.map(_.toSeq).toSeq)
    val r1 = a1.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    val r2 = a2.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(r1.toSeq === r2.toSeq)
    assert(r1.length === 500)
    assert(r1.map(_._2).distinct.forall(c => c >= 0 && c < 4))
  }

  test("more Lloyd iterations never increase the cost") {
    val costs = Seq(1, 2, 4).map { it =>
      KMeans.cost(KMeans.fit(vecs, k = 4, iters = it)._2)
    }
    assert(costs(1) <= costs(0) + 1e-6)
    assert(costs(2) <= costs(1) + 1e-6)
  }

  test("assignment picks the nearest centroid (cross-check vs brute force)") {
    val (m, a) = KMeans.fit(vecs, k = 3, iters = 2)
    val sample = vecs.limit(25).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val assigned = a.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    sample.foreach { case (id, v) =>
      val d2 = m.centroids.map(c =>
        c.zip(v).map { case (ci, vi) => (ci - vi) * (ci - vi) }.sum)
      val best = d2.zipWithIndex.min._2
      assert(assigned(id) === best, s"vector $id")
    }
  }
}
