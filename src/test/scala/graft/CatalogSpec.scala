package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog integrity tripwires (VERDICT r9 "what's wrong" #2).
  *
  * `SparkEntry.queries` merges per-module maps with `++`, which keeps the
  * LAST binding — so a module reusing an existing key silently drops a
  * previously-verified operator from the catalog with no signal anywhere:
  * the correctness gate enumerates the MERGED map, and the bench's "gone"
  * list stays empty because the key survives (timing a different query).
  * Round 9 shipped exactly that: Stats3's q_cramers_v / q_stratified_sample
  * shadowed two r5-era operators for a full round. These assertions make
  * the failure loud at test time instead.
  */
class CatalogSpec extends AnyFunSuite {

  test("module query keys are pairwise disjoint (Σ sizes == merged size)") {
    val perModule = SparkEntry.modules.map(m => m._1 -> m._2)
    val merged = SparkEntry.queries
    val dups = perModule.flatMap { case (m, qs) => qs.keys.map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, ms) => s"$k defined in ${ms.map(_._2).mkString(", ")}" }
    assert(dups.isEmpty, s"colliding query keys:\n${dups.mkString("\n")}")
    assert(perModule.map(_._2.size).sum === merged.size,
      "per-module query map sizes must sum to the merged catalog size")
  }

  test("module oracle keys are pairwise disjoint and ⊆ query keys") {
    val perModule = SparkEntry.modules.map(m => m._1 -> m._3)
    val merged = SparkEntry.oracleSql
    val dups = perModule.flatMap { case (m, qs) => qs.keys.map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, ms) => s"$k defined in ${ms.map(_._2).mkString(", ")}" }
    assert(dups.isEmpty, s"colliding oracle keys:\n${dups.mkString("\n")}")
    assert(perModule.map(_._2.size).sum === merged.size,
      "per-module oracle map sizes must sum to the merged oracle size")
    val orphans = merged.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle entries with no query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("benchForm keys override existing catalog queries only") {
    val orphans = SparkEntry.benchForm.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"benchForm keys with no gate query: ${orphans.toSeq.sorted.mkString(", ")}")
  }
}
