package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator family; each key has a
  * DuckDB-runnable twin in `oracleSql` unless the op is not SQL-expressible
  * (those get the driver's weaker rows-only check).
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 flavor) on sf=0.001; driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every query module in merge order: (name, query map, oracle map).
    * Exposed (rather than inlined into `queries`/`oracleSql`) so
    * CatalogSpec can assert the module key sets are pairwise disjoint:
    * `++` keeps the LAST binding, so a reused key silently drops an
    * operator from the catalog with no error anywhere — exactly what
    * happened to the r5-era q_cramers_v / q_stratified_sample in round 9
    * (VERDICT r9 "what's wrong" #2). */
  def modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    ("Relational", Relational.queries, Relational.oracle),
    ("RelationalExt", RelationalExt.queries, RelationalExt.oracle),
    ("RelationalMore", RelationalMore.queries, RelationalMore.oracle),
    ("EventOps", EventOps.queries, EventOps.oracle),
    ("TextOps", TextOps.queries, TextOps.oracle),
    ("Dedup", Dedup.queries, Dedup.oracle),
    ("Similarity", Similarity.queries, Similarity.oracle),
    ("Pipeline", Pipeline.queries, Pipeline.oracle),
    ("CorpusOps", CorpusOps.queries, CorpusOps.oracle),
    ("GraphOps", GraphOps.queries, GraphOps.oracle),
    ("Graph2", Graph2.queries, Graph2.oracle),
    ("Graph3", Graph3.queries, Graph3.oracle),
    ("Tpch", Tpch.queries, Tpch.oracle),
    ("CorpusMix", CorpusMix.queries, CorpusMix.oracle),
    ("Analytics", Analytics.queries, Analytics.oracle),
    ("CorpusStats", CorpusStats.queries, CorpusStats.oracle),
    ("Curation", Curation.queries, Curation.oracle),
    ("Evaluation", Evaluation.queries, Evaluation.oracle),
    ("Quality", Quality.queries, Quality.oracle),
    ("LinAlg", LinAlg.queries, LinAlg.oracle),
    ("Stats2", Stats2.queries, Stats2.oracle),
    ("Stats3", Stats3.queries, Stats3.oracle),
    ("Stats4", Stats4.queries, Stats4.oracle),
    ("Stats5", Stats5.queries, Stats5.oracle),
    ("Stats6", Stats6.queries, Stats6.oracle),
    ("Stats7", Stats7.queries, Stats7.oracle),
    ("Stats8", Stats8.queries, Stats8.oracle),
    ("Stats9", Stats9.queries, Stats9.oracle),
    ("Stats10", Stats10.queries, Stats10.oracle),
    ("Stats11", Stats11.queries, Stats11.oracle),
    ("Stats12", Stats12.queries, Stats12.oracle),
    ("TextEval", TextEval.queries, TextEval.oracle),
    ("MlOps3", MlOps3.queries, MlOps3.oracle),
    ("Stats13", Stats13.queries, Stats13.oracle),
    ("Econ", Econ.queries, Econ.oracle),
    ("MlOps", MlOps.queries, MlOps.oracle),
    ("MlOps2", MlOps2.queries, MlOps2.oracle),
    ("DqOps", DqOps.queries, DqOps.oracle),
    ("Recsys", Recsys.queries, Recsys.oracle),
    ("Stats14", Stats14.queries, Stats14.oracle),
    ("SeqMl", SeqMl.queries, SeqMl.oracle),
    ("Stats15", Stats15.queries, Stats15.oracle),
    ("Stats16", Stats16.queries, Stats16.oracle),
    ("Econ2", Econ2.queries, Econ2.oracle),
    ("Density", Density.queries, Density.oracle),
    ("SeqMl2", SeqMl2.queries, SeqMl2.oracle),
    ("Stats17", Stats17.queries, Stats17.oracle),
    ("Stats18", Stats18.queries, Stats18.oracle),
    ("Fairness", Fairness.queries, Fairness.oracle),
    ("Stats19", Stats19.queries, Stats19.oracle),
    ("Stats20", Stats20.queries, Stats20.oracle),
    ("Risk", Risk.queries, Risk.oracle),
    ("Stats21", Stats21.queries, Stats21.oracle),
    ("Agree", Agree.queries, Agree.oracle),
    ("TextEval2", TextEval2.queries, TextEval2.oracle),
    ("Stats22", Stats22.queries, Stats22.oracle),
    ("Reliab", Reliab.queries, Reliab.oracle),
    ("Text3", Text3.queries, Text3.oracle))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  /** Bench-only overrides: estimate-only forms of the sketch queries
    * (same keys as `queries`; identical sketch config, exact verification
    * arm dropped). Bench times `queries ++ benchForm`; Verify and the
    * correctness gate use `queries` alone — see
    * [[graft.queries.RelationalExt.benchForm]]. */
  def benchForm: Map[String, (SparkSession, String) => DataFrame] =
    RelationalExt.benchForm ++ Similarity.benchForm ++
      Graph2.benchForm ++ Graph3.benchForm

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._3).reduce(_ ++ _)
}
