package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Column and frame kernels that several query modules share. The
  * oracle SQL of each query that uses one spells out the same arithmetic,
  * so changing a kernel means changing those oracles too. */
object Kernels {
  private val DayUs = 86400000000L

  /** Exact-integer accumulator type for moment sums. */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Φ-tail via Abramowitz & Stegun 7.1.26: two-sided p = 2·(1−Φ(|z|)). */
  def twoSidedP(z: Column): Column = {
    val x = abs(z) / lit(math.sqrt(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * tt - lit(1.453152027)) * tt +
      lit(1.421413741)) * tt - lit(0.284496736)) * tt +
      lit(0.254829592)) * tt
    lit(1.0) - (lit(1.0) - poly * exp(-x * x))
  }

  /** Dense daily revenue-cents series as one array row `xs` — the corpus
    * collapses once to the bounded calendar. */
  def dailyRev(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.events(s, d)
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg(sum(round(col("value") * 100).cast(LongType)).as("rev"))
    agg.agg(min("day").as("mn"), max("day").as("mx"),
        collect_list(struct(col("day"), col("rev"))).as("raw"))
      .select(transform(sequence(col("mn"), col("mx")), dd =>
        coalesce(element_at(map_from_entries(col("raw")), dd), lit(0L)))
        .as("xs"))
  }

  /** Cent-quantized event values `c` split into the event-id parity arms
    * `g` (the two-sample house frame). */
  def arms(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      round(col("value") * 100).cast(LongType).as("c"),
      col("event_id"), (col("event_id") % 2).as("g"))
}
