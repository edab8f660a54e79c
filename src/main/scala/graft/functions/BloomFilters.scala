package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.lit

/** Typed Columns over Spark's Bloom-filter expressions, which ship in
  * Catalyst (they power runtime row-level filtering) but are NOT
  * SQL-registered in OSS builds:
  *
  *  - `bloom_filter_agg(key, estimatedItems, numBits)` → binary sketch
  *  - `might_contain(sketch, key)` → boolean probe (no false negatives)
  *
  * Together they are the semi-join pruning sketch: build a filter over the
  * small side's keys, broadcast the few-hundred-KB binary, and drop
  * non-matching fact rows AT THE SCAN — the pattern that turns a 100 TB
  * fact⋈dim semi-join into a map-only pre-filter plus a much smaller real
  * join for the survivors.
  */
object BloomFilters {

  /** The `bloom_filter_agg` aggregate over `key`. */
  def agg(key: Column, estimatedItems: Long, numBits: Long): Column =
    GraftColumn(new BloomFilterAggregate(GraftColumn.expression(key),
      GraftColumn.expression(lit(estimatedItems)),
      GraftColumn.expression(lit(numBits))).toAggregateExpression())

  /** `might_contain(sketch, key)`. */
  def mightContain(sketch: Column, key: Column): Column =
    GraftColumn(BloomFilterMightContain(GraftColumn.expression(sketch),
      GraftColumn.expression(key)))
}
