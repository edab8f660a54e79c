package graft.functions

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** `cms_estimate(sketch, key)` — probe a serialized Count-Min sketch for a
  * key's frequency estimate.
  *
  * Completes the pair Spark ships half of: the `count_min_sketch(col, eps,
  * confidence, seed)` SQL aggregate produces the binary sketch, but OSS
  * builds register no probe. With both, heavy-hitter estimation is fully
  * plan-shaped: the fixed-size sketch aggregates executor-side (partials
  * merge map-side), broadcasts as a 1-row side, and the probe is a scalar
  * expression over whatever key domain needs estimates — no driver-side
  * result assembly (the probe half mirrors [[BloomFilters.mightContain]]).
  *
  * Probe hashing matches the aggregate's update path: string keys probe by
  * their UTF-8 bytes, exactly what CountMinSketchAgg feeds `addBinary`, so
  * estimates agree bit-for-bit with `df.stat.countMinSketch` for the same
  * (eps, confidence, seed).
  *
  * Eval-mode expression (CodegenFallback): the probe side is a handful of
  * rows per sketch (the key domain being estimated), never the fact
  * stream, so codegen would buy nothing; the deserialized sketch is cached
  * by content so repeated probes of one broadcast sketch deserialize once
  * per executor.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def nullSafeEval(sk: Any, key: Any): Any = {
    val sketch = CmsEstimate.deserialize(sk.asInstanceOf[Array[Byte]])
    key match {
      case s: UTF8String => sketch.estimateCount(s.getBytes)
      case other         => sketch.estimateCount(other)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {
  // content-keyed cache: rows arriving through a broadcast exchange carry
  // fresh byte-array copies of the same sketch, so identity keying would
  // deserialize per row. Bounded — sketches are ~100 KB each.
  private val cache = new ConcurrentHashMap[ByteBuffer, CountMinSketch]()

  private[functions] def deserialize(bytes: Array[Byte]): CountMinSketch = {
    if (cache.size > 8) cache.clear()
    cache.computeIfAbsent(ByteBuffer.wrap(bytes),
      _ => CountMinSketch.readFrom(bytes))
  }
}

object CountMin {

  /** `cms_estimate(sketch, key)` as a typed Column; needs no session
    * setup. */
  def estimate(sketch: Column, key: Column): Column =
    GraftColumn(CmsEstimate(GraftColumn.expression(sketch),
      GraftColumn.expression(key)))
}
