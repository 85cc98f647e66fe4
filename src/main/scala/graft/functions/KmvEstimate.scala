package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Floored KMV distinct estimate over a FINISHED md5-60 sketch
  * ([[KmvAgg.sketchMd5]] / [[KmvAgg.mergeSketches]] output: ascending
  * hash minima, exact set below width `k`) as a static kernel that
  * `StaticInvoke` runs inside whole-stage codegen — the per-row
  * estimator the HyperBall family applies to every node's ball sketch.
  *
  * Why not the Scala `udf` it replaces: the udf paid the serialization
  * boundary (ArrayData → Seq[Long] → Array[Long]) and broke whole-stage
  * codegen between the sketch aggregation and the top-k ranking — the [[Tokenize]]/[[CosineSim]] precedent. Here the
  * kernel reads the sketch's last element in place; no per-row
  * allocation at all.
  *
  * The arithmetic is the IDENTICAL IEEE expression to
  * [[KmvAgg.estimateDistinctMd5]] (and to the `(k−1) / (v_k / 2⁶⁰)`
  * text every KMV oracle writes): `(k−1) / (v_k / 2⁶⁰)`, floored —
  * KmvSpec pins expression == helper on random sketches so the two
  * copies cannot drift.
  *
  * SQL `kmv_estimate(sketch, k)` ([[GraftExtensions]]) takes `k` as a
  * foldable integer literal: the width is part of the sketch's
  * construction, not per-row data.
  */
case class KmvEstimate(child: Expression, k: Int) extends RuntimeReplaceable
    with UnaryLike[Expression] {
  require(k >= 2, s"k must be >= 2: $k")

  override def prettyName: String = "kmv_estimate"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_estimate expects array<bigint>, got ${other.catalogString}")
    }

  override lazy val replacement: Expression = StaticInvoke(classOf[KmvEstimate],
    LongType, "estMd5Floor", Seq(child, Literal(k)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): KmvEstimate =
    copy(child = newChild)
}

object KmvEstimate {

  /** The kernel. The sketch is ascending by construction, so its LAST
    * element is v_k; below width the sketch IS the distinct set and the
    * estimate is its exact size.
    *
    * md5-60-only contract, enforced: v_k must be a positive 60-bit hash
    * minimum. A non-positive v_k means the input is NOT a finished
    * md5-60 sketch (e.g. [[KmvAgg.sketch]]'s sign-bit-flipped xxhash
    * form, or a hand-built array ending in 0 that would divide to
    * Infinity) — fail loudly rather than publish negative garbage.
    */
  def estMd5Floor(sketch: ArrayData, k: Int): Long = {
    val n = sketch.numElements()
    if (n < k) n.toLong
    else {
      val vk = sketch.getLong(n - 1)
      if (vk <= 0L) throw new IllegalArgumentException(
        s"kmv_estimate: sketch max $vk is not a positive md5-60 hash; " +
          "kmv_estimate accepts only finished md5-60 sketches " +
          "(kmv_sketch_md5 / merged), not sign-flipped xxhash sketches")
      math.floor((k - 1).toDouble / (vk.toDouble / math.pow(2, 60))).toLong
    }
  }

  def apply(c: Column, k: Int): Column =
    ColumnBridge.column(KmvEstimate(ColumnBridge.expression(c), k))
}
