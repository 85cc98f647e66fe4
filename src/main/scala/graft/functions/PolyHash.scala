package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial rolling hash of a string's UTF-8 bytes —
  * h = Σ b_i·B^(n-1-i) over the wrapping 2⁶⁴ ring (B = 1000003).
  *
  * The document-fingerprinting primitive: because the hash is
  * position-polynomial it extends incrementally (h' = h·B + b), which is
  * what makes window/winnowing fingerprint schemes cheap. The loop is a
  * static kernel that `StaticInvoke` calls from the generated operator:
  * one pass over the bytes, no UDF boundary, inside whole-stage codegen
  * next to the rest of the projection.
  */
case class PolyHash(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] with ImplicitCastInputTypes {

  // analyzer-inserted cast — see NfkcLower
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "poly_hash"

  override lazy val replacement: Expression = StaticInvoke(classOf[PolyHash],
    LongType, "hash", Seq(child), inputTypes, returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  final val Base = 1000003L

  /** The kernel. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * Base + (bytes(i) & 0xff)
      i += 1
    }
    h
  }

  def apply(c: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(c)))
}
