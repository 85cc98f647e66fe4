package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two `array<float>` embedding columns as a
  * static kernel that `StaticInvoke` runs inside whole-stage codegen —
  * the hot scalar of the whole ANN family (brute-force scoring,
  * LSH/IVF/PQ candidate verification, embedding near-dup, SemDeDup).
  *
  * Why an Expression and not the previous Scala UDF: the UDF boundary
  * deserializes each `ArrayData` into an `Array[Float]` per call and
  * breaks whole-stage codegen around the scoring projection; this
  * kernel reads the columnar `ArrayData` in place (`getFloat(i)`)
  * inside the generated operator. The arithmetic is IDENTICAL to
  * [[graft.llm.Hashing.cosine]] — same index-order double accumulation,
  * same final `dot/(√na·√nb)` — so every pinned ranking (6-dp quantized
  * rank convention) is unchanged.
  */
case class CosineSim(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression]
    with ImplicitCastInputTypes {

  // declared input types: the analyzer inserts elementwise casts for
  // array<double>/array<int> inputs (a SQL array literal is
  // array<double>) — without this, getFloat() would REINTERPRET the raw
  // bytes of wider slots and return garbage similarities silently
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def prettyName: String = "cosine_sim"

  override lazy val replacement: Expression = StaticInvoke(classOf[CosineSim],
    DoubleType, "cosine", Seq(left, right), inputTypes, returnNullable = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** The kernel. Index-order accumulation in double precision —
    * bit-identical to Hashing.cosine on the same inputs.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    // min-length bound, in lockstep with Hashing.cosine: ragged rows
    // score their overlap instead of throwing; equal-length inputs are
    // bit-unchanged.
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // zero-norm guard in lockstep with Hashing.cosine: without it a
    // zero vector scores NaN, which Spark orders ABOVE every real
    // score — ranking it first for every query.
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
