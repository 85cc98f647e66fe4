package graft.functions

import java.text.Normalizer
import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `clean_utf8` (ref `etl.py:190-198`): NFKC unicode-normalize + lowercase.
  *
  * This is the single reference operator with no Catalyst built-in (Spark
  * has no NFKC function). The kernel is one static method, and Spark's
  * `StaticInvoke` runs it on both the interpreted and the whole-stage
  * codegen path — at 100 TB this expression runs on every string cell of
  * every table, so it must stay inside the generated pipeline instead of
  * breaking it the way a Scala `udf` would.
  *
  * The reference's re-encode step (`s.encode('utf-8','replace')`) is a
  * no-op here: Spark strings are already valid UTF-8 by the time they are
  * in a DataFrame (malformed input bytes are replaced at source-read time
  * via the csv/text `mode`/charset options).
  */
case class NfkcLower(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] with ImplicitCastInputTypes {

  // analyzer-inserted cast: a non-string input (SQL call or Column API)
  // reads as its string form
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "nfkc_lower"

  override lazy val replacement: Expression = StaticInvoke(classOf[NfkcLower],
    StringType, "normalize", Seq(child), inputTypes, returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): NfkcLower =
    copy(child = newChild)
}

object NfkcLower {
  /** The kernel; Locale.ROOT matches Python `str.lower()`'s
    * locale-independent default Unicode case mapping.
    */
  def normalize(s: UTF8String): UTF8String = UTF8String.fromString(
    Normalizer.normalize(s.toString, Normalizer.Form.NFKC).toLowerCase(Locale.ROOT))

  def apply(c: Column): Column =
    ColumnBridge.column(NfkcLower(ColumnBridge.expression(c)))
}
