package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The house whitespace tokenization ([[graft.llm.Hashing.words]] — the
  * ONE convention every `CorpusQueries.WordsExpr` DuckDB oracle
  * mirrors) as a static kernel that `StaticInvoke` runs inside
  * whole-stage codegen.
  *
  * Why not the dozen per-query Scala `udf` wrappers it replaces: each
  * udf call site paid the serialization boundary (UTF8String → String →
  * Array[String] → re-encode) AND broke whole-stage codegen around the
  * tokenize-explode projection — ×40 text queries, that was the text
  * family's standing tax (VERDICT r8 §"what's wrong" 3). Here
  * `Hashing.words` runs in place inside the generated operator, so scan
  * → tokenize → explode → hash-agg stays one codegen span (the
  * [[CosineSim]] precedent).
  *
  * Null contract matches the UDFs it replaces: null text → EMPTY array
  * (never null), so `explode` drops the row identically and array
  * consumers (`size`, joins on tokens) see a well-typed empty list.
  */
case class Tokenize(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] with ImplicitCastInputTypes {

  // analyzer-inserted cast — see NfkcLower
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def prettyName: String = "tokenize_words"

  override lazy val replacement: Expression = StaticInvoke(classOf[Tokenize],
    TextScans.Strings, "words", Seq(child), inputTypes,
    propagateNull = false, returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): Tokenize =
    copy(child = newChild)
}

object Tokenize {
  /** The kernel. */
  def words(s: UTF8String): ArrayData =
    TextScans.strings(s)(graft.llm.Hashing.words)

  def apply(c: Column): Column =
    ColumnBridge.column(Tokenize(ColumnBridge.expression(c)))
}
