package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.ColumnBridge

/** SQL surface for the engine's custom expressions. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `.withExtensions(new GraftExtensions)`): `nfkc_lower(str)`,
  * `poly_hash(str)`, `cosine_sim(a, b)`, `tokenize_words(str)` and
  * `kmv_estimate(sketch, k)` then work from plain `spark.sql(...)`
  * exactly like built-ins, including codegen. (The text-scan family —
  * shingles/chunks/winnow/repetition/char-pairs — is Column-API only:
  * their n/window parameters are query-construction constants.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, build) =>
      // the info names the class that defines the SQL function: this one
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
}

object GraftExtensions {
  /** The one list of SQL functions: name and arity-checked builder. A
    * wrong argument count fails as an analysis-time error, not a bare
    * NoSuchElementException, and extra arguments are never dropped.
    */
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    sql("nfkc_lower", 1)(a => NfkcLower(a(0))),
    sql("poly_hash", 1)(a => PolyHash(a(0))),
    sql("cosine_sim", 2)(a => CosineSim(a(0), a(1))),
    sql("tokenize_words", 1)(a => Tokenize(a(0))),
    sql("kmv_estimate", 2)(a => KmvEstimate(a(0), kmvWidth(a(1)))))

  private def sql(name: String, arity: Int)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { children =>
      require(children.size == arity,
        s"$name expects exactly $arity argument(s), got ${children.size}")
      build(children)
    }

  /** `kmv_estimate(sketch, k)`: the width is part of the sketch's
    * CONSTRUCTION, not per-row data, so it must be a foldable integer
    * literal — anything else is an analysis-time error.
    */
  private def kmvWidth(kExpr: Expression): Int = {
    require(kExpr.foldable, "kmv_estimate: k must be a foldable integer literal")
    kExpr.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other =>
        throw new IllegalArgumentException(s"kmv_estimate: k must be integral, got $other")
    }
  }

  /** Late registration onto an existing session (harness driver path). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, build) =>
      ColumnBridge.registerTempFunction(spark, name, build)
    }
}
