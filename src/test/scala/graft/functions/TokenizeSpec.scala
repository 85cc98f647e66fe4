package graft.functions

import graft.SparkSpec
import graft.llm.Hashing
import org.apache.spark.sql.functions._

/** The codegen tokenizer that replaced the per-query words UDFs: value
  * agreement with [[Hashing.words]] (the single convention every
  * shingle-family oracle mirrors) and the UDF-compatible null contract
  * (interpreted/codegen agreement: [[KernelParitySpec]]).
  */
class TokenizeSpec extends SparkSpec {

  import spark.implicits._

  private val cases = Seq(
    "plain words here",
    "  leading and trailing  ",
    "tabs\tand\nnewlines\fand\rreturns",
    "multiple   runs\t\t between",
    "",
    "   \t\n  ",
    "unicode: héllo wörld ñ",
    "single")

  test("Tokenize agrees with Hashing.words on every edge shape") {
    val got = cases.toDF("t")
      .select(col("t"), Tokenize(col("t")).as("w"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap
    cases.foreach { c =>
      assert(got(c) === Hashing.words(c).toSeq, s"input: '$c'")
    }
  }

  test("null text yields an EMPTY array (the UDF contract), never null") {
    val r = Seq((1, Option.empty[String]), (2, Some("a b")))
      .toDF("id", "t")
      .select(col("id"), Tokenize(col("t")).as("w"),
        size(Tokenize(col("t"))).as("n"))
      .orderBy(col("id"))
      .collect()
    assert(r(0).getSeq[String](1) === Seq.empty)
    assert(r(0).getInt(2) === 0)
    assert(r(1).getSeq[String](1) === Seq("a", "b"))
  }

  test("vertical tab U+000B is NOT a separator (RE2 \\s class, not Java's)") {
    val out = Seq("ab c").toDF("t")
      .select(Tokenize(col("t"))).collect()(0).getSeq[String](0)
    assert(out === Seq("ab", "c"))
  }

  test("SQL-registered: tokenize_words works from spark.sql") {
    GraftExtensions.register(spark)
    val out = spark.sql("SELECT tokenize_words('  a\tb  c ') AS w")
      .collect()(0).getSeq[String](0)
    assert(out === Seq("a", "b", "c"))
  }

  test("explode(Tokenize) inside one whole-stage codegen span tokenizes a frame") {
    val counts = Seq("x y x", "y", "").toDF("t")
      .select(explode(Tokenize(col("t"))).as("tok"))
      .groupBy(col("tok")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("x" -> 2L, "y" -> 2L))
  }
}
