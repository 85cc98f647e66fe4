package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Cleaning.wsTrim]] strips exactly what its former regex stripped.
  *
  * The oracle is that regex, `^ws+|ws+$` over Java's `\s` plus the
  * Unicode spaces of Python's `strip()`; it lives here only. Both run in
  * one DataFrame pass over inputs read back from parquet (a local `Seq`
  * would be folded into a local relation and evaluated by the
  * interpreter), under codegen with the janino fallback off.
  */
class WsTrimSpec extends SparkSpec {

  import spark.implicits._

  private val OracleClass =
    "[\\s\\u0085\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"
  private val oracle = regexp_replace(col("s"), s"^$OracleClass+|$OracleClass+$$", "")

  private def str(cps: Int*): String = new String(cps.toArray, 0, cps.length)

  /** Every BMP code point outside the surrogate block. */
  private val bmp = (0 to 0xFFFF).filterNot(cp => cp >= 0xD800 && cp <= 0xDFFF)
  private val members = bmp.filter(cp => str(cp).matches(OracleClass))
  private val neighbours = (0x1C to 0x1F) ++ Seq(0x200B, 0xFEFF)
  private val astral = Seq(0x10000, 0x1F600, 0x20000, 0x10FFFF)

  private def samples[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("generator exhausted"))

  /** Strings built from runs of one code point each, 1-240 long, over
    * the class, its neighbours, astral code points, the delimiters and
    * letters: long whitespace runs at both edges and inside.
    */
  private val runs: Gen[String] = {
    val cp = Gen.frequency(
      6 -> Gen.oneOf(members), 2 -> Gen.oneOf(neighbours),
      1 -> Gen.oneOf(astral), 1 -> Gen.oneOf(';'.toInt, ','.toInt),
      3 -> Gen.choose('a'.toInt, 'z'.toInt))
    val run = for (c <- cp; n <- Gen.frequency(4 -> Gen.choose(1, 3),
      1 -> Gen.choose(60, 240))) yield str(Seq.fill(n)(c): _*)
    Gen.choose(0, 8).flatMap(k => Gen.listOfN(k, run)).map(_.mkString)
  }

  test("wsTrim equals the former regex: every BMP code point, astral, long runs, random") {
    val allWs = str(members: _*)
    val padded = bmp.flatMap(cp => Seq(str(cp), str(cp, 'x', cp), str('x', cp, 'y')))
    val surrogatePairs = astral.flatMap(a =>
      Seq(str(a), str(0x3000, a, 0x00A0), str(a, ' ', a), str(0x200B, a, 0x1F)))
    val edges = Seq[String](null, "", allWs, allWs * 10, " " * 250,
      " " * 300 + "a b" + "\t" * 220, "\u3000" * 201 + "x" + "\u3000" * 201,
      " " * 70 + "e1;p1;" + " " * 80 + ";" + "\r\n")
    val inputs = padded ++ surrogatePairs ++ edges ++ samples(runs, 5000, 8L)

    val dir = java.nio.file.Files.createTempDirectory("graft-wstrim").toString
    val prev = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.fallback")
      .map(k => k -> spark.conf.getOption(k))
    try {
      inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
        .write.parquet(s"$dir/in")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val df = spark.read.parquet(s"$dir/in")
        .select(col("id"), col("s"), Cleaning.wsTrim(col("s")).as("got"), oracle.as("want"))
      val rows = df.collect()
      assert(df.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
      assert(rows.length === inputs.length)
      val bad = rows.filterNot(r => r.getString(2) == r.getString(3)).map(r =>
        s"${r.getLong(0)}: ${r.getString(1).map(c => f"${c.toInt}%04X").mkString(" ")}")
      assert(bad.length === 0, bad.take(5).mkString("\n"))
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
