package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Cleaning.parseDatetime]] and [[Diagnoses.parseRecordedAt]] parse
  * exactly what their former format lists parsed.
  *
  * The oracles live here only: the 34-format `try_to_timestamp` coalesce
  * (six date orders crossed with four time shapes, four ISO-`T` forms and
  * six date-only forms) in both of its orders, date-only first (the old
  * P6 pass 1) and datetime first (the old P7), and the 4-format
  * `recordedAt` coalesce. All run in one DataFrame pass over inputs read
  * back from parquet (a local `Seq` would be folded into a local relation
  * and evaluated by the interpreter), under codegen with the janino
  * fallback off.
  */
class DateParseSpec extends SparkSpec {

  import spark.implicits._

  private val oldDateFormats =
    Seq("yyyy-M-d", "yyyy/M/d", "M/d/yyyy", "M-d-yyyy", "d/M/yyyy", "d-M-yyyy")
  private val oldDatetimeFormats =
    oldDateFormats.flatMap(d => Seq("H:mm:ssXXX", "H:mm:ss", "H:mmXXX", "H:mm")
      .map(t => s"$d $t")) ++
      Seq("yyyy-M-d'T'H:mm:ssXXX", "yyyy-M-d'T'H:mm:ss",
        "yyyy-M-d'T'H:mmXXX", "yyyy-M-d'T'H:mm")
  private def oldMulti(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f =>
      try_to_timestamp(upper(Cleaning.wsTrim(c)), lit(f))): _*)
  private def oldRecordedAt(c: Column): Column = coalesce(
    Seq("yyyy-M-d'T'H:mm:ssXXX", "yyyy-M-d'T'H:mm:ss", "yyyy-M-d H:mm:ss", "yyyy-M-d")
      .map(f => try_to_timestamp(c, lit(f))): _*)

  private def samples[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("generator exhausted"))

  /** A number with or without zero padding. */
  private def num(g: Gen[Int]): Gen[String] =
    g.flatMap(n => Gen.oneOf(n.toString, f"$n%02d"))

  /** Six date orders, padded or not, with out-of-range fields; a time after ` `, `T`,
    * `t` or two spaces, `H:mm` or `H:mm:ss`, with fractions and zones
    * (`Z`, `z`, `±hh:mm`, `+0100`, `UTC`); then lower/upper case,
    * Unicode padding and truncation.
    */
  private val grammar: Gen[String] = {
    val year = Gen.frequency(8 -> Gen.choose(1900, 2099).map(_.toString),
      1 -> Gen.oneOf("0001", "24", "10000"))
    val month = num(Gen.frequency(6 -> Gen.choose(1, 12), 2 -> Gen.choose(13, 31),
      1 -> Gen.oneOf(0, 99)))
    val day = num(Gen.frequency(6 -> Gen.choose(1, 28), 2 -> Gen.choose(29, 31),
      1 -> Gen.oneOf(0, 32, 99)))
    // the ISO order weighs three: it is the only one recordedAt reads
    val order = Gen.frequency(3 -> Gen.const(0), 5 -> Gen.choose(1, 5))
    val date = for (y <- year; m <- month; d <- day; o <- order) yield
      o match {
        case 0 => s"$y-$m-$d"
        case 1 => s"$y/$m/$d"
        case 2 => s"$m/$d/$y"
        case 3 => s"$m-$d-$y"
        case 4 => s"$d/$m/$y"
        case _ => s"$d-$m-$y"
      }
    val minSec = Gen.frequency(8 -> Gen.choose(0, 59), 1 -> Gen.oneOf(60, 99))
      .flatMap(n => Gen.frequency(6 -> f"$n%02d", 1 -> n.toString))
    val time = for {
      sep <- Gen.oneOf(" ", "T", "t", "  ")
      h <- num(Gen.frequency(8 -> Gen.choose(0, 23), 1 -> Gen.oneOf(24, 99)))
      m <- minSec
      s <- Gen.frequency(1 -> Gen.const(""), 1 -> minSec.map(":" + _))
      frac <- Gen.frequency(6 -> "", 1 -> ".5", 1 -> ".123456")
      zone <- Gen.frequency(4 -> "", 1 -> "Z", 1 -> "z", 1 -> "+01:00", 1 -> "-05:30",
        1 -> "+14:00", 1 -> "+0100", 1 -> "UTC", 1 -> " UTC")
    } yield s"$sep$h:$m$s$frac$zone"
    val pad = Gen.frequency(6 -> "", 1 -> " ", 1 -> "\u00A0", 1 -> "\u3000",
      1 -> "\t", 1 -> "\u2007", 1 -> "\u200B")
    for {
      d <- date
      t <- Gen.frequency(1 -> Gen.const(""), 3 -> time)
      casing <- Gen.oneOf(Seq[String => String](identity, _.toLowerCase, _.toUpperCase))
      pre <- pad
      post <- pad
      cut <- Gen.frequency(8 -> Gen.const(Int.MaxValue), 1 -> Gen.choose(0, 24))
    } yield pre + casing(d + t).take(cut) + post
  }

  /** The fixtures' own date cells, as the pipeline's readers see them. */
  private def fixtureCells: Seq[String] = {
    val dir = EtlPipeline.defaultDir
    def strings(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.getString(0))
    val enc = Encounters.read(spark, s"$dir/encounters.csv")
    strings(Patients.read(spark, s"$dir/patients.csv").select("dob")) ++
      strings(enc.select("admit_dt")) ++ strings(enc.select("discharge_dt")) ++
      strings(spark.read.format("xml").option("rowTag", "Diagnosis")
        .option("inferSchema", false).load(s"$dir/diagnoses.xml").select("recordedAt"))
  }

  test("parseDatetime and parseRecordedAt equal the former format lists") {
    val fixtures = fixtureCells
    val inputs = fixtures ++ fixtures.map(_.toLowerCase) ++ Seq[String](null, "") ++
      samples(grammar, 20000, 11L)

    val dir = java.nio.file.Files.createTempDirectory("graft-dateparse").toString
    val prev = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.fallback")
      .map(k => k -> spark.conf.getOption(k))
    try {
      inputs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
        .write.parquet(s"$dir/in")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val s = col("s")
      val df = spark.read.parquet(s"$dir/in").select(col("id"), s,
        Cleaning.parseDatetime(s).as("got"),
        oldMulti(s, oldDateFormats ++ oldDatetimeFormats).as("p6"),
        oldMulti(s, oldDatetimeFormats ++ oldDateFormats).as("p7"),
        Diagnoses.parseRecordedAt(s).as("rec"),
        oldRecordedAt(s).as("rec_want"))
      val rows = df.collect()
      assert(df.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
      assert(rows.length === inputs.length)
      def same(r: org.apache.spark.sql.Row, a: Int, b: Int) = r.get(a) == r.get(b)
      val bad = rows.filterNot(r => same(r, 2, 3) && same(r, 2, 4) && same(r, 5, 6))
        .map(r => s"${r.getLong(0)} '${r.getString(1)}': ${r.get(2)} p6=${r.get(3)} " +
          s"p7=${r.get(4)} rec=${r.get(5)} rec_want=${r.get(6)}")
      assert(bad.isEmpty, s"${bad.length} mismatches\n" + bad.take(5).mkString("\n"))

      // the comparison is not vacuous: every fixture cell but the blank dob
      // parses, and a good share of the generated ones do
      val parsed = rows.count(!_.isNullAt(2))
      val recorded = rows.count(!_.isNullAt(5))
      assert(rows.count(r => r.getLong(0) < fixtures.size && !r.isNullAt(2)) ===
        fixtures.count(c => Option(c).exists(_.nonEmpty)))
      assert(parsed > 2000, s"only $parsed inputs parse")
      assert(recorded > 200, s"only $recorded inputs parse as recordedAt")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
