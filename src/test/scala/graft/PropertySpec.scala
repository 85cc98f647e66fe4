package graft

import graft.etl.Cleaning
import graft.functions.ZOrder
import graft.llm.{Hashing, TextAnalysis}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generator-driven property tests (SURVEY §5 item 3): each property is
  * materialized as ONE deterministic sample batch (fixed ScalaCheck
  * seed) evaluated in a single DataFrame pass — hundreds of generated
  * cases per Spark job instead of a job per case.
  */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("generator exhausted"))

  test("heightToCm: every unit formulation round-trips (generated)") {
    val cms = samples(Gen.chooseNum(30.0, 250.0), 150, 1L)
      .map(v => math.rint(v * 10) / 10)
    val cases =
      cms.map(v => (s"$v cm", v)) ++
        cms.map(v => (s"${v}cm", v)) ++
        // meters: only plausible human heights parse as meters
        samples(Gen.chooseNum(0.5, 2.5), 100, 2L)
          .map(m => math.rint(m * 100) / 100)
          .map(m => (s"$m m", m * 100)) ++
        // feet+inches
        (for ((f, i) <- samples(Gen.zip(Gen.choose(3, 7), Gen.choose(0, 11)), 100, 3L))
          yield (s"${f}ft ${i}in", f * 30.48 + i * 2.54))
    val df = cases.toDF("raw", "expected")
      .withColumn("got", Cleaning.heightToCm(col("raw")))
    val bad = df.filter(col("got").isNull ||
      abs(col("got") - col("expected")) > 1e-9).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("withWeightKg: kg identity and lb conversion (generated)") {
    val kgs = samples(Gen.chooseNum(30.0, 200.0), 150, 4L)
      .map(v => math.rint(v * 10) / 10)
    val cases = kgs.map(v => (s"$v kg", v)) ++
      kgs.map(v => (s"$v lb", v * 0.453592))
    val df = Cleaning.withWeightKg(cases.toDF("raw", "expected"),
        col("raw"), lit(170.0), "w")
      .withColumn("got", col("w.weight_kg"))
    val bad = df.filter(col("got").isNull ||
      abs(col("got") - col("expected")) > 1e-9).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("parseDate: ISO dates always parse to themselves (generated)") {
    val days = samples(Gen.choose(0L, 25000L), 200, 5L)
    val cases = days.map(d => java.time.LocalDate.ofEpochDay(d).toString)
    val df = cases.toDF("raw")
      .withColumn("got", to_date(Cleaning.parseDatetime(col("raw"))))
    val bad = df.filter(col("got").isNull ||
      col("got").cast("string") =!= col("raw")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("zValue: monotone per dimension, invertible on the lattice (generated)") {
    val bits = 10
    val pairs = samples(
      Gen.zip(Gen.choose(0L, 1022L), Gen.choose(0L, 1023L)), 300, 6L)
    val df = pairs.toDF("x", "y")
      .withColumn("z", ZOrder.zValue(col("x"), col("y"), bits))
      .withColumn("z_xnext", ZOrder.zValue(col("x") + 1, col("y"), bits))
      .collect()
    df.foreach { r =>
      val (x, y, z, zx) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(zx > z, s"z not monotone in x at ($x,$y)")
      // invert: odd bits reassemble x, even bits y
      var (rx, ry) = (0L, 0L)
      for (i <- 0 until bits) {
        rx |= ((z >> (2 * i + 1)) & 1L) << i
        ry |= ((z >> (2 * i)) & 1L) << i
      }
      assert(rx === x && ry === y, s"z not invertible at ($x,$y)")
    }
  }

  test("jaccard: bounded, reflexive on non-empty, symmetric (generated)") {
    val word = Gen.oneOf("spark", "scan", "merge", "row", "key", "table",
      "agg", "join", "data", "fast")
    val doc = Gen.listOfN(8, word).map(_.mkString(" "))
    val docs = samples(Gen.zip(doc, doc), 150, 7L)
    val df = docs.toDF("a", "b").select(
      TextAnalysis.jaccard(TextAnalysis.shingles(col("a")),
        TextAnalysis.shingles(col("b"))).as("jab"),
      TextAnalysis.jaccard(TextAnalysis.shingles(col("b")),
        TextAnalysis.shingles(col("a"))).as("jba"),
      TextAnalysis.jaccard(TextAnalysis.shingles(col("a")),
        TextAnalysis.shingles(col("a"))).as("jaa")).collect()
    df.foreach { r =>
      val (jab, jba, jaa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab === jba, "jaccard must be symmetric")
      assert(jaa === 1.0, "jaccard(a,a) must be 1 for non-empty shingles")
    }
  }

  test("minhash: signatures respect set semantics; band agreement implies shared band keys") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val doc = Gen.listOfN(12, word).map(_.mkString(" "))
    samples(doc, 60, 8L).foreach { d =>
      val sh = Hashing.shingles(d, 3)
      if (sh.nonEmpty) {
        val sig1 = Hashing.minhashSignature(sh, 32)
        // shingles are a SET: duplicating the text leaves them unchanged
        // (d+d introduces boundary shingles, so only shape is asserted)
        val sig2 = Hashing.minhashSignature(Hashing.shingles(d + " " + d, 3), 32)
        val sig3 = Hashing.minhashSignature(sh.reverse, 32)
        assert(sig1.toSeq === sig3.toSeq, "minhash must ignore shingle order")
        assert(sig2.length === 32)
        val bands1 = Hashing.bandHashes(sig1, rows = 4)
        val bands3 = Hashing.bandHashes(sig3, rows = 4)
        assert(bands1.toSeq === bands3.toSeq)
      }
    }
  }

  test("md5Uniform60: JVM helper == the SQL convention it documents (generated)") {
    // the whole auditable-sketch family (CMS cells, KMV minima, SimHash
    // votes, HLL registers) rests on this one identity: the JVM-side
    // 60-bit uniform must equal what the oracles compute as
    // ('0x' || substring(md5(s), 1, 15))::BIGINT in DuckDB / Spark's
    // conv(substring(md5(s), 1, 15), 16, 10)
    val strs = samples(Gen.asciiPrintableStr, 200, 7L) ++
      samples(Gen.listOfN(8, Gen.oneOf('\u00e9', '\u4e2d', 'a', ' ', '0'))
        .map(_.mkString), 100, 8L)
    val df = strs.distinct.toDF("s")
      .withColumn("sql_h",
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
      .collect()
    df.foreach { r =>
      assert(Hashing.md5Uniform60(r.getString(0)) === r.getLong(1),
        s"mismatch for ${r.getString(0)}")
    }
  }
}
