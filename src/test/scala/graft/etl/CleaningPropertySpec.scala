package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property tests for the cleaning expressions (SURVEY §5 item 3): the
  * parsers must be total and unit-roundtrip-correct across whole value
  * ranges, not just the fixture rows. Ranges are swept exhaustively in
  * ONE DataFrame pass per property (deterministic, and far faster than
  * per-value collect round-trips).
  */
class CleaningPropertySpec extends SparkSpec {

  import spark.implicits._

  test("P3: ∀h∈[50,250]: \"$h cm\"→h, \"${h}cm\"→h, \"$h in\"→h·2.54") {
    val rows = (50 to 250).toDF("h")
      .select(col("h"),
        Cleaning.heightToCm(concat(col("h"), lit(" cm"))).as("a"),
        Cleaning.heightToCm(concat(col("h"), lit("cm"))).as("b"),
        Cleaning.heightToCm(concat(col("h"), lit(" in"))).as("c"))
      .collect()
    rows.foreach { r =>
      val h = r.getInt(0)
      assert(r.getDouble(1) === h.toDouble)
      assert(r.getDouble(2) === h.toDouble)
      assert(r.getDouble(3) === h * 2.54)
    }
  }

  test("P3: bare numbers — meters below 3, cm at or above") {
    val meters = (100 to 299).toDF("x")
      .select(col("x"), Cleaning.heightToCm(
        format_string("%d.%02d", (col("x") / 100).cast("int"),
          (col("x") % 100).cast("int"))).as("h"))
      .collect()
    meters.foreach { r =>
      val m = r.getInt(0) / 100.0
      assert(math.abs(r.getDouble(1) - m * 100) < 1e-9, s"meters $m")
    }
    val cms = (3 to 250).toDF("x")
      .select(col("x"), Cleaning.heightToCm(col("x").cast("string")).as("h"))
      .collect()
    cms.foreach(r => assert(r.getDouble(1) === r.getInt(0).toDouble))
  }

  test("P3: ft/in composition for every ft∈[4,7], in∈[0,11]") {
    val rows = (for (ft <- 4 to 7; in <- 0 to 11) yield (ft, in)).toDF("ft", "in")
      .select(col("ft"), col("in"),
        Cleaning.heightToCm(format_string("%dft %din", col("ft"), col("in"))).as("a"),
        Cleaning.heightToCm(format_string("%d'%d\"", col("ft"), col("in"))).as("b"))
      .collect()
    rows.foreach { r =>
      val expect = r.getInt(0) * 30.48 + r.getInt(1) * 2.54
      assert(r.getDouble(2) === expect)
      assert(r.getDouble(3) === expect)
    }
  }

  test("P6: two-pass dob — pass-2-only strings log day_month_swapped") {
    // yyyy-d-M is the pass-2-only surface (pandas parity: dateutil's
    // month>12 auto-swap covers D-M-Y in pass 1, not year-first)
    val df = Seq(
      ("p1", "al", "aa", "1990-13-05", "F", "170 cm", "60 kg"),
      ("p2", "bo", "bb", "31-12-1985", "M", "170 cm", "60 kg"),
      ("p3", "cy", "cc", "not-a-date", "F", "170 cm", "60 kg"))
      .toDF("patient_id", "given_name", "family_name", "dob", "sex", "height", "weight")
      .withColumn("_ord", monotonically_increasing_id())
    val (cleaned, logs) = Patients.clean(df, "synthetic.csv")
    val parsed = cleaned.select("patient_id", "dob_parsed").collect()
      .map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
    assert(parsed("p1") === Some(java.sql.Timestamp.valueOf("1990-05-13 00:00:00")))
    assert(parsed("p2") === Some(java.sql.Timestamp.valueOf("1985-12-31 00:00:00")))
    assert(parsed("p3") === None)
    val dobLogs = logs.filter(col("column_name") === "dob")
      .select("patient_id", "reason", "cleaned_value").collect()
      .map(r => r.getString(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    // pass-2 success logs the swap WITH the parsed value; pass-1
    // successes (incl. the auto-swapped d-M-yyyy) log nothing
    assert(dobLogs("p1") === ("day_month_swapped", Some("1990-05-13 00:00:00")))
    assert(!dobLogs.contains("p2"))
    assert(dobLogs("p3") === ("unparseable_date", None))
  }

  test("P4: explicit kg never flagged when BMI plausible; lb constant exact") {
    val kg = Cleaning.withWeightKg((50 to 200).toDF("v"),
      concat(col("v"), lit(" kg")), lit(175.0), "kg")
    val rows = Cleaning.withWeightKg(kg,
        concat(col("v"), lit(" lb")), lit(175.0), "lb")
      .select(col("v"), col("kg.weight_kg"), col("kg.reason"),
        col("lb.weight_kg"), col("lb.reason"))
      .collect()
    rows.foreach { r =>
      val v = r.getInt(0)
      val bmiKg = v / math.pow(1.75, 2)
      if (bmiKg >= 10 && bmiKg <= 60) {
        assert(r.getDouble(1) === v.toDouble)
        assert(r.getString(2) === "ok")
      }
      val bmiLb = v * 0.453592 / math.pow(1.75, 2)
      if (bmiLb >= 10 && bmiLb <= 60) {
        assert(math.abs(r.getDouble(3) - v * 0.453592) < 1e-9)
        assert(r.getString(4) === "ok")
      }
    }
  }

  test("P4: missing markers always flagged with null weight") {
    val rows = Cleaning.withWeightKg(
        Seq("", "na", "N/A", "none", "NULL", "-").toDF("w"), col("w"), lit(170.0), "s")
      .select(col("s.weight_kg"), col("s.reason")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0))
      assert(Seq("missing_marker", "missing_value").contains(r.getString(1)))
    }
  }

  test("P6: ISO dates roundtrip for every day of 4 years incl. leap day") {
    val rows = (0 until 365 * 4).toDF("off")
      .select(col("off"), Cleaning.parseDatetime(
        date_format(date_add(lit("2020-01-01").cast("date"), col("off")),
          "yyyy-MM-dd")).as("p"),
        date_add(lit("2020-01-01").cast("date"), col("off")).as("d"))
      .collect()
    rows.foreach { r =>
      assert(r.getTimestamp(1).toLocalDateTime.toLocalDate ===
        r.getDate(2).toLocalDate)
    }
  }

  test("P6: month-first preference on ambiguous dates, day-first fallback") {
    val r = Seq("05/03/2009", "31/03/2009", "05-03-2009", "31-12-1985").toDF("s")
      .select(Cleaning.parseDatetime(col("s"))).collect()
    assert(r(0).getTimestamp(0).toLocalDateTime.getMonthValue === 5) // May 3
    assert(r(1).getTimestamp(0).toLocalDateTime.getMonthValue === 3) // day-first
    assert(r(2).getTimestamp(0).toLocalDateTime.getMonthValue === 5) // May 3
    assert(r(3).getTimestamp(0).toLocalDateTime.getDayOfMonth === 31)
  }

  test("P7: every offset −12:00..+12:00 collapses to the same UTC instant") {
    val rows = (-12 to 12).toDF("off")
      .select(col("off"), Cleaning.parseDatetime(concat(
        lit("2024-06-15 12:00:00"),
        when(col("off") >= 0, format_string("+%02d:00", col("off")))
          .otherwise(format_string("-%02d:00", -col("off"))))).as("p"))
      .collect()
    rows.foreach { r =>
      val expected = java.sql.Timestamp.valueOf("2024-06-15 12:00:00").toInstant
        .minusSeconds(r.getInt(0) * 3600L)
      assert(r.getTimestamp(1).toInstant === expected, s"offset ${r.getInt(0)}")
    }
  }

  test("P7: seconds and offsets parse on EVERY date order (dateutil parity)") {
    val r = Seq(
      "12/31/2024 08:00:30", // slash + seconds
      "31-12-2024 09:15:00", // day-first + seconds
      "12/31/2024 08:00:00+01:00", // slash + offset
      "2024/06/01 07:30:15").toDF("s")
      .select(Cleaning.parseDatetime(col("s"))).collect()
    assert(r(0).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-12-31 08:00:30"))
    assert(r(1).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-12-31 09:15:00"))
    assert(r(2).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-12-31 07:00:00"))
    assert(r(3).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-06-01 07:30:15"))
  }

  test("parsers are total: garbage inputs yield null, never throw") {
    val junk = Seq("x9", "...", "ft in", "kg", "12-34-56-78", "m", "'\"",
      "1.2.3.4", "99999999999999999999", "∞", "NaN", "-0")
    val rows = Cleaning.withWeightKg(junk.toDF("s"), col("s"), lit(170.0), "w").select(
      Cleaning.heightToCm(col("s")).as("h"),
      Cleaning.parseDatetime(col("s")).as("d"),
      Cleaning.sexToIso(col("s")).as("x"),
      col("w.reason").as("r"))
      .collect()
    assert(rows.length === junk.length) // no exceptions surfaced
    rows.foreach(r => assert(Set(0, 1, 2, 9).contains(r.getInt(2))))
  }
}
