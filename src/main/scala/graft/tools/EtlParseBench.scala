package graft.tools

import graft.harness.Harness
import org.apache.spark.sql.functions._

/** Dev tool (r12 verdict item 6): the ETL fixture pipeline is
  * correctness-pinned at fixture size (12 lines); this measures the S2
  * messy-encounters reader and the P7 multi-format datetime parse at
  * 10⁶ lines so the per-line `when`-chain / `try_to_timestamp`-coalesce
  * codegen has ONE recorded throughput number
  * (`runMain graft.tools.EtlParseBench [lines]`).
  *
  * The input replicates the fixture's full messiness at scale: all five
  * datetime shapes (ISO+offset, M/d/yyyy, d-M-yyyy, ISO-'T'-Z, and the
  * slash-ISO yyyy/M/d HH:mm the reference encounters.csv also carries),
  * naive forms, `;`-delimited lines, blank lines, re-embedded headers,
  * and missing cells, in the fixture's proportions. Codegen soundness, not
  * just speed: each of the seven date-order patterns behind
  * [[graft.etl.Cleaning.parseDatetime]] is a FOLDABLE literal, so each
  * `try_to_timestamp` builds its `TimestampFormatter` once per generated
  * class, never per row — a per-row recompilation would read as lines/s
  * collapsing at this scale vs the fixture.
  */
object EtlParseBench {
  def main(args: Array[String]): Unit = Harness.withSession { spark =>
    val lines = if (args.length > 0) args(0).toInt else 1000000
    // ---- generate the messy CSV once (driver-side: ~170 MB, seconds)
    val dir = new java.io.File("target/etlbench")
    dir.mkdirs()
    val csv = new java.io.File(dir, s"encounters_$lines.csv")
    if (!csv.exists()) {
      // write to a temp file and rename on completion (r13 ADVICE): a
      // partial file left by an interrupted run would otherwise be
      // silently reused and benchmarked as if complete
      val tmp = new java.io.File(dir, s"encounters_$lines.csv.tmp")
      val w = new java.io.PrintWriter(
        new java.io.BufferedWriter(new java.io.FileWriter(tmp), 1 << 20))
      val header = "encounter_id , patient_id, admit_dt , discharge_dt ," +
        " encounter_type, source_file"
      w.println(header)
      var i = 0
      while (i < lines) {
        val enc = f"ENC-$i%07d"
        val pat = f"P-${i % 99991}%05d"
        val day = 1 + i % 28
        val mon = 1 + i % 12
        val typ = Seq("INPATIENT", "ED", "OUTPATIENT", "BADTYPE")(i % 4)
        val src = s"encounters_${('a' + i % 3).toChar}.csv"
        i % 97 match {
          case 0 => w.println() // blank line: dropped by the reader
          case 1 => w.println(header) // re-embedded header: dropped
          case 2 => // ';'-delimited line with an EXTRA 7th field
            w.println(s"$enc;$pat;2025-1-$day 10:00;2025-1-$day 12:00;$typ;$src;EXTRA")
          case 3 => // missing discharge cell
            w.println(s"$enc , $pat , 2024-$mon-$day 11:00 ,  , $typ , $src")
          case _ =>
            val (a, d) = (i % 5) match {
              case 0 => (s"2024-$mon-$day 10:00:00+01:00", s"2024-$mon-$day 14:30:00+01:00")
              case 1 => (s"$mon/$day/2024 08:00", s"$mon/$day/2024 20:00")
              case 2 => (s"$day-$mon-2024 09:15", s"$day-$mon-2024 12:00")
              case 3 => (s"2024/$mon/$day 07:30", s"2024/$mon/$day 16:45")
              case _ => (s"2024-$mon-${day}T09:00:00Z", s"2024-$mon-${day}T17:00:00Z")
            }
            w.println(s"$enc , $pat , $a , $d , $typ , $src")
        }
        i += 1
      }
      w.close()
      if (!tmp.renameTo(csv))
        sys.error(s"rename $tmp -> $csv failed")
    }

    def timeIt(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val reps = (1 to 3).map(_ =>
        Harness.measure(spark)(df.write.format("noop").mode("overwrite").save()))
      val best = reps.minBy(_.wallS)
      println(f"[etlparse] $label: min=${best.wallS}%.2f s cpu=${best.cpuS}%.2f s " +
        f"(${lines / best.wallS / 1e6}%.2f M lines/s; " +
        f"reps ${reps.map(r => f"${r.wallS}%.2f").mkString(",")})")
    }

    // S2 alone: line scan + per-line delimiter sniff + pad/truncate
    timeIt("s2_read")(graft.etl.Encounters.read(spark, csv.getPath))
    // S2 + P7: both datetime columns through the 7-pattern coalesce
    timeIt("s2_p7_parse") {
      graft.etl.Encounters.read(spark, csv.getPath)
        .withColumn("admit_dt", graft.etl.Cleaning.parseDatetime(col("admit_dt")))
        .withColumn("discharge_dt",
          graft.etl.Cleaning.parseDatetime(col("discharge_dt")))
        .filter(col("admit_dt").isNotNull)
    }
    if (sys.env.contains("EXPLAIN"))
      graft.etl.Encounters.read(spark, csv.getPath)
        .withColumn("admit_dt", graft.etl.Cleaning.parseDatetime(col("admit_dt")))
        .explain("formatted")
  }
}
