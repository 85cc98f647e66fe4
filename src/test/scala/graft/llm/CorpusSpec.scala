package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the corpus-curation operators: winnowing selection properties,
  * repetition-ratio arithmetic, PII redaction on planted examples (the
  * harness corpus carries none), and stratified-sample exactness.
  */
class CorpusSpec extends SparkSpec {

  import spark.implicits._

  // ---- winnowing -------------------------------------------------------

  test("winnow: short docs yield one global-min fingerprint, tiny docs none") {
    assert(Hashing.winnow("", 3, 4).isEmpty)
    assert(Hashing.winnow("a b", 3, 4).isEmpty) // < n words: no 3-gram
    // 4 words → 2 hashes ≤ w → exactly the single global min
    val fps = Hashing.winnow("a b c d", 3, 4)
    assert(fps.length === 1)
    val h1 = md5Hex16("a b c")
    val h2 = md5Hex16("b c d")
    assert(fps(0) === Seq(h1, h2).min)
  }

  test("winnow guarantee: a shared w+n-1 word run shares a fingerprint") {
    // two docs sharing a 6-word run (w=4, n=3 → guarantee threshold)
    val shared = "alpha beta gamma delta epsilon zeta"
    val a = Hashing.winnow(s"one two three $shared", 3, 4).toSet
    val b = Hashing.winnow(s"$shared seven eight nine", 3, 4).toSet
    assert(a.intersect(b).nonEmpty)
  }

  test("winnow density: selects ~2/(w+1) of hashes, far fewer than all") {
    val words = (1 to 500).map(i => s"w${i % 97}_$i").mkString(" ")
    val fps = Hashing.winnow(words, 3, 4)
    val nHashes = 500 - 3 + 1
    assert(fps.length < nHashes / 2)
    assert(fps.length > nHashes / 10) // not degenerate either
  }

  test("winnow matches an independent scala reimplementation") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val words = text.split(" ")
    val hashes = words.sliding(3).map(g => md5Hex16(g.mkString(" "))).toArray
    val expected = hashes.sliding(4).map(_.min).toSeq.distinct
    assert(Hashing.winnow(text, 3, 4).toSeq === expected)
  }

  test("overlapPairs finds planted contiguous runs, ignores unrelated docs") {
    val run = (1 to 40).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro words here $run trailing stuff"),
      (2L, s"$run completely different ending part"),
      (3L, "unrelated text with no common runs at all whatsoever in any form"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val pairs = Winnowing.overlapPairs(docs, "doc_id", "text", minShared = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("overlapPairs df cap drops ubiquitous fingerprints (no hot bucket)") {
    // every doc shares the same boilerplate run → its fingerprints hit
    // every doc; with maxDf below the corpus size they must be dropped,
    // yielding no pairs (the run can't discriminate)
    val boiler = (1 to 30).map(i => s"b$i").mkString(" ")
    val docs = (1L to 8L).map(i => (i, s"$boiler unique$i tail$i"))
      .toDF("doc_id", "text")
    val pairs = Winnowing.overlapPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 7)
    assert(pairs.count() === 0)
    // and with the cap above corpus size, all pairs surface
    val all = Winnowing.overlapPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 100)
    assert(all.count() === 8L * 7 / 2)
  }

  test("contaminated flags corpus docs sharing runs with the benchmark only") {
    val leak = (1 to 30).map(i => s"eval$i").mkString(" ")
    val bench = Seq((100L, s"benchmark question text $leak end"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"scraped page containing $leak verbatim plus commentary"),
      (2L, "clean document about something else entirely with many words"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val hits = Winnowing.contaminated(corpus, bench, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L))
  }

  test("contaminatedBloom agrees exactly with the broadcast-set formulation") {
    // the Bloom variant must be bit-identical: the sketch only pre-prunes,
    // the exact verify join removes every false positive. Run both over
    // the harness corpus (real winnowed fingerprints, real overlap).
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") >= 50)
    val bench = docs.filter(col("doc_id") < 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rows(Winnowing.contaminated(corpus, bench, "doc_id", "text"))
    // a deliberately tiny/over-loaded filter (high fpp) still must not
    // change the output — only the amount of pre-join pruning
    val viaBloom = rows(Winnowing.contaminatedBloom(corpus, bench,
      "doc_id", "text", expectedFps = 100L, fpp = 0.3))
    assert(viaBloom === exact)
    assert(exact.nonEmpty) // the harness corpus plants real contamination
  }

  private def md5Hex16(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(8).map("%02x".format(_)).mkString
  }

  // ---- repetition ratio ------------------------------------------------

  test("repetitionRatio: 0 for unique text, high for looped text, 0 for tiny") {
    val df = Seq(
      (1L, "a b c d e"),        // all 2-grams unique → 0.0
      (2L, "x y x y x y x y"),  // 7 grams, 2 distinct → 5/7
      (3L, "solo"),             // <2 tokens → 0.0
      (4L, ""),                 // empty → 0.0
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text")).as("rr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.0)
    assert(math.abs(got(2L) - 5.0 / 7.0) < 1e-12)
    assert(got(3L) === 0.0)
    assert(got(4L) === 0.0)
    assert(got(5L) === 0.0)
  }

  // ---- PII scrub -------------------------------------------------------

  test("scrubPii redacts planted emails, phones, and IPs") {
    val df = Seq(
      (1L, "contact alice.smith+x@example.co.uk for details"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "server at 192.168.1.254 timed out"),
      (4L, "mixed: bob@test.io on 10.0.0.1 dial 800-555-1212"),
      (5L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("s"),
        TextAnalysis.emailCount(col("text")).as("ec"),
        TextAnalysis.phoneCount(col("text")).as("pc"),
        TextAnalysis.ipv4Count(col("text")).as("ic"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getString(1) === "contact <EMAIL> for details")
    assert(got(1L).getInt(2) === 1)
    assert(got(2L).getString(1) === "call <PHONE> or <PHONE> now")
    assert(got(2L).getInt(3) === 2)
    assert(got(3L).getString(1) === "server at <IP> timed out")
    assert(got(3L).getInt(4) === 1)
    assert(got(4L).getString(1) === "mixed: <EMAIL> on <IP> dial <PHONE>")
    assert(got(5L).getString(1) === "clean text with no identifiers at all")
    assert(got(5L).getInt(2) + got(5L).getInt(3) + got(5L).getInt(4) === 0)
  }

  test("scrubPii ordering: email hosts are not half-eaten by the IP pass") {
    val df = Seq((1L, "u@1.2.3.4x.com and raw 1.2.3.4")).toDF("doc_id", "text")
    val s = df.select(TextAnalysis.scrubPii(col("text"))).head().getString(0)
    assert(s === "<EMAIL> and raw <IP>")
  }

  // ---- stratified sample ----------------------------------------------

  test("stratified sample keeps exactly ceil(10%) per stratum, deterministically") {
    val docs = (1L to 137L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    // exercises the SAME operator the registered query binds to
    def sample() = CorpusQueries.stratifiedSample(docs, "lang", "doc_id", 0.1)
    val byLang = sample().groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") === math.ceil(45 * 0.1).toLong)
    assert(byLang("de") === math.ceil(92 * 0.1).toLong)
    // deterministic: same ids on re-run
    val ids1 = sample().select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = sample().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
  }
}
