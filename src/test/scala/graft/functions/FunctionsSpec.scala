package graft.functions

import graft.SparkSpec
import graft.llm.{Ann, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions: value semantics and SQL registration
  * (interpreted/codegen agreement: [[KernelParitySpec]]).
  */
class FunctionsSpec extends SparkSpec {

  import spark.implicits._

  test("NfkcLower: NFKC folds + lowercase, via Column API and SQL") {
    val df = Seq("Ⅻ ＡＢＣ ﬁx", "Ñ É", "plain").toDF("s")
    val api = df.select(NfkcLower(col("s"))).collect().map(_.getString(0))
    assert(api.toSeq === Seq("xii abc fix", "ñ é", "plain"))

    GraftExtensions.register(spark)
    val sql = spark.sql("SELECT nfkc_lower('Ⅻ ＡＢＣ ﬁx')").collect()(0).getString(0)
    assert(sql === "xii abc fix")
  }

  test("PolyHash: polynomial over UTF-8 bytes, null-safe, SQL-callable") {
    val b = PolyHash.Base
    val expected = ("abc".getBytes("UTF-8").foldLeft(0L)((h, c) => h * b + (c & 0xff)))
    assert(PolyHash.hash(UTF8String.fromString("abc")) === expected)

    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT poly_hash('abc'), poly_hash(NULL)").collect()(0)
    assert(viaSql.getLong(0) === expected)
    assert(viaSql.isNullAt(1))
  }

  test("text-scan expressions == the Hashing scans they wrap, nulls empty") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, null: String), (-2L, "one"), (-3L, "  \t "))
        .toDF("doc_id", "text"))
    val got = docs.select(col("doc_id"), col("text"),
        TextAnalysis.shingles(col("text")).as("sh"),
        TextAnalysis.chunkByTokens(col("text"), 10).as("ch"),
        TextAnalysis.winnowedFingerprints(col("text")).as("wf"),
        TextAnalysis.repetitionRatio(col("text")).as("rr"),
        org.apache.spark.sql.graftshim.ColumnBridge.column(
          CharPairs(org.apache.spark.sql.graftshim.ColumnBridge
            .expression(col("text")))).as("cp"))
      .collect()
    got.foreach { r =>
      val t = r.getString(1)
      def words = graft.llm.Hashing.words(t)
      val expSh = if (t == null) Seq.empty
        else graft.llm.Hashing.shingles(t, 3).toSeq
      assert(r.getSeq[String](2) === expSh, s"shingles doc ${r.getLong(0)}")
      val expCh = if (t == null) Seq.empty
        else words.grouped(10).map(_.mkString(" ")).toSeq
      assert(r.getSeq[String](3) === expCh, s"chunks doc ${r.getLong(0)}")
      val expWf = if (t == null) Seq.empty
        else graft.llm.Hashing.winnow(t, 3, 4).toSeq
      assert(r.getSeq[String](4) === expWf, s"winnow doc ${r.getLong(0)}")
      val expRr = if (t == null) 0.0 else {
        val w = words
        val tot = w.length - 1
        if (tot <= 0) 0.0
        else 1.0 - w.sliding(2).map(_.mkString(" ")).toSet.size.toDouble / tot
      }
      assert(r.getDouble(5) === expRr, s"repetition doc ${r.getLong(0)}")
      val expCp = if (t == null || t.length < 2) Seq.empty
        else (0 until t.length - 1).map(i => t.substring(i, i + 2))
      assert(r.getSeq[String](6) === expCp, s"charpairs doc ${r.getLong(0)}")
    }
  }

  test("polyhash distinct-count agrees with md5 fingerprint on corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = docs.agg(
      count_distinct(PolyHash(lower(col("text")))).as("poly"),
      count_distinct(TextAnalysis.fingerprint(col("text"))).as("md5")).collect()(0)
    assert(r.getLong(0) === r.getLong(1)) // collision-free on this corpus
  }

  test("cosineNearDupPairs finds planted duplicates, skips background") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // plant: copy of vec 0 with id 9000 (exact), near-copy with one
    // component doubled (cosine slightly below 1 but >= 0.9)
    val planted = emb.filter(col("vec_id") === 0)
      .select(lit(9000L).as("vec_id"), col("embedding"), col("label"))
    val all = emb.unionByName(planted.select(emb.columns.toSeq.map(col): _*))
    val pairs = Ann.cosineNearDupPairs(all, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 9000L))) // the plant, nothing else
  }
}

/** Count-Min sketch: one-sided error, the (ε, δ) bound, and the exact
  * merge identity that justifies per-shard sketch folding.
  */
class CountMinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.functions.CountMinAgg

  private val sf = "/root/testdata/sf0.001"
  private val depth = 4
  private val width = 256

  private def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Long] =
    df.agg(CountMinAgg.sketch(col("k"), depth, width).as("s"))
      .first().getSeq[Long](0).toArray

  test("estimates are one-sided and within the eps*N bound on real keys") {
    val keys = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey").cast("string").as("k"))
    val sk = sketchOf(keys)
    val truth = keys.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val n = truth.map(_._2).sum
    val eps = math.E / width
    var overBound = 0
    truth.foreach { case (k, t) =>
      val e = CountMinAgg.estimate(sk, depth, width, k)
      assert(e >= t, s"CMS undercounted $k: $e < $t")
      if (e > t + math.ceil(eps * n)) overBound += 1
    }
    // P(fail) = delta^... per row; with depth 4 essentially none expected
    assert(overBound <= math.max(1, truth.length / 20),
      s"$overBound of ${truth.length} keys exceeded the eps*N bound")
  }

  test("sketch(A) + sketch(B) == sketch(A union B) bit for bit") {
    val all = graft.Tables.events(spark, sf)
      .select(col("event_type").as("k"), col("ts"))
    val a = sketchOf(all.filter(col("ts") < lit("2024-01-15")).select(col("k")))
    val b = sketchOf(all.filter(col("ts") >= lit("2024-01-15")).select(col("k")))
    val whole = sketchOf(all.select(col("k")))
    val merged = a.zip(b).map { case (x, y) => x + y }
    assert(merged.toSeq === whole.toSeq)
  }

  test("nulls don't count; empty input estimates zero") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row("x"), org.apache.spark.sql.Row(null),
        org.apache.spark.sql.Row("x")).asJava,
      org.apache.spark.sql.types.StructType.fromDDL("k STRING"))
    val sk = sketchOf(df)
    assert(CountMinAgg.estimate(sk, depth, width, "x") === 2L)
    assert(CountMinAgg.estimate(sk, depth, width, "never-seen") <= 0L + 2L)
    val empty = sketchOf(df.filter(col("k") === "zzz"))
    assert(CountMinAgg.estimate(empty, depth, width, "x") === 0L)
  }
}

/** KMV sketch: exactness below capacity, the bit-exact merge identity,
  * and the ~1/sqrt(k) estimation band for distinct and intersection.
  */
class KmvSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.functions.KmvAgg

  private val k = 256

  private def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Long] =
    df.agg(KmvAgg.sketch(col("k"), k).as("s"))
      .first().getSeq[Long](0).toArray

  private def strings(prefix: String, n: Int, from: Int = 0) = {
    import spark.implicits._
    (from until from + n).map(i => s"$prefix$i").toDF("k")
  }

  test("below capacity the sketch is the distinct set: estimates exact") {
    val sk = sketchOf(strings("u", 100))
    assert(sk.length === 100)
    assert(KmvAgg.estimateDistinct(sk, k) === 100.0)
    // duplicates don't grow it
    val dup = sketchOf(strings("u", 100).union(strings("u", 100)))
    assert(dup.toSeq === sk.toSeq)
  }

  test("sketch(A) merged with sketch(B) == sketch(A union B) bit for bit") {
    val a = sketchOf(strings("x", 5000))
    val b = sketchOf(strings("x", 5000, from = 2500)) // overlapping halves
    val whole = sketchOf(strings("x", 7500))
    assert(KmvAgg.union(a, b, k).toSeq === whole.toSeq)
  }

  test("distinct and intersection estimates land in the 5/sqrt(k) band") {
    val nA = 20000
    val nB = 15000
    val overlap = 5000
    val a = sketchOf(strings("v", nA)) // v0..v19999
    val b = sketchOf(strings("v", nB, from = nA - overlap)) // v15000..v29999
    val tol = 5.0 / math.sqrt(k.toDouble)
    val dA = KmvAgg.estimateDistinct(a, k)
    assert(math.abs(dA - nA) / nA < tol, s"distinct est $dA vs $nA")
    val u = KmvAgg.union(a, b, k)
    val dU = KmvAgg.estimateDistinct(u, k)
    val trueU = nA + nB - overlap
    assert(math.abs(dU - trueU) / trueU < tol, s"union est $dU vs $trueU")
    val inter = KmvAgg.estimateIntersection(a, b, k)
    // intersection compounds jaccard + union error; allow a wider band
    assert(math.abs(inter - overlap) / overlap < 3 * tol,
      s"intersection est $inter vs $overlap")
  }

  // ---- md5 mode (the cross-engine-auditable flavor a4_kmv_set_overlap
  // registers): same structural identities on the 60-bit uniform ----

  private def sketchMd5Of(df: org.apache.spark.sql.DataFrame): Array[Long] =
    df.agg(KmvAgg.sketchMd5(col("k"), k).as("s"))
      .first().getSeq[Long](0).toArray

  test("md5 mode: minima equal the SQL convention; merge identity holds") {
    val df = strings("m", 700)
    val sk = sketchMd5Of(df)
    // independent rebuild through Spark SQL's conv/substring/md5 — the
    // exact expression the DuckDB oracle runs
    val expected = df
      .withColumn("h",
        conv(substring(md5(col("k")), 1, 15), 16, 10).cast("long"))
      .select("h").distinct().orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0)).toSeq
    assert(sk.toSeq === expected)
    // estimates exact below k, and merge == whole, bit for bit
    val small = sketchMd5Of(strings("m", 100))
    assert(KmvAgg.estimateDistinctMd5(small, k) === 100.0)
    val a = sketchMd5Of(strings("m", 5000))
    val b = sketchMd5Of(strings("m", 5000, from = 2500))
    assert(KmvAgg.union(a, b, k).toSeq === sketchMd5Of(strings("m", 7500)).toSeq)
    // at capacity the 60-bit-scaled estimator stays in the 5/sqrt(k) band
    val est = KmvAgg.estimateDistinctMd5(a, k)
    assert(math.abs(est - 5000) / 5000.0 < 5.0 / math.sqrt(k.toDouble), est)
  }

  test("mergeSketches: grouped merge of partial sketches == direct sketch") {
    import spark.implicits._
    // 40 groups of overlapping key ranges; per-group sketches merged by
    // the bounded aggregator must equal the one-pass direct sketch —
    // the HyperBall merge contract (k smallest of the union is a pure
    // function of the k-smallest sets).
    val rows = (0 until 40).flatMap { g =>
      (0 until 400).map(i => (g, s"k${g * 150 + i}"))
    }
    val df = rows.toDF("g", "k")
    val direct = sketchMd5Of(df.select(col("k")))
    val merged = df.groupBy(col("g"))
      .agg(KmvAgg.sketchMd5(col("k"), k).as("sk"))
      .agg(KmvAgg.mergeSketches(col("sk"), k).as("m"))
      .first().getSeq[Long](0)
    assert(merged === direct.toSeq)
    // and merging a single sketch is the identity
    val one = df.filter(col("g") === 0)
      .agg(KmvAgg.sketchMd5(col("k"), k).as("sk"))
      .agg(KmvAgg.mergeSketches(col("sk"), k).as("m"))
      .first().getSeq[Long](0)
    assert(one === sketchMd5Of(df.filter(col("g") === 0).select(col("k"))).toSeq)
  }

  test("mergeSketches canonicalizes non-sketch input arrays") {
    import spark.implicits._
    // a hand-built descending/duplicated array is NOT a finished sketch;
    // the merge must treat it as the set it denotes (the r1-r9 HashSet
    // buffer was order-insensitive — the sorted-array buffer keeps that
    // contract through canonicalization)
    val messy = Seq(
      (Array(9L, 5L, 7L, 5L, 1L), 0),
      (Array(3L, 3L, 2L), 0)).toDF("sk", "g")
    val merged = messy.groupBy(col("g"))
      .agg(KmvAgg.mergeSketches(col("sk"), 4).as("m"))
      .first().getSeq[Long](1)
    assert(merged === Seq(1L, 2L, 3L, 5L)) // 4 smallest distinct
  }

  test("KmvEstimate: expression == floored helper, both regimes, SQL-callable") {
    // below width (exact-set regime) and at capacity (estimator regime):
    // the codegen expression must reproduce the scalar helper EXACTLY —
    // the two copies of the (k-1)/(v_k/2^60) arithmetic may never drift
    val frames = Seq(strings("e", 100), strings("e", 5000))
    frames.foreach { df =>
      val viaAgg = df.agg(KmvAgg.sketchMd5(col("k"), k).as("sk"))
        .select(KmvEstimate(col("sk"), k).as("est"))
        .first().getLong(0)
      val sk = sketchMd5Of(df)
      val viaHelper = math.floor(KmvAgg.estimateDistinctMd5(sk, k)).toLong
      assert(viaAgg === viaHelper)
    }
    // null sketch -> null estimate (expression null contract)
    val nullRow = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS sk")
      .select(KmvEstimate(col("sk"), k)).first()
    assert(nullRow.isNullAt(0))
    // SQL surface with the registered builder; non-literal k must fail
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT kmv_estimate(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)), 256)")
      .first().getLong(0)
    assert(viaSql === 2L)
    assertThrows[Exception] {
      spark.sql("SELECT kmv_estimate(array(CAST(7 AS BIGINT)), id) FROM range(1)")
        .collect()
    }
  }

  test("CosineSim: bit-identical to the JVM loop, null-safe, SQL-callable") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.25f, 0.125f), Array(-1.0f, 4.0f, 2.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
    val df = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        vecs.map { case (a, b) =>
          org.apache.spark.sql.Row(a.toSeq, b.toSeq)
        }.asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "a ARRAY<FLOAT>, b ARRAY<FLOAT>"))
    }
    val viaExpr = df.select(CosineSim(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    val viaLoop = vecs.map { case (a, b) => graft.llm.Hashing.cosine(a, b) }
    // bit-identical, not approximately-equal: same index-order double
    // accumulation in both paths
    viaExpr.zip(viaLoop).foreach { case (e, l) =>
      assert(java.lang.Double.doubleToLongBits(e) ===
        java.lang.Double.doubleToLongBits(l))
    }
    // null-safe + SQL surface
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("cos_vecs")
    val viaSql = spark.sql(
      "SELECT cosine_sim(a, b), cosine_sim(a, CAST(NULL AS ARRAY<FLOAT>)) FROM cos_vecs LIMIT 1")
      .collect()(0)
    assert(java.lang.Double.doubleToLongBits(viaSql.getDouble(0)) ===
      java.lang.Double.doubleToLongBits(viaLoop.head))
    assert(viaSql.isNullAt(1))
  }

  test("SQL surface coerces input types like the Column API (no silent garbage)") {
    GraftExtensions.register(spark)
    // a bare SQL array literal is array<double>: without declared input
    // types, getFloat() reinterprets the 8-byte slots and returns
    // nonsense instead of 1.0
    val cos = spark.sql(
      "SELECT cosine_sim(array(0.6, 0.8), array(0.6, 0.8))")
      .collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9, s"got $cos")
    // int-array input coerces too
    val cosInt = spark.sql(
      "SELECT cosine_sim(array(3, 4), array(3, 4))").collect()(0).getDouble(0)
    assert(math.abs(cosInt - 1.0) < 1e-9)
    // unary string expressions accept non-string columns exactly like
    // the Column API's Cast wrapper (previously a runtime crash)
    val r = spark.sql(
      "SELECT nfkc_lower(42), poly_hash(42), tokenize_words(42)").collect()(0)
    assert(r.getString(0) === "42")
    assert(r.getLong(1) ===
      graft.functions.PolyHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString("42")))
    assert(r.getSeq[String](2) === Seq("42"))
  }
}
