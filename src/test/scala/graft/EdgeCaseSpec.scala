package graft

import graft.analytics.Analytics
import graft.etl.Cleaning
import graft.llm.{MinHashLsh, TextAnalysis}
import graft.ops.{AsOfJoin, Dedup}
import org.apache.spark.sql.functions._

/** Empty-input and degenerate-shape guards: every operator must yield a
  * well-formed empty (or defined) result, never throw — an empty
  * partition is a normal event on a 1000-executor cluster.
  */
class EdgeCaseSpec extends SparkSpec {

  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup operators on empty input") {
    val (kept, dropped) = Dedup.keepFirst(emptyDocs, Seq(col("text")), col("doc_id"))
    assert(kept.count() === 0 && dropped.count() === 0)
    val (k2, logged) = Dedup.cascade(emptyDocs, Seq(col("text")),
      Seq(col("doc_id")), col("doc_id"))
    assert(k2.count() === 0 && logged.count() === 0)
  }

  test("graph operators on empty and singleton edge lists") {
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(ops.ConnectedComponents.components(empty, "i", "j").count() === 0)
    assert(ops.PageRank.ranks(empty, "i", "j").count() === 0)
    // one self-loop: a single node, rank mass all on it
    val self = Seq((5L, 5L)).toDF("i", "j")
    val pr = ops.PageRank.ranks(self, "i", "j").as[(Long, Double)].collect()
    assert(pr.toSeq == Seq((5L, 1.0)))
    assert(ops.ConnectedComponents.components(self, "i", "j")
      .as[(Long, Long)].collect().toSeq == Seq((5L, 5L)))
  }

  test("triangle census on empty, self-loop, and triangle-free inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    val r0 = ops.Triangles.census(empty, "i", "j").collect()(0)
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2)) === ((0L, 0L, 0L)))
    // self-loops are dropped by canonicalization, a bare path has no
    // triangles, duplicate/reversed edges collapse
    val path = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 2L)).toDF("i", "j")
    val r1 = ops.Triangles.census(path, "i", "j").collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((3L, 2L, 0L)))
  }

  test("power method on empty-vector rows and a rank-1 cloud") {
    // empty arrays are filtered, not NPE; a rank-1 cloud recovers its
    // generating direction exactly (the only eigendirection)
    val vs = Seq(
      (1L, Array(2f, 0f, 0f)), (2L, Array(-3f, 0f, 0f)),
      (3L, Array(0.5f, 0f, 0f)), (4L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val w = llm.Ann.topComponent(vs, "embedding", iters = 2)
    assert(w.length === 3)
    assert(math.abs(math.abs(w(0)) - 1.0) < 1e-9)
    assert(math.abs(w(1)) < 1e-9 && math.abs(w(2)) < 1e-9)
    assert(w(0) > 0) // canonical sign
  }

  test("CMS sketch column on all-null input is the zero sketch") {
    val nulls = Seq.empty[String].toDF("k")
      .union(Seq(Option.empty[String]).toDF("k"))
    val sk = nulls.agg(functions.CountMinAgg.sketch(col("k"), 2, 16).as("s"))
      .first().getSeq[Long](0)
    assert(sk.forall(_ === 0L))
  }

  test("sequence packing and gap-fill behave on empty-token and null rows") {
    // zero-token docs take no space (offsets equal, never straddling);
    // null text propagates null — SQL semantics, mirrored by the DuckDB
    // oracle's CASE, so the two engines stay consistent
    val docs = Seq((1L, "a b c"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val tok = docs.select(graft.llm.TextAnalysis.tokenCount(col("text")).as("t"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(tok.toSeq == Seq(Some(3), Some(0), None))
    val pairs = graft.llm.TextAnalysis.spellVariantPairs(
      Seq.empty[String].toDF("word"), "word")
    assert(pairs.count() === 0)
  }

  test("null text rows flow through every text operator without NPE") {
    val withNull = Seq((1L, "a b c d"), (2L, null)).toDF("doc_id", "text")
    assert(MinHashLsh.nearDupPairs(withNull, "doc_id", "text", 0.8).count() === 0)
    assert(graft.llm.SimHash.nearPairs(withNull, "doc_id", "text").count() === 0)
    val chunks = withNull.select(TextAnalysis.chunkByTokens(col("text"), 2)).collect()
    assert(chunks(1).getSeq[String](0).isEmpty)
    assert(withNull.filter(TextAnalysis.sampleByHash(col("text"), 999)).count() <= 1)
    assert(graft.llm.Winnowing.overlapPairs(withNull, "doc_id", "text").count() === 0)
    // null text: scrub/counts propagate null (SQL semantics — aggregate
    // sums skip them identically in both engines); ratio is 0.0
    val r = withNull.select(
      TextAnalysis.scrubPii(col("text")).as("s"),
      TextAnalysis.emailCount(col("text")).as("ec"),
      TextAnalysis.repetitionRatio(col("text")).as("rr")).collect()(1)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getDouble(2) === 0.0)
  }

  test("null media payloads flow through multimodal ops without NPE") {
    implicit val s = spark
    val media = Seq((1L, Array[Byte](1, 2, 3, 4, 5), "wav"),
      (2L, null.asInstanceOf[Array[Byte]], "png"))
      .toDF("media_id", "media", "format")
      .withColumn("width", lit(1)).withColumn("height", lit(1))
    val frames = graft.llm.Multimodal.sampleFrameCounts(media, everyN = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(frames === Map(1L -> 3, 2L -> 0))
    val feats = graft.llm.Multimodal.extractFeatures(media, dims = 4)
      .collect().map(f => f.media_id -> f.n_bytes).toMap
    assert(feats === Map(1L -> 5, 2L -> 0))
  }

  test("minhash-lsh on empty and single-doc input") {
    assert(MinHashLsh.nearDupPairs(emptyDocs, "doc_id", "text", 0.8).count() === 0)
    val one = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    assert(MinHashLsh.nearDupPairs(one, "doc_id", "text", 0.8).count() === 0)
    // docs shorter than the shingle width vanish rather than throw
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(MinHashLsh.nearDupPairs(short, "doc_id", "text", 0.8).count() === 0)
  }

  test("adjacent sub-shingle docs: jaccard is 0.0, not DIVIDE_BY_ZERO") {
    // both shingle sets empty → union empty; ANSI mode would throw on 0/0
    val short = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sh = short.select(col("doc_id"), TextAnalysis.shingles(col("text")).as("sh"))
    val j = sh.as("a").join(sh.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(TextAnalysis.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .collect()
    assert(j.length === 1 && j(0).getDouble(0) === 0.0)
  }

  test("simhash: empty-shingle docs never pair (no zero-sig collisions)") {
    // three docs with empty shingle sets would all collide at sig 0 in
    // every chunk bucket and surface as distance-0 'near-duplicates'
    val docs = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "x y"),
      (4L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    assert(graft.llm.SimHash.nearPairs(docs, "doc_id", "text").count() === 0)
  }

  test("lsh/ann operators leave no cached blocks behind") {
    // other suites may hold intentional caches (the memoized fixture
    // pipeline) in the shared session — assert no NEW blocks appear
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h i"))
      .toDF("doc_id", "text")
    MinHashLsh.nearDupPairs(docs, "doc_id", "text", 0.5).count()
    graft.llm.SimHash.nearPairs(docs, "doc_id", "text").count()
    val vecs = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f))).toDF("vec_id", "embedding")
    graft.llm.Ann.lshTopK(vecs, vecs, "vec_id", "embedding", 2).count()
    graft.llm.Ann.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9).count()
    // at 100 TB an unpersist-less cache is a leak; these operators must
    // not pin storage the caller can never release
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("histogram on empty, constant, and single-row columns") {
    assert(Analytics.histogram(Seq.empty[Double].toDF("v"), "v", 10).count() === 0)
    val const = Analytics.histogram(Seq(5.0, 5.0, 5.0).toDF("v"), "v", 10).collect()
    assert(const.length === 1 && const(0).getLong(0) === 0 && const(0).getLong(1) === 3)
    val single = Analytics.histogram(Seq(42.0).toDF("v"), "v", 10).collect()
    assert(single.length === 1 && single(0).getLong(1) === 1)
  }

  test("as-of join with empty right side keeps all left rows unmatched") {
    val l = Seq((1L, "2024-01-01 10:00:00", "p")).toDF("user_id", "ts", "pid")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Seq.empty[(Long, String, Double, Long)]
      .toDF("user_id", "ts", "v", "eid")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = AsOfJoin.backward(l, r, "user_id", "ts", Seq("v"), "eid").collect()
    assert(out.length === 1 && out(0).isNullAt(out(0).fieldIndex("v")))
  }

  test("cleaning expressions on whitespace-only and empty strings") {
    val r = Cleaning.withWeightKg(Seq("", "   ", "\t").toDF("s"),
        col("s"), lit(170.0), "w").select(
      Cleaning.heightToCm(col("s")).as("h"),
      TextAnalysis.tokenCount(col("s")).as("tc"),
      TextAnalysis.alphaRatio(col("s")).as("ar"),
      col("w.reason").as("wr"))
      .collect()
    r.foreach { row =>
      assert(row.isNullAt(0))
      assert(row.getInt(1) === 0)
      assert(row.getAs[String]("wr") === "missing_marker")
    }
  }

  test("wsTrim strips the full Python whitespace set, not just ASCII") {
    // NBSP-, ideographic-space-, and NEL-padded cells must trim exactly
    // like Python str.strip() does in the reference (ASCII \s misses all
    // three); interior whitespace stays, and a 300-char padding run (the
    // messy encounters file pads with 60-80) strips like a short one
    val long = " " * 150 + "\u00A0\t" * 75 + "e 1" + "\u2003" * 300
    val got = Seq("M\u00A0", "\u3000F\u3000", "\u0085x", " a b ", long)
      .toDF("s").select(Cleaning.wsTrim(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq === Seq("M", "F", "x", "a b", "e 1"))
  }
}
