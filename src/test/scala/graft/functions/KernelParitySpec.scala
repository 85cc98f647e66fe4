package graft.functions

import graft.SparkSpec
import graft.llm.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Every JVM kernel of [[graft.functions]] gives the same result on
  * Spark's interpreted path as on its generated-code path.
  *
  * The interpreted side turns whole-stage codegen off AND sets the
  * projection factories to `NO_CODEGEN`; with codegen merely off, the
  * projections still run generated code. The codegen side sets
  * `CODEGEN_ONLY` with the janino fallback disabled, so a kernel that
  * fails to compile fails the test instead of quietly running
  * interpreted. Inputs are read from parquet: a local `Seq` would be
  * folded into a local relation by the optimizer and evaluated by the
  * interpreter on both sides.
  */
class KernelParitySpec extends SparkSpec {

  private val Interpreted = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val Codegen = Map(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-kernel-parity").toString

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  private def staged(name: String, df: DataFrame): DataFrame = {
    df.write.parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  /** (id, text, num): null, empty, whitespace-only and vertical-tab text,
    * then the sf0.001 corpus; `num` is the non-string input 42.
    */
  private lazy val texts = {
    import spark.implicits._
    val edges = Seq[(Long, String)](
      (-1L, null), (-2L, ""), (-3L, "  \t "), (-4L, "a\u000Bb c")).toDF("id", "text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    staged("texts", edges.unionByName(corpus).withColumn("num", lit(42)))
  }

  /** (id, a, b, ints): null, empty and zero vectors, then each sf0.001
    * embedding against its successor; `ints` is a non-float array.
    */
  private lazy val vectors = {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val corpus = emb.as("x").join(emb.as("y"),
        col("y.vec_id") === (col("x.vec_id") + 1) % n)
      .select(col("x.vec_id").as("id"), col("x.embedding").as("a"),
        col("y.embedding").as("b"))
    val edges = spark.sql("""SELECT * FROM VALUES
        (-1L, CAST(NULL AS ARRAY<FLOAT>), ARRAY(CAST(1 AS FLOAT))),
        (-2L, CAST(ARRAY() AS ARRAY<FLOAT>), CAST(ARRAY() AS ARRAY<FLOAT>)),
        (-3L, ARRAY(CAST(0 AS FLOAT), CAST(0 AS FLOAT)),
          ARRAY(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS t(id, a, b)""")
    staged("vectors", edges.unionByName(corpus)
      .withColumn("ints", array((col("id") % 7).cast("int"), lit(3), lit(4))))
  }

  /** (id, sketch): null and empty sketches, then a width-4 md5 KMV
    * sketch of each corpus document's words.
    */
  private lazy val sketches = {
    val corpus = texts.filter(col("id") >= 0)
      .select(col("id"), explode(Tokenize(col("text"))).as("w"))
      .groupBy(col("id")).agg(KmvAgg.sketchMd5(col("w"), 4).as("sketch"))
    val edges = spark.sql("""SELECT * FROM VALUES
        (-1L, CAST(NULL AS ARRAY<BIGINT>)),
        (-2L, CAST(ARRAY() AS ARRAY<BIGINT>)) AS t(id, sketch)""")
    staged("sketches", edges.unionByName(corpus))
  }

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rows of `kernel` over `in` on one path, ordered by id. Doubles
    * print exactly, so equal strings mean bit-equal results.
    */
  private def run(in: DataFrame, kernel: Column, mode: Map[String, String]): Seq[String] =
    withConf(mode) {
      val df = in.select(col("id"), kernel.as("v"))
      val rows = df.collect().sortBy(_.getLong(0)).map(_.toString).toSeq
      val generated = df.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      assert(generated === (mode eq Codegen), df.queryExecution.executedPlan)
      rows
    }

  private def assertParity(in: => DataFrame, kernel: Column): Unit = {
    val interpreted = run(in, kernel, Interpreted)
    val generated = run(in, kernel, Codegen)
    assert(interpreted.size === in.count())
    assert(interpreted === generated)
  }

  private val textKernels: Seq[(String, Column => Column)] = Seq(
    "nfkc_lower" -> (c => NfkcLower(c)),
    "poly_hash" -> (c => PolyHash(c)),
    "tokenize_words" -> (c => Tokenize(c)),
    "shingles" -> (c => TextAnalysis.shingles(c, 3)),
    "chunk_by_tokens" -> (c => TextAnalysis.chunkByTokens(c, 4)),
    "winnow" -> (c => TextAnalysis.winnowedFingerprints(c, 3, 4)),
    "word_bigrams" -> (c => TextAnalysis.wordBigrams(c)),
    "char_pairs" -> (c => TextAnalysis.charPairs(c)),
    "gram_hashes" -> (c => TextAnalysis.gramHashes(c, 3)),
    "repetition_ratio" -> (c => TextAnalysis.repetitionRatio(c)),
    "simhash_sig" -> (c => TextAnalysis.simhashSig(c, 3)))

  for ((name, kernel) <- textKernels; input <- Seq("text", "num"))
    test(s"$name on $input: interpreted and codegen agree") {
      assertParity(texts, kernel(col(input)))
    }

  test("cosine_sim on float arrays: interpreted and codegen agree") {
    assertParity(vectors, CosineSim(col("a"), col("b")))
  }

  test("cosine_sim on int arrays: interpreted and codegen agree") {
    assertParity(vectors, CosineSim(col("ints"), col("ints")))
  }

  test("kmv_estimate on md5 sketches: interpreted and codegen agree") {
    assertParity(sketches, KmvEstimate(col("sketch"), 4))
  }
}
