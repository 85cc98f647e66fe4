package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders for the harness testdata (TESTDATA.md).
  *
  * All engine queries read the driver-generated parquet star schema from a
  * scale-factor directory. Each read is `spark.read.schema(s).parquet` with
  * the table's schema resolved once per file identity (see [[load]]), so
  * Catalyst gets full pushdown: filters and column pruning reach the
  * parquet scan (`PushedFilters` / `ReadSchema` in explain), and partition
  * sizing is governed by `spark.sql.files.maxPartitionBytes` — at 100 TB
  * the same code simply fans out over more input splits.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The conf under which a parquet TIMESTAMP(NANOS) column reads as raw
    * LongType nanoseconds instead of failing the read; [[utcTimestamps]]
    * converts it.
    */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Everything a parquet schema inference reads: the qualified path, the
    * (name, length, modificationTime) of every file under it, and the
    * confs under which the same bytes infer to a different schema.
    */
  private final case class SchemaKey(path: String,
      files: Set[(String, Long, Long)], confs: Seq[Option[String]])

  private val InferenceConfs = Seq(NanosAsLong,
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema")

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** One driver-side Hadoop listing; no Spark job. */
  private def schemaKey(spark: SparkSession, path: String): SchemaKey = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    SchemaKey(fs.makeQualified(p).toString, files,
      InferenceConfs.map(spark.conf.getOption))
  }

  /** Reads `dir/name.parquet` with its schema supplied.
    *
    * Inferring a parquet schema runs a Spark job that reads the footers,
    * so without the map a query that loads five tables would run five of
    * them at build time, on every build. The
    * schema is inferred on the first read of a [[SchemaKey]] and kept
    * JVM-wide. A rewritten table lists to a new key and is inferred
    * again: a rewrite gives the file a new modification time, and Spark's
    * writers also give every part file a new name. Changing one of the
    * inference confs changes the key too. (The one rewrite a key cannot
    * see is a same-name, same-length file replaced within the file
    * system's timestamp granularity, 1 ms on a local disk.) A failed
    * inference, such as a TIMESTAMP(NANOS) column without [[NanosAsLong]],
    * stores nothing and fails as the plain read does. Each rewrite leaves
    * one small entry behind; the map is not pruned.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.computeIfAbsent(schemaKey(spark, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** The events table's `ts` has shipped in three physical parquet
    * encodings across harness generations, and the engine must read all
    * of them to the SAME session-UTC TIMESTAMP instants the oracle sees.
    * The one copy of that rule, for batch and streaming reads alike:
    *
    *  - TIMESTAMP(NANOS): Spark 4 rejects it outright
    *    (PARQUET_TYPE_ILLEGAL) — read as raw nanos ([[NanosAsLong]]) and
    *    truncate to micros, exactly what DuckDB's micro-precision
    *    TIMESTAMP does on the same file.
    *  - timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
    *    TIMESTAMP_NTZ, on which instant functions (`unix_micros`,
    *    `window`) don't resolve — cast to TIMESTAMP; under the engine's
    *    fixed UTC session zone the wall-clock is preserved bit-for-bit,
    *    which is also how DuckDB treats the same naive value.
    *  - timestamp[us] UTC-adjusted: plain TIMESTAMP, passes through.
    *
    * Normalizing at the load boundary keeps every downstream operator
    * written against one type; conversion is schema-conditional so each
    * branch is a no-op for the other encodings.
    */
  def utcTimestamps(df: DataFrame, tsCols: Seq[String]): DataFrame =
    tsCols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          d.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, col(c).cast("timestamp"))
        case _ => d
      }
    }

  private def loadNanosSafe(spark: SparkSession, dir: String, name: String,
      tsCols: Seq[String]): DataFrame = {
    // Deliberately left SET for the session (not save/restore-scoped):
    // the parquet reader consults it lazily at each action's
    // reader-factory build, so restoring it after read() would break
    // later actions on the returned frame. Session-wide consequence: a
    // TIMESTAMP(NANOS) column in any OTHER parquet read surfaces as raw
    // LongType instead of erroring — normalize such columns at their own
    // load boundary with [[utcTimestamps]].
    spark.conf.set(NanosAsLong, "true")
    utcTimestamps(load(spark, dir, name), tsCols)
  }

  /** S4 JDBC flavor (ref `interactive_dashboard.py:23-27`: read_sql_table
    * + cache). Partitioned reads via (partitionColumn, lowerBound,
    * upperBound, numPartitions) so a 1000-executor cluster fans the table
    * scan out instead of funneling through one connection. No database
    * ships with this harness — the parquet loaders above are the tested
    * path; this is the production binding. Deliberate library API (the
    * reference's S4 read), pinned by SinksSpec against embedded Derby.
    */
  def jdbcTable(s: SparkSession, url: String, table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      props: java.util.Properties = new java.util.Properties): DataFrame = {
    val base = s.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    val reader = partitionColumn match {
      case Some((c, lo, hi, n)) => base
        .option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
      case None => base
    }
    reader.load().cache()
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    loadNanosSafe(s, d, "events", Seq("ts"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

}
