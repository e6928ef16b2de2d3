package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructType, TimestampNTZType, TimestampType}

/** The one reader for the testdata tables (TESTDATA.md),
  * batch and streaming alike.
  *
  * Plain parquet scans: Catalyst pushes filters and prunes columns into the
  * scan, so callers should NOT cache these — a cached full table defeats
  * pushdown and would never fit at the 100 TB design point. At cluster scale
  * the same code reads a partitioned/bucketed lake layout; nothing here
  * assumes single-file tables.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fact tables get a degenerate-scan guard: the testdata parquet ships as
    * ONE row group per file, so Spark reads each table as a single split and
    * every scan-side kernel (MinHash MD5s, SimHash, chunking, text scoring)
    * runs on one core of 32. When a scan's split count is far below cluster
    * parallelism, fan out with a round-robin repartition; on a real lake the
    * scan arrives with thousands of splits and the guard is a no-op. The
    * decision is memoized per (dir, table) — it depends only on file layout.
    * Dimensions (region…part) stay plain scans: they broadcast. */
  /** Only the tables whose scans feed CPU-heavy per-row kernels: for the
    * relational tables the first shuffle already parallelizes the work, and
    * a measured fan-out there costs more (full-width exchange) than the
    * scan-side parallelism buys. */
  private val fanOutTables = Set("documents", "embeddings")
  private val fanOutMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), Boolean]

  private def fanOut(df: DataFrame, dir: String, table: String): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    val need = fanOutMemo.getOrElseUpdate((dir, table),
      df.rdd.getNumPartitions * 2 < para)
    if (need) df.repartition(para) else df
  }

  /** Each table's physical file schema, memoized per (dir, table) — the
    * same immutability assumption as the fan-out memo. Batch reads given a
    * schema start no inference job (`spark.read.parquet` starts one per
    * call), and streaming sources require one. It is read from the footer
    * of the first file matching `$table*.parquet`, the glob the stream
    * reads, so a sharded layout (embeddings_0.parquet, ...) is probed too.
    * Listing goes through Hadoop's FileSystem, which resolves non-local
    * and relative dirs exactly as Spark's own sources do. */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[(String, String), StructType]

  private def fileSchema(spark: SparkSession, dir: String, table: String): StructType = {
    // harmless when the file is micros: the flag only affects NANOS columns
    if (table == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaMemo.getOrElseUpdate((dir, table), {
      val glob = new org.apache.hadoop.fs.Path(dir, s"$table*.parquet")
      val fs = glob.getFileSystem(spark.sessionState.newHadoopConf())
      val first = Option(fs.globStatus(glob)).toSeq.flatten
        .map(_.getPath.toString).sorted.headOption // file OR Spark-written dir
        .getOrElse(s"$dir/$table.parquet") // no match: the read reports the path
      spark.read.parquet(first).schema
    })
  }

  /** Normalize what the producer's encoding leaves to the reader —
    * schema-on-read tolerance, the Spark analog of the reference's
    * optional-field `.get(..., default)` loaders
    * (LLMxMapReduce_V2/src/data_structure/survey.py:16-18). Branching on the
    * file's schema (not a pinned one) means a regenerated lake never breaks
    * the readers again.
    *
    * `events.ts` becomes session-TZ TIMESTAMP. Two physical encodings exist
    * in the wild testdata:
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
    *    with `nanosAsLong` the column arrives as a raw LongType nano count.
    *    Truncate to micros with integer `div` (nano counts exceed 2^53 and
    *    would corrupt in a double) — exactly what DuckDB does when it
    *    narrows ns → its µs TIMESTAMP, so oracle comparisons stay
    *    value-identical.
    *  - parquet TIMESTAMP(MICROS) without UTC adjustment (pyarrow default):
    *    Spark infers TIMESTAMP_NTZ. Cast to TIMESTAMP — the session is
    *    pinned to UTC (GraftSession), so wall-clock values are preserved
    *    bit-for-bit and downstream window/date_format behavior matches the
    *    nanos path.
    *
    * `embeddings.embedding` becomes `array<float>` whatever element width
    * the producer wrote. Every kernel (`ArrayMath.dot`, `getSeq[Float]`
    * collects, LSH planes) assumes float elements; a regenerated lake that
    * widened to double would otherwise break 20+ queries at once. The
    * DuckDB oracles read the same narrowed values
    * (`embedding::FLOAT[]::DOUBLE[]` — a no-op on today's float files), so
    * hash parity survives either encoding. */
  private def normalize(table: String, df: DataFrame): DataFrame = table match {
    case "events" => df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already session-TZ TIMESTAMP
    }
    case "embeddings" => df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(_, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other =>
        sys.error(s"embeddings.embedding: expected an array column, got $other")
    }
    case _ => df
  }

  private def scan(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.schema(fileSchema(spark, dir, table)).parquet(s"$dir/$table.parquet")

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    val df = scan(spark, dir, table)
    normalize(table, if (fanOutTables(table)) fanOut(df, dir, table) else df)
  }

  /** Load with the scan-parallelism guard applied unconditionally — for
    * queries that run a CPU-heavy per-row kernel DIRECTLY on a relational
    * scan with no shuffle before it (e.g. q23's JSON roundtrip: partial
    * aggregation means the whole serialize+parse pass runs inside the scan
    * stage, so a single-split file pins it to one core of 32). On a real
    * lake the scan arrives with thousands of splits and this is a no-op. */
  def fannedLoad(spark: SparkSession, dir: String, table: String): DataFrame =
    normalize(table, fanOut(scan(spark, dir, table), dir, table))

  /** Stream a table out of an sf directory: a file source over `dir` whose
    * glob filter selects the table's file(s), one file per micro-batch (the
    * queue_size analog, D1), with the batch reader's schema and
    * normalization — so a streaming twin reads exactly the rows and types
    * its batch query does. */
  def stream(spark: SparkSession, dir: String, table: String): DataFrame =
    normalize(table, spark.readStream
      .schema(fileSchema(spark, dir, table))
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", s"$table*.parquet")
      .parquet(dir))

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
