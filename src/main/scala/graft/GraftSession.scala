package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Builds a `local[N]` single-JVM session; `get` takes N from
  * `SPARK_GRAFT_CPUS` (32 when unset, as the bench history ran; set it to
  * the machine's core count). Most settings transfer to a multi-executor
  * cluster: AQE handles runtime re-planning (coalescing post-shuffle
  * partitions, skew-join splitting), shuffle partition count matches local
  * parallelism instead of the 200 default, and broadcast join threshold is
  * left at default so Catalyst promotes small dimensions
  * (region/nation/part at test SFs) automatically.
  */
object GraftSession {
  val CodegenCacheEntries = 1000

  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Respect the advisory target size when coalescing instead of
      // stopping at defaultParallelism (the Spark-docs-recommended
      // setting): a small reduce stage collapses to a few right-sized
      // tasks instead of always launching `cores` tiny ones. At cluster
      // scale shuffles exceed the advisory size so coalescing is
      // size-driven either way; this only removes the small-stage
      // scheduling floor (measured -6% on the 116-query suite).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Oracle parity: testdata timestamps are timezone-less; with the session
      // pinned to UTC their values match DuckDB's. Queries emit timestamps as
      // formatted strings so parquet logical types never diverge.
      .config("spark.sql.session.timeZone", "UTC")
      // Compiled-class cache (static, JVM-wide). Spark's 100 entries are
      // below one benchmark pass's working set (~200 generated classes on
      // llm_mapreduce, ~250 on warehouse), so every pass recompiled them.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // graft optimizer rules (filter-below-inference pushdown)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Heartbeat/timeout headroom (VERDICT r14 #1): in local mode the
      // executor lives in the driver JVM and a long GC or host-level steal
      // stall can miss enough 10 s heartbeats that the executor
      // System.exit(56)s the WHOLE process (ExecutorExitCode
      // HEARTBEAT_FAILURE) — BENCH_r14's 32-core record died exactly this
      // way after 25 min of clean running. A stall on a shared box must
      // degrade a pass, never forfeit the record: heartbeat every 60 s and
      // a 20 min receiver expiry ride out any survivable pause. Stability
      // config only — no query plan or timing semantics change.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .config("spark.ui.enabled", "false")
      // Spark 4.1 gives every session its own artifact state, the clone a
      // streaming query runs on included, and executors run that query's
      // tasks under a fresh ExecutorClassLoader. CodeGenerator's class
      // cache is keyed on (context class loader, source), so each streaming
      // twin recompiled its 11-13 generated classes on every run while
      // batch queries compiled none after the first pass. graft adds no
      // session artifacts (no addArtifact/addJar/addFile), so one shared
      // loader loses nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The default FileContext checkpoint manager renames through
      // ChecksumFs, which resolves the destination with
      // RawLocalFileSystem.getFileLinkStatus and so forks a `readlink`
      // process per rename (Hadoop 3.4 without its native library). A
      // streaming twin renames ~20 files per run (offsets, commits,
      // metadata, sources, one state delta and its checksum per state
      // partition); state commits took 400-540 ms of each twin and take
      // 23-105 ms through the FileSystem manager. The checkpoint holds the
      // same files, Spark's checksum files included (fileChecksum stays
      // on). What the FileSystem manager gives up is FileContext's
      // no-overwrite rename, an atomic "fail if the destination exists"
      // on HDFS; Spark checks for the destination first instead, which is
      // enough for one writer per local checkpoint, as every query here
      // is. A cluster deployment with an HDFS checkpoint would revisit it.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")

  def get(appName: String = "graft"): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = builder(appName, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
