package perfbench

import graft.{Force, GraftSession, SparkEntry, Tables, Warm}
import graft.operators.ResultMemo
import graft.pipeline.{V1Pipeline, V2Pipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's engine-side runner. One process runs one workload:
  * it sets up (session, table footers, warm indexes and a checked warm-up
  * pass), then runs complete
  * passes over the workload's job list for the requested seconds, one job
  * in flight from one driver thread (a closed loop). With tracing on,
  * the first pass runs untraced and the later ones traced. Results go to `<out>/result.json`
  * (and `<out>/spans.json` when traced); `perfbench/run.py` turns them into
  * metrics and checks the query outputs against DuckDB.
  *
  * It calls only public entry points of the engine: `SparkEntry.queries`,
  * `Warm.indexes`, `Force`, `V1Pipeline.run`, `V2Pipeline.run`, the
  * `InferenceClient` seam and Spark's public listener APIs.
  *
  * Usage: Main key=value... with keys workload, data, out, seconds, trace,
  * cores, queries (comma list), delay_base_ms, delay_token_us,
  * chunk_budget, collapse_budget, bin_budget. */
object Main {

  /** One closed-loop request. `run(spark, warm)` does the timed work
    * (`warm` is true in the warm-up pass) and returns the untimed output
    * check, which yields an error message or None. */
  final case class Job(name: String, kind: String,
      run: (SparkSession, Boolean) => () => Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val dir = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores")
    Files.createDirectories(Paths.get(out))

    val queryNames = a.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    // built once the first session exists (the llm requests are read with it)
    lazy val jobs: Seq[Job] =
      if (workload == "llm_mapreduce") llmJobs(a, dir) else queryJobs(queryNames, dir, out)
    val tables = if (workload == "warehouse")
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
    else Seq("documents")

    val failures = mutable.ArrayBuffer.empty[String]
    val jobErrors = mutable.Set.empty[String] // ids of jobs that failed or gave a wrong output
    var attempted = 0L

    /** The checked warm-up pass: every job once, query outputs written
      * for the oracle check, pipeline answers checked in place. */
    def warmPass(spark: SparkSession): Unit = jobs.foreach { j =>
      spark.sparkContext.setJobGroup(s"warm-${j.name}", j.name)
      attempted += 1
      val err = try j.run(spark, true)() catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      err.foreach { m => failures += s"warm-${j.name}: $m"; jobErrors += s"warm-${j.name}" }
    }

    // ---- set-up: process start to the first timed job
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    val spark = GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tables.foreach(t => (if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)).count())
    if (queryNames.nonEmpty) Warm.indexes(spark, dir, "perfbench", queryNames.toSet)
    warmPass(spark)
    val setupS = (System.nanoTime() - t0) / 1e9

    val canaryS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cores.toInt)
        .selectExpr("sum((id * 2654435761) % 1000000007)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // ---- timed passes
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val passRecs = mutable.ArrayBuffer.empty[String]
    val jobRecs = mutable.ArrayBuffer.empty[String]
    val tracedPasses = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms windows
    val requestRecs = mutable.ArrayBuffer.empty[(String, String, Long, Long)] // kind, id, t0, t1 ms
    val infer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // traced runs: pass 0 untraced (the overhead baseline), later passes
    // traced; the workload span opens at the first traced pass's boundary
    val workloadSpan = Tracer.newId()
    var workloadStart = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline || (traced && pass < 2)) {
      if (traced && pass == 1) workloadStart = Tracer.nowUs()
      // every pass starts from warm indexes and no memoized results, so
      // it times real query execution (the graft.Bench pass boundary)
      ResultMemo.clearSession(spark)
      spark.sqlContext.clearCache()
      System.gc()
      if (queryNames.nonEmpty) Warm.indexes(spark, dir, "perfbench", queryNames.toSet)
      val tracedPass = traced && pass >= 1
      if (tracedPass) { Tracer.on(spark); InferStats.reset() }
      val passStartMs = System.currentTimeMillis()
      var wall, cpu = 0.0
      val checks = mutable.ArrayBuffer.empty[(String, () => Option[String])]
      Tracer.span("pass", s"pass-$pass", workloadSpan) { passSpan =>
        jobs.zipWithIndex.foreach { case (j, i) =>
          val id = s"p$pass-j$i-${j.name}"
          spark.sparkContext.setJobGroup(id, j.name)
          System.gc() // each job starts from a collected heap, off the clock
          Tracer.span("job", j.name, passSpan, id) { jobSpan =>
            Tracer.currentJob = (jobSpan, id)
            val c0 = os.getProcessCpuTime
            val t0 = System.nanoTime()
            val t0ms = System.currentTimeMillis()
            attempted += 1
            val checked = try Right(j.run(spark, false)) catch { case e: Throwable => Left(e) }
            val dt = (System.nanoTime() - t0) / 1e9
            wall += dt
            cpu += (os.getProcessCpuTime - c0) / 1e9
            checked match {
              case Left(e) => failures += s"$id: ${e.getClass.getName}: ${e.getMessage}"; jobErrors += id
              case Right(check) => checks += ((id, check))
            }
            if (tracedPass) requestRecs += ((j.kind, id, t0ms, System.currentTimeMillis()))
            jobRecs += s"""{"pass":$pass,"id":${q(id)},"name":${q(j.name)},"kind":${q(j.kind)},"s":$dt,"traced":$tracedPass}"""
          }
        }
      }
      val passEndMs = System.currentTimeMillis()
      if (tracedPass) {
        Tracer.off(spark)
        tracedPasses += ((passStartMs, passEndMs))
        infer("calls") += InferStats.calls.get
        infer("batches") += InferStats.batches.get
        infer("prompt_tokens") += InferStats.promptTokens.get
        infer("completion_tokens") += InferStats.completionTokens.get
        infer("wait_s") += InferStats.waitNs.get / 1e9
        infer("busy_s") += InferStats.busyNs.get / 1e9
        infer("max_inflight") = math.max(infer("max_inflight"), InferStats.maxInflightSeen.toDouble)
        infer("recomputed") += InferStats.recomputedCalls
        infer("dup_calls") += InferStats.duplicateCalls
        infer("collapse_stages") += requestRecs.filter(r => r._1 == "qa" && r._2.startsWith(s"p$pass-"))
          .map(r => InferStats.stagesOf(r._2, "COLLAPSE")).sum
      }
      System.gc()
      val heapMb = oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(-1.0)
      // every timed job's output is checked after the pass, off the clock
      // and with no listener attached, before the next pass clears memos
      checks.foreach { case (id, check) =>
        val err = try check() catch { case e: Throwable => Some(s"check: ${e.getClass.getName}: ${e.getMessage}") }
        err.foreach { m => failures += s"$id: $m"; jobErrors += id }
      }
      passRecs += s"""{"pass":$pass,"traced":$tracedPass,"wall_s":$wall,"cpu_s":$cpu,"heap_mb":$heapMb}"""
      pass += 1
    }
    if (traced) {
      Tracer.enabled = true
      Tracer.record("workload", workload, workloadStart, Tracer.nowUs(), 0L, "", workloadSpan)
      Tracer.enabled = false
    }

    val traceJson =
      if (traced) traceRecord(spark, workload, dir, tracedPasses.toSeq, requestRecs.toSeq, infer.toMap)
      else "null"

    val oracle = SparkEntry.oracleSql.filter(kv => queryNames.contains(kv._1) && !kv._2.contains("fixtures/"))
    val json =
      s"""{"workload":${q(workload)},"setup_s":$setupS,"canary_s":$canaryS,""" +
        s""""attempted":$attempted,"failures":${failures.map(q).mkString("[", ",", "]")},""" +
        s""""failed_jobs":${jobErrors.toSeq.sorted.map(q).mkString("[", ",", "]")},""" +
        s""""passes":${passRecs.mkString("[", ",", "]")},"jobs":${jobRecs.mkString("[", ",", "]")},""" +
        s""""oracle":${obj(oracle.toSeq.map { case (k, v) => k -> q(v) })},"trace":$traceJson}"""
    Files.writeString(Paths.get(s"$out/result.json"), json)
    if (traced) {
      val sp = Tracer.spans.asScala.toSeq.sortBy(_.start).map { s =>
        s"""{"id":${s.id},"kind":${q(s.kind)},"name":${q(s.name)},"start":${s.start},"end":${s.end},"parent":${s.parent},"job":${q(s.job)}}"""
      }
      Files.writeString(Paths.get(s"$out/spans.json"), sp.mkString("[\n", ",\n", "\n]"))
    }
    spark.stop()
  }

  // ------------------------------------------------------------ job lists

  /** Every query output is checked by its row count and row hash. The
    * warm-up pass sets each query's reference: for a query with a SQL
    * oracle, the hash of the output it writes for the DuckDB check; for
    * the others (no oracle, or an oracle pinned to a fixture of one corpus),
    * the hash of its warm-up result. Every timed job must match it. */
  private def queryJobs(names: Seq[String], dir: String, out: String): Seq[Job] = {
    val all = SparkEntry.queries
    // a decimal sum of the 64-bit row hashes cannot overflow
    def hash(df: DataFrame): Row =
      df.selectExpr("count(*)", "sum(CAST(xxhash64(*) AS DECIMAL(20, 0)))").head()
    names.map { n =>
      val fn = all.getOrElse(n, sys.error(s"unknown query $n"))
      val oracle = SparkEntry.oracleSql.get(n).exists(!_.contains("fixtures/"))
      var reference: Option[Row] = None
      Job(n, "query", (spark, warm) => {
        val df = fn(spark, dir)
        if (warm && oracle) df.write.mode("overwrite").parquet(s"$out/check/$n") else Force(df)
        if (warm) () => {
          reference = Some(if (oracle) hash(spark.read.parquet(s"$out/check/$n")) else hash(df))
          None
        } else () => {
          val h = hash(df)
          if (reference.contains(h)) None
          else Some(s"row count and hash $h differ from the warm-up pass's ${reference.getOrElse("(none)")}")
        }
      })
    }
  }

  private def llmJobs(a: Map[String, String], dir: String): Seq[Job] = {
    val client = new ServiceClient(a("delay_base_ms").toLong, a("delay_token_us").toLong)
    val v1 = V1Pipeline.Config(chunkBudget = a("chunk_budget").toInt,
      collapseBudget = a("collapse_budget").toInt, binBudget = a("bin_budget").toInt)
    // the request inputs are read once and held in the JVM, like a
    // service holding its request queue
    val spark = SparkSession.active
    val qa = spark.read.parquet(s"$dir/qa.parquet").collect().toSeq
      .groupBy(_.getAs[Long]("request_id")).toSeq.sortBy(_._1)
    val sv = spark.read.parquet(s"$dir/surveys.parquet").collect().toSeq
      .groupBy(_.getAs[Long]("survey_id")).toSeq.sortBy(_._1)
    val qaJobs = qa.map { case (rid, rows) =>
      val docs = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("question"), r.getAs[String]("text")))
      val keys = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("passkey")).toMap
      Job(s"qa$rid", "qa", (s, _) => {
        val in = s.createDataFrame(docs).toDF("doc_id", "question", "text")
        val got = V1Pipeline.run(in, client, v1).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("answer")).toMap
        () => {
          val bad = keys.filter { case (d, k) => !got.get(d).contains(k) }
          if (bad.isEmpty && got.size == keys.size) None
          else Some(s"wrong passkey answers for docs ${bad.keys.mkString(",")} (got ${got.size} of ${keys.size})")
        }
      })
    }
    val svJobs = sv.map { case (sid, rows) =>
      val papers = rows.map(r => (r.getAs[String]("paper_title"), r.getAs[String]("paper_txt")))
      val title = rows.head.getAs[String]("title")
      Job(s"survey$sid", "survey", (s, _) => {
        val in = s.createDataFrame(Seq((sid, title, papers)))
          .toDF("survey_id", "title", "papers")
          .withColumn("papers", expr("transform(papers, p -> named_struct('title', p._1, 'txt', p._2))"))
        val res = V2Pipeline.run(in, client).select("n_papers", "cite_ratio").collect()
        () => {
          val ok = res.length == 1 && res(0).getAs[Number]("n_papers").longValue == papers.size &&
            res(0).getAs[Double]("cite_ratio") == 1.0
          if (ok) None else Some(s"survey result ${res.mkString(";")} (want n_papers=${papers.size}, cite_ratio=1.0)")
        }
      })
    }
    // surveys spread evenly through the QA stream
    val every = math.max(1, qaJobs.size / math.max(1, svJobs.size))
    val mixed = mutable.ArrayBuffer.empty[Job]
    val svIt = svJobs.iterator
    qaJobs.zipWithIndex.foreach { case (j, i) =>
      mixed += j
      if ((i + 1) % every == 0 && svIt.hasNext) mixed += svIt.next()
    }
    mixed ++= svIt
    mixed.toSeq
  }

  // ------------------------------------------------------------ per layer

  /** The traced passes' raw record: counter totals, task intervals,
    * request windows with their Spark jobs, streaming progress samples and
    * kernel rates. `perfbench/run.py` turns it into per-layer metrics. */
  private def traceRecord(spark: SparkSession, workload: String, dir: String,
      passes: Seq[(Long, Long)], reqs: Seq[(String, String, Long, Long)],
      infer: Map[String, Double]): String = {
    val c = Tracer.c
    // kernels run on the workload's text (the QA documents and papers, or
    // the corpus documents) and on the embeddings every input carries
    def strings(table: String, c: String): Seq[String] =
      spark.read.parquet(s"$dir/$table.parquet").select(c).collect().map(_.getString(0)).toSeq
    val texts = if (workload == "llm_mapreduce")
      strings("qa", "text") ++ strings("surveys", "paper_txt") else strings("documents", "text")
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet").select("embedding").cache()
    val kernels = Kernels.run(spark, texts, vectors)

    def intervals(iv: Iterable[(Long, Long)]) = iv.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    def nums(xs: Iterable[Double]) = xs.map(num).mkString("[", ",", "]")
    def numObj(kv: Iterable[(String, Double)]) = obj(kv.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
    val requests = reqs.map { case (kind, id, a, b) =>
      s"""{"kind":${q(kind)},"id":${q(id)},"t0":$a,"t1":$b,""" +
        s""""spark_jobs":${intervals(c.sparkJobsOf.getOrElse(id, Nil))}}"""
    }
    obj(Seq(
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "passes" -> intervals(passes),
      "counters" -> numObj(c.totals),
      "infer" -> numObj(infer),
      "task_intervals" -> intervals(c.taskIntervals),
      "requests" -> requests.mkString("[", ",", "]"),
      "trigger_ms" -> nums(c.triggerMs), "add_batch_ms" -> nums(c.addBatchMs),
      "wal_commit_ms" -> nums(c.walMs), "start_ms" -> nums(c.startMs),
      "kernels" -> numObj(kernels)))
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
