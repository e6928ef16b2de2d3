package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming twins of q26-q28 must agree with their batch equivalents when
  * driven to completion over the same finite input (AvailableNow). */
class StreamsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def batchEvents = Tables.events(spark, dir)

  test("streaming tumbling counts == batch q26") {
    val stream = Tables.stream(spark, dir, "events")
    val got = Streams.runToMemory(
      Streams.tumblingCounts(stream), "t_tumble")
      .orderBy("wstart", "event_type").collect()
    val want = batchEvents
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))
      .orderBy("wstart", "event_type").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("concurrent runToMemory calls leave the session conf as they found it") {
    // the streaming twins are built concurrently elsewhere in the suite
    // (HofBanSpec's pool); each call overrides two session confs until its
    // query starts, and a lost restore would leak into every later query
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val before = keys.map(spark.conf.get)
    val want = Streams.runToMemory(
      Streams.tumblingCounts(Tables.stream(spark, dir, "events")), "t_conf_ref")
      .orderBy("wstart", "event_type").collect().toSeq
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = (0 until 6).map { i =>
        Future {
          Streams.runToMemory(
            Streams.tumblingCounts(Tables.stream(spark, dir, "events")),
            s"t_conf_$i", statePartitions = Some(2 + i % 3), noDataBatch = i % 2 == 0)
            .orderBy("wstart", "event_type").collect().toSeq
        }
      }
      runs.foreach(r => assert(Await.result(r, 5.minutes) == want))
    } finally pool.shutdown()
    assert(keys.map(spark.conf.get) == before)
  }

  test("streaming session windows == batch q28") {
    val stream = Tables.stream(spark, dir, "events")
    val got = Streams.runToMemory(
      Streams.sessionCounts(stream), "t_sess")
      .orderBy("user_id", "session_start").collect()
    val want = batchEvents
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"), col("n"))
      .orderBy("user_id", "session_start").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("streaming sliding counts == batch q27") {
    val stream = Tables.stream(spark, dir, "events")
    val got = Streams.runToMemory(
      Streams.slidingCounts(stream), "t_slide")
      .orderBy("wstart").collect()
    val want = batchEvents
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("n"))
      .orderBy("wstart").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("an events stream reads either ts encoding to the same windows") {
    // nanos-as-long and native-micros fixture files must stream to the SAME
    // windows — a misread encoding collapses timestamps 1000× silently.
    def counts(fix: String, qn: String) = {
      val d = getClass.getResource(s"/fixtures/$fix").getPath
      Streams.runToMemory(
        Streams.tumblingCounts(Tables.stream(spark, d, "events")), qn)
        .orderBy("wstart", "event_type").collect().map(_.toSeq).toSeq
    }
    val nanos  = counts("events_nanos", "t_fix_ns")
    val micros = counts("events_micros", "t_fix_us")
    assert(nanos == micros, s"$nanos vs $micros")
    assert(nanos.nonEmpty && nanos.map(_(2).asInstanceOf[Long]).sum == 4,
      s"expected the 4 fixture rows windowed: $nanos")
  }

  test("t13s: the token ledger ACCUMULATES across triggers per source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // tiny rank table: one merge (a,b) -> "ab" tokenizes to ONE token
    val bc = spark.sparkContext.broadcast(Map(("a", "b") -> 0))
    val input = MemoryStream[(String, String)]
    val perDoc = input.toDF.toDF("source", "text")
      .select(col("source"),
        aggregate(
          transform(
            filter(split(lower(col("text")), " "), w => length(w) > lit(0)),
            w => size(graft.functions.Bpe.tokenizeCol(w, bc))
              .cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_bpe"))
    val agg = perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("total_tokens"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("t13s_acc").start()
    try {
      input.addData(("s1", "ab ab"), ("s2", "cd"))
      q.processAllAvailable()
      input.addData(("s1", "ab"))
      q.processAllAvailable()
      val rows = spark.table("t13s_acc").orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // s1: one doc per batch = 2 docs; "ab ab" = 2 BPE tokens, +1 from
      // batch 2's "ab" = 3 total. s2: "cd" has no merge -> 2 symbol tokens.
      assert(rows == Seq(("s1", 2L, 3L), ("s2", 1L, 2L)), rows.toString)
    } finally q.stop()
  }

  test("t14s: the LM gate scores row-locally with no exchange in the plan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // LM trained on "a b": V = 2, C(a)=1, C(b)=1, C("a b")=1
    val bc = spark.sparkContext.broadcast(
      graft.functions.LmKernel.model(
        Seq("a" -> 1L, "b" -> 1L), Seq("a b" -> 1L)))
    val input = MemoryStream[(Long, String, String)]
    val gated = Streams.lmGateStream(
      input.toDF.toDF("doc_id", "source", "text"), bc)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("t14s_gate").start()
    try {
      input.addData((1L, "srcX", "a b"), (2L, "srcX", "z z"),
        (3L, "src0", "a b"), (4L, "srcX", "one"))
      q.processAllAvailable()
      val rows = spark.table("t14s_gate").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // doc 1: seen bigram -> ((1+2)*1000) div (1+1) = 1500
      // doc 2: OOV bigram  -> ((0+2)*1000) div 1     = 2000
      // doc 3: held-out slice, filtered; doc 4: single token, no evidence
      assert(rows == Seq((1L, 1L, 1500L), (2L, 1L, 2000L)), rows.toString)
      // the gate is exchange-free: one row in, one row out, no shuffle
      assert(!gated.queryExecution.analyzed.toString.toLowerCase
        .contains("repartition"))
      val lastProgress = q.lastProgress
      assert(lastProgress == null ||
        lastProgress.stateOperators.isEmpty ||
        lastProgress.stateOperators.forall(_.numRowsTotal == 0),
        "LM gate must keep zero streaming state")
    } finally q.stop()
  }

  test("x06s: the packing cursor PERSISTS across triggers per reader stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val packed = Streams.packUpdates(
      input.toDF.toDF("doc_id", "source", "text"))
    val q = packed.writeStream.outputMode("update")
      .format("memory").queryName("x06s_cursor").start()
    try {
      // all docs share a (source, reader) stream iff their reader hash
      // agrees; use doc_ids with the same md5-derived reader bucket
      val sameReader = (1L to 200L).groupBy { id =>
        java.lang.Long.parseLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"p|$id")
            .substring(0, 8), 16) % 8
      }.values.maxBy(_.size).take(3).toSeq.sorted
      val Seq(a, b, c) = sameReader
      input.addData((a, "s1", "w w w"), (b, "s1", "w w"))
      q.processAllAvailable()
      input.addData((c, "s1", "w w w w"))
      q.processAllAvailable()
      val rows = spark.table("x06s_cursor").orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("tok_end"))).toSeq
      // batch 1 packs a then b (sorted by doc_id); batch 2 resumes the
      // cursor at 5 — the state survived the trigger boundary
      assert(rows == Seq((a, 0L, 2L), (b, 3L, 4L), (c, 5L, 8L)),
        rows.toString)
    } finally q.stop()
  }

  test("q38s: as-of gate matches latest-at-or-before with max-id ties, null when none") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: views at t=10 (ids 7 and 9 — tie) and t=20 (id 11)
    val views = Seq((1L, ts(10), 7L), (1L, ts(10), 9L), (1L, ts(20), 11L))
      .toDF("user_id", "ts", "event_id")
    val idx = Streams.viewHistoryIndex(views)
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val enriched = Streams.asofEnrichStream(
      input.toDF.toDF("click_id", "user_id", "ts"), idx)
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("q38s_gate").start()
    try {
      input.addData((100L, 1L, ts(15)), (101L, 1L, ts(5)), (102L, 2L, ts(15)))
      q.processAllAvailable()
      input.addData((103L, 1L, ts(20))) // second trigger, inclusive match
      q.processAllAvailable()
      val rows = spark.table("q38s_gate").orderBy("click_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      // 100: t=15 -> tie at t=10 resolves to id 9; 101: before all -> null;
      // 102: unknown user -> null; 103: inclusive t=20 -> id 11
      assert(rows == Seq((100L, 9L), (101L, -1L), (102L, -1L), (103L, 11L)),
        rows.toString)
    } finally q.stop()
  }

  test("streaming V1 QA: documents stream through the pipeline to JSONL") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val out  = Files.createTempDirectory("graft_v1s_out_").toString
    val ckpt = Files.createTempDirectory("graft_v1s_ck_").toString
    // stage a small docs dir with planted passkeys
    val staged = Files.createTempDirectory("graft_v1s_in_").toString
    Tables.documents(spark, dir).limit(20)
      .withColumn("text", concat(col("text"),
        lit(" ANSWER[stream-"), col("doc_id").cast("string"), lit("]")))
      .coalesce(1).write.mode("overwrite").parquet(staged + "/_stage")
    // lay the staged dir out like the lake: one documents.parquet file
    val part = new java.io.File(staged + "/_stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(staged, "documents.parquet"))
    val q = Streams.v1QaStream(Tables.stream(spark, staged, "documents"),
      "What is the passkey?", out, ckpt)
    q.awaitTermination()
    val res = spark.read.json(out)
    assert(res.count() == 20)
    assert(res.filter(col("answer") ===
      concat(lit("stream-"), col("doc_id").cast("string"))).count() == 20)
  }

  test("foreachBatch JSONL sink appends one line per row (S3)") {
    val out  = Files.createTempDirectory("graft_jsonl_").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_").toString
    val stream = Tables.stream(spark, dir, "events")
      .select("event_id", "event_type")
    val q = Streams.jsonlSink(stream, out, ckpt)
    q.awaitTermination()
    val written = spark.read.json(out)
    assert(written.count() == batchEvents.count())
    assert(written.columns.sorted.toSeq == Seq("event_id", "event_type"))
  }

  // ---- event-time semantics: watermark eviction and emission timing.
  // MemoryStream gives batch-by-batch arrival control, so late-data
  // behavior is pinned, not assumed.

  private def ts(minute: Int): java.sql.Timestamp =
    new java.sql.Timestamp(3600_000L * 24 * 365 * 50 + minute * 60_000L)

  test("update mode: rows later than the watermark are dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = Streams.tumblingCounts(input.toDF.toDF("ts", "event_type"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("late_upd").start()
    try {
      // batch 1: two rows in window [0,5); a row at minute 60 drives the
      // watermark to 60-10=50 after the batch commits
      input.addData((ts(1), "a"), (ts(2), "a"), (ts(60), "b"))
      q.processAllAvailable()
      // The watermark advances when the NEXT batch is planned (normally
      // the immediate no-data batch). Under heavy box load that planning
      // can lag processAllAvailable, and feeding batch 2 first would test
      // arrival order, not eviction semantics (observed once as a flake:
      // the minute-3 row slipped in under watermark 0). Make the
      // precondition explicit: wait until a started batch reports the
      // advanced watermark (minute 60 minus the 10-minute delay) before
      // adding the late row, and fail on the precondition if it never does.
      val advanced = ts(50).toInstant
      def watermark: Option[java.time.Instant] =
        Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
          .map(java.time.Instant.parse(_))
      val deadline = System.nanoTime() + 10_000_000_000L
      while (System.nanoTime() < deadline && !watermark.contains(advanced))
        Thread.sleep(50L)
      assert(watermark.contains(advanced),
        s"precondition: the watermark never advanced to $advanced within 10 s " +
          s"(last reported: $watermark)")
      // batch 2: minute 3 is far below watermark 50 -> evicted; minute 55
      // is on time -> its window updates
      input.addData((ts(3), "a"), (ts(55), "b"))
      q.processAllAvailable()
      val rows = spark.table("late_upd")
        .select("wstart", "event_type", "n").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val aMax = rows.filter(_._2 == "a").map(_._3).max
      def batches = q.recentProgress.map(p =>
        s"${p.batchId}:${p.numInputRows}@${p.eventTime.get("watermark")}").mkString(" ")
      assert(aMax == 2,
        s"late row must not update the closed window: ${rows.toSeq}; batches $batches")
      assert(rows.exists(r => r._2 == "b" && r._3 == 1 &&
        r._1.endsWith("00:55:00")), s"on-time row missing: ${rows.toSeq}")
    } finally q.stop()
  }

  test("custom state: rapid-event counts persist ordering memory across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val out = Streams.rapidEventCounts(
      input.toDF.toDF("user_id", "ts"), rapidGapMinutes = 5)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("rapid").start()
    try {
      // batch 1: user 7 at minutes 0 and 2 (gap 2 <= 5 -> one rapid pair)
      input.addData((7L, ts(0)), (7L, ts(2)))
      q.processAllAvailable()
      // batch 2: minute 20 (gap 18, not rapid), minute 21 (gap 1, rapid) —
      // rapidness vs minute 2 only works if state remembered it
      input.addData((7L, ts(20)), (7L, ts(21)))
      q.processAllAvailable()
      val rows = spark.table("rapid")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.contains((7L, 2L, 1L)), s"batch-1 update missing: ${rows.toSeq}")
      assert(rows.contains((7L, 4L, 2L)), s"batch-2 cumulative wrong: ${rows.toSeq}")
    } finally q.stop()
  }

  test("update mode: session windows emit partials that later extend") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val out = Streams.sessionUpdates(
      input.toDF.toDF("user_id", "ts"), gapMinutes = 30)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("sess_upd").start()
    try {
      // batch 1: user 7 at minutes 0 and 10 -> ONE partial session, n=2
      input.addData((7L, ts(0)), (7L, ts(10)))
      q.processAllAvailable()
      // batch 2: minute 20 extends the same session -> updated row, n=3
      input.addData((7L, ts(20)))
      q.processAllAvailable()
      val rows = spark.table("sess_upd")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.count(_._1 == 7L) == 2, s"one row per trigger: ${rows.toSeq}")
      assert(rows.contains((7L, "2019-12-20 00:00:00", 2L)),
        s"trigger-1 partial missing: ${rows.toSeq}")
      assert(rows.contains((7L, "2019-12-20 00:00:00", 3L)),
        s"trigger-2 update missing: ${rows.toSeq}")
    } finally q.stop()
  }

  test("update mode: a bridging event merges two open sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val out = Streams.sessionUpdates(
      input.toDF.toDF("user_id", "ts"), gapMinutes = 30)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("sess_merge").start()
    try {
      // batch 1: two sessions 50 min apart (gap 30) -> two partials, n=1
      input.addData((8L, ts(0)), (8L, ts(50)))
      q.processAllAvailable()
      // batch 2: minute 25 touches BOTH ([25,55) reaches back to [0,30)
      // and forward to [50,...)) -> one merged session from minute 0, n=3
      input.addData((8L, ts(25)))
      q.processAllAvailable()
      val rows = spark.table("sess_merge")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.contains((8L, "2019-12-20 00:00:00", 1L)) &&
        rows.contains((8L, "2019-12-20 00:50:00", 1L)),
        s"trigger-1 partials missing: ${rows.toSeq}")
      assert(rows.contains((8L, "2019-12-20 00:00:00", 3L)),
        s"merged session missing: ${rows.toSeq}")
      assert(rows.length == 3, s"no spurious re-emissions: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup: a key re-arriving in a later batch is not re-emitted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val out = Streams.dedupStream(input.toDF.toDF("text"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_s").start()
    try {
      input.addData("alpha", "beta", "alpha") // in-batch dup collapses too
      q.processAllAvailable()
      assert(spark.table("dedup_s").count() == 2)
      input.addData("beta", "gamma") // beta is cross-batch state, not new
      q.processAllAvailable()
      val rows = spark.table("dedup_s").collect().map(_.getString(0))
      assert(rows.length == 3, s"beta must not re-emit: ${rows.toSeq}")
      assert(rows.distinct.length == 3)
    } finally q.stop()
  }

  test("decontamination gate flags a doc once even if its grams recur") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evalGrams = Seq("e1 e2 e3 e4 e5").toDF("gram")
    val input = MemoryStream[(Long, String)]
    val out = Streams.decontaminateStream(
      input.toDF.toDF("doc_id", "text"), evalGrams)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("decon_s").start()
    try {
      // doc 1 contains the eval 5-gram, doc 2 doesn't, doc 3 is too short
      input.addData(
        (1L, "x e1 e2 e3 e4 e5 y"),
        (2L, "a b c d e f g"),
        (3L, "e1 e2 e3"))
      q.processAllAvailable()
      assert(spark.table("decon_s").collect().map(_.getLong(0)).toSeq == Seq(1L))
      // the same contaminated doc re-arriving (a replayed feed) must NOT
      // re-emit; a new contaminated doc must
      input.addData((1L, "x e1 e2 e3 e4 e5 y"), (4L, "e1 e2 e3 e4 e5"))
      q.processAllAvailable()
      val rows = spark.table("decon_s").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1L, 4L), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("append mode: a window emits only after the watermark passes its end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = Streams.tumblingCounts(input.toDF.toDF("ts", "event_type"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_app").start()
    try {
      input.addData((ts(1), "a"), (ts(2), "a"))
      q.processAllAvailable()
      assert(spark.table("late_app").isEmpty,
        "window [0,5) must be held back while the watermark is behind it")
      // minute 20 -> watermark 10 >= window end 5: the window finalizes
      input.addData((ts(20), "a"))
      q.processAllAvailable()
      input.addData() // one more (empty) batch carries the emission
      q.processAllAvailable()
      val emitted = spark.table("late_app")
        .select("event_type", "n").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(emitted.contains(("a", 2L)),
        s"finalized window [0,5) should have emitted n=2: ${emitted.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join matches across batches within the window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = Streams.clickPurchaseJoin(
      input.toDF.toDF("ts", "user_id", "event_type"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("attrib").start()
    try {
      // batch 1: a click; the matching purchase only arrives in batch 2 —
      // the join must hold click state across the batch boundary
      input.addData((ts(0), 1L, "click"), (ts(1), 2L, "click"))
      q.processAllAvailable()
      assert(spark.table("attrib").isEmpty)
      // user 1 purchases inside the 10-min window; user 2 outside it
      input.addData((ts(5), 1L, "purchase"), (ts(30), 2L, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("attrib").select("user_id").collect()
        .map(_.getLong(0)).toSeq
      assert(rows == Seq(1L),
        s"expected only user 1's in-window attribution, got $rows")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch against the dimension") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "AUTO"), (2L, "RETAIL")).toDF("user_id", "segment")
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val out = Streams.enrichedSegmentCounts(
      input.toDF.toDF("ts", "user_id"), dim)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("enrich").start()
    try {
      // two batches: counts accumulate per (window, segment) across
      // batches, and a user with no dim row never appears (inner join)
      input.addData((ts(1), 1L), (ts(2), 2L), (ts(3), 9L))
      q.processAllAvailable()
      input.addData((ts(4), 1L))
      q.processAllAvailable()
      val rows = spark.table("enrich")
        .select("segment", "n").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.filter(_._1 == "AUTO").map(_._2).max == 2L)
      assert(rows.contains(("RETAIL", 1L)))
      assert(!rows.exists(_._1 == null), s"unmatched user leaked: ${rows.toSeq}")
    } finally q.stop()
  }

  test("sketch maintenance: a later batch ADDS into existing counters") {
    // the mergeable-sketch property doing the streaming work (q43s/q44s):
    // bucket counters accumulate across triggers, never reset or replace
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val out = Streams.cmsCounts(input.toDF.toDF("text"))
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("cms_acc").start()
    try {
      input.addData("alpha alpha beta")
      q.processAllAvailable()
      val after1 = spark.table("cms_acc").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      input.addData("alpha")
      q.processAllAvailable()
      val after2 = spark.table("cms_acc").collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).max }
      // every counter that held "alpha" (count 2 in batch 1 — the rows
      // where alpha sits alone count exactly 2) must now read 3
      val alphaBuckets = after1.filter(_._2 == 2L).keys
      assert(alphaBuckets.nonEmpty, s"no alpha-only counters: $after1")
      alphaBuckets.foreach { k =>
        assert(after2(k) == 3L, s"counter $k did not accumulate: ${after2}")
      }
    } finally q.stop()
  }

  test("quota reservoir: better arrivals evict, worse ones bounce, state " +
    "stays bounded") {
    // the x10s state: per source, the quota best (ares desc, doc_id asc)
    // entries of everything seen so far
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Double)]
    val out = Streams.quotaUpdates(
      input.toDF.toDF("source", "doc_id", "n_chars", "ares"), quota = 2)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("quota_acc").start()
    try {
      input.addData(("a", 1L, 10L, 0.5), ("a", 2L, 10L, 0.3))
      q.processAllAvailable()
      // batch 2: 0.7 evicts the 0.3; 0.1 bounces off a full reservoir
      input.addData(("a", 3L, 10L, 0.7), ("a", 4L, 10L, 0.1))
      q.processAllAvailable()
      val fin = spark.table("quota_acc").collect()
        .filter(_.getLong(1) == 2L).head
        .getSeq[org.apache.spark.sql.Row](2)
        .map(r => (r.getDouble(0), r.getLong(1)))
      assert(fin == Seq((0.7, 3L), (0.5, 1L)),
        s"expected best-2 reservoir, got $fin")
    } finally q.stop()
  }

  test("keyed histogram: counters accumulate per key and keys stay isolated") {
    // the q47s state: one bucket vector PER event_type on the shared grid;
    // a later batch adds into its own key's counters and no other's
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val out = Streams.keyedHistogramCounts(
      input.toDF.toDF("event_type", "value"), lo = 0.0, hi = 256.0)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("kh_acc").start()
    try {
      input.addData(("click", 5.5), ("click", 5.9), ("view", 5.5))
      q.processAllAvailable()
      input.addData(("click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("kh_acc").collect()
        .groupBy(r => (r.getString(0), r.getLong(1)))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).max }
      assert(rows(("click", 5L)) == 3L,
        s"click bucket 5 did not accumulate: $rows")
      assert(rows(("view", 5L)) == 1L,
        s"view bucket 5 leaked another key's adds: $rows")
    } finally q.stop()
  }

  test("KMV maintenance: minima ACCUMULATE across triggers, dedupe, and " +
    "stay bounded at k") {
    // the q45s state: per group, the ≤k smallest DISTINCT hashes of
    // everything seen so far — a later batch can only tighten the sketch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = Streams.kmvUpdates(input.toDF.toDF("prio", "h"), k = 3)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("kmv_acc").start()
    try {
      // batch 1: 4 distinct hashes (one duplicated) -> keep the 3 smallest
      input.addData(("a", 50L), ("a", 10L), ("a", 30L), ("a", 10L), ("a", 40L))
      q.processAllAvailable()
      val r1 = spark.table("kmv_acc")
        .filter(col("ver") === 1).collect().map(r =>
          (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
      assert(r1 == Seq(("a", 3L, 40L)), s"batch 1 state: $r1")
      // batch 2: a smaller hash arrives -> it evicts the max (40);
      // a duplicate of a kept hash (10) must not change anything
      input.addData(("a", 20L), ("a", 10L), ("b", 7L))
      q.processAllAvailable()
      val r2 = spark.table("kmv_acc")
        .filter(col("ver") === 2 || col("prio") === "b").collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(r2 == Set(("a", 2L, 3L, 30L), ("b", 1L, 1L, 7L)),
        s"batch 2 state: $r2")
    } finally q.stop()
  }
}
