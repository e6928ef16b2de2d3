package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY.md §2.8/§2.9 streaming obligations):
  * the operators the streaming twins run over a table stream, watermarked
  * tumbling/sliding/session windows (the streaming twins of q26-q28), and a
  * foreachBatch JSONL sink (the reference's append-a-line decode tail,
  * S3/D4). The streams themselves come from `graft.Tables.stream`, the same
  * reader, schema and normalization as the batch queries.
  *
  * The reference's async_d pipeline has no event-time/late-data logic — its
  * queues are purely arrival-ordered — so watermarking here is engine
  * surface (north-star), configured but semantically permissive by default.
  *
  * Scale: the file source lists + splits per micro-batch, one file per
  * trigger (the queue_size analog, D1); stateful windows use the state
  * store keyed by (window, group) — at cluster scale state partitions with
  * the shuffle, and watermark eviction bounds its size.
  */
object Streams {

  /** Streaming q26: tumbling 5-minute counts per event type. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))

  /** Stream-static enrichment join: the event stream joins a BROADCAST
    * static dimension (user → segment), then tumbling counts per segment.
    * The canonical "enrich the firehose with reference data" shape: the
    * static side re-plans per micro-batch (picking up dim updates) and the
    * stream never shuffles for the join — only the windowed aggregation
    * keys an exchange. Counts only: a cross-engine float sum would be
    * order-dependent. */
  def enrichedSegmentCounts(
      events: DataFrame,
      dim: DataFrame, // user_id, segment
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(org.apache.spark.sql.functions.broadcast(dim), "user_id")
      .groupBy(window(col("ts"), "5 minutes"), col("segment"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("segment"), col("n"))

  /** Stream-STREAM interval join: clicks join purchases by the same user
    * within a 10-minute attribution window. Both sides carry watermarks —
    * that plus the time-range predicate is what lets the engine EVICT join
    * state (a click older than watermark+10min can never match again), so
    * state is bounded by the window, not the stream. Inner-join matches
    * emit as they arrive; on bounded input the result equals the batch
    * interval join, which is what the oracle checks. */
  def clickPurchaseJoin(
      events: DataFrame,
      watermark: String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", watermark)
    clicks.join(buys,
      col("user_id") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("buy_ts"), "yyyy-MM-dd HH:mm:ss").as("buy_ts"))
  }

  /** Streaming q27: sliding 10/5-minute counts. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("n"))

  /** Streaming q28: 30-minute session windows per user. */
  def sessionCounts(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n"))

  /** Streaming exact dedup: emit each content hash the FIRST time it is
    * seen, across micro-batches — the ingestion-time dedup of a continuously
    * fed corpus. State = one row per distinct key, partitioned with the
    * shuffle; a production feed bounds it with
    * `dropDuplicatesWithinWatermark` (same operator, watermark-evicted
    * state) once keys stop recurring beyond the lateness horizon. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text").cast("binary")).as("h"))
      .dropDuplicates("h")

  /** Ingestion-time decontamination gate (the streaming face of d11): the
    * document stream explodes its 5-grams row-locally (codegen kernel) and
    * semi-joins the BROADCAST eval-set gram index per micro-batch; each
    * contaminated doc is emitted ONCE across batches (same cross-batch
    * dedup state as [[dedupStream]]). The stream side never shuffles for
    * the join — at scale the eval index is a persisted broadcast table and
    * the feed flows through a row-local filter; state is one row per
    * flagged doc. */
  def decontaminateStream(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs
      .select(col("doc_id"),
        explode(graft.functions.HashKernels.ngramsCol(col("text"), 5))
          .as("gram"))
      .join(org.apache.spark.sql.functions.broadcast(evalGrams),
        Seq("gram"), "left_semi")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Ingestion-time LM quality gate (the streaming face of t14): every
    * arriving corpus document is scored row-locally by the codegen'd
    * bigram-LM kernel against the BROADCAST model — one row in, one row
    * out, ZERO exchanges and zero state. This is the gate shape a 100 TB
    * feed wants: the batch twin's explode+join+groupBy is the right plan
    * when the LM is too large to collect, the kernel is the right plan
    * when it is bounded by a held-out eval slice (it always is). Docs with
    * fewer than two tokens carry no bigram evidence and pass through
    * unscored (dropped here, exactly the batch twin's size >= 2 filter). */
  def lmGateStream(
      docs: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[
        graft.functions.LmKernel.LmModel]): DataFrame = {
    val s = docs.sparkSession
    docs
      .filter(col("source") =!= "src0")
      .select(col("doc_id"),
        graft.functions.LmKernel.lmScoreCol(col("text"), bc).as("sc"))
      .filter(col("sc").isNotNull)
      .select(col("doc_id"),
        element_at(col("sc"), 1).as("n_bigrams"),
        element_at(col("sc"), 2).as("score_milli"))
  }

  /** S3: JSONL append sink via foreachBatch (one line per row, append-only —
    * the decode tail's behavior). Returns the started query. */
  def jsonlSink(
      df: DataFrame,
      outPath: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").json(outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous V1 QA front end (the reference's file-fed pipeline seed,
    * start_pipeline.py:107-110 → S1/S3): run the batch V1 pipeline over
    * each micro-batch of a documents stream via foreachBatch, append
    * answers as JSONL. Micro-batch = the unit of pipeline work; the stream
    * bounds it at one file per trigger. */
  def v1QaStream(
      docs: DataFrame, // doc_id LONG, text STRING
      question: String,
      outPath: String,
      checkpoint: String,
      client: graft.infer.InferenceClient = new graft.infer.MockInference): StreamingQuery =
    docs
      .select(col("doc_id"), lit(question).as("question"), col("text"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.pipeline.V1Pipeline.run(batch.toDF(), client)
            .write.mode("append").json(outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Per-user rapid-event tracking via custom state
    * (flatMapGroupsWithState — the D9 monitor as a streaming operator):
    * for every user, remember the last event time ACROSS micro-batches and
    * count events arriving within `rapidGap` of their predecessor. This
    * needs ordering memory between triggers, which no built-in windowed
    * aggregate expresses — the canonical custom-state case.
    *
    * Emits one (user_id, n_events, n_rapid) update row per user per batch.
    * State is one (timestamp, long, long) per user: at scale the store is
    * ∝ distinct users and partitions with the groupBy shuffle. */
  def rapidEventCounts(
      events: DataFrame, // ts TIMESTAMP, user_id LONG
      rapidGapMinutes: Int = 5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = rapidGapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var (lastMicros, total, rapid) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          // iterator order within a batch is not guaranteed — sort by time
          rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t) =>
            val micros = t.getTime * 1000L
            if (lastMicros != Long.MinValue && micros - lastMicros <= gapMicros)
              rapid += 1
            total += 1
            lastMicros = micros
          }
          state.update((lastMicros, total, rapid))
          Iterator((user, total, rapid))
      }
      .toDF("user_id", "n_events", "n_rapid")
  }

  /** Update-mode session windows: emit PARTIAL session results every
    * trigger, updated as later events extend or merge sessions.
    *
    * Spark's native `session_window` aggregate cannot run in update mode
    * (merging sessions aren't expressible as key-wise updates), so this is
    * the canonical custom-state sessionization: state per user = the open
    * session set; each batch folds its events in (extend / merge / open),
    * and every session whose membership changed this trigger re-emits with
    * its current (start, n) — the "partial results per trigger" surface the
    * built-in operator lacks. At scale state is ∝ open sessions per user
    * and partitions with the groupBy shuffle.
    *
    * Output rows match [[sessionCounts]]: (user_id, session_start, n). */
  def sessionUpdates(
      events: DataFrame, // ts TIMESTAMP, user_id LONG
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60_000L
    val fmt = (ms: Long) =>
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
    events
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], (Long, String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          // state: open sessions as (startMs, endMs = last event + gap, n)
          var sessions = state.getOption.getOrElse(Seq.empty)
          val before = sessions.toSet
          rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t) =>
            val s = t.getTime
            val e = s + gapMs
            // absorb every session this event's [s, e) window touches —
            // one event can bridge (merge) two existing sessions
            val (overlap, rest) =
              sessions.partition(x => x._1 <= e && s <= x._2)
            sessions = rest :+ ((
              (overlap.map(_._1) :+ s).min,
              (overlap.map(_._2) :+ e).max,
              overlap.map(_._3).sum + 1))
          }
          state.update(sessions)
          // update-mode contract: re-emit only what changed this trigger
          sessions.filterNot(before).iterator
            .map(x => (user, fmt(x._1), x._3))
      }
      .toDF("user_id", "session_start", "n")
  }

  /** Streaming maintenance of the equi-width histogram sketch (Sketches
    * q43's state) at ingest: bucket counts are a running integer aggregate,
    * so each micro-batch's partial counts merge into the state store by
    * addition — the mergeable-sketch property doing the streaming work.
    * [lo, hi] is the sketch domain, fixed at deploy time (a stream can't
    * know its global min/max online); the arithmetic mirrors
    * Sketches.bucketCol exactly so a bounded run equals the batch sketch. */
  def histogramCounts(
      events: DataFrame,
      lo: Double,
      hi: Double,
      buckets: Int = 256): DataFrame = {
    // degenerate-domain guard, mirroring Sketches.bucketCol: all-equal
    // values land in bucket 0 instead of dividing by zero
    val span = if (hi > lo) hi - lo else 1.0
    events.filter(col("value").isNotNull)
      .select(least(lit(buckets - 1L), greatest(lit(0L),
        floor((col("value") - lit(lo)) / lit(span) * buckets)))
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-key face of [[histogramCounts]] (Sketches q47's state): one
    * bucket-count vector per event_type on the same shared grid, all
    * merging into the state store by addition — |keys|×256 integer rows of
    * state regardless of input volume. */
  def keyedHistogramCounts(
      events: DataFrame,
      lo: Double,
      hi: Double,
      buckets: Int = 256): DataFrame = {
    val span = if (hi > lo) hi - lo else 1.0
    events.filter(col("value").isNotNull)
      .select(col("event_type"),
        least(lit(buckets - 1L), greatest(lit(0L),
          floor((col("value") - lit(lo)) / lit(span) * buckets)))
          .cast("long").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Streaming maintenance of the count-min sketch (Sketches q44's state)
    * at ingest: every arriving doc's tokens explode into their (row,
    * bucket) coordinates via the shared one-digest md5 kernel, and the
    * ≤3×512 integer counters merge into the state store by addition each
    * micro-batch — the same mergeable-sketch property as the histogram
    * twin. A bounded run equals the batch sketch. */
  def cmsCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .select(graft.operators.Sketches.cmsDigest(col("tok")).as("dg"))
      .select(graft.operators.Sketches.cmsCoords(col("dg")).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))

  /** Streaming maintenance of the KMV distinct sketch (Sketches q45's
    * state): per group, keep the ≤k smallest DISTINCT hashes across
    * micro-batches. The sketch merge is "k smallest of the union" — not
    * expressible as a built-in streaming aggregate, so this is the
    * flatMapGroupsWithState member of the sketch family. State per group is
    * a bounded sorted set (≤k longs); each trigger that touches a group
    * re-emits its current sketch summary with a bumped version, so a
    * bounded run's final state is the max-version row per group. At scale
    * state is ∝ groups × k and partitions with the groupBy shuffle. */
  def kmvUpdates(
      keyed: DataFrame, // prio STRING, h LONG
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .select(col("prio"), col("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Seq[Long], Long), (String, Long, Long, Long, Seq[Long])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (prio, rows, state) =>
          val (minima, version) =
            state.getOption.getOrElse((Seq.empty[Long], 0L))
          val set = scala.collection.mutable.TreeSet[Long](minima: _*)
          rows.foreach { case (_, h) =>
            // TreeSet dedupes; evict the max once past capacity — the
            // classic bounded KMV update, O(log k) per arrival
            if (set.size < k || h < set.lastKey) {
              set += h
              if (set.size > k) set -= set.lastKey
            }
          }
          val v = version + 1
          state.update((set.toSeq, v))
          // summary scalars feed q45s; the minima themselves (ascending)
          // feed q46s's set algebra over the FINAL sketches
          Iterator((prio, v, set.size.toLong, set.lastKey, set.toSeq))
      }
      .toDF("prio", "ver", "n_kept", "hk", "minima")
  }

  /** Streaming A-Res quota maintenance (Mix x01's reservoir at ingest):
    * per source, the state is the quota best (ares DESC, doc_id ASC)
    * entries seen so far — a bounded weighted reservoir, the mix-family
    * sibling of [[kmvUpdates]]'s k-minima. The ares key arrives as a
    * column (computed by the SAME Spark expression as the batch query),
    * so the state function only compares; a bounded run's final state
    * equals batch x01, which the oracle checks. */
  def quotaUpdates(
      keyed: DataFrame, // source STRING, doc_id LONG, n_chars LONG, ares DOUBLE
      quota: Int = 10): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = keyed.sparkSession
    import spark.implicits._
    // best-first ordering: larger ares wins, doc_id breaks ties
    implicit val ord: Ordering[(Double, Long, Long)] =
      Ordering.by { case (ares, id, _) => (-ares, id) }
    keyed
      .select(col("source"), col("doc_id"), col("n_chars"), col("ares"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[
        (Seq[(Double, Long, Long)], Long),
        (String, Long, Seq[(Double, Long, Long)])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          val (kept, version) =
            state.getOption.getOrElse((Seq.empty[(Double, Long, Long)], 0L))
          val set = scala.collection.mutable.TreeSet[(Double, Long, Long)](
            kept: _*)
          rows.foreach { case (_, id, nc, ares) =>
            val e = (ares, id, nc)
            if (set.size < quota || ord.lt(e, set.lastKey)) {
              set += e
              if (set.size > quota) set -= set.lastKey
            }
          }
          val v = version + 1
          state.update((set.toSeq, v))
          Iterator((source, v, set.toSeq))
      }
      .toDF("source", "ver", "entries")
  }

  /** Stream-static AS-OF enrichment (the streaming face of q38): every
    * arriving click joins the BROADCAST per-user view-history index — one
    * row per user holding the (ts, id)-sorted view array — and resolves
    * "latest view at or before my ts" ROW-LOCALLY with
    * array_max(filter(history, v.ts <= ts)): struct ordering is
    * lexicographic (ts, then id), so ties on ts break toward the larger
    * id, exactly the batch union-window's max(v) semantics. No streaming
    * state, no stream-side shuffle; the static side re-plans per
    * micro-batch, picking up index updates. At 100 TB the index holds the
    * WATERMARK-RETAINED recent history per key (the bound a production
    * enrichment keeps), not the full log; per-user arrays are small by
    * construction, so the interpreted HOF runs over bounded data. */
  def asofEnrichStream(clicks: DataFrame, viewIndex: DataFrame): DataFrame =
    clicks
      .join(org.apache.spark.sql.functions.broadcast(viewIndex),
        Seq("user_id"), "left")
      .select(col("click_id"), col("user_id"),
        col("ts"),
        array_max(filter(col("vh"), v => v.getField("ts") <= col("ts")))
          .getField("id").as("view_id"))

  /** The q38 static side as the index [[asofEnrichStream]] probes: one row
    * per user, view history sorted by (ts, id). collect_list is bounded by
    * per-key retained history (watermark horizon at scale). */
  def viewHistoryIndex(views: DataFrame): DataFrame =
    views
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("ts").as("ts"), col("event_id").as("id")))).as("vh"))

  /** Ingest-time sequence packing (the streaming face of x06): every
    * arriving document is assigned its [tok_start, tok_end] token-cursor
    * slice within its (source, reader) stream exactly once, and the ONLY
    * state per group is the running cursor — one long, however many
    * documents flow past. That is the loader-side packing contract at
    * 100 TB: assignment happens at ingest, never by re-scanning the
    * corpus. Rows inside one micro-batch arrive unordered per group, so
    * each batch's group slice is buffered and sorted by doc_id before
    * assignment (bounded by the batch, not the stream); across batches
    * monotone doc_id order is the feed's append order, matching the batch
    * twin's ORDER BY doc_id cumulative window. */
  def packUpdates(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"),
        graft.operators.Mix.readerCol(col("doc_id")).as("reader"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("doc_tokens"))
      .as[(String, Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (String, Int, Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((source, reader), rows, state) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._3).map { case (_, _, id, nt) =>
            val start = cum
            cum += nt
            (source, reader, id, nt, start, cum - 1)
          }
          state.update(cum)
          out.iterator
      }
      .toDF("source", "reader", "doc_id", "doc_tokens",
        "tok_start", "tok_end")
  }

  /** Drive a finite streaming aggregation into an in-memory table and return
    * its final contents (test/demo harness: AvailableNow over the parquet
    * files, complete output mode). */
  def runToMemory(
      agg: DataFrame,
      name: String,
      mode: String = "complete",
      statePartitions: Int = 8,
      noDataBatch: Boolean = true): DataFrame = {
    // State partition count is captured at query START from
    // spark.sql.shuffle.partitions and sizes the state-store file fan-out
    // (a stream-stream join keeps 4 stores per partition, each snapshotting
    // per batch). A real deployment sizes it to stream volume per job; the
    // session's 32 batch partitions cost ~4× the snapshot I/O these small
    // bounded gates need, so set it for the query and restore after.
    val spark = agg.sparkSession
    // AvailableNow appends a final NO-DATA micro-batch after the data
    // batches: it advances the watermark and runs state eviction/final
    // emission. Stateful APPEND-mode aggregations need it to emit closed
    // windows — but a bounded INNER stream-stream join's output is already
    // complete after the data batches, and for a run-to-completion gate the
    // eviction pass is pure machinery (measured ~40% of q40s's trigger
    // time: the symmetricHashJoin's 4 stores × 8 partitions each pay
    // removal + commit for ZERO output rows). Callers whose semantics
    // can't be affected (inner joins) pass noDataBatch = false; the
    // oracle gate would catch any emission loss.
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    // A query snapshots the session conf at start() (it runs on a session
    // clone). The lock keeps concurrent callers from restoring each other's
    // overrides into the shared session.
    val q = confLock.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = spark.conf.get(noDataKey)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      if (!noDataBatch) spark.conf.set(noDataKey, "false")
      try agg.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(noDataKey, prevNoData)
      }
    }
    q.awaitTermination()
    agg.sparkSession.table(name)
  }

  private val confLock = new Object
}
