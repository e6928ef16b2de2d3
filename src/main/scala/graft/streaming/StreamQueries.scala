package graft.streaming

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Streaming twins of the windowed queries as DRIVER-CHECKED entries: each
  * build runs a real Structured Streaming query (file source → watermarked
  * stateful aggregation → memory sink, AvailableNow) to completion and
  * returns the final table, which the DuckDB oracle then hash-checks
  * against the same SQL as the batch form. This puts the streaming engine
  * itself — state store, watermarking, micro-batch planning — inside the
  * correctness gate, not just inside specs.
  *
  * A finite AvailableNow run over the same input must equal the batch
  * aggregation (bounded-input equivalence); the MemoryStream specs in
  * StreamsSpec pin the trigger-by-trigger semantics the oracle can't see.
  */
object StreamQueries {

  private def unique(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q26s_tumbling_stream",
      covers = "Q26 D4 S3 streaming",
      oracle = Some("""
        SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type, count(*) AS n
        FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.tumblingCounts(Streams.eventsStream(s, d)),
          unique("q26s"))
          .orderBy("wstart", "event_type")),

    // Sliding 10/5-minute windows in streaming mode — completes the q26-q28
    // window family's streaming twins (SURVEY §2.9). Each event lands in two
    // overlapping windows; the oracle materializes both bucket starts.
    QueryDef(
      "q27s_sliding_stream",
      covers = "Q27 D4 streaming",
      oracle = Some("""
        SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS wstart, count(*) AS n FROM (
          SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                         time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS s
          FROM events)
        GROUP BY wstart ORDER BY wstart"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.slidingCounts(Streams.eventsStream(s, d)),
          unique("q27s"))
          .orderBy("wstart")),

    // Streaming exact dedup over the documents feed: first-seen content
    // hashes, cross-batch state. A finite run emits exactly the distinct
    // hash set, so the batch DISTINCT is the oracle; the cross-batch
    // "second arrival is NOT re-emitted" behavior is MemoryStream-pinned
    // in StreamsSpec.
    QueryDef(
      "d10s_stream_dedup",
      covers = "X1 X5 streaming",
      oracle = Some("""
        SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.dedupStream(Streams.documentsStream(s, d)),
          unique("d10s"), mode = "append")
          .orderBy("h")),

    // Stream-static enrichment: every micro-batch joins the broadcast
    // customer dim before the stateful window — the bounded-input run must
    // equal the batch join+group, which the oracle checks.
    QueryDef(
      "q39s_stream_enrich",
      covers = "J1 Q26 streaming north-star",
      oracle = Some("""
        SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               c_mktsegment AS segment, count(*) AS n
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY wstart, segment ORDER BY wstart, segment"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.enrichedSegmentCounts(
            Streams.eventsStream(s, d),
            graft.Tables.customer(s, d)
              .select(col("c_custkey").as("user_id"),
                col("c_mktsegment").as("segment"))),
          unique("q39s"))
          .orderBy("wstart", "segment")),

    // Stream-static AS-OF enrichment: q38's temporal join at ingest — the
    // click stream probes a broadcast per-user sorted view-history index
    // row-locally (array_max over the filtered history; struct order =
    // (ts, id), giving the batch operator's exact tie semantics). No
    // state, no stream shuffle; bounded run == the batch as-of join,
    // which q38's oracle SQL checks.
    QueryDef(
      "q38s_stream_asof",
      covers = "engine-complete (as-of join) D9 streaming",
      oracle = Some("""
        WITH u AS (
          SELECT user_id, ts, 0 AS side, NULL::BIGINT AS click_id,
                 struct_pack(ts := ts, id := event_id) AS v
          FROM events WHERE event_type = 'view'
          UNION ALL
          SELECT user_id, ts, 1 AS side, event_id AS click_id, NULL AS v
          FROM events WHERE event_type = 'click'),
        w AS (
          SELECT *, max(v) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, side, v.id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv
          FROM u)
        SELECT click_id, user_id, mv.id AS view_id
        FROM w WHERE side = 1
        ORDER BY click_id"""),
      build = (s, d) => {
        val idx = Streams.viewHistoryIndex(
          graft.Tables.events(s, d)
            .filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"), col("event_id")))
        val clicks = Streams.eventsStream(s, d)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        Streams.runToMemory(
          Streams.asofEnrichStream(clicks, idx),
          unique("q38s"), mode = "append")
          .select("click_id", "user_id", "view_id")
          .orderBy("click_id")
      }),

    // Stream-stream interval join: watermarked state on BOTH sides, range
    // predicate bounding eviction — the last stateful-join surface. Two
    // independent file-source streams over the same feed.
    QueryDef(
      "q40s_stream_interval_join",
      covers = "J1 D4 streaming north-star",
      oracle = Some("""
        SELECT a.user_id,
               strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS buy_ts
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        ORDER BY a.user_id, click_ts, buy_ts"""),
      build = (s, d) =>
        // noDataBatch=false: an INNER stream-stream join emits every match
        // in the data batch; the trailing watermark-eviction batch spends
        // ~40% of the trigger time on zero output (see runToMemory).
        Streams.runToMemory(
          Streams.clickPurchaseJoin(Streams.eventsStream(s, d)),
          unique("q40s"), mode = "append", noDataBatch = false)
          .orderBy("user_id", "click_ts", "buy_ts")),

    // Streaming decontamination gate: the d11 check applied at ingest —
    // every arriving doc's 5-grams probe the broadcast eval index; flagged
    // docs emit once (cross-batch dedup state). Bounded-input run ==
    // d11's contaminated-id set, which the oracle checks.
    QueryDef(
      "q41s_stream_decontaminate",
      covers = "X5 F6 streaming north-star",
      oracle = Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, source,
                     unnest(list_distinct(list_transform(range(1, len(t)-3),
                       i -> array_to_string(t[i:i+4], ' ')))) AS gram
              FROM toks WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
        SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        WHERE g.source <> 'src0' ORDER BY doc_id"""),
      build = (s, d) => {
        import graft.functions.HashKernels
        val evalGrams = graft.Tables.documents(s, d)
          .filter(col("source") === "src0")
          .select(explode(HashKernels.ngramsCol(col("text"), 5)).as("gram"))
          .distinct()
        Streams.runToMemory(
          Streams.decontaminateStream(
            Streams.documentsStream(s, d).filter(col("source") =!= "src0"),
            evalGrams),
          unique("q41s"), mode = "append")
          .orderBy("doc_id")
      }),

    // Streaming signature-index maintenance: every arriving doc's full
    // 8-hash MinHash signature computes row-locally (the same codegen
    // kernel d03/d06/d08 share) and appends to the index — at 100 TB the
    // signature index next to the corpus is MAINTAINED at ingest, never
    // recomputed; the batch sigFrame is the bootstrap, this is the steady
    // state. Stateless map stream (pure append), so the bounded run must
    // equal the batch signature pass, which the oracle checks (signature
    // compared via md5 of its joined form to keep rows narrow).
    QueryDef(
      "d14s_stream_sig_index",
      covers = "X5 S9 streaming north-star",
      oracle = Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, len(t)-1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
               FROM toks WHERE len(t) >= 3),
        mh AS (SELECT doc_id,
                      list_transform(range(0, 8), h ->
                        list_min(list_transform(shingles,
                          s -> md5(h::VARCHAR || '|' || s)))) AS sig
               FROM sh)
        SELECT doc_id, md5(array_to_string(sig, ',')) AS sig_md5
        FROM mh ORDER BY doc_id"""),
      build = (s, d) => {
        import graft.functions.HashKernels
        val stream = Streams.documentsStream(s, d)
          .select(col("doc_id"),
            HashKernels.minhashSigCol(col("text")).as("sig"))
          .filter(col("sig").isNotNull)
          .select(col("doc_id"),
            md5(concat_ws(",", col("sig")).cast("binary")).as("sig_md5"))
        Streams.runToMemory(stream, unique("d14s"), mode = "append")
          .orderBy("doc_id")
      }),

    // Streaming perceptual-hash index maintenance — the MULTIMODAL face of
    // d14s: every arriving image decodes and dHashes partition-locally
    // (one decode per payload, where the bytes are) and appends to the
    // media fingerprint index; at 100 TB this index is maintained at
    // ingest and m03's banding dedup consumes it, never re-decoding the
    // lake. Stateless map stream (pure append), so the bounded run must
    // equal the batch hash pass — which the ALREADY-COMMITTED m03 fixture
    // pins (a cross-artifact check: stream index == batch decode, not a
    // fresh self-pin).
    QueryDef(
      "m06s_stream_phash_index",
      covers = "X5 D9 streaming north-star multimodal",
      oracle = Some("""
        -- the (media_id, dhash) columns of the batch m03 fixture pin
        SELECT media_id, dhash
        FROM read_parquet('/root/repo/fixtures/m03_image_phash_dedup.parquet')
        ORDER BY media_id"""),
      build = (s, d) => {
        import s.implicits._
        val stream = Streams.documentsStream(s, d)
          .select(col("doc_id")).as[Long]
          .filter(_ % 3 == 0) // the image rows of the media lake stand-in
          .mapPartitions(_.map(id =>
            (id, graft.operators.Multimodal.imagePhashFor(id))))
          .toDF("media_id", "dhash")
        Streams.runToMemory(stream, unique("m06s"), mode = "append")
          .orderBy("media_id")
      }),

    // Streaming ANN bucket-index maintenance — the EMBEDDING face of d14s
    // (MinHash) and m06s (phash): every arriving vector computes its L=4
    // LSH table buckets in the ONE codegen plane pass s02 uses and appends
    // (vec_id, tbl, bucket) to the index. At 100 TB the ANN index is
    // maintained at ingest and the s02/s03 query path probes it, never
    // re-projecting the corpus. Stateless append; bounded-input run ==
    // s02's bucket CTE, which the oracle rebuilds plane-by-plane.
    QueryDef(
      "s11s_stream_ann_index",
      covers = "X5 D9 streaming north-star ANN",
      oracle = Some("""
        WITH e AS (SELECT vec_id, embedding::FLOAT[]::DOUBLE[] AS v FROM embeddings),
        d AS (SELECT len(v) AS dims FROM e LIMIT 1),
        pl AS (SELECT p.p AS p,
                 list_transform(range(0, (SELECT dims FROM d)), i ->
                   ((('0x' || substr(md5(p.p::VARCHAR || '_' || i::VARCHAR),1,8))::UBIGINT
                     % 2000) / 1000.0 - 1.0)) AS w
               FROM range(0, 16) p(p)),
        signs AS (SELECT e.vec_id, pl.p,
                    CASE WHEN list_dot_product(e.v, pl.w) > 0 THEN 1 ELSE 0 END AS bit
                  FROM e, pl),
        buck AS (SELECT vec_id, CAST(p // 4 AS INT) AS tbl,
                        CAST(sum(bit << (p % 4)) AS INT) AS bucket
                 FROM signs GROUP BY vec_id, p // 4)
        SELECT vec_id, tbl, bucket FROM buck ORDER BY vec_id, tbl"""),
      build = (s, d) => {
        val dims = graft.operators.Similarity.dimsOf(s, d)
        val stream = Streams.embeddingsStream(s, d)
          .select(col("vec_id"),
            posexplode(graft.functions.LshFunctions.buckets(
              s, col("embedding"), 4, 4, dims)).as(Seq("tbl", "bucket")))
        Streams.runToMemory(stream, unique("s11s"), mode = "append")
          .orderBy("vec_id", "tbl")
      }),

    // Streaming token accounting — the reference's A11 token ledger kept at
    // INGEST: every arriving document tokenizes scan-side with the trained
    // BPE rank table (broadcast; the same codegen kernel as t12, applied
    // word-wise inside array HOFs so the stream never explodes words into
    // rows), and a running (n_docs, total_tokens) aggregate per source is
    // maintained in the state store — the budget/billing monitor a 100 TB
    // feed keeps, state = one row per source. Oracle: the per-source
    // aggregate of the COMMITTED t12 fixture joined to documents — a
    // cross-artifact check tying the stream ledger to the batch tokenizer.
    QueryDef(
      "t13s_stream_token_monitor",
      covers = "A11 T11 D9 streaming north-star",
      oracle = Some("""
        SELECT d.source, count(*) AS n_docs,
               CAST(sum(f.n_bpe) AS BIGINT) AS total_tokens
        FROM read_parquet('/root/repo/fixtures/t12_bpe_apply.parquet') f
        JOIN documents d ON f.doc_id = d.doc_id
        GROUP BY d.source ORDER BY d.source"""),
      build = (s, d) => {
        val ranks = graft.operators.Tokenize.trainMerges(s, d).zipWithIndex
          .map { case ((l, r, _), i) => (l, r) -> i }.toMap
        val bc = s.sparkContext.broadcast(ranks)
        val perDoc = Streams.documentsStream(s, d)
          .select(col("source"),
            aggregate(
              transform(
                filter(split(lower(col("text")), " "),
                  w => length(w) > lit(0)),
                w => size(graft.functions.Bpe.tokenizeCol(w, bc))
                  .cast("long")),
              lit(0L), (acc, x) => acc + x).as("n_bpe"))
        Streams.runToMemory(
          perDoc.groupBy("source")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_bpe")).cast("long").as("total_tokens")),
          unique("t13s"))
          .orderBy("source")
      }),

    // Ingestion-time LM quality gate: t14-shaped scoring applied to the
    // arriving document feed by the codegen'd row-local kernel over the
    // BROADCAST bigram LM — one row in, one row out, no exchange, no
    // state. The broadcast model is PRUNED to the top-K n-grams by count
    // (TextAnalysis.LmTopUni/LmTopBg — the driver-memory bound; see
    // lmModelBroadcast's scaladoc), and the oracle's CTEs apply the SAME
    // cap with the same (count DESC, token ASC) tie-break, so the pruned
    // arithmetic — including the capped smoothing V — is hash-checked end
    // to end. The shuffle-free plan shape is spec-pinned.
    QueryDef(
      "t14s_stream_lm_gate",
      covers = "F6 T17 D9 streaming north-star",
      oracle = Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                      FROM documents),
        uni AS (SELECT w, cw FROM (
                  SELECT w, CAST(count(*) AS BIGINT) AS cw
                  FROM (SELECT unnest(t) AS w FROM toks WHERE source = 'src0')
                  GROUP BY w ORDER BY cw DESC, w LIMIT 24)),
        v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        lm_bg AS (SELECT bg, cbg FROM (
                  SELECT bg, CAST(count(*) AS BIGINT) AS cbg
                  FROM (SELECT t[i] || ' ' || t[i+1] AS bg
                        FROM toks, unnest(range(1, len(t))) AS u(i)
                        WHERE source = 'src0')
                  GROUP BY bg ORDER BY cbg DESC, bg LIMIT 512)),
        corpus AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bg
                   FROM toks, unnest(range(1, len(t))) AS u(i)
                   WHERE source <> 'src0'),
        scored AS (SELECT c.doc_id,
                     ((COALESCE(u.cw, 0) + v.v) * 1000)
                       // (COALESCE(b.cbg, 0) + 1) AS ipb
                   FROM corpus c
                   LEFT JOIN uni u ON u.w = c.w1
                   LEFT JOIN lm_bg b ON b.bg = c.bg
                   CROSS JOIN v)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(ipb) AS BIGINT) // count(*) AS score_milli
        FROM scored GROUP BY doc_id ORDER BY doc_id"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.lmGateStream(
            Streams.documentsStream(s, d),
            graft.operators.TextAnalysis.lmModelBroadcast(s, d)),
          unique("t14s"), mode = "append")
          .orderBy("doc_id")),

    // Ingestion-time PII gate: t15's injection + detection + redaction
    // kernel (the shared TextAnalysis.piiScrubbed projection, so the
    // faces cannot drift) applied to the arriving document feed — one
    // row in, one per-doc decision row out (pii count + redacted-content
    // hash), no exchange, no state: the t13s/t14s stateless-gate
    // posture. At 100 TB this is where redaction RUNS — documents are
    // scrubbed when first ingested, never by rescanning the corpus.
    // Bounded-input run == the batch projection, so the per-doc twin is
    // DuckDB-hash-checked like the t15 audit.
    QueryDef(
      "t15s_stream_pii_gate",
      covers = "F6 T8 D9 streaming north-star (PII ingest gate)",
      oracle = Some("""
        WITH inj AS (
          SELECT doc_id, text
            || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
                 || doc_id::VARCHAR || '@example.com' ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
                 || lpad(((doc_id * 37) % 10000)::VARCHAR, 4, '0') ELSE '' END
            || CASE WHEN doc_id % 13 = 0 THEN ' from 10.'
                 || (doc_id % 256)::VARCHAR || '.'
                 || ((doc_id * 7) % 256)::VARCHAR || '.'
                 || ((doc_id * 13) % 256)::VARCHAR ELSE '' END AS t
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+'))
                 + len(regexp_extract_all(t, '555-[0-9]{4}'))
                 + len(regexp_extract_all(t,
                     '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
                 AS BIGINT) AS n_pii,
               ('0x' || substr(md5(
                 regexp_replace(regexp_replace(regexp_replace(t,
                   '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
                   '555-[0-9]{4}', '<PHONE>', 'g'),
                   '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')),
                 1, 15))::BIGINT AS red_hash
        FROM inj ORDER BY doc_id"""),
      build = (s, d) =>
        Streams.runToMemory(
          graft.operators.TextAnalysis
            .piiScrubbed(Streams.documentsStream(s, d))
            .select(col("doc_id"),
              (col("ne") + col("np") + col("ni")).cast("long").as("n_pii"),
              expr("CAST(conv(substring(md5(red), 1, 15), 16, 10) AS BIGINT)")
                .as("red_hash")),
          unique("t15s"), mode = "append")
          .orderBy("doc_id")),

    // Ingest-time sequence packing: x06's per-(source, reader) token
    // cursor maintained as flatMapGroupsWithState (one long of state per
    // reader stream); every doc's slice is assigned exactly once on
    // arrival. Bounded-input run == the batch cumulative window, so x06's
    // oracle checks it; the cross-batch cursor persistence is
    // MemoryStream-pinned in StreamsSpec.
    QueryDef(
      "x06s_stream_pack",
      covers = "W7 W8 D9 streaming mix north-star",
      oracle = Some("""
        SELECT source, reader, doc_id, doc_tokens,
               (tok_start // 256) AS start_seq, (tok_start % 256) AS start_off,
               (tok_end // 256)   AS end_seq,   (tok_end % 256)   AS end_off
        FROM (
          SELECT source, reader, doc_id, doc_tokens,
                 CAST(sum(doc_tokens) OVER (PARTITION BY source, reader
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - doc_tokens AS BIGINT) AS tok_start,
                 CAST(sum(doc_tokens) OVER (PARTITION BY source, reader
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1 AS BIGINT) AS tok_end
          FROM (SELECT source, doc_id,
                       CAST(('0x' || substr(md5('p|' || doc_id::VARCHAR),
                         1, 8))::UBIGINT % 8 AS INT) AS reader,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                         AS doc_tokens
                FROM documents))
        ORDER BY source, reader, doc_id"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.packUpdates(Streams.documentsStream(s, d)),
          unique("x06s"), mode = "update")
          .select(col("source"), col("reader"), col("doc_id"),
            col("doc_tokens"),
            expr("tok_start div 256").as("start_seq"),
            (col("tok_start") % 256).as("start_off"),
            expr("tok_end div 256").as("end_seq"),
            (col("tok_end") % 256).as("end_off"))
          .orderBy("source", "reader", "doc_id")),

    QueryDef(
      "q28s_session_stream",
      covers = "Q28 D11 streaming",
      oracle = Some("""
        WITH e AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM e)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n
        FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.sessionCounts(Streams.eventsStream(s, d)),
          unique("q28s"))
          .orderBy("user_id", "session_start")),

    // Streaming count-min-sketch maintenance (q44's state at ingest): the
    // ≤3×512 integer counters are a running aggregate merged by addition
    // each micro-batch — after a bounded run the state IS the batch
    // sketch, which the oracle checks counter by counter. At scale this
    // is the heavy-hitter monitor a firehose keeps without per-key state.
    QueryDef(
      "q44s_stream_cms",
      covers = "D9 A7 streaming north-star",
      oracle = Some("""
        WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
                   FROM documents),
        r AS (SELECT * FROM (VALUES (0), (1), (2)) t(j)),
        wb AS (SELECT j, ('0x' || substr(md5('cms|' || tok),
                         1 + 8 * j, 8))::BIGINT % 512 AS bucket
               FROM w, r)
        SELECT j, bucket, count(*) AS cnt FROM wb
        GROUP BY j, bucket ORDER BY j, bucket"""),
      build = (s, d) =>
        Streams.runToMemory(
          Streams.cmsCounts(Streams.documentsStream(s, d)),
          unique("q44s"))
          .orderBy("j", "bucket")),

    // Streaming histogram-sketch maintenance (q43's state at ingest): the
    // bucket-count vector is a running integer aggregate, merged into the
    // state store by addition each micro-batch. The sketch domain [lo, hi]
    // is read once from the batch table — the deploy-time configuration a
    // real stream job would carry (a stream cannot learn global min/max
    // online) — via a bounded 1-row aggregate, same posture as the IVF
    // centroids. Bounded run == batch sketch, which the oracle checks.
    QueryDef(
      "q43s_stream_histogram",
      covers = "D9 A7 streaming north-star",
      oracle = Some("""
        WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        b AS (SELECT min(value) AS lo, max(value) AS hi FROM v)
        SELECT least(255, greatest(0,
                 CAST(floor((value - lo) /
                   (CASE WHEN hi > lo THEN hi - lo ELSE 1 END) * 256)
                   AS BIGINT)))
                 AS bucket,
               count(*) AS cnt
        FROM v, b GROUP BY bucket ORDER BY bucket"""),
      build = (s, d) => {
        // deploy-time scalar config; memoized eager read (see its scaladoc)
        val (lo, hi) = graft.operators.Sketches.eventBoundsScalar(s, d)
        Streams.runToMemory(
          Streams.histogramCounts(Streams.eventsStream(s, d), lo, hi),
          unique("q43s"))
          .orderBy("bucket")
      }),

    // Streaming per-key histogram maintenance (q47's state at ingest): the
    // keyed face of q43s — one integer bucket vector per event_type on the
    // shared deploy-time grid, merged into the state store by addition each
    // micro-batch. State is |keys|×256 integer rows regardless of volume;
    // a bounded run equals the batch per-key sketch (oracle-checked).
    QueryDef(
      "q47s_stream_keyed_histogram",
      covers = "D9 A7 streaming north-star (per-key monitor)",
      oracle = Some("""
        WITH v AS (SELECT event_type, value FROM events
                   WHERE value IS NOT NULL),
        b AS (SELECT min(value) AS lo, max(value) AS hi FROM v)
        SELECT event_type,
               least(255, greatest(0,
                 CAST(floor((value - lo) /
                   (CASE WHEN hi > lo THEN hi - lo ELSE 1 END) * 256)
                   AS BIGINT)))
                 AS bucket,
               count(*) AS cnt
        FROM v, b GROUP BY event_type, bucket
        ORDER BY event_type, bucket"""),
      build = (s, d) => {
        // deploy-time scalar config; memoized eager read (see its scaladoc)
        val (lo, hi) = graft.operators.Sketches.eventBoundsScalar(s, d)
        Streams.runToMemory(
          Streams.keyedHistogramCounts(Streams.eventsStream(s, d), lo, hi),
          unique("q47s"))
          .orderBy("event_type", "bucket")
      }),

    // Streaming KMV-distinct maintenance (q45's state at ingest): per group
    // the state is the ≤k smallest distinct 60-bit hashes — a mergeable
    // sketch like the histogram/CMS twins, but its merge is "k smallest of
    // the union", which no built-in streaming aggregate expresses: this is
    // the flatMapGroupsWithState face of the family. Updates emit per
    // trigger with a per-group version; a bounded run's FINAL state (max
    // version per group — the final-state emission pattern the memory sink
    // lacks natively) must equal the batch sketch, which the oracle checks.
    QueryDef(
      "q45s_stream_kmv",
      covers = "D9 A7 streaming north-star",
      oracle = Some("""
        WITH dh AS (SELECT DISTINCT o_orderpriority AS prio,
                      ('0x' || substr(md5('kmv|' || o_custkey::VARCHAR),
                        1, 15))::BIGINT AS h
                    FROM orders),
        rk AS (SELECT prio, h,
                      row_number() OVER (PARTITION BY prio ORDER BY h) AS rk
               FROM dh)
        SELECT prio, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
               round(63 * 1152921504606846976.0 / max(h), 6) AS est
        FROM rk WHERE rk <= 64 GROUP BY prio ORDER BY prio"""),
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val stream = Streams.ordersStream(s, d)
          .select(col("o_orderpriority").as("prio"),
            graft.operators.Sketches.kmvHash(col("o_custkey")).as("h"))
        val updates = Streams.runToMemory(
          Streams.kmvUpdates(stream), unique("q45s"), mode = "update")
        // final sketch per group = the last (highest-version) emission;
        // the window sees ≤ triggers rows per group, never the hash set
        updates
          .withColumn("rn", row_number().over(
            Window.partitionBy("prio").orderBy(col("ver").desc)))
          .filter(col("rn") === 1)
          .select(col("prio"), col("n_kept"), col("hk"),
            round(lit(63) * lit(1152921504606846976.0) / col("hk"), 6)
              .as("est"))
          .orderBy("prio")
      }),

    // Streaming KMV SET ALGEBRA: the q46 measurement over sketches that
    // were MAINTAINED at ingest rather than built in batch — the final
    // per-group minima sets (same flatMapGroupsWithState state as q45s)
    // feed the theta set-ops directly, so corpus overlap / contamination
    // rates come out of a monitor that never re-reads the corpus. The
    // exact-count columns of batch q46 are deliberately absent: they are
    // the thing a bounded-state stream job CANNOT maintain; the sketch
    // columns are what it keeps. Bounded run == batch sketch algebra,
    // which the oracle checks.
    QueryDef(
      "q46s_stream_kmv_setops",
      covers = "D9 A7 Q19 streaming north-star",
      oracle = Some("""
        WITH dh AS (SELECT DISTINCT o_orderpriority AS prio,
                      ('0x' || substr(md5('kmv|' || o_custkey::VARCHAR),
                        1, 15))::BIGINT AS h
                    FROM orders),
        rk AS (SELECT prio, h,
                      row_number() OVER (PARTITION BY prio ORDER BY h) AS rk
               FROM dh),
        sk AS (SELECT prio, h FROM rk WHERE rk <= 64),
        pr AS (SELECT a.prio AS pa, b.prio AS pb
               FROM (SELECT DISTINCT prio FROM sk) a
               JOIN (SELECT DISTINCT prio FROM sk) b ON a.prio < b.prio),
        u AS (SELECT pr.pa, pr.pb, s.h,
                     CASE WHEN s.prio = pr.pa THEN 1 ELSE 0 END AS ina,
                     CASE WHEN s.prio = pr.pb THEN 1 ELSE 0 END AS inb
              FROM pr JOIN sk s ON s.prio IN (pr.pa, pr.pb)),
        ud AS (SELECT pa, pb, h, max(ina) AS in_a, max(inb) AS in_b
               FROM u GROUP BY pa, pb, h),
        ur AS (SELECT pa, pb, h, in_a, in_b,
                      row_number() OVER (PARTITION BY pa, pb ORDER BY h) AS rk
               FROM ud),
        th AS (SELECT pa, pb, h AS hk FROM ur WHERE rk = 64),
        sh AS (SELECT pa, pb,
                      CAST(sum(CASE WHEN in_a = 1 AND in_b = 1
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
               FROM ur WHERE rk <= 64 GROUP BY pa, pb)
        SELECT th.pa, th.pb, sh.n_shared,
               round(63 * 1152921504606846976.0 / th.hk, 6) AS est_union,
               round(sh.n_shared * (63 * 1152921504606846976.0 / th.hk)
                     / 64, 6) AS est_inter
        FROM th JOIN sh USING (pa, pb)
        ORDER BY th.pa, th.pb"""),
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val stream = Streams.ordersStream(s, d)
          .select(col("o_orderpriority").as("prio"),
            graft.operators.Sketches.kmvHash(col("o_custkey")).as("h"))
        val updates = Streams.runToMemory(
          Streams.kmvUpdates(stream), unique("q46s"), mode = "update")
        val finalSk = updates
          .withColumn("rn", row_number().over(
            Window.partitionBy("prio").orderBy(col("ver").desc)))
          .filter(col("rn") === 1)
          .select(col("prio"), explode(col("minima")).as("h"))
        graft.operators.Sketches.thetaSetOps(finalSk).orderBy("pa", "pb")
      }),

    // Streaming quota sampling (Mix x01's reservoir at ingest): per source
    // the state is the quota best A-Res entries seen so far — the
    // mix-family face of the bounded-state pattern (k-minima → weighted
    // reservoir). The ares key is computed by the SAME Spark expression as
    // batch x01, versioned update emissions, final state = max-version
    // row per source; a bounded run equals the batch sample, which the
    // (shared) x01 oracle checks.
    QueryDef(
      "x10s_stream_quota",
      covers = "W6 W5 D9 streaming mix north-star",
      oracle = Some("""
        SELECT source, rn, doc_id, n_chars FROM (
          SELECT source, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY
                   pow(((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                       1.0 / n_chars) DESC, doc_id) AS rn
          FROM documents)
        WHERE rn <= 10 ORDER BY source, rn"""),
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val u = (col("doc_id") * lit(2654435761L)) % lit(4294967296L) /
          lit(4294967296.0)
        val stream = Streams.documentsStream(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"),
            pow(u, lit(1.0) / col("n_chars")).as("ares"))
        val updates = Streams.runToMemory(
          Streams.quotaUpdates(stream), unique("x10s"), mode = "update")
        updates
          .withColumn("rk", row_number().over(
            Window.partitionBy("source").orderBy(col("ver").desc)))
          .filter(col("rk") === 1)
          .select(col("source"), posexplode(col("entries")))
          .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
            col("col._2").as("doc_id"), col("col._3").as("n_chars"))
          .orderBy("source", "rn")
      })
  )
}
