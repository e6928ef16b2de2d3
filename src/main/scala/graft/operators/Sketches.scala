package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable summary sketches — the DataSketches-shaped operators a 100 TB
  * profiler runs instead of exact aggregation when the answer only needs to
  * be approximately right but must come from ONE pass:
  *
  *   - an equi-width histogram quantile sketch (q43 + streaming twin q43s):
  *     the sketch state is an integer vector of bucket counts, so merging
  *     partial sketches is commutative integer addition — safe across
  *     partitions, micro-batches and engines (no float-summation-order
  *     hazard), which is what makes it oracle-checkable at all;
  *   - a count-min sketch for heavy hitters (q44): d×w integer counters,
  *     same merge-by-addition property, with the classic one-sided error
  *     (estimate ≥ true count — spec-pinned).
  *
  * Both stand in for the reference's monitor/statistics surface
  * (/root/reference/LLMxMapReduce_V2/src/async_d/monitor.py — counts only)
  * at the scale where exact per-key state no longer fits: the sketch is the
  * thing you CAN keep per executor and OR together at the end.
  *
  * Scale shape: one scan of the base table, a groupBy on a key space that is
  * CONSTANT-bounded (256 buckets; 3×512 counters) with map-side partial
  * aggregation, so the shuffle moves at most `buckets` rows per partition
  * regardless of input size. Quantile extraction then works on ≤256 rows via
  * a broadcast pair-count (house rule: never an unpartitioned window).
  */
object Sketches {

  val HistBuckets = 256
  private val CmsDepth  = 3
  private val CmsWidth  = 512

  /** Bucket id for `value` on the fixed [lo, hi] grid — the arithmetic is
    * mirrored EXACTLY (association order included) in the DuckDB oracles:
    * least(255, greatest(0, floor((value - lo) / span * 256))) where
    * span = CASE WHEN hi > lo THEN hi - lo ELSE 1 END. The guard keeps a
    * degenerate domain (all values equal → hi == lo) in bucket 0 in BOTH
    * engines — Spark's null-on-divide-by-zero would otherwise flow through
    * greatest/least while DuckDB's float division yields inf/NaN. */
  private def bucketCol(value: Column, lo: Column, hi: Column): Column =
    least(lit(HistBuckets - 1L), greatest(lit(0L),
      floor((value - lo) / when(hi > lo, hi - lo).otherwise(lit(1.0))
        * HistBuckets))).cast("long")

  /** The [lo, hi] sketch domain of events.value — a 1-row aggregate, memoized
    * so downstream consumers (q43's interpolation, the histogram itself)
    * never rescan events for it. */
  private[graft] def eventBounds(s: SparkSession, d: String): DataFrame =
    ResultMemo.materialized("event_bounds", s, d) {
      Tables.events(s, d).select(col("value"))
        .filter(col("value").isNotNull)
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    }

  /** The [lo, hi] domain as a DRIVER-SIDE scalar pair — the deploy-time
    * configuration a streaming sketch job carries (a stream cannot learn
    * global min/max online), so q43s/q47s need it to CONSTRUCT their plans.
    * That makes this an intentional eager action inside a query constructor
    * (one 1-row job over the memoized bounds frame) — the ONLY such action
    * in the registry, documented here so no future caller mistakes it for a
    * lazy plan piece or re-triggers it per micro-batch: the row is memoized
    * per (session, sf dir), so repeated plan constructions pay nothing.
    * Throws if events.value has no non-null rows (no domain to fix). */
  @volatile private var boundsRowCache: Map[(Int, String), (Double, Double)] =
    Map.empty
  private[graft] def eventBoundsScalar(
      s: SparkSession, d: String): (Double, Double) = {
    val key = (System.identityHashCode(s), d)
    boundsRowCache.getOrElse(key, {
      val r = eventBounds(s, d).head()
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"events.value in $d has no non-null rows — " +
          "cannot fix the sketch domain [lo, hi]")
      val lohi = (r.getDouble(0), r.getDouble(1))
      synchronized { boundsRowCache += (key -> lohi) }
      lohi
    })
  }

  /** The histogram sketch of events.value: ≤256 (bucket, cnt) rows. Bounds
    * ride a broadcast 1-row aggregate — no driver collect in the query path.
    * Memoized: q43 consumes this frame from several branches (ranks,
    * totals, cumulative counts), and a sketch is exactly the thing you
    * materialize once per corpus snapshot — without the memo the plan
    * re-scanned events per branch. */
  private[operators] def eventHistogram(s: SparkSession, d: String): DataFrame =
    ResultMemo.materialized("event_histogram", s, d) {
      val ev = Tables.events(s, d).select(col("value"))
        .filter(col("value").isNotNull)
      ev.crossJoin(broadcast(eventBounds(s, d)))
        .select(bucketCol(col("value"), col("lo"), col("hi")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    }

  /** CMS row hash: ONE md5 digest per token ("cms|" + tok, md5-derived so
    * DuckDB computes the identical bucket — same trick as Mix's epoch keys;
    * xxhash64 has no DuckDB twin). All three depth rows slice their bucket
    * coordinate from disjoint 8-hex-char windows of the same 32-char digest
    * (VERDICT r5 #2: the previous kernel paid 3 independent md5s + string
    * builds per token; the slices are independent bits of one digest, so the
    * error guarantee is unchanged). */
  private[graft] def cmsDigest(tok: Column): Column =
    md5(concat(lit("cms|"), tok))

  /** Explode one digest into its (j, bucket) coordinates, one per CMS row —
    * a constant ×3 fan-out of 16-byte pairs, not of the text. Callers
    * project [[cmsDigest]] into a column FIRST so the md5 computes once per
    * token (a Generate input isn't subexpression-eliminated). */
  private[graft] def cmsCoords(dg: Column): Column =
    explode(array((0 until CmsDepth).map(j =>
      struct(lit(j).as("j"),
        (conv(substring(dg, 1 + 8 * j, 8), 16, 10).cast("long") % CmsWidth)
          .as("bucket"))): _*))

  /** The count-min sketch of the token stream: ≤ d×w integer counters. */
  private[operators] def cmsSketch(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .select(cmsDigest(col("tok")).as("dg"))
      .select(cmsCoords(col("dg")).as("jb"))
      .select(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))

  /** CMS point-estimate for each row of `cand` (tok column): min over the
    * depth rows of the bucket counters the token hashes into. */
  private[operators] def cmsEstimate(cand: DataFrame, sk: DataFrame): DataFrame =
    cand
      .withColumn("dg", cmsDigest(col("tok")))
      .withColumn("jb", cmsCoords(col("dg")))
      .withColumn("j", col("jb.j"))
      .withColumn("bucket", col("jb.bucket"))
      .drop("dg", "jb")
      .join(broadcast(sk), Seq("j", "bucket"))
      .groupBy(cand.columns.map(col): _*)
      .agg(min(col("cnt")).cast("long").as("est"))

  /** KMV (k-minimum-values) distinct-count sketch state per group: the k
    * smallest md5-derived 60-bit hashes of the distinct keys. Mergeable —
    * the union's sketch is the k smallest of the sketches' union (spec'd).
    * Scale shape: ONE bounded aggregation (functions.KmvTopKAgg) — dedup
    * and k-pruning happen map-side inside the partial agg, so the exchange
    * carries ≤(8k+4)-byte states per (task, group) instead of the whole
    * distinct hash set, and no reducer ever ranks a group's full hash set.
    * posexplode of the sorted minima yields the 1-based rank. Output
    * (prio, h, rk). SCALE.md §"Round-14 (resumed session): the KMV sketch
    * rebuilt as a bounded aggregate" records the A/B against the distinct
    * + salted rank-window form it replaced. */
  private[operators] val KmvK = 64

  private[graft] def kmvHash(key: Column): Column =
    conv(substring(md5(concat(lit("kmv|"), key.cast("string"))), 1, 15),
      16, 10).cast("long")

  private[operators] def kmvSketch(
      keyed: DataFrame /* (prio, h) */): DataFrame = {
    // KmvTopKAgg skips NULL inputs; the filter pins that boundary in the
    // plan instead of leaving it to the aggregate's semantics. Every
    // declared caller feeds md5-derived non-null hashes, so it drops zero
    // rows today.
    keyed.filter(col("h").isNotNull)
      .groupBy("prio")
      .agg(graft.functions.KmvTopKAgg.kmvTopKCol(col("h"), KmvK).as("mins"))
      .select(col("prio"), posexplode(col("mins")).as(Seq("pos", "h")))
      .select(col("prio"), col("h"), (col("pos") + 1).as("rk"))
  }

  /** Theta-sketch set algebra over per-group KMV sketches (q46's sketch
    * half, shared with the streaming twin q46s): for every group pair,
    * union sketch = k smallest of the two sketches' union (θ = its k-th
    * minimum), intersection estimate = (shared minima below θ)/k of the
    * union estimate. Input is the sketch rows (prio, h), ≤k per group;
    * per-pair work is windowed over ≤2k rows. */
  private[graft] def thetaSetOps(sk: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prios = sk.select("prio").distinct()
    val pr = prios.select(col("prio").as("pa"))
      .join(prios.select(col("prio").as("pb")), col("pa") < col("pb"))
    val u = broadcast(pr).join(sk,
        col("prio") === col("pa") || col("prio") === col("pb"))
      .select(col("pa"), col("pb"), col("h"),
        when(col("prio") === col("pa"), 1).otherwise(0).as("ina"),
        when(col("prio") === col("pb"), 1).otherwise(0).as("inb"))
    // ONE pair-keyed exchange carries the whole chain (≤2k rows per pair
    // at any corpus size — sketches are k-capped): hash(pa, pb) satisfies
    // the dedup agg's (pa, pb, h) clustering, the rank window, and the
    // final per-pair agg. θ and the shared-minima count come out of that
    // single agg — within the top-k (ordered by h) the k-th minimum IS
    // max(h), so the old rk=K branch + join is a max() alongside the sum.
    val ud = u.repartition(col("pa"), col("pb"))
      .groupBy("pa", "pb", "h")
      .agg(max("ina").as("in_a"), max("inb").as("in_b"))
    val topk = ud.withColumn("rk", row_number().over(
        Window.partitionBy("pa", "pb").orderBy("h")))
      .filter(col("rk") <= KmvK)
    val estU = lit(63) * lit(1152921504606846976.0) / col("hk")
    topk.groupBy("pa", "pb")
      .agg(max(col("h")).as("hk"), count(lit(1)).as("n_in"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1)
          .otherwise(0)).cast("long").as("n_shared"))
      // pairs whose union never reaches k minima carried no rk=K row in
      // the old form (inner join against th) — same acceptance bar here
      .filter(col("n_in") === KmvK)
      .select(col("pa"), col("pb"), col("n_shared"),
        round(estU, 6).as("est_union"),
        round(col("n_shared") * estU / KmvK, 6).as("est_inter"))
  }

  def defs: Seq[QueryDef] = Seq(
    // Quantile estimation FROM the histogram sketch: rank targets are pure
    // integer arithmetic (ceil(n·pct/100) = (n·pct + 99) div 100 — no float
    // rank, so both engines land on the same bucket), and the answer
    // interpolates inside the one bucket whose cumulative range covers the
    // target. Cumulative counts come from a 256×256 broadcast pair-count.
    QueryDef(
      "q43_quantile_sketch",
      covers = "A7 Q31 D9 north-star",
      oracle = Some("""
        WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        b AS (SELECT min(value) AS lo, max(value) AS hi FROM v),
        h AS (SELECT least(255, greatest(0,
                       CAST(floor((value - lo) /
                         (CASE WHEN hi > lo THEN hi - lo ELSE 1 END) * 256)
                         AS BIGINT)))
                       AS bucket,
                     count(*) AS cnt
              FROM v, b GROUP BY bucket),
        c AS (SELECT h.bucket, h.cnt, CAST(sum(h2.cnt) AS BIGINT) AS cum
              FROM h JOIN h h2 ON h2.bucket <= h.bucket
              GROUP BY h.bucket, h.cnt),
        n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        q AS (SELECT * FROM (VALUES (25), (50), (75), (90), (99)) t(pct)),
        tr AS (SELECT q.pct, CAST((n.n * q.pct + 99) // 100 AS BIGINT)
                       AS target_rank
               FROM q, n)
        SELECT tr.pct, tr.target_rank, c.bucket,
               round(b.lo + (c.bucket +
                       (tr.target_rank - (c.cum - c.cnt)) * 1.0 / c.cnt)
                     * ((b.hi - b.lo) / 256), 6) AS est
        FROM tr, c, b
        WHERE tr.target_rank > c.cum - c.cnt AND tr.target_rank <= c.cum
        ORDER BY tr.pct"""),
      build = (s, d) => {
        import s.implicits._
        val hist = eventHistogram(s, d)
        val bounds = eventBounds(s, d)
        val h2 = hist.select(col("bucket").as("b2"), col("cnt").as("cnt2"))
        val cum = hist.join(broadcast(h2), col("b2") <= col("bucket"))
          .groupBy("bucket", "cnt")
          .agg(sum(col("cnt2")).cast("long").as("cum"))
        val n = hist.agg(sum(col("cnt")).cast("long").as("n"))
        val targets = Seq(25, 50, 75, 90, 99).toDF("pct")
          .crossJoin(broadcast(n))
          .select(col("pct"),
            expr("CAST((n * pct + 99) div 100 AS BIGINT)").as("target_rank"))
        targets
          .join(broadcast(cum),
            col("target_rank") > col("cum") - col("cnt") &&
              col("target_rank") <= col("cum"))
          .crossJoin(broadcast(bounds))
          .select(col("pct"), col("target_rank"), col("bucket"),
            round(col("lo") + (col("bucket") +
                (col("target_rank") - (col("cum") - col("cnt"))) * lit(1.0)
                  / col("cnt"))
              * ((col("hi") - col("lo")) / HistBuckets), 6).as("est"))
          .orderBy("pct")
      }),

    // Per-key quantile sketches — the production monitor shape: one
    // histogram per event_type on the SHARED deploy-time grid (the same
    // memoized [lo, hi] the global sketch and the stream job read), so
    // sketches of different keys — and of the same key across days — merge
    // by addition. Cumulative counts are an integer running sum over the
    // ≤256-row per-key partition (bounded window, never global); per-key
    // rank targets stay integer ((n·pct + 99) div 100). At 100 TB this is
    // |keys|×256 integer rows of state — constant per key regardless of
    // input volume.
    QueryDef(
      "q47_grouped_quantiles",
      covers = "A7 D9 Q31 north-star (per-key monitor)",
      oracle = Some("""
        WITH v AS (SELECT event_type, value FROM events
                   WHERE value IS NOT NULL),
        b AS (SELECT min(value) AS lo, max(value) AS hi FROM v),
        h AS (SELECT event_type,
                     least(255, greatest(0,
                       CAST(floor((value - lo) /
                         (CASE WHEN hi > lo THEN hi - lo ELSE 1 END) * 256)
                         AS BIGINT)))
                       AS bucket,
                     count(*) AS cnt
              FROM v, b GROUP BY event_type, bucket),
        c AS (SELECT event_type, bucket, cnt,
                     CAST(sum(cnt) OVER (PARTITION BY event_type
                       ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM h),
        n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM h
              GROUP BY event_type),
        q AS (SELECT * FROM (VALUES (50), (90), (99)) t(pct)),
        tr AS (SELECT n.event_type, q.pct,
                      CAST((n.n * q.pct + 99) // 100 AS BIGINT) AS target_rank
               FROM q, n)
        SELECT tr.event_type, tr.pct, tr.target_rank, c.bucket,
               round(b.lo + (c.bucket +
                       (tr.target_rank - (c.cum - c.cnt)) * 1.0 / c.cnt)
                     * ((b.hi - b.lo) / 256), 6) AS est
        FROM tr
        JOIN c ON c.event_type = tr.event_type
              AND tr.target_rank > c.cum - c.cnt AND tr.target_rank <= c.cum
        CROSS JOIN b
        ORDER BY tr.event_type, tr.pct"""),
      build = (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val bounds = eventBounds(s, d)
        val h = Tables.events(s, d)
          .filter(col("value").isNotNull)
          .crossJoin(broadcast(bounds))
          .select(col("event_type"),
            bucketCol(col("value"), col("lo"), col("hi")).as("bucket"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("cnt"))
        val cum = h.withColumn("cum",
          sum(col("cnt")).over(Window.partitionBy("event_type")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        val nk = h.groupBy("event_type").agg(sum(col("cnt")).cast("long").as("n"))
        val targets = nk.crossJoin(broadcast(Seq(50, 90, 99).toDF("pct")))
          .select(col("event_type"), col("pct"),
            expr("CAST((n * pct + 99) div 100 AS BIGINT)").as("target_rank"))
        targets
          .join(broadcast(cum.withColumnRenamed("event_type", "et2")),
            col("et2") === col("event_type") &&
              col("target_rank") > col("cum") - col("cnt") &&
              col("target_rank") <= col("cum"))
          .crossJoin(broadcast(bounds))
          .select(col("event_type"), col("pct"), col("target_rank"),
            col("bucket"),
            round(col("lo") + (col("bucket") +
                (col("target_rank") - (col("cum") - col("cnt"))) * lit(1.0)
                  / col("cnt"))
              * ((col("hi") - col("lo")) / HistBuckets), 6).as("est"))
          .orderBy("event_type", "pct")
      }),

    // Heavy hitters through the count-min sketch: the sketch answers "how
    // often did I see tok?" with guaranteed est ≥ tf. The output reports
    // the exact top-50 tokens (vocab frame) next to their CMS estimates and
    // the one-sided overcount — the accuracy surface a profiler monitors.
    QueryDef(
      "q44_heavy_hitters_cms",
      covers = "T11 W1 D9 north-star",
      oracle = Some("""
        WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
                   FROM documents),
        r AS (SELECT * FROM (VALUES (0), (1), (2)) t(j)),
        wb AS (SELECT j, ('0x' || substr(md5('cms|' || tok),
                         1 + 8 * j, 8))::BIGINT % 512 AS bucket
               FROM w, r),
        sk AS (SELECT j, bucket, count(*) AS cnt FROM wb GROUP BY j, bucket),
        v AS (SELECT tok, count(*) AS tf FROM w GROUP BY tok),
        cand AS (SELECT tok, tf FROM v ORDER BY tf DESC, tok LIMIT 50),
        cb AS (SELECT c.tok, c.tf, r.j,
                      ('0x' || substr(md5('cms|' || c.tok),
                        1 + 8 * r.j, 8))::BIGINT % 512 AS bucket
               FROM cand c, r)
        SELECT cb.tok, cb.tf, CAST(min(sk.cnt) AS BIGINT) AS est,
               CAST(min(sk.cnt) - cb.tf AS BIGINT) AS overcount
        FROM cb JOIN sk USING (j, bucket)
        GROUP BY cb.tok, cb.tf
        ORDER BY cb.tf DESC, cb.tok"""),
      build = (s, d) => {
        val sk = cmsSketch(s, d)
        val cand = TextAnalysis.vocabFrame(s, d).select("tok", "tf")
          .orderBy(col("tf").desc, col("tok")).limit(50)
        cmsEstimate(cand, sk)
          .select(col("tok"), col("tf"), col("est"),
            (col("est") - col("tf")).cast("long").as("overcount"))
          .orderBy(col("tf").desc, col("tok"))
      }),

    // Distinct-count estimation from the KMV sketch: est = (k-1)/u_k where
    // u_k is the k-th smallest hash normalized to (0,1) — here written as
    // (k-1)·2^60/h_k since the hashes are 60-bit integers. The exact
    // distinct count rides alongside as the accuracy surface. At 100 TB the
    // exact column is the one you can no longer afford — the sketch column
    // is the one you keep.
    QueryDef(
      "q45_kmv_distinct",
      covers = "A7 Q15 D9 north-star",
      oracle = Some("""
        WITH dh AS (SELECT DISTINCT o_orderpriority AS prio,
                      ('0x' || substr(md5('kmv|' || o_custkey::VARCHAR),
                        1, 15))::BIGINT AS h
                    FROM orders),
        rk AS (SELECT prio, h,
                      row_number() OVER (PARTITION BY prio ORDER BY h) AS rk
               FROM dh),
        hk AS (SELECT prio, h AS hk FROM rk WHERE rk = 64),
        ex AS (SELECT prio, count(*) AS n_exact FROM dh GROUP BY prio)
        SELECT ex.prio, ex.n_exact,
               round(63 * 1152921504606846976.0 / hk.hk, 6) AS est
        FROM ex JOIN hk USING (prio) ORDER BY ex.prio"""),
      build = (s, d) => q45Build(s, d)),

    // Theta-sketch-style SET ALGEBRA on the KMV sketches: for every group
    // pair, |A ∪ B| and |A ∩ B| estimated from the two k-minima sets alone
    // — union sketch = k smallest of the sketches' union (θ = its k-th
    // minimum), intersection = (shared minima below θ)/k of the union
    // estimate. This is how corpus overlap / contamination RATES are
    // measured at 100 TB: the exact columns alongside need a distinct-join
    // over the full key sets; the sketch columns need 2·k hashes per pair,
    // whatever the corpus size. Per-pair work is windowed over ≤2k rows.
    QueryDef(
      "q46_kmv_set_ops",
      covers = "A7 Q15 Q19 D9 north-star",
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
               FROM ur WHERE rk <= 64 GROUP BY pa, pb),
        dc AS (SELECT DISTINCT o_orderpriority AS prio, o_custkey AS c
               FROM orders),
        exu AS (SELECT pr.pa, pr.pb, count(DISTINCT d.c) AS n_union
                FROM pr JOIN dc d ON d.prio IN (pr.pa, pr.pb)
                GROUP BY pr.pa, pr.pb),
        exi AS (SELECT a.prio AS pa, b.prio AS pb, count(*) AS n_inter
                FROM dc a JOIN dc b ON a.c = b.c AND a.prio < b.prio
                GROUP BY a.prio, b.prio)
        SELECT th.pa, th.pb, exu.n_union,
               COALESCE(exi.n_inter, 0) AS n_inter, sh.n_shared,
               round(63 * 1152921504606846976.0 / th.hk, 6) AS est_union,
               round(sh.n_shared * (63 * 1152921504606846976.0 / th.hk)
                     / 64, 6) AS est_inter
        FROM th JOIN sh USING (pa, pb) JOIN exu USING (pa, pb)
        LEFT JOIN exi USING (pa, pb)
        ORDER BY th.pa, th.pb"""),
      build = (s, d) => q46Build(s, d))
  )

  private def q45Build(s: SparkSession, d: String): DataFrame = {
    // ONE distinct frame serves both truths: the exact baseline counts
    // the same distinct (prio, h) rows the sketch ranks, so the second
    // orders scan and the countDistinct expansion disappear (md5 is a
    // 60-bit injection over this domain — both engines hash before the
    // distinct, so they agree exactly whatever the key space does).
    val o = Tables.load(s, d, "orders")
    val dh = o.select(col("o_orderpriority").as("prio"),
      kmvHash(col("o_custkey")).as("h")).distinct()
      .localCheckpoint(false)
    val hk = kmvSketch(dh)
      .filter(col("rk") === KmvK)
      .select(col("prio"), col("h").as("hk"))
    val exact = dh.groupBy("prio").agg(count(lit(1)).as("n_exact"))
    exact.join(hk, "prio")
      .select(col("prio"), col("n_exact"),
        round(lit(63) * lit(1152921504606846976.0) / col("hk"), 6)
          .as("est"))
      .orderBy("prio")
  }

  /** q46: the sketch and both exact columns all read ONE checkpointed
    * distinct (prio, c) frame. The sketch hashes those pre-deduped rows
    * (kmvSketch dedups internally, so this equals hashing a second orders
    * scan, without the scan or the per-duplicate md5 work). The exact
    * union is the integer set identity n_union = n_a + n_b − n_inter over
    * the per-prio distinct counts and the intersection the query already
    * pays for — bit-identical to counting the union, without expanding
    * the distinct set (groups−1)× into a distinct-aggregate exchange.
    * SCALE.md §"Round-15: q46's exact half" records the A/B. */
  private def q46Build(s: SparkSession, d: String): DataFrame = {
    val o = Tables.load(s, d, "orders")
    val dc = ResultMemo.checkpointed(
      o.select(col("o_orderpriority").as("prio"),
        col("o_custkey").as("c")).distinct())
    val sketch = thetaSetOps(
      kmvSketch(dc.select(col("prio"), kmvHash(col("c")).as("h")))
        .select("prio", "h"))
    val exi = dc.select(col("prio").as("pa"), col("c"))
      .join(dc.select(col("prio").as("pb"), col("c")),
        Seq("c")).filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_inter"))
    // |A ∪ B| = |A| + |B| − |A ∩ B|: integer counts, exact identity
    val nk = dc.groupBy("prio").agg(count(lit(1)).as("n"))
    val pr = nk.select(col("prio").as("pa"), col("n").as("na"))
      .join(nk.select(col("prio").as("pb"), col("n").as("nb")),
        col("pa") < col("pb"))
    sketch.join(broadcast(pr), Seq("pa", "pb"))
      .join(exi, Seq("pa", "pb"), "left")
      .withColumn("n_union",
        col("na") + col("nb") - coalesce(col("n_inter"), lit(0L)))
      .select(col("pa"), col("pb"), col("n_union"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"), col("n_shared"),
        col("est_union"), col("est_inter"))
      .orderBy("pa", "pb")
  }
}
