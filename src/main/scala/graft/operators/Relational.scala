package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational query library — SURVEY.md §2.9's declared query set (Q01-Q30)
  * adapted to the actual testdata schemas (TESTDATA.md; the tables carry no
  * `*_comment` columns, so string-shaped operators run over `p_name`,
  * `o_orderpriority`, and `documents.text` instead).
  *
  * Design notes for 100 TB scale:
  *   - every query is a declarative DataFrame plan: filters/projections reach
  *     the parquet scan (pushdown + column pruning), Catalyst picks join
  *     strategies, AQE re-plans skew at runtime;
  *   - small dimensions (region/nation/part/customer) are broadcast, either
  *     explicitly or by Catalyst's size estimate — no shuffle of the fact side;
  *   - double-typed money aggregates go through DECIMAL(18,2) so sums are
  *     exact integers in cents: associative, order-independent, and therefore
  *     reproducible across any partitioning (a raw double sum is not);
  *   - timestamps leave the engine as formatted strings so parquet logical
  *     types match the DuckDB oracle byte-for-byte.
  */
object Relational {

  /** Exact, order-independent money sum: SUM over DECIMAL(18,2) cents,
    * surfaced as DOUBLE (exact for |cents| < 2^53 — far above any test SF). */
  /** Exact decimal sum surfaced as a double: safe ONLY where the emitted
    * magnitude stays bounded as the corpus grows (q13's avg_qty divides it
    * by count, so a one-ULP cast wobble is 1e-12 of the ratio — invisible
    * at 6 dp). Totals that grow with the data use moneyStr instead. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Money totals whose magnitude grows with the corpus leave the engine as
    * exact decimal STRINGS, not doubles: DuckDB's DECIMAL→DOUBLE cast
    * double-rounds (int128→double, then ÷10^scale in float), so once
    * sum×10^scale exceeds 2^53 the two engines can land one ULP apart —
    * q13/q37 diverged exactly this way at the 100× corpus while their
    * decimal sums matched digit-for-digit. Strings stay exact at any SF. */
  private def moneyStr(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("string")

  private val fmtTs = "yyyy-MM-dd HH:mm:ss"

  /** Sketch-bracketed two-pass EXACT interpolated percentiles (q31's
    * engine; property-pinned in PercentileSpec against brute-force
    * interpolation):
    *
    *   pass 1: per group, n and one percentile_approx sketch (mergeable GK
    *     summary, map-side partial, rank error ≤ n/acc) bracketing every
    *     target p with data values at p ± 5/acc;
    *   pass 2: per group, an exact count(v < a_i) in a pure CODEGEN
    *     HashAggregate over the full scan, plus a sorted collect of ONLY
    *     the in-bracket slice (≤ ~10n/acc rows — the collect is what would
    *     otherwise drag the whole corpus-sized agg onto the non-codegen
    *     ObjectHashAggregate path, so it runs as a second, pre-filtered
    *     aggregation);
    *   selection: ranks are contiguous, so the row ranked r is element
    *     (r − count_below) of the sorted slice — EXACT regardless of sketch
    *     error, duplicates included — and quantile_cont's formula
    *     v_lo + frac·(v_hi − v_lo) interpolates the neighbors at
    *     floor/ceil(p·(n−1))+1, rounded to 4 dp.
    *
    * Fully parallel (no per-group sort anywhere — the rank-window
    * alternative serializes one task per group: 40 s vs 11.5 s at sf10);
    * per-task state is the sketch / the slice, both bounded and
    * accuracy-tunable. Expects (g, v) columns, v non-null; returns one row
    * per g with columns q0..q{ps.size-1} in ps order, NOT globally sorted
    * (callers choose their sort — see q31's no-global-orderBy note). */
  private[graft] def bracketedPercentiles(gv: DataFrame, ps: Seq[Double],
      acc: Int = 10000): DataFrame = {
    // sketch rank error is n/acc; 5x margin makes the bracket provably
    // contain the target ranks with room for the ±1 edge effects
    val margin = 5.0 / acc
    val li = gv.select(col("g"), col("v"))
    val bracketPs = ps.flatMap(p =>
      Seq(math.max(0.0, p - margin), math.min(1.0, p + margin)))
    val brackets = li.groupBy("g").agg(
        count(col("v")).as("n"),
        percentile_approx(col("v"),
          array(bracketPs.map(lit): _*), lit(acc)).as("qs"))
      .select(col("g").as("bg") +: col("n") +:
        ps.indices.flatMap(i => Seq(
          col("qs").getItem(2 * i).as(s"a$i"),
          col("qs").getItem(2 * i + 1).as(s"b$i"))): _*)
    def h(p: Double)    = lit(p) * (col("n") - 1).cast("double")
    def loRk(p: Double) = floor(h(p)).cast("long") + 1
    def frac(p: Double) = h(p) - floor(h(p))
    def hiRk(p: Double) =
      when(frac(p) > 0, loRk(p) + 1).otherwise(loRk(p))
    val joined = li.join(broadcast(brackets), col("g") === col("bg"))
    // prevA/nextB are the ±1-rank repair values: percentile_approx ranks on
    // an n basis (⌈q·n⌉ + sketch error) while quantile_cont's neighbors live
    // on the (n−1) basis, so for small groups the bracket can miss the
    // target rank by EXACTLY ONE position on either side (GK bounds cap the
    // miss at 1: below ≤ (p−4ε)n keeps idx_lo ≥ 0, rank_max(b) ≥ (p+4ε)n
    // keeps idx_hi ≤ |slice|+1). The largest value below the bracket and
    // the smallest above it — computed in the SAME codegen aggregate as the
    // counts — are precisely the values at those two escaped ranks.
    val below = joined.groupBy("g").agg(
      first(col("n")).as("n"),
      ps.indices.flatMap(i => Seq(
        sum(when(col("v") < col(s"a$i"), 1L).otherwise(0L))
          .as(s"below$i"),
        max(when(col("v") < col(s"a$i"), col("v"))).as(s"prevA$i"),
        min(when(col("v") > col(s"b$i"), col("v"))).as(s"nextB$i"))): _*)
    val slices = joined
      .filter(ps.indices
        .map(i => col("v").between(col(s"a$i"), col(s"b$i")))
        .reduce(_ || _))
      .groupBy("g")
      .agg(
        sort_array(collect_list(
          when(col("v").between(col("a0"), col("b0")), col("v"))))
          .as("slice0"),
        ps.indices.drop(1).map(i =>
          sort_array(collect_list(
            when(col("v").between(col(s"a$i"), col(s"b$i")), col("v"))))
            .as(s"slice$i")): _*)
    val picked = below.join(slices, "g")
    // idx == 0 → the rank escaped one below the bracket (prevA); idx ==
    // |slice|+1 → one above (nextB); the when() keeps element_at inside a
    // lazily-evaluated branch so the impossible indexes are never touched
    def pick(i: Int, idx: Column) =
      when(idx === 0, col(s"prevA$i"))
        .when(idx === size(col(s"slice$i")).cast("long") + 1,
          col(s"nextB$i"))
        .otherwise(element_at(col(s"slice$i"), idx.cast("int")))
    ps.zipWithIndex.foldLeft(picked) { case (df, (p, i)) =>
      val vLo = pick(i, loRk(p) - col(s"below$i"))
      val vHi = pick(i, hiRk(p) - col(s"below$i"))
      df.withColumn(s"q$i", round(vLo + frac(p) * (vHi - vLo), 4))
    }.select(col("g") +: ps.indices.map(i => col(s"q$i")): _*)
  }

  def defs: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- Q01
    QueryDef(
      "q01_scan_filter_limit",
      covers = "S1 F2 W5",
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        FROM lineitem WHERE l_quantity > 10
        ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity
        LIMIT 1000"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_quantity") > 10)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
          // (l_orderkey, l_linenumber) is NOT unique in this generator's
          // lineitem — extend the sort key so the LIMIT cutoff is total.
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_quantity"))
          .limit(1000)),

    // ---------------------------------------------------------------- Q02
    QueryDef(
      "q02_project_normalize",
      covers = "F1 T9 T10",
      oracle = Some("""
        SELECT o_orderkey,
               lower(regexp_replace(o_orderpriority, '[^A-Za-z]+', ' ', 'g')) AS prio_norm
        FROM orders WHERE o_orderstatus <> 'F'
        ORDER BY o_orderkey"""),
      build = (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderstatus") =!= "F")
          .select(
            col("o_orderkey"),
            lower(regexp_replace(col("o_orderpriority"), "[^A-Za-z]+", " "))
              .as("prio_norm"))
          .orderBy("o_orderkey")),

    // ---------------------------------------------------------------- Q03
    QueryDef(
      "q03_chunk_format",
      covers = "A1 T4",
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
               'chunk-' || CAST(l_linenumber AS VARCHAR) || ': ' ||
               l_returnflag || l_linestatus AS chunk
        FROM lineitem ORDER BY l_orderkey, l_linenumber, chunk"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            concat(
              lit("chunk-"), col("l_linenumber").cast("string"), lit(": "),
              col("l_returnflag"), col("l_linestatus")).as("chunk"))
          .orderBy("l_orderkey", "l_linenumber", "chunk")),

    // ---------------------------------------------------------------- Q04
    // Running-sum bin assignment (the collapse stage's token packing, W7):
    // cumulative cents within each order, 50 000-unit bins.
    QueryDef(
      "q04_token_bins",
      covers = "W7 T2 A2",
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                 OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 50000.0) AS BIGINT) AS bin
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""),
      build = (s, d) => binAssigned(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "bin")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),

    // ---------------------------------------------------------------- Q05
    QueryDef(
      "q05_collapse_bins",
      covers = "A2",
      oracle = Some("""
        SELECT l_orderkey, bin, count(*) AS n, CAST(sum(cents) AS DOUBLE) AS total
        FROM (
          SELECT l_orderkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS cents,
                 CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                   OVER (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / 50000.0) AS BIGINT) AS bin
          FROM lineitem)
        GROUP BY l_orderkey, bin ORDER BY l_orderkey, bin"""),
      build = (s, d) => binAssigned(s, d)
        .groupBy("l_orderkey", "bin")
        .agg(
          count(lit(1)).as("n"),
          sum(col("cents")).cast("double").as("total"))
        .orderBy("l_orderkey", "bin")),

    // ---------------------------------------------------------------- Q06
    QueryDef(
      "q06_argmax_reduce",
      covers = "A3 W2",
      // Tie-break is TOTAL: argmax by (price, then SMALLEST orderkey) via a
      // struct max with a negated key in both engines. A bare
      // max_by/arg_max is engine-nondeterministic on price ties — sf0.1
      // happens to have none, but the 10x scale corpus (and any real
      // warehouse) does, and the sf1 oracle run caught exactly that.
      oracle = Some("""
        SELECT o_custkey,
               -(max({'p': o_totalprice, 'nk': -o_orderkey})).nk AS best_order,
               max(o_totalprice) AS best_price
        FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
      build = (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(
            (-max(struct(col("o_totalprice").as("p"),
              (-col("o_orderkey")).as("nk"))).getField("nk"))
              .as("best_order"),
            max(col("o_totalprice")).as("best_price"))
          .orderBy("o_custkey")),

    // ---------------------------------------------------------------- Q07
    QueryDef(
      "q07_join_orders_customer",
      covers = "J1",
      oracle = Some("""
        SELECT o_orderkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
        ORDER BY o_orderkey"""),
      build = (s, d) =>
        // same fact-side range layout as q08: the sort's sampling re-runs
        // only the pruned orders scan, never the join
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey")
          .repartitionByRange(col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "c_name", "c_mktsegment")
          .sortWithinPartitions("o_orderkey")),

    // ---------------------------------------------------------------- Q08
    // Dimension re-key (the bibkey→index citation rewrite, J2/J3): the small
    // side is broadcast so the fact table never shuffles.
    QueryDef(
      "q08_join_rekey_part",
      covers = "J2 J3",
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, p_name
        FROM lineitem JOIN part ON l_partkey = p_partkey
        ORDER BY l_orderkey, l_linenumber"""),
      build = (s, d) =>
        // range-partition the FACT side before the broadcast join: a global
        // orderBy above the join would re-run the whole join for range-
        // boundary sampling (the q31/q12 double-run lesson) and AQE would
        // coalesce the sort by its input bytes; this way sampling re-runs
        // only the pruned scan, the join output inherits the range layout,
        // and the local sort stays parallel at every SF — identical total
        // order
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_partkey")
          .repartitionByRange(col("l_orderkey"), col("l_linenumber"))
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select("l_orderkey", "l_linenumber", "p_name")
          .sortWithinPartitions("l_orderkey", "l_linenumber")),

    // ---------------------------------------------------------------- Q09
    QueryDef(
      "q09_semi_anti_split",
      covers = "J5 X2 X3",
      oracle = Some("""
        SELECT c_custkey, TRUE AS has_orders FROM customer
          WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT c_custkey, FALSE AS has_orders FROM customer
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey"""),
      build = (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).select("o_custkey")
        val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit(true).as("has_orders"))
        val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit(false).as("has_orders"))
        semi.unionAll(anti).orderBy("c_custkey")
      }),

    // ---------------------------------------------------------------- Q10
    QueryDef(
      "q10_fuzzy_join",
      covers = "J4",
      oracle = Some("""
        SELECT n1.n_name AS name_a, n2.n_name AS name_b
        FROM nation n1 JOIN nation n2
          ON n1.n_nationkey < n2.n_nationkey
         AND levenshtein(n1.n_name, n2.n_name) <= 1
        ORDER BY name_a, name_b"""),
      build = (s, d) => {
        val n1 = Tables.nation(s, d).select(
          col("n_nationkey").as("key_a"), col("n_name").as("name_a"))
        val n2 = Tables.nation(s, d).select(
          col("n_nationkey").as("key_b"), col("n_name").as("name_b"))
        n1.join(broadcast(n2),
            col("key_a") < col("key_b") &&
              levenshtein(col("name_a"), col("name_b")) <= 1)
          .select("name_a", "name_b")
          .orderBy("name_a", "name_b")
      }),

    // --------------------------------------------------------------- Q33
    // The scalable form of Q10's fuzzy join (J4 at corpus scale): same
    // result, but candidate generation is a deletion-neighborhood equi-join
    // (FastSS/SymSpell blocking): each key explodes into its ≤1-deletion
    // variants, variants equi-join (shuffle on short strings, broadcastable
    // when one side is small), pairs dedup, and only candidates pay the
    // levenshtein verify. No nested-loop join anywhere — this is the plan
    // that survives a 10^6-row bibkey repair, unlike q10's broadcast-NLJ
    // (fine for 25 nations, quadratic in general).
    QueryDef(
      "q33_fuzzy_join_blocked",
      covers = "J4",
      oracle = Some("""
        SELECT n1.n_name AS name_a, n2.n_name AS name_b
        FROM nation n1 JOIN nation n2
          ON n1.n_nationkey < n2.n_nationkey
         AND levenshtein(n1.n_name, n2.n_name) <= 1
        ORDER BY name_a, name_b"""),
      build = (s, d) => {
        val n1 = Tables.nation(s, d).select(
          col("n_nationkey").as("key_a"), col("n_name").as("name_a"))
        val n2 = Tables.nation(s, d).select(
          col("n_nationkey").as("key_b"), col("n_name").as("name_b"))
        fuzzyJoinBlocked(n1, n2, "name_a", "name_b", maxDist = 1)
          .filter(col("key_a") < col("key_b"))
          .select("name_a", "name_b")
          .orderBy("name_a", "name_b")
      }),

    // --------------------------------------------------------------- Q34
    // The k=2 form over a distinct key set — the actual bibkey-repair shape:
    // dedup the key universe FIRST (64 names here, ~10^5 bibkeys at scale),
    // then the blocked join discovers near-miss pairs among distinct keys
    // only. Same plan guarantees as q33.
    QueryDef(
      "q34_fuzzy_join_blocked_k2",
      covers = "J4 X1",
      oracle = Some("""
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b
        FROM n a JOIN n b
          ON a.p_name < b.p_name
         AND levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY name_a, name_b"""),
      build = (s, d) => {
        val names = Tables.part(s, d).select(col("p_name")).distinct()
        val n1 = names.select(col("p_name").as("name_a"))
        val n2 = names.select(col("p_name").as("name_b"))
        fuzzyJoinBlocked(n1, n2, "name_a", "name_b", maxDist = 2)
          .filter(col("name_a") < col("name_b"))
          .select("name_a", "name_b")
          .orderBy("name_a", "name_b")
      }),

    // --------------------------------------------------------------- Q36
    // PassJoin segment blocking at k=3 — the regime where q33/q34's
    // deletion neighborhoods blow up (C(len,3) variants per key) but
    // segment keys stay O(k) per index row. Same distinct-key-universe
    // shape as q34; recall-complete by the pigeonhole argument in
    // HashKernels, verified by levenshtein on candidates only.
    QueryDef(
      "q36_fuzzy_join_segmented_k3",
      covers = "J4 X1",
      oracle = Some("""
        WITH n AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b
        FROM n a JOIN n b
          ON a.p_name < b.p_name
         AND levenshtein(a.p_name, b.p_name) <= 3
        ORDER BY name_a, name_b"""),
      build = (s, d) => {
        val names = Tables.part(s, d).select(col("p_name")).distinct()
        val n1 = names.select(col("p_name").as("name_a"))
        val n2 = names.select(col("p_name").as("name_b"))
        fuzzyJoinSegmented(n1, n2, "name_a", "name_b", maxDist = 3)
          .filter(col("name_a") < col("name_b"))
          .select("name_a", "name_b")
          .orderBy("name_a", "name_b")
      }),

    // ---------------------------------------------------------------- Q11
    // Range join: pairs of events of one user within 10 minutes. The user_id
    // equi-key keeps this a hash/SMJ join with a range residual — it scales
    // as the per-user event density, not as |events|^2.
    QueryDef(
      "q11_range_join",
      covers = "Q11 D12",
      oracle = Some("""
        SELECT e1.user_id, count(*) AS n_pairs
        FROM events e1 JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts BETWEEN e1.ts AND e1.ts + INTERVAL 10 MINUTE
         AND e1.event_id <> e2.event_id
        GROUP BY e1.user_id ORDER BY e1.user_id"""),
      build = (s, d) => {
        // time-bucket banding: a pair within 10 min lives in the same or
        // adjacent 600 s bucket, so joining on (user_id, bucket) — right
        // side exploded into {bucket-1, bucket} — enumerates only
        // same/adjacent-bucket pairs instead of every per-user pair, then
        // the exact range residual filters. Cost scales with per-bucket
        // density, not per-user history length.
        val e1 = Tables.events(s, d)
          .select(col("user_id"), col("ts").as("ts1"), col("event_id").as("id1"))
          .withColumn("bkey", floor(col("ts1").cast("long") / 600L))
        val b2 = floor(col("ts2").cast("long") / 600L)
        val e2 = Tables.events(s, d)
          .select(col("user_id"), col("ts").as("ts2"), col("event_id").as("id2"))
          .withColumn("bkey", explode(array(b2 - 1, b2)))
        e1.join(e2, Seq("user_id", "bkey"))
          .filter(
            col("ts2") >= col("ts1") &&
              col("ts2") <= col("ts1") + expr("INTERVAL 10 MINUTES") &&
              col("id1") =!= col("id2"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      }),

    // ---------------------------------------------------------------- Q12
    // Ordered group concat (digest merge A4): collect_list is made
    // deterministic by sorting on the embedded line number before joining.
    QueryDef(
      "q12_group_concat",
      covers = "A4 A5 W8",
      oracle = Some("""
        SELECT l_orderkey,
               string_agg(CAST(l_linenumber AS VARCHAR) || ':' || l_returnflag,
                          '|' ORDER BY l_linenumber, l_returnflag) AS items
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .select(
            col("l_orderkey"),
            struct(
              col("l_linenumber").as("ln"),
              concat(col("l_linenumber").cast("string"), lit(":"),
                col("l_returnflag")).as("s")).as("pair"))
          // ONE range exchange serves both the agg and the ordered output:
          // collect_list has no map-side reduction (a partial agg ships every
          // element anyway), so range-partitioning the INPUT costs the same
          // shuffle bytes as the hash exchange — but rangepartitioning(key)
          // satisfies the groupBy's clustering AND the final sort's ordering,
          // so the plan drops the second exchange and the sort-sampling pass
          // that re-executed the whole object agg (the q31 double-run).
          .repartitionByRange(
            s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
            col("l_orderkey"))
          .groupBy("l_orderkey")
          .agg(array_sort(collect_list(col("pair"))).as("pairs"))
          .select(
            col("l_orderkey"),
            array_join(expr("transform(pairs, p -> p.s)"), "|").as("items"))
          .sortWithinPartitions("l_orderkey")),

    // ---------------------------------------------------------------- Q13
    QueryDef(
      "q13_pricing_summary",
      covers = "A7 A8 A10 Q13",
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1 - l_discount AS DECIMAL(18,4))) AS VARCHAR) AS sum_disc_price,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("2001-09-01 00:00:00").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            moneyStr(col("l_quantity")).as("sum_qty"),
            moneyStr(col("l_extendedprice")).as("sum_base_price"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount")).cast("decimal(18,4)"))
              .cast("string").as("sum_disc_price"),
            (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus")),

    // ---------------------------------------------------------------- Q14
    QueryDef(
      "q14_rollup",
      covers = "Q14",
      oracle = Some("""
        SELECT r_name, n_name, count(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""),
      build = (s, d) =>
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          // rollup duplicates grouping attributes in the internal Expand,
          // making name-based resolution ambiguous — alias through fresh
          // names and rename back on the way out.
          .rollup(col("r_name").as("rname"), col("n_name").as("nname"))
          .agg(count(lit(1)).as("n_customers"))
          .sort(asc_nulls_first("rname"), asc_nulls_first("nname"))
          .select(col("rname").as("r_name"), col("nname").as("n_name"),
            col("n_customers"))),

    // ---------------------------------------------------------------- Q15
    QueryDef(
      "q15_count_distinct",
      covers = "Q15",
      oracle = Some("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
               count(DISTINCT l_suppkey) AS nd_supps
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("nd_parts"),
            countDistinct(col("l_suppkey")).as("nd_supps"))
          .orderBy("l_returnflag")),

    // Approx-distinct (HLL sketch). No exact SQL oracle (DuckDB's
    // approx_count_distinct uses a different sketch), but the HLL is a
    // deterministic, order-insensitive function of the data — so the sf0.01
    // output is versioned at fixtures/ as a regression pin.
    QueryDef(
      "q15b_approx_distinct",
      covers = "Q15 north-star",
      oracle = Some("""
        -- regression pin (sf0.01): deterministic sketch, no cross-engine twin
        SELECT * FROM read_parquet('/root/repo/fixtures/q15b_approx_distinct.parquet')
        ORDER BY l_returnflag"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
          .orderBy("l_returnflag")),

    // engine-completeness: exact interpolated percentiles (both engines use
    // linear interpolation; rounded to 4dp for float stability). NOT Spark's
    // `percentile` aggregate — that buffers EVERY group value in one
    // ObjectHashAggregate map merged single-threaded (4.25 s at sf0.1, 106x
    // DuckDB, O(values) per-task heap — the suite's one scale-killer before
    // r12). The engine is bracketedPercentiles above: sketch-bracketed,
    // two-pass, exact, fully parallel.
    QueryDef(
      "q31_percentiles",
      covers = "engine-complete (A10 family)",
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      build = (s, d) =>
        bracketedPercentiles(
          Tables.lineitem(s, d)
            .select(col("l_returnflag").as("g"),
              col("l_extendedprice").as("v")),
          Seq(0.5, 0.9))
          .select(col("g").as("l_returnflag"), col("q0").as("p50"),
            col("q1").as("p90"))
          // NOT a global orderBy: rangepartitioning's boundary-sampling pass
          // re-executes the un-materialized agg stage (measured: the whole
          // query ran twice). One row per group key: single-partition local
          // sort gives total order with no sampling pass.
          .repartition(1)
          .sortWithinPartitions("l_returnflag")),

    // engine-completeness: pivot = conditional aggregation
    QueryDef(
      "q32_pivot",
      covers = "engine-complete (A10 family)",
      oracle = Some("""
        SELECT l_returnflag,
               count(*) FILTER (l_linestatus = 'F') AS n_f,
               count(*) FILTER (l_linestatus = 'O') AS n_o
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(count(lit(1)))
          .withColumnRenamed("F", "n_f")
          .withColumnRenamed("O", "n_o")
          .orderBy("l_returnflag")),

    // ---------------------------------------------------------------- Q16
    QueryDef(
      "q16_topk_per_group",
      covers = "W1 W3 W4",
      oracle = Some("""
        SELECT o_custkey, rn, o_orderkey FROM (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rn <= 3 ORDER BY o_custkey, rn"""),
      build = (s, d) => {
        // planner exchanges on purpose — do NOT apply the q12/t10 bottom-
        // range-exchange pattern here: a rank filter over a PLANNER window
        // exchange gets WindowGroupLimit split Partial/Final, and the
        // Partial prunes to ≤3 rows per group per map task BELOW the
        // shuffle (measured at sf1: 15 MB shipped vs 47 MB under a user
        // range exchange, which the optimizer will not push the partial
        // limit through — the gap grows with rows-per-group). The terminal
        // orderBy's sampling re-run reads the REUSED window exchange and
        // re-applies only the pruned window+filter; its range exchange
        // carries ≤3·|custkeys| rows. Bytes beat job count at scale.
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey")
          .orderBy("o_custkey", "rn")
      }),

    // ---------------------------------------------------------------- Q17
    QueryDef(
      "q17_argmax_monthly",
      covers = "W2 Q17",
      oracle = Some("""
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               -(max({'p': o_totalprice, 'nk': -o_orderkey})).nk AS best_order,
               max(o_totalprice) AS best_price
        FROM orders GROUP BY 1 ORDER BY 1"""),
      // total tie-break, same as q06 (the sf1 oracle run caught the bare
      // max_by picking a different max-price order than DuckDB on ties)
      build = (s, d) =>
        Tables.orders(s, d)
          .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
            .as("month"))
          .agg(
            (-max(struct(col("o_totalprice").as("p"),
              (-col("o_orderkey")).as("nk"))).getField("nk"))
              .as("best_order"),
            max(col("o_totalprice")).as("best_price"))
          .orderBy("month")),

    // ---------------------------------------------------------------- Q18
    // A-Res weighted sampling without replacement (W6): key = u^(1/weight),
    // top-k keys win. The uniform u comes from a Knuth multiplicative hash
    // of the row key — deterministic pure arithmetic both engines compute
    // identically, which upgrades this from rows-only to oracle-checked
    // (the V2 refine loop samples with the same hashed-A-Res pattern).
    QueryDef(
      "q18_weighted_sample",
      covers = "W6",
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
                 pow(((o_orderkey * 2654435761) % 4294967296) / 4294967296.0,
                     1.0 / o_totalprice) AS ares_key
          FROM orders)
        ORDER BY ares_key DESC, o_orderkey LIMIT 20"""),
      build = (s, d) => {
        val u = (col("o_orderkey") * lit(2654435761L)) % lit(4294967296L) /
          lit(4294967296.0)
        Tables.orders(s, d)
          .withColumn("ares_key", pow(u, lit(1.0) / col("o_totalprice")))
          .orderBy(col("ares_key").desc, col("o_orderkey"))
          .limit(20)
          .select("o_orderkey", "o_custkey", "o_totalprice")
      }),

    // ---------------------------------------------------------------- Q19
    QueryDef(
      "q19_set_ops",
      covers = "X1 X2 X3 X4 Q19",
      oracle = Some("""
        SELECT nationkey, op FROM (
          SELECT c_nationkey AS nationkey, 'except' AS op FROM
            (SELECT c_nationkey FROM customer
             EXCEPT SELECT s_nationkey FROM supplier)
          UNION ALL
          SELECT c_nationkey AS nationkey, 'intersect' AS op FROM
            (SELECT c_nationkey FROM customer
             INTERSECT SELECT s_nationkey FROM supplier))
        ORDER BY op, nationkey"""),
      build = (s, d) => {
        val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
        c.except(sup).withColumn("op", lit("except"))
          .unionAll(c.intersect(sup).withColumn("op", lit("intersect")))
          .orderBy("op", "nationkey")
      }),

    // ---------------------------------------------------------------- Q20
    QueryDef(
      "q20_distinct_pairs",
      covers = "X5 Q20",
      oracle = Some("""
        SELECT count(*) AS n_pairs FROM
          (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"""),
      build = (s, d) =>
        Tables.lineitem(s, d)
          .select("l_partkey", "l_suppkey")
          .distinct()
          .agg(count(lit(1)).as("n_pairs"))),

    // ---------------------------------------------------------------- Q21
    QueryDef(
      "q21_string_functions",
      covers = "T5 T6 T7 T9 T12 Q21",
      oracle = Some("""
        SELECT p_partkey,
               regexp_extract(p_type, '([A-Z]+)$', 1) AS type_tail,
               string_split(p_name, ' ')[1] AS first_word,
               levenshtein(p_brand, 'Brand#13') AS lev,
               translate(p_type, 'AEIOU', 'aeiou') AS type_tr
        FROM part ORDER BY p_partkey"""),
      build = (s, d) =>
        Tables.part(s, d)
          .select(
            col("p_partkey"),
            regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("type_tail"),
            split(col("p_name"), " ").getItem(0).as("first_word"),
            levenshtein(col("p_brand"), lit("Brand#13")).as("lev"),
            translate(col("p_type"), "AEIOU", "aeiou").as("type_tr"))
          .orderBy("p_partkey")),

    // ---------------------------------------------------------------- Q22
    QueryDef(
      "q22_explode_tokens",
      covers = "S2 D3 Q22",
      oracle = Some("""
        SELECT tok, count(*) AS n FROM
          (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part)
        GROUP BY tok ORDER BY tok"""),
      build = (s, d) =>
        Tables.part(s, d)
          .select(explode(split(col("p_name"), " ")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy("tok")),

    // ---------------------------------------------------------------- Q23
    QueryDef(
      "q23_json_roundtrip",
      covers = "T16 Q23 S3",
      oracle = Some("""
        SELECT count(*) AS n FROM (
          SELECT o_orderkey, o_orderstatus,
                 to_json(struct_pack(k := o_orderkey, s := o_orderstatus))::VARCHAR AS j
          FROM orders)
        WHERE json_extract(j, '$.k')::BIGINT = o_orderkey
          AND json_extract_string(j, '$.s') = o_orderstatus"""),
      build = (s, d) =>
        // json_tuple: ONE streaming parse per row for both fields (measured
        // ~2x over from_json / 2x get_json_object at sf0.1). fannedLoad:
        // the serialize+parse pass runs scan-side (partial agg), so a
        // single-split orders file would pin it to one core (profiled
        // 1-task 1.7 s stage at sf0.1).
        Tables.fannedLoad(s, d, "orders")
          .withColumn("j", to_json(struct(
            col("o_orderkey").as("k"), col("o_orderstatus").as("s"))))
          .select(col("o_orderkey"), col("o_orderstatus"),
            json_tuple(col("j"), "k", "s").as(Seq("jk", "js")))
          .filter(
            col("jk").cast("bigint") === col("o_orderkey") &&
              col("js") === col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))),

    // ---------------------------------------------------------------- Q24
    QueryDef(
      "q24_date_math",
      covers = "T19 Q24",
      oracle = Some("""
        SELECT date_diff('day', o_orderdate, l_shipdate) AS lag_days, count(*) AS n
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY lag_days ORDER BY lag_days"""),
      build = (s, d) =>
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
          .groupBy("lag_days")
          .agg(count(lit(1)).as("n"))
          .orderBy("lag_days")),

    // ---------------------------------------------------------------- Q25
    // Bottom-up tree level aggregation (content assembly D11) on the
    // region→nation→customer 2-level hierarchy.
    QueryDef(
      "q25_tree_rollup",
      covers = "D11 Q25",
      oracle = Some("""
        SELECT r_name, count(DISTINCT n_nationkey) AS n_children, count(*) AS n_desc
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        GROUP BY r_name ORDER BY r_name"""),
      build = (s, d) =>
        Tables.region(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
          .groupBy("r_name")
          .agg(
            countDistinct(col("n_nationkey")).as("n_children"),
            count(lit(1)).as("n_desc"))
          .orderBy("r_name")),

    // ---------------------------------------------------------------- Q26
    QueryDef(
      "q26_tumbling_window",
      covers = "Q26 D4",
      oracle = Some("""
        SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type, count(*) AS n
        FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type"""),
      build = (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(
            date_format(col("window.start"), fmtTs).as("wstart"),
            col("event_type"), col("n"))
          .orderBy("wstart", "event_type")),

    // ---------------------------------------------------------------- Q27
    QueryDef(
      "q27_sliding_window",
      covers = "Q27",
      oracle = Some("""
        SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS wstart, count(*) AS n FROM (
          SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                         time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS s
          FROM events)
        GROUP BY wstart ORDER BY wstart"""),
      build = (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), fmtTs).as("wstart"), col("n"))
          .orderBy("wstart")),

    // ---------------------------------------------------------------- Q28
    QueryDef(
      "q28_session_window",
      covers = "Q28 D11",
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
        Tables.events(s, d)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(
            col("user_id"),
            date_format(col("session_window.start"), fmtTs).as("session_start"),
            col("n"))
          .orderBy("user_id", "session_start")),

    // ---------------------------------------------------------------- Q29
    QueryDef(
      "q29_windowed_upsert",
      covers = "J8 Q29",
      oracle = Some("""
        SELECT user_id, event_id AS last_event, value AS last_value FROM (
          SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1 ORDER BY user_id"""),
      build = (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("user_id"), col("event_id").as("last_event"),
            col("value").as("last_value"))
          .orderBy("user_id")
      }),

    // ---------------------------------------------------------------- Q30
    // One halving step of the pairwise tree-aggregate (A9): groups keyed by
    // pmod collapse 2:1 per iteration; the driver loop lives in pipeline code.
    QueryDef(
      "q30_tree_aggregate_step",
      covers = "A9 Q30",
      oracle = Some("""
        SELECT CAST(user_id % 64 AS BIGINT) AS g, count(*) AS n,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY g ORDER BY g"""),
      build = (s, d) =>
        Tables.events(s, d)
          .groupBy(pmod(col("user_id"), lit(64)).cast("bigint").as("g"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("g"))
  )

  /** Edit-distance join via deletion-neighborhood blocking (J4's scalable
    * form; the FastSS / SymSpell candidate scheme): lev(a,b) ≤ 1 implies
    * the 1-deletion variant sets of a and b intersect, so an equi-join on
    * variants is a recall-complete candidate generator and levenshtein runs
    * only on candidates. Both explodes are narrow (≤ len+1 short strings per
    * key), the join is a plain shuffle/broadcast hash join on a string key,
    * and nothing is quadratic — the shape that holds on 10^6-key sides where
    * a nested-loop join would not.
    *
    * The ≤k-deletion neighborhood generalizes to any k (variant count
    * C(len, k) — fine for short keys at k ≤ 2; beyond that prefer segment
    * (PassJoin) blocking). Variants come from one codegen'd kernel
    * ([[graft.functions.HashKernels.deletionVariants]]).
    */
  def fuzzyJoinBlocked(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletion-neighborhood blocking exposed for maxDist 1..2 " +
        "(variant count is C(len, k) — use segment blocking beyond)")
    def variants(c: Column): Column =
      graft.functions.HashKernels.deletionVariantsCol(c, maxDist)
    val l = left.withColumn("__lv", explode(variants(col(leftKey))))
    val r = right.withColumn("__rv", explode(variants(col(rightKey))))
    l.join(r, col("__lv") === col("__rv"))
      .drop("__lv", "__rv")
      .distinct()
      .filter(levenshtein(col(leftKey), col(rightKey)) <= maxDist)
  }

  /** Edit-distance join via PassJoin segment blocking — the k ≥ 3 path
    * where [[fuzzyJoinBlocked]]'s deletion neighborhood explodes
    * combinatorially. The right side indexes each key as k+1 segment keys;
    * the left side probes with every substring that could align with an
    * untouched segment (±k position window); candidates equi-join on the
    * segment key and only they pay the levenshtein verify. Key volume is
    * O(k) per index row and O(k³) short strings per probe row — linear in
    * both inputs, never quadratic, and the join is an ordinary hash join
    * (broadcastable when one side is small). */
  def fuzzyJoinSegmented(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val l = left.withColumn("__pk", explode(
      graft.functions.HashKernels.passjoinProbeKeysCol(col(leftKey), maxDist)))
    val r = right.withColumn("__ik", explode(
      graft.functions.HashKernels.passjoinIndexKeysCol(col(rightKey), maxDist)))
    l.join(r, col("__pk") === col("__ik"))
      .drop("__pk", "__ik")
      .distinct()
      .filter(levenshtein(col(leftKey), col(rightKey)) <= maxDist)
  }

  /** Shared Q04/Q05 core: cumulative-cents bin id per (order, line). The
    * window sort key is extended to (linenumber, price, partkey, suppkey) —
    * a unique composite in this generator — so the running sum is total-order
    * deterministic. Materialized through [[ResultMemo]]: q05 is a strict
    * continuation of q04, so the window pass runs once per session instead
    * of once per query (bypass keeps plan-shape specs honest).
    *
    * The window's per-order clustering comes from ONE RANGE exchange on
    * l_orderkey instead of the default hash exchange (r15, guide §2.4).
    * RangePartitioning(l_orderkey) satisfies everything downstream of the
    * window in BOTH queries — q04's terminal ORDER BY (l_orderkey, ...) and
    * q05's GROUP BY (l_orderkey, bin) + ORDER BY are prefix/subset-
    * compatible — so neither query pays a second exchange on the suite's
    * largest shuffle payload; only local sorts remain. The `cents` cast
    * sits ABOVE the exchange so the shuffle carries 5 columns, not 6
    * (§2.3: project before the exchange). */
  private def binAssigned(s: SparkSession, d: String): DataFrame =
    ResultMemo.materialized("binAssigned", s, d) {
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_extendedprice"))
        .repartitionByRange(col("l_orderkey"))
        .withColumn("cents", col("l_extendedprice").cast("decimal(18,2)"))
        .withColumn("bin",
          floor(sum(col("cents")).over(w).cast("double") / 50000.0).cast("bigint"))
    }
}
