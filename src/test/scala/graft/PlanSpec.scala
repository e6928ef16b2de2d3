package graft

/** Physical-plan assertions: the properties that matter at 100 TB must be
  * visible in the executed plan, not assumed — filter/column pushdown into
  * the parquet scan, broadcast joins for small dimensions, and whole-stage
  * codegen on hot paths. */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString()
  }

  test("q01: quantity filter is pushed into the parquet scan") {
    val p = plan("q01_scan_filter_limit")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"),
      s"missing pushdown in:\n${p.take(2000)}")
  }

  test("q01: scan reads only the projected columns") {
    val p = plan("q01_scan_filter_limit")
    // ReadSchema must not include unused columns like l_tax / l_discount
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_tax") && !read.contains("l_discount"),
      s"column pruning failed: $read")
  }

  test("q08: part dimension is broadcast (no fact-side shuffle)") {
    val p = plan("q08_join_rekey_part")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q07: catalyst broadcasts the customer dimension on its own") {
    val p = plan("q07_join_orders_customer")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q13: aggregation is partial -> final (map-side combine)") {
    val p = plan("q13_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial agg appears below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q13: pricing summary runs inside whole-stage codegen") {
    // codegen spans only materialize in the AQE-final plan — execute first
    val df = SparkEntry.queries("q13_pricing_summary")(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted mode marks codegen'd operators with '*': the whole
    // filter→project→partial-agg→final-agg spine must be starred
    assert(p.contains("* HashAggregate") && p.contains("* Filter"),
      p.take(2000))
  }

  test("q13/q37: corpus-growing money totals leave the engine as strings") {
    // The sf10 gate caught both queries one ULP from DuckDB: the decimal
    // sums matched digit-for-digit, but DuckDB's DECIMAL->DOUBLE cast
    // double-rounds (int128->double, then /10^scale in float), which
    // diverges from Spark's correctly-rounded cast once sum*10^scale
    // exceeds 2^53. Unbounded-magnitude totals must stay exact strings.
    import org.apache.spark.sql.types.StringType
    val q13 = SparkEntry.queries("q13_pricing_summary")(spark, dir).schema
    Seq("sum_qty", "sum_base_price", "sum_disc_price").foreach { c =>
      assert(q13(c).dataType == StringType, s"$c must be an exact string")
    }
    val q37 = SparkEntry.queries("q37_salted_skew_join")(spark, dir).schema
    assert(q37("total").dataType == StringType, "q37 total must be a string")
  }

  test("q11: range join keeps the user_id equi-key (no cartesian)") {
    val p = plan("q11_range_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q33: blocked fuzzy join is an equi-join, never a nested loop") {
    val p = plan("q33_fuzzy_join_blocked")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q34: k=2 blocked fuzzy join keeps the equi-join plan") {
    val p = plan("q34_fuzzy_join_blocked_k2")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("d08: decontamination broadcasts the eval-set bands") {
    // the corpus side must stream past a broadcast eval-set index — a
    // shuffled corpus would be the 100 TB mistake
    val df = graft.operators.ResultMemo.bypass(
      SparkEntry.queries("d08_decontaminate")(spark, dir))
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("d03: minhash signatures compute scan-side (no shuffle before bands)") {
    // bypass the result memo: this must assert the REAL plan, not the
    // checkpoint scan a memoized build returns
    val df = graft.operators.ResultMemo.bypass(
      SparkEntry.queries("d03_minhash_lsh")(spark, dir))
    val p  = df.queryExecution.executedPlan.toString()
    // only shuffles: band self-join + distinct + final sort
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 8, s"too many exchanges ($exchanges):\n${p.take(3000)}")
  }

  test("q46: one orders read (the checkpointed distinct), no distinct aggregate") {
    // built under the memo: the shared distinct (prio, c) is a checkpoint,
    // so any orders scan left in the plan is a second read of the table
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = SparkEntry.queries("q46_kmv_set_ops")(spark, dir)
      .queryExecution.optimizedPlan
    val ordersScans = plan.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect {
      case r: HadoopFsRelation
          if r.location.rootPaths.exists(_.getName == "orders.parquet") => r
    }
    assert(ordersScans.isEmpty,
      s"orders scanned outside the checkpointed distinct:\n$plan")
    val distinctAggs = plan.flatMap(_.expressions.flatMap(_.collect {
      case a: AggregateExpression if a.isDistinct => a
    }))
    assert(distinctAggs.isEmpty, s"distinct aggregate in q46:\n$plan")
  }
}
