package graft

/** The table reader: single-row-group testdata files must fan out before
  * kernel-heavy per-row work, and only for the tables that need it —
  * dimensions stay plain scans so they remain broadcast-friendly; a table's
  * file schema is read once, and its stream reads what its batch read
  * does. */
class TablesSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("kernel-heavy tables fan out to cluster parallelism") {
    val para = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, dir)
    assert(docs.rdd.getNumPartitions >= para / 2,
      s"documents scan still degenerate: ${docs.rdd.getNumPartitions} of $para")
    assert(docs.count() > 0)
  }

  test("dimension tables stay plain single-split scans") {
    val nation = Tables.nation(spark, dir)
    assert(nation.rdd.getNumPartitions <= 2,
      s"nation should not fan out: ${nation.rdd.getNumPartitions}")
  }

  // Schema-on-read tolerance for events.ts: the driver's generator has
  // shipped TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds; both
  // committed fixtures must decode to the same session-TZ TIMESTAMP values.
  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("events.ts decodes nanos-as-long and native micros identically") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    def read(d: String) = Tables.events(spark, d)
    for (d <- Seq(fixture("events_nanos"), fixture("events_micros")))
      assert(read(d).schema("ts").dataType == TimestampType, d)
    def vals(d: String) = read(d)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("t"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val nanos  = vals(fixture("events_nanos"))
    val micros = vals(fixture("events_micros"))
    assert(nanos == micros, s"$nanos vs $micros")
    // absolute pin: 1700000000123456 µs = 2023-11-14 22:13:20.123456 UTC
    assert(nanos(1) == Seq(2L, "2023-11-14 22:13:20.123456"))
  }

  test("a table read after the first starts no Spark job") {
    // the file schema is read once per (dir, table); a later read is given
    // it, where spark.read.parquet would start a schema-inference job
    val telemetry = graft.obs.Telemetry(spark)
    for (t <- Tables.names) {
      Tables.load(spark, dir, t).schema
      val (_, p) = telemetry.measure(s"reread-$t")(Tables.load(spark, dir, t).schema)
      assert(p.jobs.isEmpty, s"$t: a second read started ${p.jobs.size} job(s)")
    }
  }

  test("a table's stream has its batch read's schema") {
    val dirs = Tables.names.map(t => (dir, t)) ++
      Seq("events_nanos", "events_micros").map(f => (fixture(f), "events"))
    for ((d, t) <- dirs) {
      val batch = Tables.load(spark, d, t).schema
      assert(Tables.stream(spark, d, t).schema == batch, s"$d/$t")
    }
  }

  test("fan-out preserves rows and filter pushdown still reaches the scan") {
    import org.apache.spark.sql.functions._
    val filtered = Tables.documents(spark, dir).filter(col("doc_id") < 10)
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(doc_id,10)"),
      plan.take(1500))
    assert(filtered.count() == 10)
  }
}
