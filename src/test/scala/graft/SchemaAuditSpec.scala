package graft

import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}

/** One-shot audit that every Tables.* loader works against the CURRENT
  * driver-generated testdata — the guard VERDICT r6 asked for after a
  * regenerated lake silently changed events.ts's physical encoding and 13
  * queries vanished from the correctness gate. A loader that can't even
  * produce a row against today's files should fail HERE, loudly, not
  * mid-query. */
class SchemaAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("every table loader reads the current testdata and yields rows") {
    val loaders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "region"     -> (() => Tables.region(spark, dir)),
      "nation"     -> (() => Tables.nation(spark, dir)),
      "customer"   -> (() => Tables.customer(spark, dir)),
      "supplier"   -> (() => Tables.supplier(spark, dir)),
      "part"       -> (() => Tables.part(spark, dir)),
      "orders"     -> (() => Tables.orders(spark, dir)),
      "lineitem"   -> (() => Tables.lineitem(spark, dir)),
      "events"     -> (() => Tables.events(spark, dir)),
      "documents"  -> (() => Tables.documents(spark, dir)),
      "embeddings" -> (() => Tables.embeddings(spark, dir)))
    loaders.foreach { case (name, f) =>
      val df = try f() catch {
        case e: Throwable => fail(s"$name loader threw at build: $e")
      }
      assert(df.count() > 0, s"$name: zero rows")
    }
  }

  test("events.ts is a session-TZ timestamp whatever the file encoding") {
    val t = Tables.events(spark, dir).schema("ts").dataType
    assert(t == TimestampType, s"events.ts must normalize to TIMESTAMP, got $t")
    assert(t != TimestampNTZType)
  }

  test("pinned column expectations hold against today's files") {
    // the columns queries actually key on — a silent rename/retype in a
    // regenerated lake should fail this audit, not some mid-plan resolve
    val expect = Map(
      "events" -> Set("event_id", "ts", "user_id", "event_type", "value",
        "props"),
      "documents" -> Set("doc_id", "source", "lang", "text"),
      "embeddings" -> Set("vec_id", "embedding", "label"))
    expect.foreach { case (t, cols) =>
      val got = Tables.load(spark, dir, t).columns.toSet
      assert(cols.subsetOf(got), s"$t missing ${cols diff got}")
    }
  }

  test("date/price columns keep the types the query family assumes") {
    import org.apache.spark.sql.types._
    val li = Tables.lineitem(spark, dir).schema
    assert(Set[DataType](DateType, TimestampType, TimestampNTZType)
      .contains(li("l_shipdate").dataType), li("l_shipdate").dataType)
    assert(li("l_extendedprice").dataType.isInstanceOf[NumericType])
    assert(li("l_quantity").dataType.isInstanceOf[NumericType])
    val emb = Tables.embeddings(spark, dir).schema
    assert(emb("embedding").dataType.isInstanceOf[ArrayType],
      emb("embedding").dataType)
  }

  test("embeddings.embedding normalizes to array<float> whatever the file width") {
    import org.apache.spark.sql.types._
    // today's files: already float — loader must be a no-op
    assert(Tables.embeddings(spark, dir).schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = true) ||
      Tables.embeddings(spark, dir).schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = false))
    // a regenerated lake that widened to double must be absorbed (the
    // events.ts lesson, applied to the column the ANN family keys on):
    // write a double-encoded twin and load it through the same path
    val tmp = java.nio.file.Files.createTempDirectory("emb-audit").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", org.apache.spark.sql.functions.col("embedding")
        .cast("array<double>"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/_stage")
    // the testdata layout is a single FILE per table (the streaming glob
    // depends on it); lift the part file out of Spark's directory output
    val partFile = new java.io.File(s"$tmp/_stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(partFile.toPath,
      java.nio.file.Paths.get(s"$tmp/embeddings.parquet"))
    val got = Tables.embeddings(spark, tmp).schema("embedding").dataType
    assert(got.asInstanceOf[ArrayType].elementType == FloatType,
      s"double-encoded lake must narrow to float on read, got $got")
    // and the narrowed values round-trip exactly (float→double→float)
    val a = Tables.embeddings(spark, dir).selectExpr("vec_id", "embedding[0] e")
    val b = Tables.embeddings(spark, tmp).selectExpr("vec_id", "embedding[0] e")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the INGEST path (s11s's reader) must absorb the same regen: streamed
    // rows off the double-encoded twin equal the batch read, as floats
    val streamed = graft.streaming.Streams.runToMemory(
      Tables.stream(spark, tmp, "embeddings")
        .selectExpr("vec_id", "embedding[0] e"),
      "emb_audit_stream", mode = "append")
    assert(streamed.schema("e").dataType ==
      org.apache.spark.sql.types.FloatType)
    assert(streamed.exceptAll(b).isEmpty && b.exceptAll(streamed).isEmpty)
  }

  test("SHARDED double-encoded embeddings lake streams through the same probe") {
    // ADVICE r8: the element-width probe used to read only the canonical
    // single-file path, so a sharded layout (embeddings_0.parquet, ...)
    // that the stream's glob accepts skipped the probe, fell back to the
    // pinned float schema, and failed on every micro-batch — the exact
    // regen class the probe exists to absorb. Pin the fixed path: two
    // double-encoded shards, no embeddings.parquet at all.
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("emb-shard").toString
    val doubled = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    Seq(0, 1).foreach { i =>
      doubled.filter(col("vec_id") % 2 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/_stage$i")
      val part = new java.io.File(s"$tmp/_stage$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$tmp/embeddings_$i.parquet"))
    }
    val streamed = graft.streaming.Streams.runToMemory(
      Tables.stream(spark, tmp, "embeddings")
        .selectExpr("vec_id", "embedding[0] e"),
      "emb_shard_stream", mode = "append")
    assert(streamed.schema("e").dataType ==
      org.apache.spark.sql.types.FloatType)
    val b = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding[0] as float) e")
    assert(streamed.exceptAll(b).isEmpty && b.exceptAll(streamed).isEmpty)
  }
}
