package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** A streaming twin stopped after its first input file and restarted from
  * the same checkpoint must end with the output of an uninterrupted run:
  * the restart reads back the offset, commit and source logs, the state
  * deltas and their checksums. Covers dedup state (d10s) and
  * stream-stream interval-join state (q40s). The sink is a parquet file
  * sink, whose own log survives the restart. */
class StreamRestartSpec extends SparkTestBase {
  import spark.implicits._

  /** Write each frame as one parquet file; returns the files. */
  private def files(root: Path, parts: Seq[DataFrame]): Seq[Path] =
    parts.zipWithIndex.map { case (df, i) =>
      val staged = root.resolve(s"staged_$i")
      df.coalesce(1).write.parquet(staged.toString)
      val part = Files.list(staged).toArray.map(_.asInstanceOf[Path])
        .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
      Files.move(part, root.resolve(s"part_$i"))
    }

  /** Drive `query` over `feed` to completion into a parquet sink. */
  private def runOnce(query: String => DataFrame, feed: Path, checkpoint: Path,
      out: Path): Unit =
    query(feed.toString).writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Run 1 over the first file, run 2 from the same checkpoint after the
    * second file arrives; then one run over both files from a fresh
    * checkpoint. Returns the (restarted, uninterrupted) outputs, sorted. */
  private def restartVsStraight(
      table: String,
      parts: Seq[DataFrame],
      query: String => DataFrame): (Seq[String], Seq[String]) = {
    val root = Files.createTempDirectory(s"restart_$table")
    val input = files(root, parts)
    def arrive(i: Int, feed: Path): Unit =
      Files.copy(input(i), feed.resolve(s"${table}_$i.parquet"))
    def read(out: String): Seq[String] = spark.read.parquet(root.resolve(out).toString)
      .collect().map(_.mkString("|")).toSeq.sorted
    val feed = Files.createDirectory(root.resolve("feed"))
    arrive(0, feed)
    runOnce(query, feed, root.resolve("cp"), root.resolve("out"))
    assert(Files.isDirectory(root.resolve("cp/state")), "the query keeps no state")
    arrive(1, feed)
    runOnce(query, feed, root.resolve("cp"), root.resolve("out"))
    val straight = Files.createDirectory(root.resolve("feed_straight"))
    arrive(0, straight)
    arrive(1, straight)
    runOnce(query, straight, root.resolve("cp_straight"), root.resolve("out_straight"))
    (read("out"), read("out_straight"))
  }

  test("d10s: dedup state survives a restart from its checkpoint") {
    // 300 docs over 200 distinct texts; docs 100-199 are in both files and
    // docs 200-299 repeat texts of the first file: none may re-emit
    val docs = (0L until 300L).map(i => (i, s"text ${i % 200}")).toDF("doc_id", "text")
    val (restarted, straight) = restartVsStraight("documents",
      Seq(docs.filter($"doc_id" < 200), docs.filter($"doc_id" >= 100)),
      d => Streams.dedupStream(Tables.stream(spark, d, "documents")))
    val want = docs.select(md5($"text".cast("binary"))).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    assert(restarted == want)
    assert(straight == want)
  }

  test("q40s: interval-join state survives a restart from its checkpoint") {
    // user u clicks at minute 2u; an even user buys 3 minutes later (a
    // match), an odd one 15 minutes later (outside the 10-minute window).
    // The feed splits at minute 121: user 60's click is in the first file
    // and its purchase in the second, so only click state carried over the
    // restart can match them; clicks far behind the watermark are evicted.
    val t0 = Instant.parse("2024-01-15T00:00:00Z")
    def at(minute: Int) = Timestamp.from(t0.plusSeconds(60L * minute))
    val events = (0 until 120).flatMap { u =>
      Seq((2L * u, u.toLong, "click", at(2 * u)),
        (2L * u + 1, u.toLong, "purchase", at(2 * u + (if (u % 2 == 0) 3 else 15))))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val (restarted, straight) = restartVsStraight("events",
      Seq(events.filter($"ts" < at(121)), events.filter($"ts" >= at(121))),
      d => Streams.clickPurchaseJoin(Tables.stream(spark, d, "events")))
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
    def show(minute: Int) = fmt.format(at(minute).toInstant)
    val want = (0 until 120 by 2).map(u => s"$u|${show(2 * u)}|${show(2 * u + 3)}").sorted
    assert(restarted.contains(s"60|${show(120)}|${show(123)}"))
    assert(restarted == want)
    assert(straight == want)
  }
}
