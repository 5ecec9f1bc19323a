package graft.streaming

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** True Structured-Streaming runs over the events table (AvailableNow =
  * the incremental-ETL analogue) checked against the batch twin.
  */
class EventsStreamingSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("AvailableNow tumbling agg matches the batch twin") {
    // file streaming sources require a directory of files
    val srcDir = java.nio.file.Files.createTempDirectory("graft_events_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val streamed = EventsStreaming.runTumblingAvailableNow(
      spark, srcDir.toString, checkpoint)
      .select("bucket", "event_type", "cnt")
    val batch = EventsStreaming.tumblingCounts(Tables.load(spark, dir, "events"))
      .select("bucket", "event_type", "cnt")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup removes cross-file duplicates, keeps uniques") {
    // two copies of the same file → every event arrives twice
    val srcDir = java.nio.file.Files.createTempDirectory("graft_dedup_src")
    for (n <- Seq("a.parquet", "b.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), srcDir.resolve(n))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_dedup_ckpt").toString
    val deduped = EventsStreaming.runDedupAvailableNow(
      spark, srcDir.toString, checkpoint)
    val originals = Tables.load(spark, dir, "events").count()
    assert(deduped.count() == originals)
  }

  test("session windows produce plausible per-user sessions") {
    val sessions = EventsStreaming.sessionCounts(
      Tables.load(spark, dir, "events")).collect()
    assert(sessions.nonEmpty)
    assert(sessions.forall(_.getAs[Long]("cnt") >= 1))
  }

  test("true-streaming session windows match the batch session twin") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sess_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_sess_ckpt").toString
    val streamed = EventsStreaming.runSessionsAvailableNow(
      spark, srcDir.toString, checkpoint)
    val batch = EventsStreaming.sessionCounts(Tables.load(spark, dir, "events"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental dedup re-drains the SAME checkpoint, processing only the delta") {
    // the memory-sink drains are one-shot per checkpoint (Spark refuses
    // Append-mode memory-sink recovery); this is the re-runnable shape —
    // drain, add files, drain again: the second pass must process only
    // the new files and keep deduping against checkpointed state
    val srcDir = java.nio.file.Files.createTempDirectory("graft_incdedup_src")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_incdedup_out").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_incdedup_ckpt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("a.parquet"))
    val originals = Tables.load(spark, dir, "events").count()

    val first = EventsStreaming.runDedupIncremental(
      spark, srcDir.toString, ckpt, outDir).count()
    assert(first == originals)

    // delta: a duplicate copy of the same file — every event id already
    // committed; the re-drain must add NOTHING new to the sink
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("b.parquet"))
    val second = EventsStreaming.runDedupIncremental(
      spark, srcDir.toString, ckpt, outDir).count()
    assert(second == originals,
      s"re-drain must dedup against checkpointed state: $second vs $originals")
  }

  test("watermark drops events later than the threshold (append mode)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val agg = src.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("event_type"), col("cnt"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_late_ckpt").toString
    val q = agg.writeStream.format("memory").queryName("graft_late")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .start()
    // batch 1: max event time 12:30 → watermark advances to 11:30
    src.addData((ts("2024-01-01 10:10:00"), "a"), (ts("2024-01-01 12:30:00"), "a"))
    q.processAllAvailable()
    // batch 2: 09:20 is below the watermark → MUST be dropped entirely
    src.addData((ts("2024-01-01 09:20:00"), "a"))
    q.processAllAvailable()
    // batch 3: advance watermark so closed windows finalize and emit
    src.addData((ts("2024-01-01 14:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_late").collect()
      .map(r => r.getAs[java.sql.Timestamp]("bucket") -> r.getAs[Long]("cnt")).toMap
    // the 10:00 window finalized with exactly its one on-time event
    assert(rows.get(ts("2024-01-01 10:00:00")).contains(1L), s"got $rows")
    // the late event's window never appears in the append output
    assert(!rows.contains(ts("2024-01-01 09:00:00")), s"late event leaked: $rows")
  }

  test("flatMapGroupsWithState running totals accumulate per user") {
    import spark.implicits._
    val events = Seq((1L, 10.0), (1L, 5.0), (2L, 7.0))
      .toDF("user_id", "value")
    val out = EventsStreaming.runningTotals(spark, events)
      .groupBy(col("user_id"))
      .agg(max(col("events")).as("n"), max(col("total_value")).as("total"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((2L, 15.0)))
    assert(out(2L) == ((1L, 7.0)))
  }

  test("watermarked stream-stream interval join matches the batch twin") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_attr_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_attr_ckpt").toString
    val streamed = EventsStreaming.runAttributionJoinAvailableNow(
      spark, srcDir.toString, checkpoint)
    val batch = EventsStreaming.attributionPairs(
      Tables.load(spark, dir, "events"))
    assert(batch.count() > 0) // the join is exercised, not vacuous
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("withNanosConf is reentrant: nested scopes restore the ORIGINAL value") {
    // Regression: a naive save/set/restore entered twice captures
    // prev="true" on the inner entry, so the outer restore leaves the
    // session-global legacy flag set for every later parquet read.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    // the conf is REGISTERED with default "false", so getOption reports
    // the default even when unset — restore-to-default is the contract
    val original = spark.conf.get(key)
    assert(original != "true")
    graft.sources.Tables.withNanosConf(spark) {
      assert(spark.conf.get(key) == "true")
      graft.sources.Tables.withNanosConf(spark) {
        assert(spark.conf.get(key) == "true")
      }
      // inner exit must NOT restore yet — the outer scope still holds it
      assert(spark.conf.get(key) == "true")
    }
    assert(spark.conf.get(key) == original,
      "outermost exit must restore the original state")

    // and with a pre-existing explicit value
    spark.conf.set(key, "false")
    graft.sources.Tables.withNanosConf(spark) {
      graft.sources.Tables.withNanosConf(spark)(())
      assert(spark.conf.get(key) == "true")
    }
    assert(spark.conf.get(key) == "false")
    spark.conf.unset(key)
  }
}
