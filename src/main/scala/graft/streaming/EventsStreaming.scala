package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.sources.Tables.withNanosConf

/** Structured-Streaming surface over the `events` table. The reference has
  * no true streams — its incremental pattern is a watermark-batched ETL
  * (reference: cmd/msgvault/cmd/build_cache.go:118-263 `_last_sync.json`);
  * `Trigger.AvailableNow` + checkpoint is the Spark-native equivalent, and
  * the windowed aggregations cover the added `events` stream table.
  */
object EventsStreaming {

  /** Streaming twin of [[graft.sources.Tables]]' events loader: probe the
    * directory's `ts` encoding from a batch footer read (streaming sources
    * need an explicit schema anyway) and normalize to a canonical
    * TimestampType `ts` — TIMESTAMP(µs)/NTZ files cast losslessly (UTC
    * session), legacy TIMESTAMP(NANOS) files read as long nanos and
    * truncate to µs. Keeps every streaming entry point agnostic to which
    * generation of testdata it's fed.
    */
  private val probedSchemas = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String), org.apache.spark.sql.types.StructType]()

  /** One footer probe per (session, dir, CONTENT fingerprint): the
    * attribution join builds TWO branches of the same directory, and on a
    * legacy NANOS dir each un-memoized probe would first throw and
    * re-read. The fingerprint key matters: the events encoding has
    * CHANGED between testdata generations (NANOS → µs), and a memo keyed
    * by path alone would serve the stale schema after an in-place regen —
    * readStream would then misread µs values through the LongType
    * ns-truncation branch (timestamps 1000× off) instead of re-probing.
    */
  private def probeSchema(spark: SparkSession,
      eventsDir: String): org.apache.spark.sql.types.StructType = {
    val fp = graft.queries.corpusFingerprint(spark, eventsDir)
    probedSchemas.computeIfAbsent(
      (System.identityHashCode(spark), eventsDir, fp), _ =>
        try spark.read.parquet(eventsDir).schema
        catch {
          case scala.util.control.NonFatal(_) =>
            withNanosConf(spark)(spark.read.parquet(eventsDir).schema)
        })
  }

  /** Scope the legacy-nanos conf around an entire drained run when the
    * directory needs it — the streaming parquet reader consults the conf
    * when the query starts, so it must hold for the run's duration and
    * is restored once the drain terminates.
    */
  private def withEncodingScope[T](spark: SparkSession, eventsDir: String)(
      f: => T): T =
    if (probeSchema(spark, eventsDir)("ts").dataType ==
      org.apache.spark.sql.types.LongType) withNanosConf(spark)(f)
    else f

  private def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = probeSchema(spark, eventsDir)
    val raw = spark.readStream.schema(schema).parquet(eventsDir)
    schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          timestamp_micros(graft.sources.Tables.nsToMicros(col("ts"))))
      case _ =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Batch-equivalent tumbling window counts (same plan the streaming
    * variant runs per micro-batch).
    */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("cnt"),
        col("total_value"))

  /** Session windows via the builtin session_window (gap-based). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("cnt"))

  /** True streaming run: parquet source → tumbling agg → in-memory sink,
    * drained with Trigger.AvailableNow (processes all available input
    * then stops). Returns the result table.
    *
    * Output mode is COMPLETE deliberately: a one-shot drain must emit
    * every window including those still inside the watermark (Append
    * would hold back the trailing hour forever on a finite drain).
    * Complete retains ALL window state and ignores the watermark for
    * eviction — fine for a drain, NOT the unbounded-run shape; a
    * forever-run would use Append + a file sink, where the watermark
    * both bounds state and gates emission (see [[runDedupIncremental]]
    * for the re-runnable file-sink pattern).
    */
  def runTumblingAvailableNow(spark: SparkSession, eventsDir: String,
      checkpoint: String, queryName: String = "graft_events_tumbling"): DataFrame =
    withEncodingScope(spark, eventsDir) {
    val stream = eventsStream(spark, eventsDir)
      .withWatermark("ts", "1 hour")
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("event_type"), col("cnt"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** True-streaming session windows: gap-based `session_window`
    * aggregation drained with AvailableNow. Same COMPLETE-mode rationale
    * (and caveat) as [[runTumblingAvailableNow]]: a one-shot drain must
    * emit sessions still open at end-of-input, so Complete retains all
    * session state and the watermark does not evict — the
    * bounded-by-concurrent-sessions property belongs to the Append
    * forever-run shape, not to this drain.
    */
  def runSessionsAvailableNow(spark: SparkSession, eventsDir: String,
      checkpoint: String, gap: String = "30 minutes",
      queryName: String = "graft_events_sessions"): DataFrame =
    withEncodingScope(spark, eventsDir) {
    val stream = eventsStream(spark, eventsDir)
      .withWatermark("ts", "1 hour")
    val agg = stream
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("cnt"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` on event_id —
    * the streaming face of the dedup family (§2.11/2.12). The
    * WithinWatermark variant is load-bearing: plain
    * `dropDuplicates("event_id")` never evicts state unless the event-time
    * column is part of the key, so its state grows with every id ever
    * seen; WithinWatermark expires each id once the watermark passes it,
    * bounding memory by arrival skew, not stream length — the property
    * that makes this run forever on an unbounded 100 TB/day feed.
    *
    * ONE-SHOT per checkpoint: Spark refuses checkpoint recovery for a
    * memory sink in Append mode, so re-invoking with the same checkpoint
    * throws rather than processing the delta. The re-runnable
    * incremental shape is [[runDedupIncremental]] (file sink).
    */
  def runDedupAvailableNow(spark: SparkSession, eventsDir: String,
      checkpoint: String, queryName: String = "graft_events_dedup"): DataFrame =
    withEncodingScope(spark, eventsDir) {
    val stream = eventsStream(spark, eventsDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** RE-RUNNABLE incremental dedup: Append + parquet sink + checkpoint —
    * the true incremental-ETL shape (the reference's `_last_sync.json`
    * watermark-batch pattern, build_cache.go:118-263). Each drain
    * processes ONLY the source files the checkpoint has not committed
    * yet and appends their first-seen rows to `outDir`; duplicate ids
    * arriving within the watermark of their first copy are dropped
    * ACROSS drains too (the dedup state store rides the checkpoint).
    * Memory-sink drains can't do this — Spark refuses checkpoint
    * recovery for non-Complete memory sinks. Returns the sink contents.
    */
  def runDedupIncremental(spark: SparkSession, eventsDir: String,
      checkpoint: String, outDir: String): DataFrame =
    withEncodingScope(spark, eventsDir) {
    val stream = eventsStream(spark, eventsDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Batch twin of the stream-stream interval join: purchases paired with
    * the same user's clicks from the preceding hour (inclusive).
    */
  def attributionPairs(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    purchases.join(clicks,
      expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
  }

  /** Stream-stream interval join: two watermarked branches of the event
    * stream (purchases ⋈ clicks) joined on user + a time-range bound.
    * The range condition is what makes unbounded-stream state finite:
    * each side's state store evicts a row once the OTHER side's watermark
    * moves past the farthest time that row could still match
    * (clicks retire 1 h + watermark delay after their event time) — so
    * state is bounded by arrival skew × rate, not stream length. Without
    * the range bound Spark rejects the inner stream-stream join outright.
    *
    * Same one-shot-per-checkpoint caveat as [[runDedupAvailableNow]]
    * (Append memory sink can't recover a checkpoint); swap in a file
    * sink as [[runDedupIncremental]] does for re-runnable drains.
    */
  def runAttributionJoinAvailableNow(spark: SparkSession, eventsDir: String,
      checkpoint: String,
      queryName: String = "graft_events_attribution"): DataFrame =
    withEncodingScope(spark, eventsDir) {
    def branch(): DataFrame = eventsStream(spark, eventsDir)
    val purchases = branch().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = branch().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
    val q = joined.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  final case class UserRunning(user_id: Long, events: Long, total_value: Double)

  /** Custom state machine: per-user running totals via
    * flatMapGroupsWithState — the KeyValueGroupedDataset path for state
    * Spark's windows can't express.
    */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.events
          var total = prev.total_value
          rows.foreach { r => n += 1; total += r._2 }
          val next = UserRunning(uid, n, total)
          state.update(next)
          Iterator(next)
      }
      .toDF()
  }
}
