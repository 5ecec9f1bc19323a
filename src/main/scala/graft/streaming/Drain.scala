package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one file-stream drain behind every streaming sink
  * ([[VectorStreaming]], [[DocStreaming]], [[StreamPacking]],
  * `CacheBuilder.streamBuild`): parquet shards land in a drop directory,
  * and [[run]] consumes every unconsumed one with `Trigger.AvailableNow`,
  * handing each micro-batch to the caller's per-batch work. Returns when
  * the backlog is consumed. The Structured Streaming analogue of the
  * reference's `_last_sync.json` watermark and its queue claim/ack
  * cycle: the checkpoint records the consumed files, so a completed
  * drain re-run adds nothing.
  *
  * Effectively-once: `foreachBatch` is only AT-least-once — a crash
  * between a batch's write and the checkpoint commit replays the batch.
  * So every batch writes its rows under its own `batch=<stream>-b<id>`
  * partition through [[replaceBatch]], and a replay REPLACES its first
  * attempt's output instead of duplicating it. [[SinkCompaction]] never
  * folds a stream's latest batch, the one a replay can rewrite.
  */
object Drain {

  /** Drain every unconsumed shard in `srcDir`. `open` runs once, after
    * the drop dir is known to hold data, and returns the per-batch work
    * over (micro-batch, batch tag, batch id), so a drain's setup (an
    * index build, a sink guard) is skipped on an empty drain.
    * `oneFilePerBatch` turns each delivered file into its own
    * micro-batch (the packing ledger's arrival order); otherwise a batch
    * takes every file present.
    */
  private[graft] def run(spark: SparkSession, srcDir: String,
      checkpoint: String, oneFilePerBatch: Boolean = false)(
      open: => (DataFrame, String, Long) => Unit): Unit =
    dropSchema(spark, srcDir).foreach { schema =>
      val perBatch = open
      val stream = streamIdentity(spark, checkpoint)
      val source = spark.readStream.schema(schema)
      (if (oneFilePerBatch) source.option("maxFilesPerTrigger", 1L)
       else source)
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          perBatch(batch, tag(stream, batchId), batchId)
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  /** The drop dir's schema, or None for a drain with nothing to read. An
    * empty dir is the steady state between deliveries: silent. A MISSING
    * dir is ambiguous: legitimately not-yet-created before the first
    * delivery, but also exactly what a permanently typo'd path raises,
    * so it no-ops (the pre-first-delivery drain must not crash) with one
    * line on stderr, giving the misconfiguration a trail in the drain
    * logs.
    */
  private def dropSchema(spark: SparkSession,
      srcDir: String): Option[StructType] =
    try Some(spark.read.parquet(srcDir).schema)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        System.err.println(
          s"[graft] drain: source dir '$srcDir' does not exist — treating " +
            "as empty (no shards delivered yet). If this repeats across " +
            "drains, the path is misconfigured.")
        None
    }

  /** The replay-safe batch write: delete the `batch=<tag>` partition,
    * then write `df` under it with dynamic overwrite, nested by
    * `innerPartitions`. Dynamic overwrite alone replaces only the
    * partitions the frame EMITS — a replay with fewer inner partitions,
    * or none at all (an empty survivor set), would leave first-attempt
    * rows live. A crash between the delete and the write reads as "the
    * first attempt never happened", which the replay covers.
    */
  private[graft] def replaceBatch(df: DataFrame, dir: String, tag: String,
      innerPartitions: Seq[String] = Nil): Unit = {
    val own = new Path(dir, s"batch=$tag")
    val fs = own.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(own)) { fs.delete(own, true); () }
    df.withColumn("batch", lit(tag))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("batch" +: innerPartitions: _*)
      .parquet(dir)
  }

  /** Read a drain sink that may not exist yet (first batch): a missing
    * or never-written dir is an empty frame of the declared `ddl`.
    * Compaction-aware ([[SinkCompaction.read]]): batch partitions
    * shadowed by a completed compaction are excluded even if they linger
    * after a crash mid-delete.
    */
  private[graft] def readSink(spark: SparkSession, dir: String,
      ddl: String): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
    try {
      val df = SinkCompaction.read(spark, dir)
      if (df.columns.isEmpty) empty else df
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
            e.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
    }
  }

  /** A drain batch's partition tag: `<stream>-b<batchId>`. */
  private def tag(stream: String, batchId: Long): String =
    s"$stream-b$batchId"

  private val tagPattern = "^(.*)-b(\\d+)$".r

  /** The (stream, batchId) of a drain tag; None for any other tag. */
  private[streaming] def parseTag(t: String): Option[(String, Long)] =
    t match {
      case tagPattern(stream, n) => n.toLongOption.map(stream -> _)
      case _ => None
    }

  /** The stream's partition-namespace identity: a UUID minted on first
    * use of a checkpoint dir and persisted inside it (`graft_stream_id`),
    * so the identity lives and dies with the checkpoint. Batch tags are
    * namespaced by it, not the bare batch id: batch ids restart at 0
    * whenever the checkpoint is deleted (and collide outright if a
    * second stream ever shares a sink), and a bare `b0` overwrite would
    * then silently replace another incarnation's partitions while its
    * stale higher-numbered batches survive. Replays of one stream keep
    * the same namespace (the replay overwrite still works); a fresh
    * checkpoint gets a fresh one, and leftover foreign namespaces in a
    * sink mean it needs a rebuild, which losing the checkpoint implies
    * anyway. Uses the Hadoop FS API — checkpoints may be on any
    * supported filesystem.
    */
  private def streamIdentity(spark: SparkSession,
      checkpoint: String): String = {
    val marker = new Path(checkpoint, "graft_stream_id")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    // the marker can VANISH between an exists() and the read (a racer
    // deleting a legacy empty marker) — that is a retry condition for
    // the loop below, not a crash
    def read(): Option[String] = graft.ControlFile.read(marker).map(_.trim)
    // Write-then-RENAME, never create-in-place: a crash between a direct
    // create and its write would leave a permanent zero-byte marker
    // (identity "" forever — and shared by every other crashed
    // checkpoint in the sink). After the rename the marker is
    // re-READ and ITS content returned, never the locally-minted id:
    // HDFS rename fails onto an existing destination, but POSIX
    // rename(2) (RawLocalFileSystem) silently replaces it, so "my
    // rename returned true" does not prove "the marker holds my id" —
    // the read-back makes both racers converge on whichever write
    // landed last. (True concurrent drains against ONE checkpoint are
    // outside Structured Streaming's own checkpoint contract anyway;
    // this keeps the failure mode 'both adopt the same id' instead of
    // 'each adopts its own'.)
    var attempt = 0
    while (attempt < 3) {
      if (fs.exists(marker)) {
        read() match {
          case Some(id) if id.nonEmpty => return id
          // legacy/corrupt empty marker: remove and mint a fresh identity
          case Some(_) => fs.delete(marker, false); ()
          case None => () // vanished under a racer's delete — retry
        }
      }
      // 8 hex chars is plenty: the namespace only needs to be unique
      // among incarnations that ever shared one sink
      val id = java.util.UUID.randomUUID().toString.take(8)
      val tmp = new Path(checkpoint, s"graft_stream_id.tmp.$id")
      val out = fs.create(tmp, true)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      val renamed = fs.rename(tmp, marker)
      if (!renamed) fs.delete(tmp, false) // rename race lost
      if (fs.exists(marker)) {
        // the marker's content IS the identity
        read().filter(_.nonEmpty).foreach(settled => return settled)
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not establish a stream identity under $checkpoint")
  }
}
