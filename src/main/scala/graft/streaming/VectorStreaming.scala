package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Similarity

/** Streaming ingestion into the coarse vector index — the streaming twin
  * of the `vector_index_delta` batch query (reference analogue: the
  * embedding queue drain feeding the sqlite-vec store,
  * internal/vector/sqlitevec/backend.go:299-343, re-expressed as a
  * Structured Streaming file source instead of a polling worker).
  *
  * Fresh embedding shards land as parquet files in a drop directory;
  * each micro-batch is assigned against the ACTIVE generation's FROZEN
  * centroids ([[Similarity.assign]] — one narrow scan, no shuffle
  * beyond the per-list write clustering) and appended into the inverted
  * lists' hive partitions ([[graft.operators.IvfIndex.writeLists]]
  * layout, so probe queries keep pruning to nProbe/nList of the data as
  * the index grows). Prior batches' files are never touched; only a
  * REPLAYED micro-batch rewrites (exactly) its own partitions.
  *
  * Effectively-once: the checkpoint tracks consumed source files (a
  * completed drain re-run adds nothing), and because `foreachBatch` is
  * only AT-least-once — a crash between the write and the checkpoint
  * commit replays the batch — each micro-batch writes its own batch=
  * partitions with dynamic overwrite, so a replay REPLACES its partial
  * output instead of duplicating vectors. The Spark-native equivalent
  * of the reference's transactional queue claim/ack cycle. Centroids
  * stay frozen across drains; a generation rotate
  * ([[graft.operators.VectorIndex]]) re-derives them only when drift
  * warrants a rebuild.
  */
object VectorStreaming {

  /** Drain every unconsumed shard in `srcDir` into the `listsDir` index:
    * assign → cluster-partitioned write under the micro-batch's own
    * batch= partition. Returns when the backlog is consumed; a drain
    * against an empty drop directory is a no-op.
    */
  def runAssignAvailableNow(spark: SparkSession, srcDir: String,
      centroids: Seq[Seq[Float]], listsDir: String,
      checkpoint: String): Unit = {
    // an empty drop dir is the steady state between shard deliveries — a
    // no-op drain, not a schema-inference crash, so UNABLE_TO_INFER_SCHEMA
    // is swallowed silently. A MISSING dir is ambiguous: legitimately
    // not-yet-created before the first delivery, but also exactly what a
    // permanently typo'd srcDir raises — and a silent return there means
    // the index stops growing with no signal. So PATH_NOT_FOUND still
    // no-ops (the pre-first-delivery drain must not crash) but logs
    // loudly, giving the misconfiguration a trail in the drain logs.
    val schema =
      try spark.read.parquet(srcDir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(
              _.contains("UNABLE_TO_INFER_SCHEMA")) =>
          return
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")) =>
          System.err.println(
            s"[graft] vector-stream drain: source dir '$srcDir' does not " +
              "exist — treating as empty (no shards delivered yet). If " +
              "this repeats across drains, the path is misconfigured.")
          return
      }
    // Batch partitions are namespaced by a STREAM identity, not the bare
    // batchId: batch ids restart at 0 whenever the checkpoint is deleted
    // (and collide outright if a second stream ever shares this
    // listsDir), and a bare batch=b0 overwrite would then silently
    // replace another incarnation's partitions while its stale
    // higher-numbered batches survive. The identity is a UUID minted once
    // per checkpoint lifetime and stored IN the checkpoint dir, so (a)
    // replays of the same stream keep the same namespace (idempotent
    // overwrite still works), and (b) a fresh checkpoint gets a fresh
    // namespace — it can never clobber a previous incarnation's data,
    // and leftover foreign namespaces in listsDir are detectable (and
    // mean the index needs a rebuild, which losing the checkpoint
    // implies anyway).
    val streamTag = streamIdentity(spark, checkpoint)
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // foreachBatch is AT-LEAST-once: a batch replayed after a crash
        // between the write and the checkpoint commit must land on its
        // own batch=<tag>-b<id> partitions and OVERWRITE them (dynamic
        // mode), or the lists would accumulate duplicate vectors;
        // cluster stays a partition column below it, so probes still prune
        Similarity.assign(batch, centroids)
          .withColumn("batch", lit(s"$streamTag-b$batchId"))
          .repartition(col("cluster")) // one writer per list, no small files
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch", "cluster")
          .parquet(listsDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The stream's partition-namespace identity: a UUID minted on first
    * use of a checkpoint dir and persisted inside it (`graft_stream_id`),
    * so the identity lives and dies with the checkpoint. Uses the Hadoop
    * FS API — checkpoints may be on any supported filesystem.
    */
  // private[graft]: CacheBuilder.streamBuild namespaces its batch tags
  // with the same identity (a bare b<id> tag lets a recreated checkpoint
  // dynamic-overwrite a prior incarnation's batches)
  private[graft] def streamIdentity(spark: SparkSession,
      checkpoint: String): String = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(checkpoint, "graft_stream_id")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    // the marker can VANISH between an exists() and the read (a racer
    // deleting a legacy empty marker) — that is a retry condition for
    // the loop below, not a crash
    def read(): Option[String] = graft.ControlFile.read(marker).map(_.trim)
    // Write-then-RENAME, never create-in-place: a crash between a direct
    // create and its write would leave a permanent zero-byte marker
    // (identity "" forever — and shared by every other crashed
    // checkpoint in the listsDir). After the rename the marker is
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
      // among incarnations that ever shared one listsDir
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
