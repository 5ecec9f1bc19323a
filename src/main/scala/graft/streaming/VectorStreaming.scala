package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
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
  * the index grows). Prior batches' files are never touched.
  *
  * Exactly-once is [[Drain]]'s: a replayed micro-batch replaces its own
  * `batch=` partition (and every `cluster=` list beneath it) instead of
  * duplicating vectors. Centroids stay frozen across drains; a
  * generation rotate ([[graft.operators.VectorIndex]]) re-derives them
  * only when drift warrants a rebuild.
  */
object VectorStreaming {

  /** Drain every unconsumed shard in `srcDir` into the `listsDir` index:
    * assign → cluster-partitioned write under the micro-batch's own
    * batch= partition. Returns when the backlog is consumed; a drain
    * against an empty drop directory is a no-op.
    */
  def runAssignAvailableNow(spark: SparkSession, srcDir: String,
      centroids: Seq[Seq[Float]], listsDir: String,
      checkpoint: String): Unit =
    Drain.run(spark, srcDir, checkpoint) { (batch, tag, _) =>
      Drain.replaceBatch(
        Similarity.assign(batch, centroids)
          .repartition(col("cluster")), // one writer per list, no small files
        listsDir, tag, innerPartitions = Seq("cluster"))
    }
}
