package graft.streaming

import graft.SparkTestBase
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Streaming index ingestion: drains shard drops into cluster-partitioned
  * inverted lists, equals the batch assignment, and re-runs add nothing
  * (checkpointed exactly-once).
  */
class VectorStreamingSpec extends SparkTestBase {

  test("streamed shard drains equal batch assignment; re-run is a no-op") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_vstream").toString
    val src = s"$tmp/drop"; val lists = s"$tmp/lists"; val ckpt = s"$tmp/ckpt"

    // the frozen quantizer comes from the initially-indexed slice
    val shard1 = emb.filter(col("vec_id") < 250)
    val shard2 = emb.filter(col("vec_id") >= 250)
    val cents = Similarity.strideCentroids(
      shard1.select(col("vec_id"), col("embedding")), nList = 8)

    shard1.write.parquet(src) // first drop
    VectorStreaming.runAssignAvailableNow(spark, src, cents, lists, ckpt)
    shard2.write.mode("append").parquet(src) // second drop, later drain
    VectorStreaming.runAssignAvailableNow(spark, src, cents, lists, ckpt)

    val streamed = spark.read.parquet(lists)
      .select(col("vec_id"), col("cluster").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = Similarity.assign(emb, cents)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == batch) // incremental drains ≡ one batch assignment

    // third drain with no new files: checkpoint makes it a no-op
    VectorStreaming.runAssignAvailableNow(spark, src, cents, lists, ckpt)
    assert(spark.read.parquet(lists).count() == emb.count())

    // the hive layout keeps probes prunable: per-micro-batch idempotency
    // dirs on top, one directory per list inside
    val batchDirs = new java.io.File(lists).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.nonEmpty)
    val clusterDirs = batchDirs.head.listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(clusterDirs.nonEmpty && clusterDirs.length <= 8)
  }

  test("streamed drains compose with a writeLists-bootstrapped directory") {
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_vboot").toString
    // bootstrap: batch index build over the first slice, lists persisted
    val boot = emb.filter(col("vec_id") < 250)
    val idx = IvfIndex.build(boot, col("vec_id"), col("embedding"), nList = 8)
    IvfIndex.writeLists(idx, s"$tmp/lists")
    // stream the remaining slice into the SAME directory — one layout,
    // one partition-discoverable tree (the bare cluster= vs
    // batch=/cluster= mix used to fail discovery outright)
    emb.filter(col("vec_id") >= 250).write.parquet(s"$tmp/drop")
    VectorStreaming.runAssignAvailableNow(spark, s"$tmp/drop",
      idx.centroids, s"$tmp/lists", s"$tmp/ckpt")
    val all = spark.read.parquet(s"$tmp/lists")
    assert(all.count() == emb.count())
    assert(all.select(col("vec_id")).distinct().count() == emb.count())
  }

  test("compacted lists equal the drained lists; cluster pruning survives") {
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_vcomp").toString
    val src = s"$tmp/drop"; val lists = s"$tmp/lists"; val ckpt = s"$tmp/ckpt"
    val cents = Similarity.strideCentroids(
      emb.select(col("vec_id"), col("embedding")), nList = 8)
    emb.filter(col("vec_id") < 150).write.parquet(src)
    VectorStreaming.runAssignAvailableNow(spark, src, cents, lists, ckpt)
    emb.filter(col("vec_id") >= 150 && col("vec_id") < 300)
      .write.mode("append").parquet(src)
    VectorStreaming.runAssignAvailableNow(spark, src, cents, lists, ckpt)
    emb.filter(col("vec_id") >= 300).write.mode("append").parquet(src)
    VectorStreaming.runAssignAvailableNow(spark, src, cents, lists, ckpt)

    val before = IvfIndex.openLists(spark, lists)
      .select(col("vec_id"), col("cluster").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val n = SinkCompaction.compact(spark, lists,
      innerPartitions = Seq("cluster"))
    // the stream's LATEST batch is replay-protected and never folds
    assert(n == 2, s"expected the two older drain partitions compacted, got $n")
    val after = IvfIndex.openLists(spark, lists)
      .select(col("vec_id"), col("cluster").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before)
    SinkCompaction.reclaim(spark, lists)
    // compact dir + the protected latest batch, cluster= layout beneath
    val batchDirs = new java.io.File(lists).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.length == 2, s"got ${batchDirs.map(_.getName).toSeq}")
    val compactDir = batchDirs.find(_.getName.startsWith("batch=compact-")).get
    assert(compactDir.listFiles.count(f =>
      f.isDirectory && f.getName.startsWith("cluster=")) <= 8)
  }

  test("drain against an empty or absent drop directory is a no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vstream_e").toString
    VectorStreaming.runAssignAvailableNow(spark, s"$tmp/nowhere",
      Seq(Seq(1.0f, 0.0f)), s"$tmp/lists", s"$tmp/ckpt")
    assert(!new java.io.File(s"$tmp/lists").exists())
  }
}
