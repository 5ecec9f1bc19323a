package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The one drop-dir rule every file-stream drain keeps (an empty or
  * missing drop dir is a no-op that writes nothing and commits nothing),
  * and the replay-safe batch write they all share.
  */
class DrainSpec extends SparkTestBase {
  import spark.implicits._

  /** Each drain as (src, sink, checkpoint) => drain once. */
  private val drains: Seq[(String, (String, String, String) => Unit)] = Seq(
    "VectorStreaming" -> { (src, sink, ckpt) =>
      VectorStreaming.runAssignAvailableNow(spark, src,
        Seq(Seq(1.0f, 0.0f)), sink, ckpt)
    },
    "DocStreaming" -> { (src, sink, ckpt) =>
      DocStreaming.runCurateAvailableNow(spark, src,
        Seq((1000L, "an indexed document")).toDF("id", "text"),
        sink, s"$sink-bands", ckpt)
    },
    "StreamPacking" -> { (src, sink, ckpt) =>
      StreamPacking.runPackAvailableNow(spark, src, sink, ckpt,
        seqLen = 512, id = "doc_id", tokens = col("n"))
    },
    "CacheBuilder.streamBuild" -> { (src, sink, ckpt) =>
      graft.engine.CacheBuilder.streamBuild(spark, src, sink, ckpt)
    })

  private val dropDirs: Seq[(String, String => Unit)] = Seq(
    "an empty" -> { d => Files.createDirectories(Paths.get(d)); () },
    "a missing" -> { _ => () })

  for ((name, drain) <- drains; (state, make) <- dropDirs)
    test(s"$name on $state drop dir: no error, nothing written, no commit") {
      val tmp = Files.createTempDirectory("graft_drain").toString
      val src = s"$tmp/drop"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      make(src)
      drain(src, sink, ckpt)
      assert(!new File(sink).exists(), s"$name wrote to its sink")
      assert(!new File(s"$ckpt/commits").exists(),
        s"$name committed a batch")
      // nor any side output (a band sidecar, a checkpoint's identity)
      val left = new File(tmp).list().toSet
      val made = if (state == "an empty") Set("drop") else Set.empty[String]
      assert(left == made, s"$name left $left")
    }

  private def rows(dir: String): Set[(Long, Int, String)] =
    spark.read.parquet(dir)
      .select(col("id"), col("cluster").cast("int"), col("batch"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

  test("replaceBatch: a replay leaves none of its first attempt's rows") {
    val dir = Files.createTempDirectory("graft_replace").toString
    Drain.replaceBatch(Seq((1L, 0), (2L, 1), (3L, 2)).toDF("id", "cluster"),
      dir, "s-b0", innerPartitions = Seq("cluster"))
    Drain.replaceBatch(Seq((9L, 5)).toDF("id", "cluster"),
      dir, "s-b1", innerPartitions = Seq("cluster"))
    // fewer cluster= partitions than the first attempt: dynamic
    // overwrite alone would keep clusters 1 and 2 live
    Drain.replaceBatch(Seq((1L, 0)).toDF("id", "cluster"),
      dir, "s-b0", innerPartitions = Seq("cluster"))
    assert(rows(dir) == Set((1L, 0, "s-b0"), (9L, 5, "s-b1")))
    // an empty replay emits no partition at all
    Drain.replaceBatch(Seq.empty[(Long, Int)].toDF("id", "cluster"),
      dir, "s-b0", innerPartitions = Seq("cluster"))
    assert(rows(dir) == Set((9L, 5, "s-b1")))
  }
}
