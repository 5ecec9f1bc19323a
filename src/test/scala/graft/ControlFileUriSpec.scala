package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{CacheBuilder, Fixtures}
import graft.operators.VectorIndex
import graft.streaming.StreamPacking

/** A directory given as a `file://` URI keeps its control files inside
  * that directory, beside the Parquet data Spark writes there — never
  * under a relative `file:` path in the working directory.
  */
class ControlFileUriSpec extends SparkTestBase {
  import Fixtures._
  import spark.implicits._

  private def uriDir(tag: String) = {
    val local = Files.createTempDirectory(s"graft_uri_$tag")
    (local, s"file://$local")
  }

  test("CacheBuilder.build into a file:// star writes and reads _last_sync.json there") {
    val (local, uri) = uriDir("star")
    val input = Fixtures.vault(spark,
      messages = (1 to 3).map(i =>
        msg(i.toLong, s"s$i", s"2024-0$i-10 10:00:00")),
      recipients = (1 to 3).map(i => MrRow(i.toLong, 1L, "from", None)),
      participants =
        Seq(PRow(1, Some("a@x.com"), Some("A"), None, Some("x.com"))),
      labels = Seq(LblRow(1, "INBOX")),
      messageLabels = (1 to 3).map(i => MlRow(i.toLong, 1L)),
      attachments =
        Seq(AttRow(1, 1, "f.bin", "application/octet-stream", 10, "h")))
    assert(CacheBuilder.build(spark, input, uri) == 3)
    assert(Files.exists(local.resolve("messages")))
    assert(Files.exists(local.resolve(CacheBuilder.StateFile)),
      "the sync state must sit beside the star's tables")
    assert(CacheBuilder.readState(uri).map(_.lastMessageId).contains(3L))
    assert(!CacheBuilder.staleness(spark, input, uri).needsBuild)
  }

  test("VectorIndex on a file:// index dir keeps its pointer beside its generations") {
    val (local, uri) = uriDir("index")
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("message_id", "embedding")
    assert(VectorIndex.beginGeneration(uri, "m", 2) == 0L)
    assert(Files.exists(local.resolve("_building.json")))
    assert(VectorIndex.collectStats(spark, uri).building.map(_.done).contains(0L))
    assert(VectorIndex.buildGeneration(vecs, uri, "fp-a") == 0L)
    assert(Files.exists(local.resolve("_index.json")))
    assert(!Files.exists(local.resolve("_building.json")))
    assert(VectorIndex.active(spark, uri).get.count() == 2L)
    assert(VectorIndex.collectStats(spark, uri).active
      .map(_.message_count).contains(2L))
  }

  test("the StreamPacking ledger of a file:// sink sits in the sink") {
    val (local, uri) = uriDir("pack")
    val b0 = Seq((1L, 300L), (2L, 300L)).toDF("doc_id", "n")
    val b1 = Seq((10L, 100L)).toDF("doc_id", "n")
    StreamPacking.packBatch(spark, b0, uri, "t-b0", 0L, 512, "doc_id", col("n"))
    StreamPacking.packBatch(spark, b1, uri, "t-b1", 1L, 512, "doc_id", col("n"))
    assert(Files.exists(local.resolve("_pack_offsets.json")))
    assert(StreamPacking.readLedger(uri) ==
      Map(0L -> ((0L, 600L)), 1L -> ((600L, 700L))))
    assert(StreamPacking.readLedger(local.toString) ==
      StreamPacking.readLedger(uri))
  }
}
