package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CacheBuilder
import graft.engine.CacheBuilder.SyncState
import graft.operators.VectorIndex
import graft.operators.VectorIndex.{BuildingState, IndexState}
import graft.streaming.{SinkCompaction, StreamPacking}

/** The control-file formats, with no SparkSession: every file kind reads
  * back the bytes the previous hand-rolled writers produced, writes the
  * same JSON tree, and fails naming its path when its body is cut short.
  * Then the publish recipe: unique hidden tmp names, whole files under
  * concurrent writers and readers, the OVERWRITE rename fallback, and a
  * failed rename that leaves no tmp behind.
  */
class ControlFileSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private def tmpDir(tag: String): JPath =
    Files.createTempDirectory(s"graft_cf_$tag")
  private def put(dir: JPath, name: String, body: String): JPath =
    Files.writeString(dir.resolve(name), body)
  private def sameTree(file: JPath, literal: String): Unit =
    assert(json.readTree(Files.readString(file)) == json.readTree(literal),
      s"${Files.readString(file)} is not the tree of $literal")

  // Literal bodies in the formats of the previous writers, byte for byte.
  private val syncMin =
    """{"last_message_id":-9223372036854775808,""" +
      """"last_sync_at":1760832000,"schema_version":3}"""
  private val syncNoAt = """{"last_message_id":42,"schema_version":2}"""
  private val restoreCheck = """{"covered_to":17}"""
  private val ledger =
    """{"0": {"base": 0, "after": 600}, "1": {"base": 600, "after": 750}}"""
  // the previous escaper: \" \\ \n, and a \u escape for other control
  // chars (spliced in: a triple-quoted string would decode it)
  private val index = """{"active":2,"fingerprint":"fp \"q\" \\ a\nb""" +
    "\\u0001" + """c","model":"m\\\"\n""" + "\\u001f" +
    """","dimension":64,"activated_at":"2026-10-19T00:00:00Z"}"""
  private val indexState = IndexState(2L, "fp \"q\" \\ a\nb\u0001c",
    model = "m\\\"\n\u001f", dimension = 64, activatedAt = "2026-10-19T00:00:00Z")
  private val building =
    """{"id":3,"model":"stub-embed","dimension":2,""" +
      """"started_at":"2026-10-19T00:00:00Z"}"""
  private val manifest = "[\"s-b0\",\"s-b1\"]"

  test("every file kind reads the previous writers' bytes back equal") {
    assert(index.contains("\\u0001"), "the escape, not the char itself")
    val d = tmpDir("parent")
    put(d, "_last_sync.json", syncMin)
    assert(CacheBuilder.readState(d.toString).contains(
      SyncState(Long.MinValue, 3, 1760832000L)))
    put(d, "_last_sync.json", syncNoAt)
    assert(CacheBuilder.readState(d.toString).contains(SyncState(42L, 2, 0L)))
    put(d, "_restore_check.json", restoreCheck)
    assert(CacheBuilder.readRestoreCheckFloor(d.toString) == 17L)
    put(d, "_pack_offsets.json", ledger)
    assert(StreamPacking.readLedger(d.toString) ==
      Map(0L -> ((0L, 600L)), 1L -> ((600L, 750L))))
    put(d, "_index.json", index)
    assert(VectorIndex.readState(d.toString).contains(indexState))
    put(d, "_building.json", building)
    assert(VectorIndex.readBuilding(d.toString).contains(
      BuildingState(3L, "stub-embed", 2, "2026-10-19T00:00:00Z")))
    val m = put(d, "compact-x.json", manifest)
    assert(SinkCompaction.readManifest(new Path(m.toString)) ==
      Seq("s-b0", "s-b1"))
  }

  test("every file kind is written as the previous writers' JSON tree") {
    val d = tmpDir("written")
    CacheBuilder.writeState(d.toString, SyncState(Long.MinValue, 3, 1760832000L))
    sameTree(d.resolve("_last_sync.json"), syncMin)
    CacheBuilder.writeRestoreCheckFloor(d.toString, 17L)
    sameTree(d.resolve("_restore_check.json"), restoreCheck)
    StreamPacking.writeLedger(d.toString,
      Map(1L -> ((600L, 750L)), 0L -> ((0L, 600L))))
    sameTree(d.resolve("_pack_offsets.json"), ledger)
    VectorIndex.writeState(d.toString, indexState)
    sameTree(d.resolve("_index.json"), index)
    // the generation after active 2, stamped now
    assert(VectorIndex.beginGeneration(d.toString, "stub-embed", 2) == 3L)
    val at = VectorIndex.readBuilding(d.toString).get.startedAt
    sameTree(d.resolve("_building.json"),
      building.replace("2026-10-19T00:00:00Z", at))
    SinkCompaction.writeManifest(new Path(d.toString), "compact-x",
      Set("s-b1", "s-b0"))
    sameTree(d.resolve(SinkCompaction.manifestDirName)
      .resolve("compact-x.json"), manifest)
    // nothing but the published files: no tmp and no .crc sidecar
    assert(Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("_last_sync.json", "_restore_check.json", "_pack_offsets.json",
        "_index.json", "_building.json", SinkCompaction.manifestDirName))
  }

  test("a truncated control file fails naming its path; an absent one keeps its meaning") {
    val absent = tmpDir("absent").toString
    assert(CacheBuilder.readState(absent).isEmpty)
    assert(CacheBuilder.readRestoreCheckFloor(absent) == Long.MinValue)
    assert(StreamPacking.readLedger(absent).isEmpty)
    assert(VectorIndex.readState(absent).isEmpty)
    assert(VectorIndex.readBuilding(absent).isEmpty)
    assert(SinkCompaction.readManifest(
      new Path(absent, "compact-x.json")).isEmpty)

    def loud(name: String, body: String)(read: String => Any): Unit = {
      val d = tmpDir("cut")
      val f = put(d, name, body)
      val e = intercept[IllegalStateException](read(d.toString))
      assert(e.getMessage.contains(f.toString), s"$name: ${e.getMessage}")
    }
    loud("_last_sync.json", syncMin.take(30))(CacheBuilder.readState)
    loud("_last_sync.json", "")(CacheBuilder.readState) // cut to zero bytes
    loud("_last_sync.json", """{"last_sync_at":1}""")(CacheBuilder.readState)
    loud("_restore_check.json", restoreCheck.dropRight(1))(
      CacheBuilder.readRestoreCheckFloor)
    // ordinal 0 is whole: keeping it alone would lose ordinal 1 silently
    loud("_pack_offsets.json", ledger.take(50))(StreamPacking.readLedger)
    loud("_index.json", index.take(40))(VectorIndex.readState)
    loud("_building.json", building.take(12))(VectorIndex.readBuilding)
    loud("compact-x.json", manifest.take(9))(d =>
      SinkCompaction.readManifest(new Path(d, "compact-x.json")))
  }

  /** The local FS, recording every file it creates; `rename` either
    * refuses an existing target (as HDFS does) or always fails. */
  private class TestFs(refuseExisting: Boolean = false,
      failRename: Boolean = false) extends RawLocalFileSystem {
    val created = ArrayBuffer.empty[Path]
    initialize(URI.create("file:///"), new Configuration())
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      created.synchronized(created += f)
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean =
      if (failRename) throw new IOException("rename refused by the store")
      else if (refuseExisting && exists(dst)) false
      else super.rename(src, dst)
  }

  private def body(i: Int): Array[Byte] =
    json.writeValueAsBytes(Seq.fill(20000)(s"writer-$i").asJava)

  test("concurrent publishes use unique hidden tmp names; readers see whole files") {
    val d = tmpDir("race")
    val target = new Path(d.toString, "state.json")
    val fs = new TestFs()
    ControlFile.publish(fs, target, body(-1))
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger()
    val failure = new AtomicReference[Throwable]()
    // every read parses: the file is always some writer's whole body
    val reader = new Thread(() =>
      try while (!done.get || reads.get == 0) {
        val n = ControlFile.readJson(target).get.strings.size
        if (n != 20000) throw new AssertionError(s"read $n of 20000 elements")
        reads.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) })
    reader.start()
    val writers = (0 until 4).map(t => new Thread(() =>
      (0 until 25).foreach(i =>
        ControlFile.publish(fs, target, body(t * 100 + i)))))
    writers.foreach(_.start()); writers.foreach(_.join())
    done.set(true); reader.join()
    assert(failure.get == null, String.valueOf(failure.get))
    assert(reads.get > 0)
    val tmps = fs.created.map(_.getName).toSeq
    assert(tmps.size == 101 && tmps.distinct.size == 101,
      "one tmp name per write")
    assert(tmps.forall(n => n.startsWith(".") && !n.endsWith(".json")), tmps.head)
    assert(Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("state.json"), "no tmp left behind")
  }

  test("a store whose rename refuses an existing target is replaced via OVERWRITE") {
    val d = tmpDir("refuse")
    val target = new Path(d.toString, "state.json")
    val fs = new TestFs(refuseExisting = true)
    ControlFile.publish(fs, target, "[\"first\"]".getBytes("UTF-8"))
    ControlFile.publish(fs, target, "[\"second\"]".getBytes("UTF-8"))
    assert(ControlFile.read(target).contains("[\"second\"]"))
    assert(Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSeq == Seq("state.json"))
  }

  test("a failed rename deletes its tmp, throws naming the target, keeps the old file") {
    val d = tmpDir("fail")
    val target = new Path(d.toString, "state.json")
    ControlFile.publish(new TestFs(), target, "[\"kept\"]".getBytes("UTF-8"))
    val e = intercept[IOException](
      ControlFile.publish(new TestFs(failRename = true), target,
        "[\"lost\"]".getBytes("UTF-8")))
    assert(e.getMessage.contains(target.toString))
    assert(ControlFile.read(target).contains("[\"kept\"]"))
    assert(Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("state.json"))
  }
}
