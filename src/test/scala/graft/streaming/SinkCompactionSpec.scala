package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Crash-safe compaction of batch-partitioned streaming sinks: data is
  * identical through every interruption point, the latest batch per
  * stream is never folded (replay safety), reclamation is deferred so
  * in-flight readers keep their files, and readers never double-count.
  */
class SinkCompactionSpec extends SparkTestBase {

  private def writeBatches(dir: String, tags: Seq[String],
      inner: Boolean = false): Unit = {
    import spark.implicits._
    tags.zipWithIndex.foreach { case (tag, i) =>
      val base = (0L until 50L).map(j => (i * 1000L + j, s"v$i-$j"))
        .toDF("id", "v")
      val df = if (inner) base.withColumn("cluster", pmod(col("id"), lit(4)))
               else base
      val cols = if (inner) Seq("batch", "cluster") else Seq("batch")
      df.withColumn("batch", lit(tag))
        .write.mode("append")
        .partitionBy(cols: _*)
        .parquet(dir)
    }
  }

  private def batchDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName)

  test("compact folds all but the latest batch; data identical; reclaim trims") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    val before = SinkCompaction.read(spark, dir)
      .select(col("id"), col("v")).collect().map(_.toSeq).toSet
    val n = SinkCompaction.compact(spark, dir)
    // s-b2 is the stream's LATEST batch — the only one a crashed drain
    // could replay — and must never fold
    assert(n == 2, s"expected b0+b1 compacted, b2 kept; got $n")
    assert(SinkCompaction.read(spark, dir)
      .select(col("id"), col("v")).collect().map(_.toSeq).toSet == before)
    // deferred reclamation: dead sources still on disk for in-flight
    // readers, excluded from reads; reclaim() trims them
    assert(batchDirs(dir).contains("batch=s-b0"))
    SinkCompaction.reclaim(spark, dir)
    val dirs = batchDirs(dir)
    assert(dirs.size == 2 && dirs.contains("batch=s-b2") &&
      dirs.exists(_.startsWith("batch=compact-")), s"got $dirs")
    assert(SinkCompaction.read(spark, dir)
      .select(col("id"), col("v")).collect().map(_.toSeq).toSet == before)
    // compact tag + one live drain batch: nothing further to fold
    assert(SinkCompaction.compact(spark, dir) == 0)
  }

  test("inner partition columns survive compaction (pruning layout kept)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpi").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"), inner = true)
    val before = SinkCompaction.read(spark, dir)
      .select(col("id"), col("cluster").cast("int")).collect()
      .map(_.toSeq).toSet
    assert(SinkCompaction.compact(spark, dir,
      innerPartitions = Seq("cluster")) == 2)
    SinkCompaction.reclaim(spark, dir)
    val cd = batchDirs(dir).find(_.startsWith("batch=compact-")).get
    val clusters = new java.io.File(s"$dir/$cd").listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(clusters.length == 4, "cluster= layout must survive")
    assert(SinkCompaction.read(spark, dir)
      .select(col("id"), col("cluster").cast("int")).collect()
      .map(_.toSeq).toSet == before)
  }

  test("crash after data write: lingering sources are not double-read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpc").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    val before = SinkCompaction.read(spark, dir)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    SinkCompaction.compact(spark, dir)
    // sources deliberately still on disk (deferred reclamation — same
    // state as a crash right after the completion marker): the reader
    // must exclude them already
    assert(batchDirs(dir).contains("batch=s-b0"))
    val read = SinkCompaction.read(spark, dir).select(col("id"), col("v"))
    assert(read.count() == before.size, "dead sources must be excluded")
    // reclaim finishes the deletes AND retires the fully-reclaimed
    // manifest, so a future batch minting a colliding tag can never be
    // shadowed
    SinkCompaction.reclaim(spark, dir)
    assert(!batchDirs(dir).contains("batch=s-b0"))
    val manifests = new java.io.File(s"$dir/_graft_compactions").listFiles
    assert(manifests == null || manifests.isEmpty,
      s"fully-reclaimed manifest must be retired: ${manifests.toSeq}")
    assert(SinkCompaction.read(spark, dir)
      .select(col("id")).collect().map(_.getLong(0)).toSet == before)
  }

  test("crash before the data write completes: sources stay authoritative") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpa").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    // simulate: manifest published, data write never completed (no
    // partition dir at all)
    val mdir = new java.io.File(s"$dir/_graft_compactions")
    mdir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$mdir/compact-dead.json"),
      "[\"s-b0\",\"s-b1\"]".getBytes("UTF-8"))
    // reader ignores the incomplete manifest
    assert(SinkCompaction.read(spark, dir).count() == 150)
    // next compact clears the stale attempt and compacts for real
    assert(SinkCompaction.compact(spark, dir) == 2)
    assert(!new java.io.File(s"$mdir/compact-dead.json").exists(),
      "stale manifest must be cleared")
    assert(SinkCompaction.read(spark, dir).count() == 150)
  }

  test("crash between data commit and marker: compact partition not double-read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpm").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    // simulate: the compact data write COMMITTED (parquet partition on
    // disk) but the process died before the completion marker — the
    // folded rows exist twice on disk
    SinkCompaction.read(spark, dir)
      .filter(col("batch").isin("s-b0", "s-b1"))
      .withColumn("batch", lit("compact-dead1"))
      .write.mode("append").partitionBy("batch").parquet(dir)
    val mdir = new java.io.File(s"$dir/_graft_compactions")
    mdir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$mdir/compact-dead1.json"),
      "[\"s-b0\",\"s-b1\"]".getBytes("UTF-8"))
    // the INCOMPLETE compaction's own partition is dead for readers —
    // its sources are still authoritative
    assert(SinkCompaction.read(spark, dir).count() == 150,
      "committed-but-unmarked compact partition must be excluded")
    // the next compact clears the stale attempt and folds for real
    assert(SinkCompaction.compact(spark, dir) == 2)
    assert(SinkCompaction.read(spark, dir).count() == 150)
  }

  test("a crashed publish's tmp and .crc files stay out of every listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpt").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    val mdir = new java.io.File(s"$dir/_graft_compactions")
    mdir.mkdirs()
    // a publish cut between its tmp write and its rename, with the
    // sidecars a checksummed FS leaves, in the manifest dir and the root
    Seq(s"$mdir/.compact-x.json.7-1.tmp", s"$dir/._pack_offsets.json.7-2.tmp")
      .foreach(f => java.nio.file.Files.write(java.nio.file.Paths.get(f),
        "[\"s-b0\"".getBytes("UTF-8")))
    Seq(s"$mdir/..compact-x.json.7-1.tmp.crc", s"$mdir/.compact-y.json.crc")
      .foreach(f => java.nio.file.Files.write(java.nio.file.Paths.get(f),
        Array[Byte](1, 2, 3)))
    assert(spark.read.parquet(dir).count() == 150)
    assert(SinkCompaction.read(spark, dir).count() == 150)
    assert(SinkCompaction.compact(spark, dir) == 2)
    assert(SinkCompaction.read(spark, dir).count() == 150)
  }

  test("maintenance is single-owner: a live lease excludes compact/reclaim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpl").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    val mdir = new java.io.File(s"$dir/_graft_compactions")
    mdir.mkdirs()
    // another maintenance owner holds the lease (fresh mtime)
    val lease = new java.io.File(mdir, "_MAINTENANCE_LEASE")
    java.nio.file.Files.write(lease.toPath, "9999 0".getBytes("UTF-8"))
    // without exclusion, this compactor's recovery pass would treat a
    // concurrent owner's in-flight manifest as interrupted and delete it
    // (the double-count corruption); instead it must refuse outright
    intercept[IllegalStateException](SinkCompaction.compact(spark, dir))
    intercept[IllegalStateException](SinkCompaction.reclaim(spark, dir))
    assert(batchDirs(dir).size == 3, "a refused compact must touch nothing")
    assert(lease.exists(), "the other owner's lease must survive the refusal")
    // readers never take the lease
    assert(SinkCompaction.read(spark, dir).count() == 150)
  }

  test("a crashed owner's stale lease is stolen; a clean run leaves none") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmps").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    val mdir = new java.io.File(s"$dir/_graft_compactions")
    mdir.mkdirs()
    val lease = new java.io.File(mdir, "_MAINTENANCE_LEASE")
    java.nio.file.Files.write(lease.toPath, "9999 0".getBytes("UTF-8"))
    assert(lease.setLastModified(
      System.currentTimeMillis() - SinkCompaction.leaseMs - 60000))
    assert(SinkCompaction.compact(spark, dir) == 2,
      "a lease older than leaseMs is a crashed owner and must be stolen")
    assert(!lease.exists(), "the lease must be released after maintenance")
    // the steal renames the stale lease to a tombstone (atomic: only one
    // of N concurrent stealers wins the rename — delete+create would let
    // a slow stealer remove the winner's FRESH lease); the winner must
    // clean its tombstone up
    assert(!mdir.listFiles.exists(_.getName.startsWith(
      "_MAINTENANCE_LEASE.stale-")),
      "steal tombstones must not linger in the manifest dir")
    assert(SinkCompaction.read(spark, dir).count() == 150)
  }

  test("a displaced owner aborts BEFORE the rewrite, cleaning its manifest") {
    // A stealer that judged our lease stale and whose tombstone
    // rename-back failed leaves us running displaced. The pre-rewrite
    // re-check must abort for the cost of one manifest delete — never
    // write the compact partition only for the commit-time check to
    // discard it.
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpd").toString
    writeBatches(dir, Seq("s-b0", "s-b1", "s-b2"))
    val lease = new java.io.File(s"$dir/_graft_compactions/_MAINTENANCE_LEASE")
    SinkCompaction.onPreRewriteCheck = () =>
      java.nio.file.Files.write(lease.toPath, "thief 1 2".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalStateException](
        SinkCompaction.compact(spark, dir))
      assert(e.getMessage.contains("before the rewrite"))
    } finally SinkCompaction.onPreRewriteCheck = () => ()
    assert(batchDirs(dir).size == 3, "no compact partition may be written")
    val mdir = new java.io.File(s"$dir/_graft_compactions")
    assert(!mdir.listFiles.exists(_.getName.startsWith("compact-")),
      "the displaced owner must clean its own in-flight manifest")
    assert(new String(java.nio.file.Files.readAllBytes(lease.toPath),
      "UTF-8") == "thief 1 2",
      "the new owner's lease is not ours to release")
    lease.delete() // cleanup for the reader below
    assert(SinkCompaction.read(spark, dir).count() == 150)
  }

  test("a compacted curated sink still feeds DocStreaming's prior probe") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cmpd").toString
    val cur = s"$tmp/curated"; val bands = s"$tmp/bands"
    def mkText(seed: String): String =
      (1 to 40).map(i => s"$seed$i").mkString(" ")
    val indexed = Seq((1000L, mkText("idx"))).toDF("id", "text")
    val bIdx = graft.operators.Dedup.indexedBandTable(
      indexed, col("id"), col("text"))
    def drain(tag: String, docs: Seq[(Long, String)]): Unit =
      DocStreaming.curateBatch(spark, docs.toDF("doc_id", "text"), indexed,
        bIdx, cur, bands, tag, minQuality = 0.0, threshold = 0.8)
    drain("s-b0", Seq((1L, mkText("cat"))))
    drain("s-b1", Seq((2L, mkText("dog"))))
    drain("s-b2", Seq((5L, mkText("fox"))))
    assert(SinkCompaction.compact(spark, cur) == 2) // b0+b1 fold, b2 kept
    assert(SinkCompaction.compact(spark, bands) == 2)
    // a near-dup of a COMPACTED batch's survivor must STILL be dropped —
    // the compacted history is the same history
    val nd = (mkText("cat").split(" ").dropRight(1) :+ "zzz").mkString(" ")
    drain("s-b3", Seq((3L, nd), (4L, mkText("eel"))))
    val kept = SinkCompaction.read(spark, cur).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L), s"got $kept")
  }
}
