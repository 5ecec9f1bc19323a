package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.ControlFile

/** Small-files maintenance for the streaming sinks ([[VectorStreaming]]
  * lists, [[DocStreaming]] curated corpus + band sidecar): every
  * [[Drain]] batch writes its own `batch=<tag>` partition, so a
  * long-lived stream accumulates one directory (and its files) per
  * micro-batch — the classic streaming-sink problem that turns a 100 TB
  * index into millions of tiny files and partition-discovery into the
  * bottleneck.
  *
  * `compact` rewrites a set of batch partitions into ONE new partition,
  * crash-safely WITHOUT a transactional table format, by ordering writes
  * so every interruption point is recoverable:
  *
  *   1. write a compaction manifest (`_graft_compactions/<tag>.json`,
  *      temp + rename) naming the source tags — the underscore prefix
  *      keeps it invisible to parquet partition discovery;
  *   2. rewrite the sources' rows under `batch=<compact-tag>`, then drop
  *      an explicit completion marker inside that partition (parquet's
  *      own `_SUCCESS` lands at the sink root and cannot witness it);
  *   3. leave the dead sources on disk — reclamation is DEFERRED to the
  *      next [[compact]]/[[reclaim]] pass, so a reader that captured its
  *      file listing before this compaction still finds its files.
  *
  * A crash after (1) leaves a manifest whose tag has no marker:
  * [[read]] ignores it (sources still live) and the next [[compact]]
  * clears the stale attempt. After (2) the manifest is COMPLETE:
  * [[read]] excludes the listed sources (no duplicates) no matter when
  * reclamation actually runs. So readers going through [[read]] see
  * exactly-once data at every interruption point.
  *
  * Replay safety is structural, not operational: each stream's LATEST
  * batch partition is never eligible for compaction (see [[compact]]),
  * because it is the one batch a crashed [[Drain]] can replay — so
  * running compaction against a crashed-but-restartable stream cannot
  * corrupt the replay's [[Drain.replaceBatch]] or DocStreaming's own-tag
  * exclusion. Invariants callers own: consumers must read via [[read]]
  * (or a reader built on it, e.g. `IvfIndex.openLists`) rather than a
  * bare `spark.read.parquet`, and [[reclaim]] should run only when
  * queries planned before the previous compaction have drained.
  *
  * MAINTENANCE IS SINGLE-OWNER, and the code enforces it: [[compact]]
  * and [[reclaim]] take an exclusive lease file under the manifest dir
  * before touching anything. Without it, two concurrent compactors
  * corrupt the sink — B's recovery pass sees A's not-yet-complete
  * manifest as "interrupted" and deletes it, then A finishes its data
  * write and marker, leaving a compact partition with no manifest whose
  * rows AND source partitions both read as live (double-count, forever).
  * A crashed owner's lease expires after [[leaseMs]]; size that above
  * the longest plausible compaction so a stale-lease steal cannot race
  * a merely-slow owner. Readers never take the lease — [[read]]'s
  * scan-plan-rescan retry already handles reader-vs-compactor races.
  */
object SinkCompaction {

  private[graft] val manifestDirName = "_graft_compactions"

  /** Default stale-maintenance-lease expiry: a lease older than this is
    * presumed crashed and may be stolen. Should exceed the longest
    * plausible compact() wall time with margin — callers with bigger
    * sinks pass their own `staleLeaseMs`. The threshold is a liveness
    * knob, not the correctness line: an owner whose rewrite outruns it
    * detects the theft at commit time (its manifest is gone), removes
    * its partial output, and aborts instead of double-counting.
    */
  private[streaming] val leaseMs: Long = 15L * 60 * 1000

  /** Explicit completion marker INSIDE the compact partition: parquet's
    * own `_SUCCESS` lands at the sink ROOT (shared by every write), so
    * it cannot witness THIS partition's completeness. Underscore prefix
    * keeps it invisible to partition discovery.
    */
  private val doneMarker = "_GRAFT_COMPACT_DONE"

  /** Compact every current `batch=` partition of `dir` into one new
    * partition. `innerPartitions` lists partition columns nested under
    * batch (e.g. `Seq("cluster")` for the vector lists) so the rewrite
    * preserves their pruning layout. No-op when the sink has fewer than
    * `minSources` live batch partitions. Returns the number of source
    * partitions compacted.
    */
  def compact(spark: SparkSession, dir: String,
      innerPartitions: Seq[String] = Nil, minSources: Int = 2,
      staleLeaseMs: Long = leaseMs): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    withMaintenanceLease(fs, root, staleLeaseMs) { leaseToken =>
    finishInterrupted(fs, root)

    // NEVER fold a stream's LATEST batch: a drain batch is at-least-once,
    // and the one batch a crashed drain can replay is its last
    // uncommitted one. Folding it would (a) move its first attempt out
    // from under the replay's own-tag dynamic overwrite (duplicates) and
    // (b) for DocStreaming, out of the `batch =!= tag` own-exclusion, so
    // the replay would self-dedup against its own first attempt and emit
    // nothing. A crashed stream is indistinguishable from a quiescent
    // one from the sink alone, so the latest batch per stream is simply
    // never eligible — it becomes eligible when a newer batch commits.
    val live = liveBatchTags(fs, root)
    val sources = live -- latestPerStream(live)
    if (sources.size < minSources) return 0
    // layout guard: compacting a cluster-partitioned sink (the vector
    // lists) without naming its inner partition column would demote it
    // to a data column and brick the whole directory with mixed-depth
    // partition discovery ("Conflicting directory structures") — while
    // the completed manifest sends the properly-partitioned sources to
    // reclamation. Validate the declared layout against the real one.
    sources.headOption.foreach { t =>
      val firstLevel = fs.listStatus(new Path(root, s"batch=$t"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.contains("=")).map(_.takeWhile(_ != '=')).distinct.toSeq
      require(firstLevel.toSet == innerPartitions.headOption.toSet,
        s"sink $dir nests partition column(s) " +
          s"[${firstLevel.mkString(",")}] under batch=, but compact was " +
          s"called with innerPartitions=[${innerPartitions.mkString(",")}]" +
          " — a mismatched rewrite would brick partition discovery")
    }
    val tag = s"compact-${java.util.UUID.randomUUID().toString.take(8)}"

    // (1) manifest first: from here on, a completed data write makes the
    // sources dead even if their deletes never run
    writeManifest(root, tag, sources)

    onPreRewriteCheck()
    // Cheap ownership re-check BEFORE the expensive rewrite: if this
    // owner was displaced while preparing (a stealer judged our lease
    // stale, tombstoned it, and its rename-back failed because a third
    // lease landed), abort now for the cost of one manifest delete
    // instead of paying the full rewrite only for the commit-time check
    // below to discard it. The commit-time manifest re-check remains the
    // authoritative guard for steals that land MID-rewrite.
    if (!leaseStillHeld(root, leaseToken)) {
      fs.delete(new Path(new Path(root, manifestDirName), s"$tag.json"), false)
      throw new IllegalStateException(
        s"maintenance lease lost before compacting $dir (displaced by a " +
          "concurrent steal) — aborted before the rewrite; raise " +
          "staleLeaseMs above the longest compact wall time")
    }

    // (2) one rewrite, partition layout preserved; coalesce the shuffle
    // tails away by letting the write clustering do the work — rows are
    // repartitioned on the inner partition columns so each inner value
    // gets one writer instead of files × sources
    val src = spark.read.parquet(dir)
      .filter(col("batch").isin(sources.toSeq: _*))
    // with inner partitions: one writer (= one file) per inner value;
    // flat sinks: writers by the sources' on-disk bytes, a metadata-only
    // listing
    val clustered =
      if (innerPartitions.nonEmpty)
        src.repartition(innerPartitions.map(col): _*)
      else src.repartition(graft.Sizing.compactFiles(sources.toSeq.map(t =>
        fs.getContentSummary(new Path(root, s"batch=$t")).getLength).sum))
    clustered
      .withColumn("batch", lit(tag))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch" +: innerPartitions: _*)
      .parquet(dir)
    // OWNERSHIP re-check before committing: if the rewrite outran the
    // lease's stale threshold, a stealer's finishInterrupted deleted our
    // in-flight manifest — committing the marker anyway would count this
    // partition while its sources are never excluded (permanent double
    // count). Self-abort: remove the partial output and surface the
    // lost lease; the stealer's own compaction is the valid one.
    if (!fs.exists(new Path(new Path(root, manifestDirName), s"$tag.json"))) {
      fs.delete(new Path(root, s"batch=$tag"), true)
      throw new IllegalStateException(
        s"maintenance lease lost mid-compact under $dir (manifest $tag " +
          "was cleaned by a concurrent steal) — partial output removed; " +
          "raise staleLeaseMs above the longest compact wall time")
    }
    // completion marker: only now does the manifest shadow its sources —
    // a crash anywhere before this line leaves the sources authoritative
    fs.create(new Path(root, s"batch=$tag/$doneMarker"), true).close()

    // (3) DEFERRED reclamation: the dead sources stay on disk until the
    // next compact/reclaim pass. A reader that captured its file listing
    // before this compaction completed still holds paths into the
    // sources — deleting them now would fail that query mid-flight (or,
    // with ignoreMissingFiles, silently drop its rows). Readers planning
    // from here on exclude the sources via the manifest, so the lingering
    // files cost only space, reclaimed next maintenance.
    sources.size
    }
  }

  /** Space reclamation for completed compactions (also runs at the start
    * of every [[compact]]): deletes source partitions shadowed by a
    * completed manifest, retiring the manifest once all are gone. Call
    * only when queries planned before the PREVIOUS compaction have
    * drained — their captured file listings reference the dead sources.
    */
  def reclaim(spark: SparkSession, dir: String,
      staleLeaseMs: Long = leaseMs): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root))
      withMaintenanceLease(fs, root, staleLeaseMs)(_ =>
        finishInterrupted(fs, root))
  }

  /** Test seam: runs between manifest publication and the pre-rewrite
    * lease re-check (no-op in production) — the displaced-owner race is
    * a cross-process timing window a spec cannot hit otherwise.
    */
  private[streaming] var onPreRewriteCheck: () => Unit = () => ()

  /** Does the lease path still hold OUR token? Cheap re-verification an
    * owner runs before expensive work: if a stealer displaced us (stale
    * judgment + failed tombstone rename-back), abort early instead of
    * paying a full rewrite the commit-time manifest check would discard.
    */
  private def leaseStillHeld(root: Path, token: String): Boolean =
    ControlFile.read(
      new Path(new Path(root, manifestDirName), "_MAINTENANCE_LEASE"))
      .contains(token)

  /** Exclusive maintenance lease: create-no-overwrite of a lease file
    * under the manifest dir. Single-writer create is atomic on HDFS; on
    * the local FS, Hadoop's create(overwrite=false) is exists-then-create
    * (NOT O_EXCL), so the local case goes through
    * java.io.File.createNewFile, which the JDK documents as atomic. An
    * object-store deployment should front maintenance with its own
    * scheduler lock. A concurrent owner ⇒ IllegalStateException — the
    * caller retries later rather than corrupting the sink. A lease older
    * than [[leaseMs]] is a crashed owner: stolen by atomically RENAMING
    * it to a unique tombstone — rename of a vanished source fails, so of
    * N concurrent stealers exactly one wins and re-acquires; delete+
    * re-create would let a slow stealer remove the winner's FRESH lease.
    */
  private def withMaintenanceLease[T](fs: org.apache.hadoop.fs.FileSystem,
      root: Path, staleMs: Long = leaseMs)(body: String => T): T = {
    val mdir = new Path(root, manifestDirName)
    fs.mkdirs(mdir)
    val lease = new Path(mdir, "_MAINTENANCE_LEASE")
    val isLocal = fs.getUri.getScheme == "file"
    // unique per acquire: release and steal-validation both compare
    // lease CONTENT, never just the path — the path can hold someone
    // else's fresh lease by the time we act on it
    val myToken = s"${ProcessHandle.current().pid()} " +
      s"${System.currentTimeMillis()} ${System.nanoTime()}"
    def tryAcquire(): Boolean =
      try {
        if (isLocal) {
          val f = new java.io.File(lease.toUri.getPath)
          // createNewFile = open(O_CREAT|O_EXCL): atomic, unlike
          // RawLocalFileSystem.create(overwrite=false)'s exists-then-create
          if (!f.createNewFile()) false
          else {
            java.nio.file.Files.write(f.toPath, myToken.getBytes("UTF-8"))
            true
          }
        } else {
          val out = fs.create(lease, false)
          try out.write(myToken.getBytes("UTF-8")) finally out.close()
          true
        }
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired) {
      // observe the CONTENT of the lease we are judging stale: the
      // steal below re-validates against these bytes, so a fresh lease
      // that replaced the stale one between our stat and our rename is
      // detected instead of silently displaced (the TOCTOU that would
      // mint two concurrent owners)
      val observed = ControlFile.read(lease)
      val stale =
        try System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime > staleMs
        catch {
          // holder released between our create attempt and the stat —
          // not stale, just contended; retry the plain acquire below
          case _: java.io.FileNotFoundException => false
        }
      if (stale && observed.nonEmpty) {
        val tombstone = new Path(mdir, "_MAINTENANCE_LEASE.stale-" +
          s"${ProcessHandle.current().pid()}-${System.nanoTime()}")
        val won = try fs.rename(lease, tombstone)
          catch { case _: java.io.IOException => false }
        if (won) {
          if (ControlFile.read(tombstone) == observed) {
            fs.delete(tombstone, false)
            acquired = tryAcquire()
          } else {
            // we renamed a FRESH lease that replaced the stale one —
            // restore it (best effort; if yet another lease landed the
            // displaced owner self-heals via compact()'s manifest
            // re-check) and refuse
            try { fs.rename(tombstone, lease); () }
            catch { case _: java.io.IOException =>
              fs.delete(tombstone, false); ()
            }
          }
        }
        // a losing stealer does NOT retry: the winner may already hold a
        // fresh lease, and its own create would be the double-owner race
      } else if (!stale) acquired = tryAcquire()
    }
    if (!acquired) throw new IllegalStateException(
      s"sink maintenance already in progress under $mdir " +
        "(compact/reclaim are single-owner; retry after the lease clears)")
    try body(myToken) finally {
      // release ONLY our own lease: if ours expired and was stolen
      // mid-body, the path now holds the stealer's FRESH lease — an
      // unconditional delete would reopen the double-owner door
      if (ControlFile.read(lease).contains(myToken)) {
        fs.delete(lease, false); ()
      }
    }
  }

  /** For drain tags ([[Drain.parseTag]]): the max-batchId tag per
    * stream (the only batch a crashed drain can replay). Other tags
    * (batch builds' "full", compact tags) have no replay semantics and
    * are always foldable.
    */
  private def latestPerStream(tags: Set[String]): Set[String] =
    tags.toSeq
      // a compact tag has no replay semantics — and its random 8-hex
      // fragment can LOOK like a drain tag ('compact-b1234567'), which
      // would permanently exempt it from future folding
      .filterNot(_.startsWith("compact-"))
      .flatMap(t => Drain.parseTag(t).map { case (s, n) => (s, n, t) })
      .groupBy(_._1)
      .map { case (_, ts) => ts.maxBy(_._2)._3 }
      .toSet

  /** Read a batch-partitioned sink with compaction manifests applied:
    * sources of COMPLETE compactions are excluded even if their
    * partitions still linger after a crash-mid-delete.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // The dead set must agree with the DataFrame's file-index snapshot:
    // a compaction completing BETWEEN the manifest scan and the parquet
    // planning would either double-count (compact partition committed,
    // manifest unseen) or drop rows (sources excluded, compact partition
    // unseen). Scanning the manifest state on both sides of the planning
    // and retrying on change closes the race: with a stable state, an
    // incomplete manifest's tag is excluded (its sources are still on
    // disk — reclamation is deferred), and a complete one's sources are
    // excluded (its partition committed before its marker, hence before
    // both scans).
    var attempt = 0
    while (true) {
      val before = manifestState(fs, root)
      val df = spark.read.parquet(dir)
      if (manifestState(fs, root) == before) {
        val dead =
          before.collect { case (tag, sources, complete) =>
            if (complete) sources else Seq(tag)
          }.flatten.toSet
        return if (dead.isEmpty) df
        // batch is a partition column: the NOT IN prunes whole dirs
        else df.filter(!col("batch").isin(dead.toSeq: _*))
      }
      attempt += 1
      if (attempt >= 5) throw new IllegalStateException(
        s"compactions kept racing read() planning under $dir")
    }
    throw new IllegalStateException("unreachable")
  }

  /** The full manifest state: (compactTag, sources, completed) per
    * manifest file. An INCOMPLETE manifest's tag is itself dead for
    * readers — its partition may hold committed rows (the data write
    * commits before the marker) that are not yet authoritative.
    */
  private def manifestState(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(String, Seq[String], Boolean)] = {
    val mdir = new Path(root, manifestDirName)
    if (!fs.exists(mdir)) return Nil
    fs.listStatus(mdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .map { s =>
        val tag = s.getPath.getName.stripSuffix(".json")
        (tag, readManifest(s.getPath),
          fs.exists(new Path(root, s"batch=$tag/$doneMarker")))
      }
      .sortBy(_._1)
  }

  /** Batch tags that are live data: on disk AND not shadowed by a
    * completed compaction.
    */
  private def liveBatchTags(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Set[String] = {
    val onDisk = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
      .toSet
    onDisk -- completedSources(fs, root)
  }

  /** Sources named by manifests whose compact partition finished
    * writing ([[doneMarker]] present). Derived from [[manifestState]] —
    * ONE definition of the listing/parse/marker semantics, so a future
    * change to manifest filtering or marker naming cannot desynchronize
    * reader exclusion from compaction-source selection.
    */
  private def completedSources(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Set[String] =
    manifestState(fs, root)
      .collect { case (_, sources, true) => sources }.flatten.toSet

  /** Clear interrupted attempts (manifest without a completed data
    * write) and finish completed ones' pending deletes.
    */
  private def finishInterrupted(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Unit = {
    val mdir = new Path(root, manifestDirName)
    if (!fs.exists(mdir)) return
    fs.listStatus(mdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .foreach { s =>
        val tag = s.getPath.getName.stripSuffix(".json")
        val partDir = new Path(root, s"batch=$tag")
        if (fs.exists(new Path(partDir, doneMarker))) {
          // complete: finish the space reclamation a crash skipped, then
          // retire the manifest once every source is off disk — a
          // manifest outliving its purpose would shadow any FUTURE
          // batch that happened to mint a colliding tag, silently and
          // forever
          val sources = readManifest(s.getPath)
          sources.foreach(src =>
            fs.delete(new Path(root, s"batch=$src"), true))
          if (sources.forall(src => !fs.exists(new Path(root, s"batch=$src"))))
            fs.delete(s.getPath, false)
        } else {
          // interrupted: sources are still authoritative — drop the
          // partial attempt entirely
          fs.delete(partDir, true)
          fs.delete(s.getPath, false)
        }
      }
  }

  // manifest format: one JSON array of source tag strings
  private[graft] def writeManifest(root: Path, tag: String,
      sources: Set[String]): Unit =
    ControlFile.publishJson(
      new Path(new Path(root, manifestDirName), s"$tag.json"),
      sources.toSeq.sorted)

  // a manifest retired between the listing and this read has no sources:
  // the listing's second scan in [[read]] sees it gone and retries
  private[graft] def readManifest(path: Path): Seq[String] =
    ControlFile.readJson(path).fold(Seq.empty[String])(_.strings)
}
