package graft.engine

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ControlFile
import graft.streaming.Drain

/** ETL: normalized input → denormalized Parquet analytics star — the Spark
  * rebuild of `msgvault build-cache` (reference:
  * cmd/msgvault/cmd/build_cache.go:114-499).
  *
  * Faithful mechanics:
  *   - messages hive-partitioned by year, zstd (build_cache.go:289-315),
  *     with derived year/month columns (build_cache.go:305-306);
  *     dedup losers (deleted_at) AND undated rows (sent_at IS NULL)
  *     excluded at export (build_cache.go:308's WHERE — r13 builder
  *     audit: an undated row would otherwise land in a null year
  *     partition the reference never creates). The id watermark is
  *     taken over DATED rows only (build_cache.go:156), so an undated
  *     row above every dated id in its batch stays PENDING and exports
  *     once dated — but one BELOW a dated id in the same batch is
  *     passed over permanently (the watermark moves past it; the
  *     reference's MAX(id)-over-dated watermark behaves identically,
  *     r13 review find — mirrored, and the spec pins BOTH cases)
  *   - every build writes under its own `batch=` partition and overwrites
  *     it — the idempotent-retry equivalent of the reference's
  *     `incr_<watermark>` junction shards (build_cache.go:258-263,
  *     326-383); dimensions fully rewritten
  *   - id-watermark incremental builds via `_last_sync.json`
  *     {last_message_id, last_sync_at, schema_version}; schema-version
  *     mismatch forces a full rebuild (build_cache.go:118-263, 127-143)
  *   - [[staleness]] mirrors the reference freshness gate
  *     (tui.go:197-330): new dated ids → incremental; any
  *     source-deletion or dedup-hide stamped at/after the recorded
  *     last_sync_at → FULL rebuild (the stale row is already exported
  *     and only a rebuild removes/updates it); a cache whose state file
  *     exists but whose required tables lost their files → FULL rebuild
  *     (build_cache.go:196-204's backfill)
  *   - post-write row-count verification (build_cache.go:467-476)
  *
  * Documented divergences (r13 builder audit, all unobservable through
  * the query surface or deliberate):
  *   - junction exports are semi-joined to the EXPORTED message slice on
  *     BOTH full and incremental builds, where the reference exports raw
  *     / by `message_id > watermark` (build_cache.go:326-383) and thereby
  *     ships dangling junction rows for dedup-losing/undated messages —
  *     unreachable through every query path — and would DUPLICATE a
  *     late-dated message's junction rows (full shard + increment), an
  *     observable fan-out this engine's exactly-once rule closes (the
  *     rationale comment sits on the junction writer in [[build]]).
  *   - an empty FIRST build fails loudly here where the reference
  *     tolerates a zero-message database (build_cache.go:190-204,
  *     462-476: exports run, the count guard is skipped, state is
  *     written) — the reference can serve an incomplete cache from its
  *     SQLite engine; this library has no fallback engine, and a
  *     zero-file partitioned Spark write would leave a star
  *     [[MsgVault.open]] cannot even schema-infer. A full rebuild of an
  *     EMPTIED archive (prior cache exists) instead rewrites every
  *     table as a schema-complete empty parquet — the staleness gate's
  *     verdict must converge, and an empty-but-readable star is this
  *     engine's honest form of the reference's empty cache.
  *   - [[staleness]] READS the star (the exact deletion compare), so
  *     the SINGLE-WRITER contract extends to it: do not run the gate
  *     concurrently with a build on the same outDir — a half-written
  *     star can fail the read or return a spuriously fresh verdict.
  *     (The gate→build sequence is inherently serial anyway: the
  *     verdict feeds the build's forceFull.)
  *
  * Scale: the messages write shuffles once on `year` (partitionBy);
  * incremental runs touch only `id > watermark` rows — Parquet min/max on
  * id makes the watermark filter a row-group skip, not a scan.
  */
object CacheBuilder {
  // v2: batch-partitioned layout (batch=full / batch=w<watermark> dirs) —
  // the idempotent-retry shard scheme; v1 caches force a full rebuild.
  // v3: undated (sent_at IS NULL) rows excluded from export + state gains
  // last_sync_at — v2 caches may hold a null-year partition the
  // incremental path cannot remove, so the version bump forces the
  // rebuild that drops it (the reference's cacheSchemaVersion policy,
  // build_cache.go:31-35).
  val SchemaVersion = 3

  /** `lastSyncAtSec`: UTC epoch seconds captured when the build started
    * (second-truncated like the reference's cacheWatermark,
    * build_cache.go:246-250). Build METADATA only — [[staleness]]
    * compares the star's own rows against the input's deletion state
    * instead of trusting timestamps.
    */
  final case class SyncState(lastMessageId: Long, schemaVersion: Int,
      lastSyncAtSec: Long)

  /** The sync-state file, also [[graft.operators.StarSubset]]'s
    * destination-exists witness. */
  val StateFile = "_last_sync.json"

  def readState(dir: String): Option[SyncState] =
    ControlFile.readJson(new Path(dir, StateFile)).map(j =>
      SyncState(j.long("last_message_id"), j.long("schema_version").toInt,
        j.optLong("last_sync_at").getOrElse(0L)))

  /** Test seam: rewind the watermark to replay an increment (the
    * crashed-before-state-write scenario CacheBuilderSpec simulates).
    */
  private[engine] def writeStateForTest(dir: String, lastId: Long): Unit =
    writeState(dir, SyncState(lastId, SchemaVersion, nowSec()))

  // ------------------------------------------- bounded restore check

  private def restoreCheckPath(dir: String) =
    new Path(dir, "_restore_check.json")

  /** Coverage floor of the bounded restore-check chain: every live
    * dated id ≤ this value was proven present in the star by a prior
    * check (or is awaiting one — MinValue before the first).
    */
  def readRestoreCheckFloor(dir: String): Long =
    ControlFile.readJson(restoreCheckPath(dir))
      .fold(Long.MinValue)(_.long("covered_to"))

  private[graft] def writeRestoreCheckFloor(dir: String,
      coveredTo: Long): Unit =
    ControlFile.publishJson(restoreCheckPath(dir),
      Map("covered_to" -> coveredTo))

  /** Incremental form of the opt-in deep restore check (r13 advice #6):
    * instead of anti-joining the FULL live corpus against the full star
    * id set per consult, probe only
    *
    *   - ids above the previous check's recorded coverage floor
    *     (`_restore_check.json`, advanced only on a CLEAN check so a
    *     detected-but-not-yet-rebuilt restore stays visible), plus
    *   - a recent-id window below the watermark (`recentWindow` ids) —
    *     restores cluster in recent mail (un-trashing something just
    *     deleted), and the window re-probes that hot range every run.
    *
    * BOTH join sides prune to `id > floor` (a star row outside the
    * range cannot match a probe id inside it), so on Parquet the scan
    * is a min/max row-group skip — the probe costs O(new since last
    * check + window), not O(corpus).
    *
    * Honesty bound: a restore of an id at or below the floor and
    * outside the window is INVISIBLE to this check — the exhaustive
    * `staleness(deepRestoreCheck = true)` remains the only probe that
    * sees every restore, at full-corpus price. Returns the count of
    * restored rows found (> 0 ⇒ force a full rebuild).
    */
  def boundedRestoreCheck(spark: SparkSession, input: MsgVault,
      outDir: String, recentWindow: Long = 0L): Long = {
    val st = readState(outDir).getOrElse(
      throw new IllegalArgumentException(
        s"no sync state at $outDir — build before checking"))
    val prevCovered = readRestoreCheckFloor(outDir)
    val windowFloor =
      if (recentWindow <= 0) Long.MaxValue
      else if (st.lastMessageId < Long.MinValue + recentWindow) Long.MinValue
      else st.lastMessageId - recentWindow
    val floor = math.min(prevCovered, windowFloor)
    val restored =
      if (floor >= st.lastMessageId) 0L
      else {
        val probe = input.messages
          .filter(col("deleted_at").isNull &&
            col("deleted_from_source_at").isNull &&
            col("sent_at").isNotNull &&
            col("id") > floor && col("id") <= st.lastMessageId)
          .select(col("id"))
        val starIds = spark.read.parquet(s"$outDir/messages")
          .filter(col("id") > floor).select(col("id"))
        probe.join(starIds, Seq("id"), "left_anti").count()
      }
    if (restored == 0L) writeRestoreCheckFloor(outDir, st.lastMessageId)
    restored
  }

  /** Opt-in CONTENT-compare leg — the bounded stand-in for the
    * reference's `sync_runs.messages_updated` signal (tui.go:319-349),
    * the one freshness direction the star model otherwise only
    * documents as a caveat: an upstream re-sync that rewrites an
    * EXISTING id's content (same id, same deletion state) serves stale
    * from the star until any other signal fires, because rows carry no
    * content-version stamp the gate could compare.
    *
    * This probes it directly, [[boundedRestoreCheck]]-style: fingerprint
    * `(subject, size_estimate)` — the fields every detail/list surface
    * serves verbatim and any real content rewrite moves — per live dated
    * id in the recent window `(lastMessageId - recentWindow,
    * lastMessageId]`, inner-join input vs star on id (absent rows are
    * the restore check's job), count fingerprint mismatches. Both sides
    * prune to the id range, so on Parquet the scan is a min/max
    * row-group skip — O(window), not O(corpus). Fingerprints are
    * null-safe (a rewrite to/from NULL still trips).
    *
    * Honesty bound, same shape as the restore check's: a rewrite at or
    * below the window floor is INVISIBLE to this probe;
    * `recentWindow <= 0` buys the exhaustive compare at full-corpus
    * price (one narrow two-column join — the deepRestoreCheck price
    * class). Returns the count of content-diverged rows
    * (> 0 ⇒ force a full rebuild).
    */
  def boundedContentCheck(spark: SparkSession, input: MsgVault,
      outDir: String, recentWindow: Long = 0L): Long = {
    val st = readState(outDir).getOrElse(
      throw new IllegalArgumentException(
        s"no sync state at $outDir — build before checking"))
    val floor =
      if (recentWindow <= 0) Long.MinValue
      else if (st.lastMessageId < Long.MinValue + recentWindow) Long.MinValue
      else st.lastMessageId - recentWindow
    // "\\u0000" null marker + "\\u0001" field separator: distinguishes NULL
    // from empty string and ("ab", c) from ("a", bc)
    def fp(cols: Column*): Column =
      md5(concat_ws("\u0001",
        cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*))
    val probe = input.messages
      .filter(col("deleted_at").isNull &&
        col("deleted_from_source_at").isNull &&
        col("sent_at").isNotNull &&
        col("id") > floor && col("id") <= st.lastMessageId)
      .select(col("id"),
        fp(col("subject"), col("size_estimate")).as("__in_fp"))
    val star = spark.read.parquet(s"$outDir/messages")
      .filter(col("id") > floor && col("id") <= st.lastMessageId)
      .select(col("id"),
        fp(col("subject"), col("size_estimate")).as("__st_fp"))
    probe.join(star, Seq("id"))
      .filter(col("__in_fp") =!= col("__st_fp")).count()
  }

  private def nowSec(): Long = System.currentTimeMillis() / 1000L

  private[graft] def writeState(dir: String, st: SyncState): Unit =
    ControlFile.publishJson(new Path(dir, StateFile), ListMap(
      "last_message_id" -> st.lastMessageId,
      "last_sync_at" -> st.lastSyncAtSec,
      "schema_version" -> st.schemaVersion))

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Staleness verdict (reference cacheStaleness, tui.go:180-195). */
  final case class Staleness(needsBuild: Boolean, fullRebuild: Boolean,
      reasons: Seq[String])

  /** The freshness gate — the reference's cacheNeedsBuild
    * (tui.go:197-330) with its deletion legs made EXACT (r13, third
    * review round):
    *
    *   - no or version-mismatched state → full rebuild (an unparseable
    *     one fails loudly, naming the file — [[graft.ControlFile]]);
    *   - new DATED ids past the watermark (MAX(id) over
    *     `deleted_from_source_at IS NULL AND sent_at IS NOT NULL`,
    *     tui.go:236-239) → incremental;
    *   - state present but a required table directory holds no files →
    *     FULL rebuild (build_cache.go:196-204's backfill — checked
    *     before the star-compare legs, which need a readable star);
    *   - any input deletion state the STAR has not applied → FULL
    *     rebuild. The reference approximates this with timestamps
    *     (deleted_* >= LastSyncAt), which both loses signals (a bare
    *     incremental advances the stamp past an unapplied deletion)
    *     and fires spuriously (a never-exported dedup loser keeps
    *     tripping rebuilds). This gate compares the star itself:
    *     a dedup-hidden input row still PRESENT in the star; a
    *     source-deleted input row whose star copy lacks — or carries a
    *     DIFFERENT — dfs stamp; a star row still stamped after its
    *     input copy was un-deleted; and a dfs-stamped DATED live row
    *     ABSENT from the star — the arrive-and-source-delete-between-
    *     builds case (r13 advisor find): its dfs stamp hides it from
    *     the new-ids watermark leg while the rebuilt star's export
    *     would carry it. Timestamp-free, no false positives (the
    *     r12-era last_sync_at field stays in the state file as build
    *     metadata only). The one deletion-shaped direction the cheap
    *     legs cannot see is a RESTORED dedup-hidden row (absent from
    *     the star, no deletion state, id below the watermark) —
    *     `deepRestoreCheck = true` buys it with a corpus-sized
    *     anti-join; [[boundedRestoreCheck]] buys the recent slice of
    *     it at O(new + window) per consult; the reference's heuristic
    *     cannot see it at any price.
    *
    * Known divergence (r13 advisor, documented): the reference gate
    * carries a fourth signal this model cannot — `sync_runs
    * .messages_updated` since the last build forces a FULL rebuild
    * (tui.go:319-349), catching in-place CONTENT rewrites of
    * already-exported rows. MsgVault input has no sync_runs ledger and
    * rows carry no content-version stamp, so an upstream re-sync that
    * rewrites an existing id's content (same id, same deletion state)
    * serves stale from the star until any other signal fires. An
    * operator replaying such a re-sync should pass `forceFull = true`;
    * a content-hash compare leg would cost a corpus-sized join per
    * consult (the same price class as deepRestoreCheck) and is not
    * implemented.
    *
    * Scale: one narrow aggregate over the input + one join of the
    * input's deleted rows (id, two stamps) against the star's
    * (id, dfs) projection — two columns off columnar storage; the
    * deleted side is the small side of the join.
    */
  def staleness(spark: SparkSession, input: MsgVault,
      outDir: String, deepRestoreCheck: Boolean = false): Staleness =
    readState(outDir).filter(_.schemaVersion == SchemaVersion) match {
      case None => Staleness(needsBuild = true, fullRebuild = true,
        Seq("no sync state"))
      case Some(st) =>
        if (missingRequiredParquet(spark, outDir))
          return Staleness(needsBuild = true, fullRebuild = true,
            Seq("missing cache tables"))
        val row = input.messages.agg(
          max(when(col("deleted_from_source_at").isNull &&
            col("sent_at").isNotNull, col("id"))).as("mx")).head()
        val maxDatedOpt = if (row.isNullAt(0)) None else Some(row.getLong(0))

        // the input side of the compare: every row carrying ANY
        // deletion state (small — deletions are the exception)
        val delInput = input.messages
          .filter(col("deleted_at").isNotNull ||
            col("deleted_from_source_at").isNotNull)
          .select(col("id").as("__d_id"),
            col("deleted_at").isNotNull.as("__d_hid"),
            col("deleted_from_source_at").as("__d_dfs"),
            col("sent_at").isNotNull.as("__d_dated"))
        val starMsgs = spark.read.parquet(s"$outDir/messages")
          .select(col("id"), col("deleted_from_source_at").as("__s_dfs"))
        val cmp = starMsgs
          .join(delInput, col("id") === col("__d_id"))
          .agg(
            // a dedup loser still present in the star must LEAVE it
            coalesce(sum(when(col("__d_hid"), 1L).otherwise(0L)), lit(0L))
              .as("hid"),
            // a source-deletion stamp the star copy does not CARRY —
            // null-ness is not enough (r13 fourth review round): an
            // un-delete-then-re-delete leaves the star holding the OLD
            // stamp, which every detail/paging surface serves verbatim,
            // so the values must match, not just both be non-null
            coalesce(sum(when(!col("__d_hid") && col("__d_dfs").isNotNull &&
              (col("__s_dfs").isNull || col("__s_dfs") =!= col("__d_dfs")),
              1L).otherwise(0L)), lit(0L))
              .as("del")).head()
        val hiddenStale = cmp.getLong(0)
        val deletedStale = cmp.getLong(1)
        // the UN-delete direction: a star row still carrying a dfs
        // stamp whose input copy carries NO deletion state (restored
        // upstream) or is gone entirely — expressed as an anti-join
        // against the already-built delInput (r13 fifth review round:
        // the earlier left join probed the full messages table; both
        // sides here are small)
        val undeleted = starMsgs.filter(col("__s_dfs").isNotNull)
          .join(delInput, col("id") === col("__d_id"), "left_anti")
          .count()
        // the ARRIVE-AND-SOURCE-DELETE direction (r13 advisor find): a
        // row that entered the input AND got its dfs stamp before any
        // build ran is invisible to every leg above — dfs-stamped, so
        // the new-ids max skips it; never exported, so the star
        // inner-join misses it. A rebuild's export (deleted_at IS NULL
        // AND sent_at IS NOT NULL) WOULD carry it, stamp visible on
        // detail/paging surfaces, so omitting it is a real divergence
        // from the rebuilt star. Cheap: left_anti of the already-built
        // delInput (small, narrow) against the star's id projection.
        val neverExported = delInput
          .filter(!col("__d_hid") && col("__d_dfs").isNotNull &&
            col("__d_dated"))
          .join(starMsgs.select(col("id").as("__d_id")),
            Seq("__d_id"), "left_anti")
          .count()
        // the UN-HIDE direction — a dedup-hidden row RESTORED upstream
        // (deleted_at cleared) is absent from the star and carries no
        // deletion state, so the legs above cannot see it, and its id
        // sits below the watermark so no incremental re-exports it.
        // Detecting it needs an anti-join of the input's live dated
        // rows against the star's ids — both sides corpus-sized, hence
        // OPT-IN (the reference's timestamp heuristic cannot see this
        // direction at any price; an operator restoring hidden rows
        // runs the deep check or forces a rebuild)
        val restored = if (!deepRestoreCheck) 0L
          else input.messages
            .filter(col("deleted_at").isNull &&
              col("deleted_from_source_at").isNull &&
              col("sent_at").isNotNull &&
              col("id") <= st.lastMessageId)
            .select(col("id"))
            .join(starMsgs.select(col("id")), Seq("id"), "left_anti")
            .count()

        var reasons = Seq.empty[String]
        // Option-guarded (fifth round): with NO dated live rows at all
        // the aggregate is NULL, and a default-0 compared against an
        // empty-rebuild watermark of Long.MinValue would report
        // phantom "new messages" forever
        maxDatedOpt.foreach { maxDated =>
          if (maxDated > st.lastMessageId)
            reasons :+= s"${maxDated - st.lastMessageId} new messages"
        }
        var full = false
        if (deletedStale + undeleted + neverExported > 0) { full = true
          reasons :+= s"${deletedStale + undeleted + neverExported} deletions" }
        if (hiddenStale > 0) { full = true
          reasons :+= s"$hiddenStale dedup-hidden" }
        if (restored > 0) { full = true
          reasons :+= s"$restored restored" }
        Staleness(reasons.nonEmpty, full, reasons)
    }

  private val RequiredTables = Seq("messages", "message_recipients",
    "message_labels", "attachments", "participants", "labels",
    "conversations", "sources")

  /** True when any required table directory holds no parquet files
    * (reference missingRequiredParquet, build_cache.go:503-524) — a
    * cache that lost a table must full-rebuild; incrementing over it
    * would silently drop every pre-loss row of that table.
    */
  private def missingRequiredParquet(spark: SparkSession,
      outDir: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    !RequiredTables.forall { t =>
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$t")
      val fs = p.getFileSystem(conf)
      fs.exists(p) && {
        val it = fs.listFiles(p, true)
        var found = false
        while (!found && it.hasNext)
          found = it.next().getPath.getName.endsWith(".parquet")
        found
      }
    }
  }

  /** Build or incrementally refresh the cache at `outDir` from normalized
    * input frames. Returns the number of (new) messages exported.
    *
    * SINGLE-WRITER contract, enforced by the caller (the reference's
    * build_cache is single-owner the same way): two concurrent build()s
    * on one outDir interleave their per-partition commits and junction
    * Overwrites with no fencing. An orchestrator that retries on a
    * liveness timeout must first confirm the prior attempt is dead —
    * or front builds with its own lock (the streaming face,
    * [[streamBuild]], gets this for free from the checkpoint).
    */
  def build(spark: SparkSession, input: MsgVault, outDir: String,
      forceFull: Boolean = false): Long = {
    // whether ANY prior cache exists — a state file of ANY version, or
    // table files on disk (an operator-deleted state must not turn an
    // emptied-archive rebuild into the eternal first-build refusal; r13
    // fifth review round). Kept separately from `prior` (which forceFull
    // and version mismatches erase) so the empty-rebuild path can
    // distinguish a FIRST build from an EMPTIED archive.
    val state0 = readState(outDir)
    val hadState =
      state0.isDefined || !missingRequiredParquet(spark, outDir)
    val prior =
      if (forceFull) None // the reference's --full-rebuild / staleness
      else state0.filter(_.schemaVersion == SchemaVersion)
    val watermark = prior.map(_.lastMessageId).getOrElse(Long.MinValue)
    val fullRebuild = prior.isEmpty
    // build metadata only (the reference's cacheWatermark,
    // build_cache.go:246-250, fed ITS timestamp-based staleness
    // heuristic): since the r13 third review round, [[staleness]]
    // compares the star itself against the input's deletion state —
    // exact, timestamp-free — so this stamp no longer gates anything
    val buildWatermarkSec = nowSec()

    // ONE persisted snapshot of the input's new slice: the watermark and
    // the export both derive from it. Computing the watermark from a
    // SECOND input scan (the old shape) silently loses rows inserted into
    // a live source between the two scans — the state would advance past
    // ids this build never exported. Persisted because the frame is read
    // five times (stats, messages write, three junction semi-joins).
    // localCheckpoint, NOT persist: persist is best-effort — a
    // reclaimed executor's lost cache blocks RECOMPUTE from the live
    // source, so the watermark (fixed first) and the later writes could
    // see different row sets, re-opening exactly the divergence this
    // snapshot exists to close. A lost checkpoint block instead FAILS
    // the build, retried honestly, rather than silently exporting rows
    // past the recorded watermark.
    val newRows = input.messages.filter(col("id") > watermark)
      .localCheckpoint(true)
    // release on EVERY exit path (early return, the empty-input
    // require, a failed parquet write): without the finally, a throw
    // before the tail would pin the whole new-slice snapshot for the
    // session — and a retried build would pin a second copy on top
    try {
    // the watermark advances over DATED rows only (the reference's
    // maxIDQuery, build_cache.go:156: MAX(id) WHERE sent_at IS NOT
    // NULL — deleted rows included): an undated TAIL stays below the
    // watermark and exports once dated, while an undated row below a
    // dated id in the same batch is passed over permanently — exactly
    // the reference's behavior (r13 review confirmed the shared
    // semantics; see the class scaladoc). The exported count excludes
    // both dedup losers and undated rows (the COPY's WHERE,
    // build_cache.go:308)
    val stats = newRows.agg(
      max(when(col("sent_at").isNotNull, col("id"))).as("mx"),
      sum(when(col("deleted_at").isNull && col("sent_at").isNotNull, 1L)
        .otherwise(0L)).as("live")).head()
    val newWatermark = if (stats.isNullAt(0)) watermark else stats.getLong(0)
    val newCount = if (stats.isNullAt(1)) 0L else stats.getLong(1)

    if (newCount == 0 && !fullRebuild) {
      // an all-deleted (dedup-loser) tail still ADVANCES the watermark:
      // needsBuild keys on max DATED id, so leaving the state behind
      // would re-trigger a full-scan no-op build forever (the reference
      // writes state on this path too — its COPY just exports 0 rows,
      // build_cache.go:462-496)
      if (newWatermark > watermark)
        writeState(outDir,
          SyncState(newWatermark, SchemaVersion, buildWatermarkSec))
      return 0L
    }
    // dedup losers and undated rows excluded at export
    // (build_cache.go:308); later source-deletions stay visible until
    // the staleness gate forces the next full rebuild
    val liveNew = newRows
      .filter(col("deleted_at").isNull && col("sent_at").isNotNull)
      .withColumn("year", year(col("sent_at")))
      .withColumn("month", month(col("sent_at")))

    if (newCount == 0) {
      // full rebuild with nothing live. Two distinct stories (r13
      // fourth review round):
      //  - FIRST build (no prior cache): fail loudly BEFORE any write —
      //    a zero-file partitioned dataset's read-back dies in schema
      //    inference instead of a clear message (the reference
      //    tolerates it because its SQLite engine can still serve;
      //    this library has no fallback engine).
      //  - an EMPTIED archive (prior cache exists; the staleness gate
      //    demanded the rebuild because every exported row was deleted
      //    or hidden upstream): the rebuild MUST converge — refusing
      //    would loop the gate's verdict forever while the star keeps
      //    serving deleted rows. Rewrite every table as a
      //    schema-complete EMPTY parquet (unpartitioned: a partitioned
      //    write of zero rows emits no files) and record the dated
      //    watermark so the gate reads fresh on the next check.
      require(hadState,
        s"cache build found 0 live messages in the input for $outDir")
      for (t <- RequiredTables) deleteDir(spark, s"$outDir/$t")
      liveNew.write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(s"$outDir/messages")
      Seq("message_recipients" -> input.recipients,
        "message_labels" -> input.messageLabels,
        "attachments" -> input.attachments).foreach { case (n, df) =>
        df.limit(0).write.mode(SaveMode.Overwrite)
          .option("compression", "zstd").parquet(s"$outDir/$n/batch_full")
      }
      if (input.conversationParticipants.isEmpty)
        deleteDir(spark, s"$outDir/conversation_participants")
      (Seq("participants" -> input.participants, "labels" -> input.labels,
        "conversations" -> input.conversations, "sources" -> input.sources) ++
        input.conversationParticipants
          .map("conversation_participants" -> _))
        .foreach { case (n, df) =>
          df.write.mode(SaveMode.Overwrite)
            .option("compression", "zstd").parquet(s"$outDir/$n")
        }
      // the watermark verbatim — clamping MinValue to 0 would conflate
      // "no dated rows" with "max dated id is 0" and permanently skip
      // an id-0 row dated later (the JSON state keeps the signed value;
      // r13 fifth review round)
      writeState(outDir,
        SyncState(newWatermark, SchemaVersion, buildWatermarkSec))
      return 0L
    }

    // idempotent-retry shards — a build that crashed mid-write and is
    // re-run REPLACES its own partial output instead of appending a
    // duplicate copy (the Spark equivalent of the reference's
    // overwrite-on-retry incr_<watermark> shard naming,
    // build_cache.go:258-263):
    //   - messages carry a batch=<tag> PARTITION: incrementals overwrite
    //     only their own partitions (dynamic mode); liveNew is non-empty
    //     by the guard above, so the partitioned write always emits
    //     files. Readers ([[MsgVault.open]]) drop the column.
    //   - junctions write into an explicit batch_<tag> SUBDIRECTORY with
    //     plain overwrite: a junction increment CAN be empty (messages
    //     without labels/attachments), and a partitioned write of zero
    //     rows emits no files at all — an unpartitioned empty write
    //     still emits a schema-bearing file, keeping the glob readable.
    val batchTag = if (fullRebuild) "full" else s"w$watermark"
    // a retried incremental whose recomputed rows span FEWER (year)
    // partitions than the crashed first attempt (a message soft-deleted
    // between attempts) cannot erase the surplus via dynamic overwrite —
    // it only replaces partitions it emits — leaving orphan message rows
    // whose junction rows the full-replace junction write removes (a
    // torn star). Delete the whole own-batch dir first: the retry
    // replaces its ATTEMPT, not just the overlapping partitions.
    if (!fullRebuild) deleteDir(spark, s"$outDir/messages/batch=$batchTag")
    // repartition on the partition column first: otherwise every task
    // writes into every year= dir (tasks × years small files at scale)
    val msgWriter = liveNew.withColumn("batch", lit(batchTag))
      .repartition(col("year"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("batch", "year")
      .option("compression", "zstd")
    // both modes pinned EXPLICITLY: a full rebuild must truncate the
    // whole table (static) even when the session sets
    // partitionOverwriteMode=dynamic globally — otherwise stale
    // batch=w*/year=* partitions from the prior incremental layout
    // survive the rebuild and every old message is read twice
    (if (fullRebuild) msgWriter.option("partitionOverwriteMode", "static")
     else msgWriter.option("partitionOverwriteMode", "dynamic"))
      .parquet(s"$outDir/messages")

    // Junction rows are written EXACTLY ONCE, for exported messages
    // only (semi-join on BOTH full and incremental builds). The
    // reference exports junctions raw on a full rebuild and by
    // `message_id > watermark` on increments (build_cache.go:326-383),
    // which (a) ships dangling rows for dedup-losing/undated messages
    // — unreachable, every query path enters junctions through the
    // messages table — and (b) DUPLICATES a pending undated message's
    // junction rows when it later gains a date (raw full shard + the
    // increment both carry them), which WOULD be observable as join
    // fan-out. The uniform semi-join closes both; its cost on a full
    // build is one shuffle of each junction against the message-id
    // projection, the same key the bucketed layout co-locates anyway.
    def junction(name: String, df: DataFrame): Unit = {
      if (fullRebuild) // clear any prior layout; Overwrite below only
        deleteDir(spark, s"$outDir/$name") // replaces this batch's subdir
      df.join(liveNew.select(col("id").as("__mid")),
          df("message_id") === col("__mid"), "left_semi")
        .write.mode(SaveMode.Overwrite)
        .option("compression", "zstd")
        .parquet(s"$outDir/$name/batch_$batchTag")
    }
    junction("message_recipients", input.recipients)
    junction("message_labels", input.messageLabels)
    junction("attachments", input.attachments)

    // dimensions: full rewrite every build (build_cache.go:385-457).
    // conversation_participants exports whenever the input carries it —
    // closing the reference's own TODO (duckdb_text.go:135: "use
    // conversation_participants table once exported to Parquet");
    // conversation-grain, so it rewrites with the dims. A build from an
    // input WITHOUT the junction must DELETE any prior export (r14
    // review find): leaving it would make MsgVault.open's presence
    // probe serve pre-rebuild membership forever.
    if (input.conversationParticipants.isEmpty)
      deleteDir(spark, s"$outDir/conversation_participants")
    (Seq("participants" -> input.participants, "labels" -> input.labels,
      "conversations" -> input.conversations, "sources" -> input.sources) ++
      input.conversationParticipants.map("conversation_participants" -> _))
      .foreach { case (n, df) =>
        df.write.mode(SaveMode.Overwrite)
          .option("compression", "zstd").parquet(s"$outDir/$n")
      }

    // post-write verification (build_cache.go:467-476). A full COUNT(*)
    // of the star per incremental sync is a full-metadata job at 100 TB;
    // the incremental proof reads back only THIS batch's partitions
    // (pruned on the batch column) and needs one row.
    if (fullRebuild) {
      val written = spark.read.parquet(s"$outDir/messages").count()
      require(written > 0, s"cache build wrote 0 message rows to $outDir")
    } else {
      val shard = spark.read.parquet(s"$outDir/messages")
        .filter(col("batch") === batchTag)
      require(shard.head(1).nonEmpty,
        s"cache build wrote 0 message rows to $outDir (batch $batchTag)")
    }

    writeState(outDir,
      SyncState(newWatermark, SchemaVersion, buildWatermarkSec))
    newCount
    } finally graft.queries.unpersistWithCheckpointLeaves(newRows)
  }

  /** Bucketed star variant — the co-located-join layout for the biggest
    * join family at 100 TB: messages bucketed+sorted by `id` and every
    * junction bucketed+sorted by `message_id` with the SAME bucket count,
    * so message↔recipients/labels/attachments joins sort-merge WITHOUT
    * shuffling either side (PlanAuditSpec proves the zero-Exchange plan).
    * Dimensions stay plain tables (they broadcast). The directory star
    * ([[build]]) remains the portable default; this is the warehouse
    * deployment shape (`spark.table`-served, metastore-backed).
    */
  def buildBucketed(spark: SparkSession, input: MsgVault,
      db: String = "graft_star", buckets: Int = 64): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // same export gate as the directory star (build_cache.go:308, r13
    // review find — this face had kept the pre-r13 filter): no dedup
    // losers, no undated rows, and junction rows only for exported
    // messages — the two deployment shapes must answer identically.
    // SNAPSHOTTED like build()'s newRows (second review round): the
    // frame is read four times (messages write + three junction
    // semi-joins); recomputing it from a LIVE source between writes
    // would let a message inserted mid-build pass a junction semi-join
    // while being absent from the already-written messages table — a
    // torn star.
    val live = input.messages
      .filter(col("deleted_at").isNull && col("sent_at").isNotNull)
      .withColumn("year", year(col("sent_at")))
      .withColumn("month", month(col("sent_at")))
      .localCheckpoint(true)
    try {
      live.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, "id").sortBy("id")
        .option("compression", "zstd").saveAsTable(s"$db.messages")
      Seq("message_recipients" -> input.recipients,
        "message_labels" -> input.messageLabels,
        "attachments" -> input.attachments).foreach { case (n, df) =>
        df.join(live.select(col("id").as("__mid")),
            df("message_id") === col("__mid"), "left_semi")
          .write.mode(SaveMode.Overwrite)
          .bucketBy(buckets, "message_id").sortBy("message_id")
          .option("compression", "zstd").saveAsTable(s"$db.$n")
      }
    } finally graft.queries.unpersistWithCheckpointLeaves(live)
    if (input.conversationParticipants.isEmpty)
      spark.sql(s"DROP TABLE IF EXISTS $db.conversation_participants")
    (Seq("participants" -> input.participants, "labels" -> input.labels,
      "conversations" -> input.conversations, "sources" -> input.sources) ++
      input.conversationParticipants.map("conversation_participants" -> _))
      .foreach { case (n, df) =>
        df.write.mode(SaveMode.Overwrite)
          .option("compression", "zstd").saveAsTable(s"$db.$n")
      }
  }

  /** Open a [[buildBucketed]] star: frames come from the metastore so the
    * bucketing metadata drives shuffle-free sort-merge joins.
    */
  def openBucketed(spark: SparkSession, db: String = "graft_star"): MsgVault =
    MsgVault(spark,
      messages = spark.table(s"$db.messages"),
      recipients = spark.table(s"$db.message_recipients"),
      participants = spark.table(s"$db.participants"),
      labels = spark.table(s"$db.labels"),
      messageLabels = spark.table(s"$db.message_labels"),
      attachments = spark.table(s"$db.attachments"),
      conversations = spark.table(s"$db.conversations"),
      sources = spark.table(s"$db.sources"),
      conversationParticipants =
        if (spark.catalog.tableExists(s"$db.conversation_participants"))
          Some(spark.table(s"$db.conversation_participants"))
        else None)

  /** Canonical type casts applied to JDBC reads: OLTP engines differ in
    * what they hand back over JDBC (SQLite stores timestamps as TEXT and
    * booleans as INTEGER; Derby has native types), so every column the
    * star depends on is cast to its canonical Spark type — the JDBC twin
    * of the reference's CAST-normalizing view layer (views.go:174-199).
    */
  private val jdbcCanonicalTypes: Map[String, Map[String, String]] = Map(
    "messages" -> Map("id" -> "long", "source_id" -> "long",
      "conversation_id" -> "long", "sender_id" -> "long",
      "sent_at" -> "timestamp", "size_estimate" -> "long",
      "has_attachments" -> "boolean", "attachment_count" -> "int",
      "deleted_at" -> "timestamp", "deleted_from_source_at" -> "timestamp",
      "is_from_me" -> "boolean", "archived_at" -> "timestamp"),
    "message_recipients" -> Map("message_id" -> "long",
      "participant_id" -> "long"),
    "participants" -> Map("id" -> "long"),
    "labels" -> Map("id" -> "long"),
    "message_labels" -> Map("message_id" -> "long", "label_id" -> "long"),
    "attachments" -> Map("id" -> "long", "message_id" -> "long",
      "size" -> "long"),
    "conversations" -> Map("id" -> "long"),
    "sources" -> Map("id" -> "long"))

  private def jdbcCanonical(name: String, df: DataFrame): DataFrame = {
    // JDBC engines report identifier case per their own rules (Derby
    // uppercases); fold to lowercase FIRST — downstream existence checks
    // (optional-column backfill) are case-sensitive and would otherwise
    // "re-add" an existing column, silently nulling it via withColumn's
    // case-insensitive replacement
    val lowered = df.toDF(df.columns.map(_.toLowerCase): _*)
    jdbcCanonicalTypes.getOrElse(name, Map.empty).foldLeft(lowered) {
      case (d, (c, tp)) =>
        if (d.columns.contains(c)) d.withColumn(c, col(c).cast(tp)) else d
    }
  }

  /** Open the normalized OLTP store over JDBC as a [[MsgVault]] — the
    * ingestion bridge the reference implements as `ATTACH ... (TYPE
    * sqlite)` + per-table export (internal/query/duckdb.go:104-123;
    * cmd/msgvault/cmd/build_cache.go:114-263). Dialect-agnostic: point it
    * at a real msgvault.db with the sqlite-jdbc driver on the executor
    * classpath, or at any JDBC engine holding the same 17-table schema
    * (the spec exercises it end-to-end against embedded Derby, the JDBC
    * engine shipped with Spark).
    *
    * Scale shape: the fact/junction tables read as `numPartitions`
    * parallel range cursors over their integer PK (bounds probed with one
    * MIN/MAX query — Parquet-style partition parallelism for a JDBC
    * source); dimension tables read on a single cursor.
    */
  def openJdbc(spark: SparkSession, url: String,
      props: java.util.Properties = new java.util.Properties,
      numPartitions: Int = 8): MsgVault = {
    def dim(t: String): DataFrame =
      jdbcCanonical(t, spark.read.jdbc(url, t, props))
    def fact(t: String, idCol: String): DataFrame = {
      val b = spark.read
        .jdbc(url,
          s"(SELECT MIN($idCol) AS lo, MAX($idCol) AS hi FROM $t) mm", props)
        .head()
      if (b.isNullAt(0)) dim(t) // empty table: bounds are NULL
      else {
        val (lo, hi) = (b.getAs[Number](0).longValue, b.getAs[Number](1).longValue)
        jdbcCanonical(t,
          spark.read.jdbc(url, t, idCol, lo, hi, numPartitions, props))
      }
    }
    MsgVault.fromFrames(spark,
      messages = fact("messages", "id"),
      recipients = fact("message_recipients", "message_id"),
      participants = dim("participants"),
      labels = dim("labels"),
      messageLabels = fact("message_labels", "message_id"),
      attachments = fact("attachments", "message_id"),
      conversations = dim("conversations"),
      sources = dim("sources"))
  }

  /** SQLite→star bridge: read the live OLTP store over JDBC and build (or
    * incrementally refresh) the Parquet analytics star at `outDir`. The
    * missing first step of a real migration — everything downstream
    * (engine queries, views, search) runs unchanged off the built star.
    *
    * Routes through the FULL [[staleness]] gate first (r13 review find —
    * this is the reference's own entry flow, cmd/query.go:50-57 +
    * tui.go: cacheNeedsBuild decides fullRebuild and buildCache receives
    * it): post-build deletions/dedup-hides and missing tables force the
    * full rebuild a bare incremental could never deliver.
    */
  def fromJdbc(spark: SparkSession, url: String, outDir: String,
      props: java.util.Properties = new java.util.Properties,
      numPartitions: Int = 8): Long = {
    val vault = openJdbc(spark, url, props, numPartitions)
    val st = staleness(spark, vault, outDir)
    if (!st.needsBuild) 0L
    else build(spark, vault, outDir, forceFull = st.fullRebuild)
  }

  /** FTS-emulation sidecar: `message_bodies` with a precomputed `tokens`
    * array (unicode61-ish: lowercase, split on non-alphanumerics,
    * diacritics folded — reference schema_sqlite.sql:6-14 tokenizer) so
    * deep search never tokenizes at query time. The reference deliberately
    * keeps bodies OUT of the analytics Parquet (query/DESIGN.md:56-69,
    * body search routes to SQLite FTS5); the Spark engine's equivalent of
    * that FTS index IS this table — columnar, zstd, co-partitioned with
    * nothing (joined by message_id semi-join after metadata filters).
    *
    * Input: (message_id, body_text[, body_html]) — body_html rides along
    * when present (reference schema.sql:266-270 keeps both; the detail
    * surface returns BodyText AND BodyHTML, models.go:63-65).
    */
  def buildBodies(spark: SparkSession, bodies: DataFrame, outDir: String): Unit = {
    import graft.functions.TextFunctions
    val html =
      if (bodies.columns.contains("body_html")) col("body_html")
      else lit(null).cast("string").as("body_html")
    bodies
      .select(col("message_id"), col("body_text"), html,
        TextFunctions.tokens(
          TextFunctions.foldDiacritics(col("body_text"))).as("tokens"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(s"$outDir/message_bodies")
  }

  /** Structured-Streaming face of the incremental build (SURVEY §2.12
    * mapping (b)): a file stream over the normalized messages directory,
    * a [[graft.streaming.Drain]] into the partitioned star — the stream
    * CHECKPOINT replaces `_last_sync.json` (files already processed are
    * never re-read, so re-running after new files arrive appends exactly
    * the new rows). Returns when drained.
    */
  def streamBuild(spark: SparkSession, srcDir: String, outDir: String,
      checkpoint: String): Unit =
    Drain.run(spark, srcDir, checkpoint) {
      // Legacy-format guard: sinks written before batch tags were
      // stream-namespaced used bare b<id>. A pre-upgrade batch that
      // crashed between its write and the checkpoint commit would replay
      // under the NEW <streamId>-b<id> tag instead of replacing its old
      // b<id> partition — a one-time duplicate copy MsgVault.open unions
      // silently. Refuse loudly instead: the operator migrates (rename
      // each batch=b<id> dir to batch=<streamId>-b<id> for the checkpoint
      // that owns the sink) or rebuilds.
      val msgPath = new Path(s"$outDir/messages")
      val msgFs = msgPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (msgFs.exists(msgPath)) {
        val legacy = msgFs.listStatus(msgPath).map(_.getPath.getName)
          .filter(_.matches("batch=b\\d+"))
        require(legacy.isEmpty,
          s"streamBuild: $outDir/messages holds legacy un-namespaced batch " +
            s"partitions (${legacy.sorted.take(3).mkString(", ")}); a " +
            "replayed batch would duplicate them under the new " +
            "<streamId>-b<id> tags. Rename each batch=b<id> directory to " +
            "batch=<streamId>-b<id> for the stream that owns this " +
            "checkpoint, or rebuild the sink.")
      }
      (batch, tag, _) =>
        Drain.replaceBatch(
          batch
            // same export gate as the batch face (build_cache.go:308): no
            // dedup losers, no undated rows (an undated row would create
            // the null year partition the reference never emits)
            .filter(col("deleted_at").isNull && col("sent_at").isNotNull)
            .withColumn("year", year(col("sent_at")))
            .withColumn("month", month(col("sent_at")))
            .repartition(col("year")),
          s"$outDir/messages", tag, innerPartitions = Seq("year"))
    }

  /** Boolean face of [[staleness]] (reference cacheNeedsBuild,
    * tui.go:197-330) — callers that also want the full-vs-incremental
    * verdict should call [[staleness]] and pass its `fullRebuild`
    * through to [[build]]'s `forceFull`.
    */
  def needsBuild(spark: SparkSession, input: MsgVault,
      outDir: String): Boolean =
    staleness(spark, input, outDir).needsBuild
}
