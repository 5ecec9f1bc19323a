package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Staged deletion lifecycle — reference internal/deletion/ (manifest.go
  * + executor.go) re-expressed as append-only Spark tables instead of
  * per-manifest JSON files:
  *
  *  - a manifest HEADER table (one row per staged batch, with the
  *    Summary aggregates of manifest.go:48-61: message count, total
  *    size, date range, account count),
  *  - a MEMBERS table partitioned by manifest_id (the reference inlines
  *    `gmail_ids` in the JSON — a million-id manifest does not fit a
  *    JSON array; a partitioned table prunes to one manifest per probe),
  *  - a STATUS EVENT LOG (manifest_id, seq, status): the reference
  *    moves files between status directories (manifest.go:234-255);
  *    concurrent movers race on rename, an append-only log with
  *    max-seq-wins does not, and keeps the full audit trail the
  *    reference loses on each move.
  *
  * Status machine (manifest.go:20-26, 350-368 + executor.go:146-215):
  * pending → in_progress | cancelled; in_progress → completed | failed
  * | cancelled; failed/completed/cancelled terminal. Mid-run resume
  * re-enters an in_progress manifest without a transition
  * (executor.go:152 accepts pending OR in_progress and nothing else).
  *
  * Safety invariants enforced at STAGE time, not execute time:
  *  - gmail-only candidates (GetGmailIDsByFilter scopes to gmail
  *    sources — reference duckdb.go:1654-1788);
  *  - hide-deleted always on (same reference path);
  *  - dedup-remote candidates are same-source-only by construction
  *    upstream ([[MessageDedup.remoteDeletionCandidates]]).
  */
object DeletionStaging {

  val Pending = "pending"
  val InProgress = "in_progress"
  val Completed = "completed"
  val Failed = "failed"
  val Cancelled = "cancelled"

  // the reference's MoveManifest edge set (manifest.go:350-368: from ∈
  // {pending, in_progress} only) as driven by its two callers — the
  // executor (pending→in_progress, in_progress→completed|failed,
  // executor.go:156-205) and CancelManifest (pending|in_progress →
  // cancelled, manifest.go:386-407). FAILED IS TERMINAL (r13 audit —
  // executor.go:152 refuses failed manifests; the "resumable execution"
  // path re-enters a manifest still IN_PROGRESS via its checkpoint,
  // which is a re-read, not a transition). The r12-era failed →
  // in_progress retry edge was a misreading and is gone.
  private val legal: Map[String, Set[String]] = Map(
    Pending -> Set(InProgress, Cancelled),
    InProgress -> Set(Completed, Failed, Cancelled),
    Failed -> Set.empty,
    Completed -> Set.empty,
    Cancelled -> Set.empty)

  private def membersDir(base: String) = s"$base/members"
  private def headersDir(base: String) = s"$base/manifests"
  private def statusDir(base: String) = s"$base/status"

  /** Stage a candidate set as a new pending manifest. `candidates` must
    * carry (gmail_id, source_type, size_estimate, sent_at, source_id);
    * rows are persisted under members/manifest_id=<id>/ and the header
    * aggregates in one pass. Refuses empty candidate sets (a zero-member
    * manifest is always a bug upstream) and non-gmail members (remote
    * deletion is a Gmail API operation — reference executor.go:107-132).
    */
  def stage(spark: SparkSession, baseDir: String, manifestId: String,
      description: String, candidates: DataFrame): Unit = {
    // STAGE-TIME precondition: a manifest that has left 'pending' must
    // not be silently re-staged. The dynamic-overwrite writes below
    // would swap the reviewed member set out from under the existing
    // record while currentStatus keeps reporting the OLD state (its
    // max-seq event outranks the fresh pending@0) — an executor
    // honoring that stale in_progress approval would then delete the
    // UNREVIEWED replacement set. Re-staging a still-pending manifest
    // remains supported (the crashed-and-retried stage case).
    val statusP = new org.apache.hadoop.fs.Path(statusDir(baseDir))
    val statusFs = statusP.getFileSystem(spark.sessionState.newHadoopConf())
    if (statusFs.exists(statusP)) {
      // a FIRST stage that crashed inside its own appendStatus can leave
      // status/ holding only _temporary (no committed files) — that is
      // "no status yet", and the retry this precondition promises to
      // support must not die in schema inference over the empty dir
      val cur =
        try currentStatus(spark, baseDir)
          .filter(col("manifest_id") === manifestId).collect().headOption
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
        }
      cur.map(_.getAs[String]("status")).filter(_ != Pending)
        .foreach(st => throw new IllegalStateException(
          s"manifest '$manifestId' is '$st' — stage() may only (re)create " +
            "a pending manifest; cancel and stage a new id instead"))
    }
    // SNAPSHOT the candidate set before anything reads it twice: the
    // summary/validation aggregation and the member write are separate
    // Spark jobs, and a nondeterministic candidate frame (live-directory
    // re-read, sample) would otherwise persist members that disagree
    // with the header counts — and possibly bypass the validation
    val member = candidates.select(
      lit(manifestId).as("manifest_id"),
      col("gmail_id").cast("string").as("gmail_id"),
      col("source_id").cast("long").as("source_id"),
      col("source_type").cast("string").as("source_type"),
      col("size_estimate").cast("long").as("size_estimate"),
      col("sent_at").cast("timestamp").as("sent_at"))
      .localCheckpoint(true)
    // ONE aggregation both validates and summarizes — no second scan
    val s = member.agg(
      count(lit(1)).as("n"),
      sum(when(col("source_type") =!= "gmail", 1L).otherwise(0L)).as("bad"),
      coalesce(sum(col("size_estimate")), lit(0L)).as("sz"),
      min(col("sent_at")).as("lo"), max(col("sent_at")).as("hi"),
      countDistinct(col("source_id")).as("accts")).head()
    require(s.getAs[Long]("n") > 0L,
      s"manifest '$manifestId': empty candidate set")
    require(s.getAs[Long]("bad") == 0L,
      s"manifest '$manifestId': ${s.getAs[Long]("bad")} non-gmail " +
        "candidates — remote deletion only operates on gmail sources")
    // file count follows manifest size (Sizing.manifestFiles), not the
    // checkpointed candidates' shuffle parallelism, whose near-empty files
    // each read-back would pay a reader-init for. coalesce is narrow and
    // reduce-only — a small manifest never shuffles.
    val memberFiles = graft.Sizing.manifestFiles(s.getAs[Long]("n"),
      graft.Sizing.cores(spark))
    member.drop("source_type")
      .coalesce(memberFiles)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("manifest_id") // idempotent re-stage of the same id
      .option("partitionOverwriteMode", "dynamic")
      .parquet(membersDir(baseDir))
    import spark.implicits._
    // header is partitioned + dynamically overwritten like members, so a
    // crashed-and-retried stage() REPLACES its header row instead of
    // appending a duplicate (an append here would double every join
    // against headers after a retry)
    Seq((manifestId, description, s.getAs[Long]("n"), s.getAs[Long]("sz"),
      s.getAs[java.sql.Timestamp]("lo"), s.getAs[java.sql.Timestamp]("hi"),
      s.getAs[Long]("accts")))
      .toDF("manifest_id", "description", "message_count",
        "total_size_bytes", "date_lo", "date_hi", "n_accounts")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("manifest_id")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(headersDir(baseDir))
    appendStatus(spark, baseDir, manifestId, 0L, Pending)
  }

  private def appendStatus(spark: SparkSession, baseDir: String,
      manifestId: String, seq: Long, status: String): Unit = {
    import spark.implicits._
    Seq((manifestId, seq, status))
      .toDF("manifest_id", "seq", "status")
      .write.mode(SaveMode.Append).parquet(statusDir(baseDir))
  }

  /** Deterministic tie-break for racing appenders: the append-only log
    * cannot serialize two movers that both read seq N and both append
    * N+1 — so EQUAL-seq events resolve by a SAFETY ranking where the
    * more-conservative state wins (a cancel and an execute-start landing
    * on the same seq resolve to cancelled). Ranks: cancelled >
    * completed > failed > in_progress > pending.
    *
    * This covers exact seq collisions ONLY — it is not a serialization
    * point: a cancelled@N is still outranked by a completed@N+1 from an
    * executor that read the log before the cancel landed. An executor
    * honoring cancellation must re-read [[currentStatus]] immediately
    * before its terminal transition (and ideally before each side
    * effect), exactly as the reference's executor polls its context
    * (internal/deletion/executor.go's ctx checks).
    */
  private val statusRank: Column =
    when(col("status") === Cancelled, 4)
      .when(col("status") === Completed, 3)
      .when(col("status") === Failed, 2)
      .when(col("status") === InProgress, 1)
      .otherwise(0)

  /** Latest status per manifest: max-seq event wins; seq ties resolve by
    * the conservative [[statusRank]] (see its scaladoc).
    */
  def currentStatus(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(statusDir(baseDir))
      .groupBy(col("manifest_id"))
      .agg(max_by(col("status"), struct(col("seq"), statusRank)).as("status"),
        max(col("seq")).as("seq"))

  /** Transition a manifest to a new state; throws on an illegal edge
    * (the review gate: execute must find the manifest in_progress, a
    * cancelled batch can never run — manifest_test.go's state matrix).
    */
  def transition(spark: SparkSession, baseDir: String, manifestId: String,
      to: String): Unit = {
    require(legal.contains(to) || legal.values.exists(_.contains(to)),
      s"unknown status '$to'")
    val cur = currentStatus(spark, baseDir)
      .filter(col("manifest_id") === manifestId).collect()
    require(cur.nonEmpty, s"manifest '$manifestId' not found")
    val from = cur.head.getAs[String]("status")
    val seq = cur.head.getAs[Long]("seq")
    require(legal.getOrElse(from, Set.empty).contains(to),
      s"illegal transition $from -> $to for manifest '$manifestId'")
    appendStatus(spark, baseDir, manifestId, seq + 1L, to)
  }

  /** Members of one manifest — partition-pruned point read. */
  def members(spark: SparkSession, baseDir: String,
      manifestId: String): DataFrame =
    spark.read.parquet(membersDir(baseDir))
      .filter(col("manifest_id") === manifestId)

  def headers(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(headersDir(baseDir))

  /** Archive-side execution effect: mark the manifest's members
    * SOURCE-deleted in a message frame (the store half of executor.go —
    * the Gmail API half is the upstream producer's). The column is
    * `deleted_from_source_at`, NOT `deleted_at` (r13 audit:
    * store/messages.go:797-801,834-836 — a remote deletion records
    * "gone from the source server"; the row stays visible in default
    * views until a caller opts into hideDeletedFromSource, exactly
    * unlike a dedup hide), and it is stamped UNCONDITIONALLY on a hit —
    * the reference UPDATE overwrites an existing timestamp on
    * re-execution. Keyed on (source_message_id, source_id) — a
    * documented divergence from the reference's UN-scoped global UPDATE
    * (`WHERE source_message_id = ?` touches every account): remote
    * deletion is per-account, and a same-id message in a different
    * source must never be touched — the same-source invariant the
    * dedup-remote candidates enforce upstream; the reference only
    * avoids cross-account damage because Gmail ids rarely collide
    * across mailboxes. Member rows are deduped before the join so a
    * repeated member can neither multiply message rows nor double-count
    * stats. Returns (messages-with-deleted_from_source_at, stats row
    * (succeeded, failed)) where failed counts members with no archive
    * row (executor.go tracks them as FailedIDs).
    *
    * Scale bound: the member id set is BROADCAST against the full
    * message scan — correct because a staged manifest is a
    * human-reviewed deletion batch (the stage→review→execute workflow
    * caps it at what a reviewer signs off on; headers carry
    * message_count for the caller to check). A pathological manifest
    * beyond broadcast size should be split at staging time, not
    * executed in one pass.
    */
  def execute(messages: DataFrame, manifestMembers: DataFrame,
      deletedFromSourceAt: java.sql.Timestamp): (DataFrame, DataFrame) = {
    val ids = manifestMembers
      .select(col("gmail_id"), col("source_id").as("__m_src")).distinct()
    val marked = messages
      .join(broadcast(ids.withColumn("__hit", lit(true))),
        messages("source_message_id") === ids("gmail_id") &&
          messages("source_id") === ids("__m_src"), "left")
      .withColumn("deleted_from_source_at",
        when(col("__hit"), lit(deletedFromSourceAt))
          .otherwise(col("deleted_from_source_at")))
      .drop("gmail_id", "__hit", "__m_src")
    val archive = messages
      .select(col("source_message_id").as("gmail_id"),
        col("source_id").as("__m_src")).distinct()
      .withColumn("__found", lit(true))
    val stats = ids
      .join(archive, Seq("gmail_id", "__m_src"), "left")
      // coalesce: sum over ZERO member rows is NULL, and a caller doing
      // stats.head.getLong(0) on an empty manifest would NPE instead of
      // reading the honest (0, 0)
      .agg(coalesce(sum(when(col("__found"), 1L).otherwise(0L)), lit(0L))
          .as("succeeded"),
        coalesce(sum(when(col("__found").isNull, 1L).otherwise(0L)), lit(0L))
          .as("failed"))
    (marked, stats)
  }
}
