package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{CacheBuilder, MsgVault}

/** Subset-archive extraction — the Spark analogue of the reference's
  * `create-subset` (cmd/create_subset.go:14-41 → store.CopySubset,
  * internal/store/subset.go:27-409): copy the N most recent live
  * messages plus every row they reference into a NEW, self-consistent
  * archive a full engine can open and query directly. Used for fixture
  * generation, demos, and sharing a representative slice of a 100 TB
  * corpus.
  *
  * Faithful mechanics (subset.go:231-409):
  *   - selection = most recent N messages under the FULL live predicate
  *     (LiveMessagesWhere("", true), live_messages.go:35-54: both
  *     delete classes hidden), ordered recency DESC with id DESC
  *     tie-break;
  *   - sources / conversations referenced by selected messages;
  *     participants = senders ∪ recipients of selected messages
  *     (subset.go:297-316; the reactions leg has no analogue — the
  *     star holds no reactions table);
  *   - conversation_participants restricted to copied conversations AND
  *     copied participants (subset.go:325-330), when the source carries
  *     the junction;
  *   - junction tables (recipients / labels / attachments) restricted
  *     to selected messages;
  *   - referential integrity VERIFIED after the copy (the PRAGMA
  *     foreign_key_check analogue, subset.go:191-228): any dangling
  *     reference aborts loudly rather than shipping a torn archive.
  *
  * Documented divergences:
  *   - labels: the reference keeps source-owned labels too
  *     (subset.go:381-393, `source_id IN sources OR referenced`); the
  *     star's labels table carries no source_id (views.go canonical
  *     schema), so only REFERENCED labels copy — unreferenced ones are
  *     unreachable through every query path.
  *   - reply_to null-out (subset.go:341-348) has no analogue: the star
  *     schema carries no reply_to_message_id.
  *   - the write path IS [[CacheBuilder.build]] — the subset lands as a
  *     normal star directory (hive-partitioned messages, batch shards,
  *     `_last_sync.json` watermark, row-count verification), so
  *     [[MsgVault.open]], the staleness gate, and the whole query
  *     surface run against it unchanged. The reference's FTS rebuild
  *     (subset.go:253-257) corresponds to re-running the ETL sidecar
  *     builders over the subset, which operate on any star.
  *
  * Scale: selection is a global top-N (per-partition partial top-N +
  * single merge, no full sort); every restriction is a semi-join of a
  * corpus table against the broadcastable selected-id projection (N is
  * operator-bounded); the integrity check is one count per FK edge over
  * the ALREADY-SUBSET frames (each ≤ N-ish rows).
  */
object StarSubset {

  final case class Result(messages: Long, conversations: Long,
      participants: Long, labels: Long, sources: Long)

  /** Copy the `rows` most recent live messages (+ referenced data) from
    * `src` into a new star directory at `outDir`. Fails if `outDir`
    * already holds a star (destination-exists rule, subset.go:40-44).
    */
  def copySubset(spark: SparkSession, src: MsgVault, outDir: String,
      rows: Int): Result = {
    require(rows > 0, s"rows must be positive, got $rows")
    val statePath = new org.apache.hadoop.fs.Path(outDir, CacheBuilder.StateFile)
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(statePath),
      s"destination archive already exists: $outDir")

    // most recent N fully-live DATED messages (both delete classes
    // hidden, live_messages.go:44) — recency DESC, id DESC
    // (subset.go:236-239; the reference's COALESCE(sent_at,
    // received_at, internal_date) collapses to sent_at in the star
    // model). Undated live rows are EXCLUDED up front (r14 review
    // find): the star export drops them anyway (build_cache.go:308's
    // WHERE), so selecting one would silently under-fill the subset
    // while its dims had already been closured in. TakeOrdered:
    // partial top-N per partition, one merge.
    val selected = src.messages
      .filter(col("deleted_at").isNull &&
        col("deleted_from_source_at").isNull &&
        col("sent_at").isNotNull)
      .orderBy(col("sent_at").desc, col("id").desc)
      .limit(rows)
      .localCheckpoint(true)
    val selIds = broadcast(selected.select(col("id").as("__sel_id")))

    def byMsg(df: DataFrame): DataFrame =
      df.join(selIds, df("message_id") === col("__sel_id"), "left_semi")

    val recipients = byMsg(src.recipients)
    val messageLabels = byMsg(src.messageLabels)
    val attachments = byMsg(src.attachments)

    // participants = senders ∪ recipients of selected (subset.go:297-308)
    val pids = selected.filter(col("sender_id").isNotNull)
      .select(col("sender_id").as("__pid"))
      .unionByName(recipients.select(col("participant_id").as("__pid")))
    val participants = src.participants
      .join(pids, col("id") === col("__pid"), "left_semi")
    val conversations = src.conversations.join(
      broadcast(selected.select(col("conversation_id").as("__cid"))),
      col("id") === col("__cid"), "left_semi")
    val sources = src.sources.join(
      broadcast(selected.select(col("source_id").as("__sid"))),
      col("id") === col("__sid"), "left_semi")
    // referenced labels only (divergence note above)
    val labels = src.labels.join(
      messageLabels.select(col("label_id").as("__lid")),
      col("id") === col("__lid"), "left_semi")
    val convParticipants = src.conversationParticipants.map { cp =>
      cp.join(conversations.select(col("id").as("__cp_c")),
          cp("conversation_id") === col("__cp_c"), "left_semi")
        .join(participants.select(col("id").as("__cp_p")),
          cp("participant_id") === col("__cp_p"), "left_semi")
    }

    val sub = MsgVault(spark, selected, recipients, participants, labels,
      messageLabels, attachments, conversations, sources,
      convParticipants)
    CacheBuilder.build(spark, sub, outDir)

    // FK verification on the WRITTEN star (subset.go:191-228): read
    // back what a consumer will read and prove no dangling references.
    val star = MsgVault.open(spark, outDir)
    val violations = integrityViolations(star)
    require(violations.isEmpty,
      s"subset has dangling references: ${violations.mkString("; ")}")

    // one union job for the summary counts — five sequential driver
    // .count() actions would pay a scheduler round-trip each (the same
    // lesson the subset_star audit measured at ~10× latency)
    def cnt(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n"))
        .select(lit(name).as("t"), col("n"))
    val counts = Seq(
      cnt("messages", star.messages),
      cnt("conversations", star.conversations),
      cnt("participants", star.participants),
      cnt("labels", star.labels),
      cnt("sources", star.sources)).reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Result(messages = counts("messages"),
      conversations = counts("conversations"),
      participants = counts("participants"),
      labels = counts("labels"), sources = counts("sources"))
  }

  /** Dangling-reference audit over a star — every FK edge of the schema
    * as a left_anti count (the foreign_key_check analogue), declared as
    * ONE union plan so the whole audit evaluates in a single job
    * (per-edge driver .count() loops cost a scheduler round-trip per
    * edge — 10× the latency for the same work). Public: the
    * `subset_star` correctness entry composes it, and it is usable as a
    * standalone archive audit.
    */
  def integrityAudit(v: MsgVault): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame =
      child.filter(col(childKey).isNotNull)
        .join(parent.select(col(parentKey).as("__fk_pk")),
          col(childKey) === col("__fk_pk"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit(name).as("edge"), col("n"))
    (Seq(
      edge("messages.conversation_id", v.messages, "conversation_id",
        v.conversations, "id"),
      edge("messages.source_id", v.messages, "source_id",
        v.sources, "id"),
      edge("messages.sender_id", v.messages, "sender_id",
        v.participants, "id"),
      edge("recipients.message_id", v.recipients, "message_id",
        v.messages, "id"),
      edge("recipients.participant_id", v.recipients, "participant_id",
        v.participants, "id"),
      edge("message_labels.message_id", v.messageLabels, "message_id",
        v.messages, "id"),
      edge("message_labels.label_id", v.messageLabels, "label_id",
        v.labels, "id"),
      edge("attachments.message_id", v.attachments, "message_id",
        v.messages, "id")) ++
      v.conversationParticipants.toSeq.flatMap { cp =>
        Seq(
          edge("conversation_participants.conversation_id", cp,
            "conversation_id", v.conversations, "id"),
          edge("conversation_participants.participant_id", cp,
            "participant_id", v.participants, "id"))
      }).reduce(_ unionByName _)
  }

  /** Violated edges as "edge(n)" strings — one collect over
    * [[integrityAudit]]. */
  def integrityViolations(v: MsgVault): Seq[String] =
    integrityAudit(v).filter(col("n") > 0).collect()
      .map(r => s"${r.getString(0)}(${r.getLong(1)})").toSeq
}
