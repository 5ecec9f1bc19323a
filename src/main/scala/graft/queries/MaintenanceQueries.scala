package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ArchiveVerify
import graft.functions.TextEncoding
import graft.sources.Tables
import graft.streaming.{Drain, SinkCompaction}

/** Archive-maintenance entries: the integrity audit (reference
  * cmd/verify.go) and the encoding-repair pass
  * (cmd/repair_encoding.go + internal/textutil/encoding.go), both over
  * deterministic fixtures with PLANTED defects so the gate proves the
  * operator actually catches what it claims to catch.
  */
object MaintenanceQueries {

  /** Full-archive raw-MIME audit with TWO planted defect classes: every
    * zlib blob of a doc where d % 31 == 2 truncated to its first 4
    * bytes (a deflate stream that cannot inflate → n_raw_corrupt), and
    * every PLAIN blob of a doc where d % 13 == 3 replaced with
    * structureless bytes (inflates/reads fine but is not a message —
    * the class the reference's mime.Parse sample check catches,
    * verify.go:241-247 → counted out of n_mime_ok). The audit must
    * report EXACTLY those, per source, while counting coverage over
    * live messages. Oracle: pure arithmetic over the same residue
    * classes.
    */
  def archiveVerify(s: SparkSession, dir: String): DataFrame = {
    val (v, raw) = MessageDedupQueries.star(s, dir)
    val planted = raw.withColumn("raw_data",
      when(col("compression") === "zlib" && col("message_id") % 31 === 2,
        expr("substring(raw_data, 1, 4)")).otherwise(col("raw_data")))
      .withColumn("raw_data",
        when(col("compression").isNull && col("message_id") % 13 === 3,
          lit("structureless bytes, no header block"
            .getBytes("ISO-8859-1"))).otherwise(col("raw_data")))
    orderedAtTail(
      ArchiveVerify.auditRaw(v.messages, planted, v.sources)
        .select(col("source_id"), col("source_type"), col("n_messages"),
          col("n_with_raw"), col("n_raw_ok"), col("n_raw_corrupt"),
          col("n_mime_ok"), col("raw_pct")),
      col("source_id").asc)
  }

  // the star's residue classes, replayed: live = d%97<>0; has_raw =
  // d%4 in (1,3) or d%6=0; zlib = d%8 in (1,3); corrupt plant =
  // zlib and d%31=2; structure plant = plain (has_raw, not zlib) and
  // d%13=3; source_id per the star's member shuffle
  val archiveVerifySql: String =
    """WITH m AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN doc_id % 4 = 1 THEN (doc_id // 4 + 1) % 3
      |              ELSE (doc_id // 4) % 3 END AS source_id,
      |         (doc_id % 4 IN (1, 3)) OR (doc_id % 6 = 0) AS has_raw,
      |         (doc_id % 8 IN (1, 3)) AND doc_id % 31 = 2 AS corrupt,
      |         ((doc_id % 4 IN (1, 3)) OR (doc_id % 6 = 0))
      |           AND NOT (doc_id % 8 IN (1, 3)) AND doc_id % 13 = 3
      |           AS mime_bad
      |  FROM documents WHERE doc_id % 97 <> 0)
      |SELECT source_id,
      |       CASE source_id WHEN 0 THEN 'gmail' WHEN 1 THEN 'imap'
      |            ELSE 'mbox' END AS source_type,
      |       COUNT(*) AS n_messages,
      |       CAST(SUM(CASE WHEN has_raw THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_with_raw,
      |       CAST(SUM(CASE WHEN has_raw AND NOT corrupt THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_raw_ok,
      |       CAST(SUM(CASE WHEN has_raw AND corrupt THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_raw_corrupt,
      |       CAST(SUM(CASE WHEN has_raw AND NOT corrupt AND NOT mime_bad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_mime_ok,
      |       CAST((SUM(CASE WHEN has_raw THEN 1 ELSE 0 END) * 20000
      |             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |         / 100.0 AS raw_pct
      |FROM m GROUP BY source_id ORDER BY source_id ASC""".stripMargin

  /** Encoding repair over a fixture whose raw subject bytes are planted
    * in two encodings: docs with d % 5 == 0 carry ISO-8859-1 bytes of a
    * Latin-1 marker string (invalid as UTF-8 — the é/ü bytes are lone
    * high bytes), everything else valid UTF-8. The repair must decode
    * the planted rows through the Windows-1252 terminal branch (whose
    * 0xA0-0xFF range equals Latin-1, so the text round-trips exactly),
    * flag them changed, and mark reembed_needed — subject feeds the
    * embedder (repair_encoding.go:279-287). The oracle reconstructs the
    * expected repaired text arithmetically.
    */
  def textEncodingRepair(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val marker = lit(" résumé naïve")
    val base = concat(lit("subj-"), col("doc_id").cast("string"), marker)
    val subjectBytes = when(col("doc_id") % 5 === 0,
      encode(base, "ISO-8859-1")).otherwise(encode(base, "UTF-8"))
    val fixture = docs.select(col("doc_id"), subjectBytes.as("__subject_raw"))
    bucketOrdered(
      TextEncoding.repairEncoding(fixture,
        Seq("subject" -> col("__subject_raw")),
        embedderFields = Set("subject"))
        .select(col("doc_id"), col("subject"), col("subject_changed"),
          col("reembed_needed")),
      col("doc_id"))
  }

  val textEncodingRepairSql: String =
    s"""SELECT doc_id,
      |       'subj-' || CAST(doc_id AS VARCHAR) || ' résumé naïve'
      |         AS subject,
      |       doc_id % 5 = 0 AS subject_changed,
      |       doc_id % 5 = 0 AS reembed_needed
      |FROM documents
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** The compacted-sink READ path under the hash gate: a real file-source
    * stream drains the documents table in four micro-batches (one file
    * per trigger) into a `batch=`-partitioned sink with the repo's
    * exactly-once discipline (own-partition dynamic overwrite), then
    * [[graft.streaming.SinkCompaction.compact]] folds every non-latest
    * batch and [[graft.streaming.SinkCompaction.reclaim]] finishes the
    * deferred deletes. The query reads back through `SinkCompaction.read`
    * — every document must survive exactly once, and `from_compacted`
    * witnesses that the fold actually happened (batches 0-2 live in the
    * compact partition, the replay-protected latest batch 3 stays live),
    * so a silently no-oping compactor fails the oracle, not just a spec.
    *
    * Drain/compact/reclaim run once per (session, corpus) via
    * [[memoizedIndex]]; the benched per-run cost is the READ — manifest
    * scan + partition-pruned parquet, the path every consumer of a
    * long-lived streaming sink pays.
    */
  def streamCompactedRead(s: SparkSession, dir: String): DataFrame = {
    val sink = memoizedIndex(s, dir, "compacted_sink") {
      buildCompactedSink(s, dir)
    }
    bucketOrdered(
      SinkCompaction.read(s, sink)
        .select(col("doc_id"), col("n_chars"),
          col("batch").cast("string").startsWith("compact-")
            .as("from_compacted")),
      col("doc_id"))
  }

  private def buildCompactedSink(s: SparkSession, dir: String): String = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    // four deliveries, one file each: delivery k holds doc_id % 4 == k
    // and becomes micro-batch k — the oracle's `doc_id % 4 <> 3` replay
    // of from_compacted rides on that mapping being deterministic
    val root = deliverShards("graft_cmpq",
      (0 to 3).map(k => docs.filter(pmod(col("doc_id"), lit(4)) === k)))
    val sinkDir = root.resolve("sink").toString
    Drain.run(s, root.resolve("drop").toString, root.resolve("ckpt").toString,
      oneFilePerBatch = true) { (batch, tag, _) =>
      Drain.replaceBatch(batch, sinkDir, tag)
    }
    // loud gate: the query's claim is "reads correctly THROUGH a
    // compaction" — a no-op fold would pass the row comparison with
    // from_compacted all-false and must abort instead
    val folded = SinkCompaction.compact(s, sinkDir)
    if (folded != 3) throw new IllegalStateException(
      s"compacted-sink fixture expected to fold 3 sources, folded $folded")
    SinkCompaction.reclaim(s, sinkDir)
    sinkDir
  }

  val streamCompactedReadSql: String =
    s"""SELECT doc_id, n_chars, doc_id % 4 <> 3 AS from_compacted
      |FROM documents
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Subset-archive extraction ([[graft.operators.StarSubset]], the
    * reference's create-subset — cmd/create_subset.go:14-41): copy the
    * 500 most recent live messages + referenced rows out of the facade
    * star into a NEW star directory, re-open it, and report per-table
    * row counts plus the dangling-FK audit. The oracle replays the
    * whole selection arithmetic (live predicate, recency-DESC top-500,
    * sender∪recipient participant closure, referenced labels,
    * membership junction restriction) in DuckDB — counts AND integrity
    * must agree, which a torn copy (dangling junction rows, missed
    * participants) cannot fake.
    *
    * The copy itself is memoized per (session, dir) like every built
    * index artifact — the subset is a built ARTIFACT; the query under
    * measurement is the audit over it. Scalar .count() calls are
    * result-edge reads of operator-bounded (≤500-row) tables.
    */
  def subsetStar(s: SparkSession, dir: String): DataFrame = {
    val sub = memoizedIndex[graft.engine.MsgVault](s, dir, "subset_star_500") {
      val star = FacadeQueries.star(s, dir)
      val out = java.nio.file.Files.createTempDirectory("graft_subset")
        .resolve("star").toString
      graft.operators.StarSubset.copySubset(s, star, out, rows = 500)
      val opened = graft.engine.MsgVault.open(s, out)
      // the subset is ≤500 rows per table by construction — pin the
      // frames so the audit's ~30 union legs read cached partitions
      // instead of re-opening the parquet footers every run. coalesce(1)
      // first: the parquet reads inherit multi-partition layouts, and a
      // ≤500-row frame fanned over several partitions charges every
      // audit leg a task launch per partition (measured: 381 tasks/run
      // across the union's ~30 legs; ~0.65 s wall at local[32] —
      // graft.tools.Profile, r15). One partition per table is the right layout
      // at ANY scale: the subset is operator-bounded to `rows` rows.
      def ck(df: DataFrame) = df.coalesce(1).localCheckpoint(true)
      opened.copy(
        messages = ck(opened.messages),
        recipients = ck(opened.recipients),
        participants = ck(opened.participants),
        labels = ck(opened.labels),
        messageLabels = ck(opened.messageLabels),
        attachments = ck(opened.attachments),
        conversations = ck(opened.conversations),
        sources = ck(opened.sources),
        conversationParticipants = opened.conversationParticipants.map(ck))
    }
    // ONE declarative union plan: ten per-table counts + the summed
    // FK audit evaluate in a single job (a driver .count() loop costs
    // a scheduler round-trip per table — measured 2.7 s vs ~0.4 s)
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"))
        .select(lit(name).as("table_name"), col("n"))
    val tableCounts = Seq(
      cnt("attachments", sub.attachments),
      cnt("conversation_participants",
        sub.conversationParticipants.getOrElse(sub.attachments.limit(0))),
      cnt("conversations", sub.conversations),
      cnt("labels", sub.labels),
      cnt("message_labels", sub.messageLabels),
      cnt("messages", sub.messages),
      cnt("participants", sub.participants),
      cnt("recipients", sub.recipients),
      cnt("sources", sub.sources)).reduce(_ unionByName _)
    val danglingRow = graft.operators.StarSubset.integrityAudit(sub)
      .agg(coalesce(sum(when(col("n") > 0, 1L).otherwise(0L)), lit(0L))
        .as("n"))
      .select(lit("dangling_edges").as("table_name"), col("n"))
    // orderedAtTail, not orderBy: a bare orderBy is a range exchange
    // whose partitioner SAMPLING job re-executes the child — here that
    // child is the whole ~40-leg count/audit union, i.e. the query would
    // run twice to sort ELEVEN rows (package.scala result-edge rule)
    orderedAtTail(tableCounts.unionByName(danglingRow),
      col("table_name").asc)
  }

  // the facade star's residue rules, replayed over the live top-500
  // selection: senders d%30 (d%6<>0), recipients (d*7)%30 / (d*11)%30 /
  // (d*13)%30 (cc only when d%5=0), labels by residue membership
  // (5,3,7,2 -> label ids), conversations d%10, sources d%3, and the
  // membership junction p%10=c OR p%7=c restricted to copied rows
  val subsetStarSql: String =
    """WITH sel AS (
      |  SELECT doc_id AS d FROM documents
      |  WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0
      |  ORDER BY doc_id DESC LIMIT 500),
      |pp AS (
      |  SELECT d % 30 AS p FROM sel WHERE d % 6 <> 0
      |  UNION SELECT (d*7) % 30 FROM sel
      |  UNION SELECT (d*11) % 30 FROM sel
      |  UNION SELECT (d*13) % 30 FROM sel WHERE d % 5 = 0),
      |cc AS (SELECT DISTINCT d % 10 AS c FROM sel)
      |SELECT * FROM (
      |  SELECT 'attachments' AS table_name,
      |         CAST((SELECT COUNT(*) FROM sel WHERE d % 11 = 0) AS BIGINT) AS n
      |  UNION ALL SELECT 'conversation_participants',
      |    CAST((SELECT COUNT(*) FROM cc, pp
      |          WHERE p % 10 = c OR p % 7 = c) AS BIGINT)
      |  UNION ALL SELECT 'conversations',
      |    CAST((SELECT COUNT(*) FROM cc) AS BIGINT)
      |  UNION ALL SELECT 'dangling_edges', CAST(0 AS BIGINT)
      |  UNION ALL SELECT 'labels',
      |    CAST((SELECT COUNT(*) FROM (VALUES (5),(3),(7),(2)) r(m)
      |          WHERE EXISTS (SELECT 1 FROM sel WHERE d % m = 0)) AS BIGINT)
      |  UNION ALL SELECT 'message_labels',
      |    CAST((SELECT COUNT(*) FROM (VALUES (5),(3),(7),(2)) r(m)
      |          JOIN sel ON d % m = 0) AS BIGINT)
      |  UNION ALL SELECT 'messages',
      |    CAST((SELECT COUNT(*) FROM sel) AS BIGINT)
      |  UNION ALL SELECT 'participants',
      |    CAST((SELECT COUNT(*) FROM pp) AS BIGINT)
      |  UNION ALL SELECT 'recipients',
      |    CAST((SELECT 2 * COUNT(*) +
      |          COUNT(CASE WHEN d % 5 = 0 THEN 1 END) FROM sel) AS BIGINT)
      |  UNION ALL SELECT 'sources',
      |    CAST((SELECT COUNT(DISTINCT d % 3) FROM sel) AS BIGINT)
      |) ORDER BY table_name ASC""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "archive_verify" -> (archiveVerify _, Some(archiveVerifySql)),
    "text_encoding_repair" ->
      (textEncodingRepair _, Some(textEncodingRepairSql)),
    "stream_compacted_read" ->
      (streamCompactedRead _, Some(streamCompactedReadSql)),
    "subset_star" -> (subsetStar _, Some(subsetStarSql)))
}
