package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** DuckDB-oracled entries for the engine's POINT-LOOKUP surface — the
  * last five engine.go methods that were spec-only through r10:
  * ListAccounts (engine.go:79), GetAttachment (engine.go:29),
  * GetMessageBySourceID (engine.go:28), GetMessageRaw (engine.go:33),
  * SearchFastCount (engine.go:55-57). Same deterministic facade star as
  * [[FacadeQueries]] (one engine per (session, dir, fingerprint) via the
  * shared memo), so these ride the identical star the composed surfaces
  * are gated on.
  *
  * Point lookups return 0-or-1 rows (or a scalar), so each entry unions
  * a FOUND probe with a MUST-BE-ABSENT probe — the absent leg is what
  * discriminates the visibility rules (deleted_at for the source-id
  * lookup, BOTH hide rules for raw reads, plain absence for
  * attachments); a single found row would pass even if the filter were
  * missing.
  *
  * Scale shape: every probe compiles to an id-equality predicate on the
  * fact scan (partition + row-group prunable); the two driver-side
  * `.collect()`s (messageRaw, searchFastCount) are the reference's own
  * scalar-returning contract, not a distributed-operator edge.
  */
object PointLookupQueries {

  private def engine(s: SparkSession, dir: String) =
    FacadeQueries.engine(s, dir)

  // --- ListAccounts (engine.go:79, sqlite.go:853-858) -----------------------

  /** Account catalog: display_name coalesces to '' (NOT the identifier),
    * ordered by identifier with an id tie-break. The star's sources dim
    * has no display_name column at all, so the entry also pins the
    * stale-column backfill (null → '') through the real engine path.
    */
  def listAccounts(s: SparkSession, dir: String): DataFrame =
    engine(s, dir).listAccounts()

  val listAccountsSql: String =
    """SELECT CAST(c0 AS BIGINT) AS id, c2 AS source_type,
      |       c1 AS identifier, '' AS display_name
      |FROM (VALUES (0, 'a@gm.example', 'gmail'),
      |             (1, 'b@im.example', 'imap'),
      |             (2, 'c@mb.example', 'mbox')) t(c0, c1, c2)
      |ORDER BY identifier ASC, id ASC""".stripMargin

  // --- GetAttachment (engine.go:29, sqlite.go:831-845) ----------------------

  /** Attachment metadata by id: 44 exists (44 % 11 = 0 in the star),
    * 45 does not — the absent leg certifies a miss yields NO row rather
    * than a null-shaped one.
    */
  def attachmentInfo(s: SparkSession, dir: String): DataFrame = {
    val e = engine(s, dir)
    e.attachmentInfo(44L).unionByName(e.attachmentInfo(45L))
      .orderBy(col("id").asc)
  }

  val attachmentInfoSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS id,
      |       'f' || CAST(doc_id AS VARCHAR) AS filename,
      |       'application/pdf' AS mime_type,
      |       CAST(doc_id % 500 + 10 AS BIGINT) AS size,
      |       'h' || CAST(doc_id AS VARCHAR) AS content_hash
      |FROM documents
      |WHERE doc_id IN (44, 45) AND doc_id % 11 = 0
      |ORDER BY id ASC""".stripMargin

  // --- GetMessageBySourceID (engine.go:28, duckdb.go:1412-1422) -------------

  /** Source-id point lookup: 'sm-77' resolves to live id 77; 'sm-97'
    * resolves to a dedup-deleted message (97 % 97 = 0) and must yield
    * NO row — the "lowest live id wins" rule's deleted_at filter is
    * exactly what the absent leg discriminates. The found row carries
    * the full detail pivot (parties/attachments/labels serialized the
    * same way as the message_detail entry; 77 % 11 = 0, so the
    * attachment list is non-empty too).
    */
  def messageDetailBySourceId(s: SparkSession, dir: String): DataFrame = {
    val e = engine(s, dir)
    e.messageDetailBySourceId("sm-77")
      .unionByName(e.messageDetailBySourceId("sm-97"))
      .select(Seq(col("id"), col("source_message_id"), col("subject"),
        col("snippet"), col("sent_at"), col("message_type"),
        col("size_estimate")) ++ FacadeQueries.detailLists: _*)
      .orderBy(col("id").asc)
  }

  val messageDetailBySourceIdSql: String =
    s"""${FacadeQueries.starCte},
       |det AS (
       |  SELECT m.* FROM m
       |  WHERE m.source_message_id IN ('sm-77', 'sm-97')
       |    AND NOT m.is_deleted
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY m.source_message_id
       |                             ORDER BY m.id) = 1)
       |SELECT det.id, det.source_message_id, det.subject, det.snippet,
       |       det.sent_at, det.message_type, det.size_estimate,
       |       (SELECT string_agg(p.email || '|' || p.pname, ';'
       |                ORDER BY p.email || '|' || p.pname)
       |        FROM mr JOIN p ON p.pid = mr.participant_id
       |        WHERE mr.message_id = det.id AND mr.recipient_type = 'from')
       |         AS from_list,
       |       (SELECT string_agg(p.email || '|' || p.pname, ';'
       |                ORDER BY p.email || '|' || p.pname)
       |        FROM mr JOIN p ON p.pid = mr.participant_id
       |        WHERE mr.message_id = det.id AND mr.recipient_type = 'to')
       |         AS to_list,
       |       COALESCE((SELECT string_agg(p.email || '|' || p.pname, ';'
       |                ORDER BY p.email || '|' || p.pname)
       |        FROM mr JOIN p ON p.pid = mr.participant_id
       |        WHERE mr.message_id = det.id AND mr.recipient_type = 'cc'),
       |         '') AS cc_list,
       |       CASE WHEN det.id % 11 = 0
       |            THEN CAST(det.id AS VARCHAR) || ':f' ||
       |                 CAST(det.id AS VARCHAR) || ':application/pdf:' ||
       |                 CAST(det.id % 500 + 10 AS VARCHAR) || ':h' ||
       |                 CAST(det.id AS VARCHAR)
       |            ELSE '' END AS att_list,
       |       COALESCE((SELECT string_agg(name, ',' ORDER BY name) FROM ml
       |        WHERE ml.message_id = det.id), '') AS labels
       |FROM det ORDER BY det.id ASC""".stripMargin

  // --- GetMessageRaw (engine.go:33, shared.go:217-254) ----------------------

  /** Raw-MIME reads apply the STRICTEST visibility rule — deleted_at AND
    * deleted_from_source_at both hide (shared.go:217-254): probe 77 is
    * visible (inflated bytes come back), 178 (2·89, source-deleted) and
    * 194 (2·97, dedup-deleted) must both come back absent. The raw
    * sidecar is built in-query as deflate("Subject: s\r\n\r\n" + text) —
    * the same recipe as the message_detail entry — so the zlib
    * inflate sits under the hash gate via the decoded text column.
    */
  def messageRaw(s: SparkSession, dir: String): DataFrame = {
    val e = engine(s, dir)
    val raw = Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("message_id"),
        graft.functions.Mime.deflateUdf(
          encode(concat(lit("Subject: s\r\n\r\n"), col("text")), "utf-8"))
          .as("raw_data"))
    val rows = Seq(77L, 178L, 194L).map { id =>
      val r = e.messageRaw(raw, id)
      (id, r.isDefined,
        r.map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
          .getOrElse(""))
    }
    import s.implicits._
    rows.toDF("id", "found", "raw_text")
  }

  val messageRawSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS id,
      |       (doc_id % 97 <> 0 AND doc_id % 89 <> 0) AS found,
      |       CASE WHEN doc_id % 97 <> 0 AND doc_id % 89 <> 0
      |            THEN 'Subject: s' || chr(13) || chr(10) || chr(13) ||
      |                 chr(10) || text
      |            ELSE '' END AS raw_text
      |FROM documents
      |WHERE doc_id IN (77, 178, 194)
      |ORDER BY id ASC""".stripMargin

  // --- SearchFastCount (engine.go:55-57) -------------------------------------

  /** The "N of M results" pagination count: same parse + compile path as
    * search_fast (the oracled page query), unpaged COUNT. "invoice"
    * matches only subjects by star construction.
    */
  def searchFastCount(s: SparkSession, dir: String): DataFrame = {
    val n = engine(s, dir).searchFastCount("invoice")
    s.range(1).select(lit(n).as("match_count"))
  }

  val searchFastCountSql: String =
    s"""${FacadeQueries.starCte}
       |SELECT CAST(COUNT(*) AS BIGINT) AS match_count FROM m
       |WHERE NOT is_deleted AND message_type = 'email'
       |  AND contains(lower(subject), 'invoice')""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] =
    Map(
      "list_accounts" -> (listAccounts _, Some(listAccountsSql)),
      "attachment_info" -> (attachmentInfo _, Some(attachmentInfoSql)),
      "message_detail_by_source_id" ->
        (messageDetailBySourceId _, Some(messageDetailBySourceIdSql)),
      "message_raw" -> (messageRaw _, Some(messageRawSql)),
      "search_fast_count" -> (searchFastCount _, Some(searchFastCountSql)))
}
