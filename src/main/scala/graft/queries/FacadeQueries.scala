package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{MsgEngine, MsgVault}
import graft.model._
import graft.sources.Tables

/** DuckDB-oracled entries for the composed engine FACADES (reference
  * engine.go: SearchFast duckdb.go:1844-1963, SearchFastWithStats
  * duckdb.go:2190-2300, SearchByDomains sqlite.go:1149-1194,
  * GetGmailIDsByFilter duckdb.go:1654-1788, ListConversations /
  * ListConversationMessages / GetTextStats duckdb_text.go:103-520).
  * Their building blocks (filter compile, ILIKE, semi-joins,
  * paginate-then-join, ordered FIRST) are each oracled individually;
  * these entries put the COMPOSED surfaces under the same hash gate.
  *
  * Bridge (same recipe as [[MessageDedupQueries]]): a deterministic
  * synthetic message star derived from `documents` by pure column
  * arithmetic on doc_id — no randomness, so the DuckDB oracle
  * reconstructs the identical star in CTEs — then the REAL
  * [[MsgEngine]] facades run on it and the oracle replays their SQL
  * semantics.
  *
  * Star shape (d = doc_id):
  *   - message_type: 'sms' when d % 4 == 0 (the texts-mode surface),
  *     'email' otherwise (the search surfaces); deleted on d % 97 == 0,
  *     source-deleted on d % 89 == 0 (exercises hide-deleted rules).
  *   - subject carries the searchable needle ("Invoice #d") on
  *     d % 7 == 0; snippet cycles over 23 values (text-stats needle).
  *   - sent_at = epoch + d minutes — injective, so every recency
  *     ordering has a deterministic total order even before the id
  *     tie-break.
  *   - sender_id = d % 30, NULL on d % 6 == 0 (dual-path resolution);
  *     one from-recipient (d·7 % 30), one to (d·11 % 30), cc on
  *     d % 5 == 0 (d·13 % 30) over a 30-participant dim spanning 3
  *     domains; 4 labels on d % {5,3,7,2} == 0; one attachment on
  *     d % 11 == 0; sources gmail/imap/mbox = d % 3; conversations
  *     d % 10.
  *
  * Scale shape: construction is projections of one `documents` scan;
  * every facade keeps its production plan (paginate-before-enrich,
  * broadcast dims, semi-join junctions) — PlanAuditSpec's gates apply
  * unchanged.
  */
object FacadeQueries {

  private val epochUs = StarFixture.epochUs

  /** The synthetic facade star, derived from `documents`. */
  private[queries] def star(s: SparkSession, dir: String): MsgVault =
    starFromDocs(s, Tables.load(s, dir, "documents"))

  /** [[star]] over an arbitrary documents frame — the reuse hook for
    * PlanAuditSpec's partition-pruning test, which derives the same star
    * from spread doc ids and writes it through
    * [[graft.engine.CacheBuilder.build]].
    */
  private[graft] def starFromDocs(s: SparkSession,
      docsIn: DataFrame): MsgVault = {
    val docs = docsIn.select(col("doc_id").cast("long").as("d"))
    val d = col("d")
    val ds = d.cast("string")

    val messages = docs.select(
      d.as("id"),
      (d % 3).as("source_id"),
      (d % 10).as("conversation_id"),
      concat(lit("sm-"), ds).as("source_message_id"),
      lit(null).cast("string").as("rfc822_message_id"),
      when(d % 4 === 0, lit("sms")).otherwise(lit("email")).as("message_type"),
      when(d % 7 === 0, concat(lit("Invoice #"), ds))
        .otherwise(concat(lit("subj-"), ds)).as("subject"),
      concat(lit("snip-"), (d % 23).cast("string")).as("snippet"),
      timestamp_micros(lit(epochUs) + d * lit(60000000L)).as("sent_at"),
      when(d % 6 =!= 0, d % 30).as("sender_id"),
      (d % 1000 + 100).as("size_estimate"),
      (d % 11 === 0).as("has_attachments"),
      when(d % 11 === 0, lit(1)).otherwise(lit(0)).as("attachment_count"),
      when(d % 97 === 0, timestamp_micros(lit(epochUs))).as("deleted_at"),
      when(d % 89 === 0, timestamp_micros(lit(epochUs)))
        .as("deleted_from_source_at"),
      (d % 10 === 0).as("is_from_me"),
      lit(null).cast("timestamp").as("archived_at"))

    def rcpt(pid: org.apache.spark.sql.Column, rtype: String) =
      docs.select(d.as("message_id"), pid.as("participant_id"),
        lit(rtype).as("recipient_type"),
        lit(null).cast("string").as("display_name"))
    val recipients = rcpt((d * 7) % 30, "from")
      .unionByName(rcpt((d * 11) % 30, "to"))
      .unionByName(rcpt((d * 13) % 30, "cc").filter(d % 5 === 0))

    val pid = col("id")
    val domain = when(pid % 3 === 0, lit("alpha.com"))
      .when(pid % 3 === 1, lit("beta.org")).otherwise(lit("gamma.net"))
    // single-slice ranges for the tiny dims: a bare s.range(n) splits
    // into defaultParallelism partitions, so every broadcast-exchange
    // build of a 30-row dim ran a 32-task scan job PER QUERY RUN
    // (r15, graft.tools.Profile: recurring 32-task near-empty stages on every
    // enriched facade query). One slice is the right layout for a
    // fixture dim at any corpus size — real deployments read dims from
    // parquet, where maxPartitionBytes sizes the scan.
    val participants = s.range(0, 30, 1, 1).select(
      pid.as("id"),
      concat(lit("p"), pid.cast("string"), lit("@"), domain)
        .as("email_address"),
      concat(lit("Person "), pid.cast("string")).as("display_name"),
      lit(null).cast("string").as("phone_number"),
      domain.as("domain"))

    import s.implicits._
    val labels = Seq((1L, "SENT"), (2L, "INBOX"), (3L, "work"),
      (4L, "personal")).toDF("id", "name")
    val messageLabels = StarFixture.messageLabels(docs, d)

    val attachments = docs.filter(d % 11 === 0).select(
      d.as("id"), d.as("message_id"),
      concat(lit("f"), ds).as("filename"),
      lit("application/pdf").as("mime_type"),
      (d % 500 + 10).as("size"),
      concat(lit("h"), ds).as("content_hash"))

    val conversations = s.range(0, 10, 1, 1).select(col("id"),
      concat(lit("conv-"), col("id").cast("string")).as("title"))
    val sources = Seq(
      (0L, "a@gm.example", "gmail"), (1L, "b@im.example", "imap"),
      (2L, "c@mb.example", "mbox")).toDF("id", "identifier", "source_type")

    // membership junction (10 conversations × 30 participants flattened
    // from one range — no cross join): participant p belongs to
    // conversation c iff p%10==c OR p%7==c. DISCRIMINATING from the
    // sender-derived fallback by construction: the %7 members (e.g.
    // p=8 in conversation 1) never send in that conversation (senders
    // of conversation c are ⊆ {c, c+10, c+20}) yet must appear in
    // member counts.
    val convParticipants = s.range(0, 300, 1, 1).select(
      (col("id") / 30).cast("long").as("conversation_id"),
      (col("id") % 30).as("participant_id"))
      .filter(col("participant_id") % 10 === col("conversation_id") ||
        col("participant_id") % 7 === col("conversation_id"))
      .select(col("conversation_id"), col("participant_id"),
        lit("member").as("role"),
        timestamp_micros(lit(epochUs) +
          col("participant_id") * lit(3600000000L)).as("joined_at"))

    MsgVault.fromFrames(s, messages, recipients, participants, labels,
      messageLabels, attachments, conversations, sources,
      conversationParticipants = Some(convParticipants))
  }

  /** One engine per (session, dir, corpus fingerprint) — facades like
    * searchFastWithStats carry their own materialize-once cache, which
    * must be reused across the verify and bench passes the way the
    * reference's temp-table cache is reused across calls. The star
    * frames are localCheckpointed once: the reference's message star IS
    * a materialized store (its DuckDB tables are written at ETL, not
    * re-derived per query), and without the checkpoint every facade
    * run re-plans and re-executes the derivation joins' full lineage.
    */
  private[graft] def engine(s: SparkSession, dir: String): MsgEngine =
    memoizedIndex[MsgEngine](s, dir, "facade_engine") {
      checkpointedEngine(star(s, dir))
    }

  /** THE materialized-star engine recipe the verify/bench path and every
    * probe soak against — one definition, so a change to which tables
    * checkpoint (or how) cannot silently fork the probes from the
    * production engine. Facts only: localCheckpoint yields a LogicalRDD
    * with NO size statistics, and a stat-less 30-row participants dim
    * would stop auto-broadcasting (every enrich join degrades to a
    * shuffle). The small dims are Seq/range-derived LocalRelations —
    * already free to re-derive and exactly-sized for broadcast planning.
    */
  private[graft] def checkpointedEngine(v: MsgVault): MsgEngine = {
    // The junctions are UNION-derived (recipients = 3 selects of the
    // fact, messageLabels = 4), so they arrive at 3-4× the fact frame's
    // partition count — and a localCheckpoint freezes that count into
    // every downstream scan (a 50-row page paid 24+32 task launches per
    // junction pass, pure local-mode overhead). Coalesce (narrow, no
    // shuffle) back to the fact's own count before checkpointing; on a
    // real cluster the star is parquet — maxPartitionBytes sizes those
    // scans and this recipe never runs. coalesce is REDUCE-only by
    // contract: a frame already below n partitions (a small dim) passes
    // through unchanged, which is the desired behavior here. Reading
    // the count via .rdd forces one plan-to-RDD conversion up front —
    // acceptable: this runs once per engine construction, not per query.
    val n = math.max(1, v.messages.rdd.getNumPartitions)
    def ck(df: DataFrame) = df.coalesce(n).localCheckpoint(true)
    new MsgEngine(v.copy(
      messages = ck(v.messages), recipients = ck(v.recipients),
      messageLabels = ck(v.messageLabels),
      attachments = ck(v.attachments)))
  }

  /** Shared star CTEs for the oracles (m / mr / p / ml / att dims) —
    * [[PointLookupQueries]] reuses it so its oracles replay the SAME star.
    */
  private[queries] val starCte: String =
    """WITH m AS (
      |  SELECT doc_id AS id,
      |         doc_id % 3 AS source_id,
      |         doc_id % 10 AS conversation_id,
      |         'sm-' || CAST(doc_id AS VARCHAR) AS source_message_id,
      |         CASE WHEN doc_id % 4 = 0 THEN 'sms' ELSE 'email' END
      |           AS message_type,
      |         CASE WHEN doc_id % 7 = 0
      |              THEN 'Invoice #' || CAST(doc_id AS VARCHAR)
      |              ELSE 'subj-' || CAST(doc_id AS VARCHAR) END AS subject,
      |         'snip-' || CAST(doc_id % 23 AS VARCHAR) AS snippet,
      |         make_timestamp(1700000000000000 + doc_id * 60000000)
      |           AS sent_at,
      |         CASE WHEN doc_id % 6 <> 0 THEN doc_id % 30 END AS sender_id,
      |         doc_id % 1000 + 100 AS size_estimate,
      |         doc_id % 97 = 0 AS is_deleted,
      |         doc_id % 89 = 0 AS is_src_deleted
      |  FROM documents),
      |p AS (
      |  SELECT r AS pid,
      |         'p' || CAST(r AS VARCHAR) || '@' ||
      |           CASE r % 3 WHEN 0 THEN 'alpha.com' WHEN 1 THEN 'beta.org'
      |                ELSE 'gamma.net' END AS email,
      |         'Person ' || CAST(r AS VARCHAR) AS pname,
      |         CASE r % 3 WHEN 0 THEN 'alpha.com' WHEN 1 THEN 'beta.org'
      |              ELSE 'gamma.net' END AS dom
      |  FROM range(30) t(r)),
      |mr AS (
      |  SELECT id AS message_id, (id * 7) % 30 AS participant_id,
      |         'from' AS recipient_type FROM m
      |  UNION ALL
      |  SELECT id, (id * 11) % 30, 'to' FROM m
      |  UNION ALL
      |  SELECT id, (id * 13) % 30, 'cc' FROM m WHERE id % 5 = 0),
      |ml AS (
      |  SELECT id AS message_id, 'SENT' AS name FROM m WHERE id % 5 = 0
      |  UNION ALL SELECT id, 'INBOX' FROM m WHERE id % 3 = 0
      |  UNION ALL SELECT id, 'work' FROM m WHERE id % 7 = 0
      |  UNION ALL SELECT id, 'personal' FROM m WHERE id % 2 = 0),
      |att AS (
      |  SELECT id AS message_id, id % 500 + 10 AS att_size,
      |         1 AS att_cnt
      |  FROM m WHERE id % 11 = 0)""".stripMargin

  // --- SearchFast (metadata search, paged + enriched) -----------------------

  /** The full composed path: parse → ILIKE-over-metadata → ORDER BY
    * recency → page 50 → enrich (sender resolution, labels,
    * conversation title) → re-order. "invoice" matches only subjects
    * by construction (no participant email/name contains it), so the
    * oracle's predicate is the subject branch of the reference's
    * OR-of-paths.
    */
  def searchFast(s: SparkSession, dir: String): DataFrame =
    engine(s, dir)
      .searchFast("invoice",
        MessageFilter(pagination = Pagination(limit = 50)))
      .select(col("id"), col("subject"), col("from_email"), col("from_name"),
        col("sent_at"), col("size_estimate"),
        array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))

  val searchFastSql: String =
    s"""$starCte,
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id)
       |SELECT m.id, m.subject, p.email AS from_email, p.pname AS from_name,
       |       m.sent_at, m.size_estimate,
       |       COALESCE(lbl.lbls, '') AS labels,
       |       'conv-' || CAST(m.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM m
       |JOIN p ON p.pid = (m.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = m.id
       |WHERE NOT m.is_deleted AND m.message_type = 'email'
       |  AND lower(m.subject) LIKE '%invoice%'
       |ORDER BY m.sent_at DESC, m.id DESC LIMIT 50""".stripMargin

  // --- SearchFastWithStats (materialize once; count+page+stats) -------------

  /** One persisted match set serves count, a page cut, and the stats
    * rollup — the reference's temp-table materialization. The output
    * row carries all three so the hash gate covers the whole handle.
    */
  def searchFastStats(s: SparkSession, dir: String): DataFrame = {
    val sws = engine(s, dir).searchFastWithStats("invoice")
    val pageAgg = sws.page(limit = 10, offset = 5)
      .agg(count(lit(1)).as("page_rows"), min(col("id")).as("page_min_id"),
        max(col("id")).as("page_max_id"))
    sws.stats
      .withColumn("total_count", lit(sws.totalCount))
      .crossJoin(pageAgg)
  }

  val searchFastStatsSql: String =
    s"""$starCte,
       |matches AS (
       |  SELECT * FROM m
       |  WHERE NOT is_deleted AND message_type = 'email'
       |    AND lower(subject) LIKE '%invoice%'),
       |page AS (
       |  SELECT id FROM matches
       |  ORDER BY sent_at DESC, id DESC LIMIT 10 OFFSET 5)
       |SELECT CAST(COUNT(*) AS BIGINT) AS message_count,
       |       CAST(COALESCE(SUM(size_estimate), 0) AS BIGINT) AS total_size,
       |       CAST(COALESCE(SUM(att.att_size), 0) AS BIGINT)
       |         AS attachment_size,
       |       CAST(COALESCE(SUM(att.att_cnt), 0) AS BIGINT) AS attachment_count,
       |       CAST(COUNT(DISTINCT matches.source_id) AS BIGINT)
       |         AS distinct_sources,
       |       (SELECT CAST(COUNT(DISTINCT ml.name) AS BIGINT) FROM ml
       |         WHERE ml.message_id IN (SELECT id FROM matches))
       |         AS label_count,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM matches)
       |         AS total_count,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM page) AS page_rows,
       |       (SELECT MIN(id) FROM page) AS page_min_id,
       |       (SELECT MAX(id) FROM page) AS page_max_id
       |FROM matches
       |LEFT JOIN att ON att.message_id = matches.id""".stripMargin

  // --- SearchByDomains (any-participant domain, date-bounded) ---------------

  /** One discriminating leg per reference rule (sqlite.go:1149-1194):
    *
    *   - CAPITALIZED domain arg ("Alpha.COM") — the reference lowercases
    *     both sides; a case-sensitive match would return ZERO rows, so
    *     the entire non-empty result witnesses the rule.
    *   - both delete classes hidden — the fixture's d%97 (deleted) and
    *     d%89 (source-deleted) rows land inside the page window at every
    *     SF (e.g. d=291 deleted, d=267 src-deleted at 500 docs; d=1455 /
    *     d=1335 in the sf0.1 top page) and must NOT surface.
    *   - email-only — d%12==0 rows (alpha-matching sms) would otherwise
    *     fill the page.
    *   - paging — limit=0 exercises the DEFAULT 100 (bites at sf0.1
    *     where the window holds ~360 matches); offset=3 drops the three
    *     newest at every SF.
    *   - DAY-granular bounds — after = epoch+300min (07:33 raw) truncates
    *     to the 11-15 midnight, admitting d∈[107,300) (page-visible at
    *     500 docs, where all ~96 matches fit in one page); before =
    *     epoch+2000min truncates to the 11-16 midnight, cutting
    *     d∈[1547,2000) off the TOP of the sf0.1 page.
    */
  def searchByDomains(s: SparkSession, dir: String): DataFrame = {
    val afterMs = epochUs / 1000 + 300 * 60000L
    val beforeMs = epochUs / 1000 + 2000 * 60000L
    engine(s, dir)
      .searchByDomains(Seq("Alpha.COM"),
        after = Some(new java.sql.Timestamp(afterMs)),
        before = Some(new java.sql.Timestamp(beforeMs)),
        limit = 0, offset = 3)
      .select(col("id"), col("subject"), col("from_email"), col("from_name"),
        col("sent_at"), array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))
  }

  val searchByDomainsSql: String =
    s"""$starCte,
       |ids AS (
       |  SELECT DISTINCT mr.message_id FROM mr
       |  JOIN p ON p.pid = mr.participant_id
       |  WHERE lower(p.dom) IN (lower('Alpha.COM'))),
       |matches AS (
       |  SELECT * FROM m
       |  WHERE NOT m.is_deleted AND NOT m.is_src_deleted
       |    AND m.message_type = 'email'
       |    AND m.sent_at >= date_trunc('day',
       |          make_timestamp(${epochUs + 300L * 60000000L}))
       |    AND m.sent_at <  date_trunc('day',
       |          make_timestamp(${epochUs + 2000L * 60000000L}))
       |    AND m.id IN (SELECT message_id FROM ids)),
       |pg AS (
       |  SELECT * FROM matches
       |  ORDER BY sent_at DESC, id DESC LIMIT 100 OFFSET 3),
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id)
       |SELECT pg.id, pg.subject, p.email AS from_email, p.pname AS from_name,
       |       pg.sent_at, COALESCE(lbl.lbls, '') AS labels,
       |       'conv-' || CAST(pg.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM pg
       |JOIN p ON p.pid = (pg.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = pg.id
       |ORDER BY pg.sent_at DESC, pg.id DESC""".stripMargin

  // --- GetGmailIDsByFilter (deletion staging input) --------------------------

  /** Always hide-deleted (both kinds), gmail sources only, filtered by
    * the 'work' label here — the deletion-staging input surface. Recency
    * order + a LIMIT (sqlite.go:1121-1135): with a limit the ordering is
    * SEMANTIC — it picks which messages stage for deletion — so the
    * oracle replays sent_at DESC, id DESC and the page cut.
    */
  def gmailIds(s: SparkSession, dir: String): DataFrame =
    engine(s, dir).gmailIdsByFilter(MessageFilter(label = "work",
      pagination = Pagination(limit = 25)))

  val gmailIdsSql: String =
    s"""$starCte
       |SELECT source_message_id FROM m
       |WHERE NOT is_deleted AND NOT is_src_deleted
       |  AND source_id = 0
       |  AND id IN (SELECT message_id FROM ml WHERE name = 'work')
       |ORDER BY sent_at DESC, id DESC LIMIT 25""".stripMargin

  // --- ListConversations (texts mode; ordered-FIRST preview) ----------------

  /** The trickiest text-mode semantics under the gate: the
    * last-message preview is an ordered FIRST (max_by over
    * (sent_at, id)) and participant_count deliberately replays the
    * reference's COALESCE(sender_id, 0) imprecision
    * (duckdb_text.go:136). sent_at is injective in the star, so the
    * oracle's arg_max needs no composite key.
    */
  def textConversations(s: SparkSession, dir: String): DataFrame =
    engine(s, dir).listConversations(TextFilter())

  // participant_count replays the fixture's MEMBERSHIP junction
  // (p%10==c OR p%7==c over 10×30), not the sender-derived fallback —
  // the %7 members never send in their conversation, so a sender-based
  // count cannot reproduce these numbers (the leg is membership-
  // discriminating by construction)
  val textConversationsSql: String =
    s"""$starCte,
       |chats AS (SELECT * FROM m
       |  WHERE NOT is_deleted AND message_type = 'sms'),
       |members AS (
       |  SELECT (t.id // 30) AS cid, CAST(COUNT(*) AS BIGINT) AS pc
       |  FROM range(300) t(id)
       |  WHERE (t.id % 30) % 10 = (t.id // 30)
       |     OR (t.id % 30) % 7 = (t.id // 30)
       |  GROUP BY 1),
       |stats AS (
       |  SELECT conversation_id,
       |         CAST(COUNT(*) AS BIGINT) AS message_count,
       |         MAX(sent_at) AS last_message_at,
       |         arg_max(snippet, sent_at) AS last_preview,
       |         arg_min(source_id, id) AS src_id
       |  FROM chats GROUP BY conversation_id)
       |SELECT conversation_id,
       |       'conv-' || CAST(conversation_id AS VARCHAR) AS title,
       |       CASE src_id WHEN 0 THEN 'gmail' WHEN 1 THEN 'imap'
       |            ELSE 'mbox' END AS source_type,
       |       message_count,
       |       COALESCE(mem.pc, 0) AS participant_count,
       |       last_message_at, last_preview
       |FROM stats LEFT JOIN members mem ON mem.cid = stats.conversation_id
       |ORDER BY last_message_at DESC, conversation_id ASC
       |LIMIT 100""".stripMargin

  // --- ListConversationMessages (chat timeline, paged then enriched) --------

  def textTimeline(s: SparkSession, dir: String): DataFrame =
    engine(s, dir)
      .listConversationMessages(4L,
        TextFilter(sortDirection = SortDirection.Asc,
          pagination = Pagination(limit = 40)))
      .select(col("id"), col("subject"), col("snippet"), col("from_email"),
        col("from_name"), col("sent_at"),
        array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))

  val textTimelineSql: String =
    s"""$starCte,
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id)
       |SELECT m.id, m.subject, m.snippet, p.email AS from_email,
       |       p.pname AS from_name, m.sent_at,
       |       COALESCE(lbl.lbls, '') AS labels,
       |       'conv-4' AS conversation_title
       |FROM m
       |JOIN p ON p.pid = (m.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = m.id
       |WHERE NOT m.is_deleted AND m.message_type = 'sms'
       |  AND m.conversation_id = 4
       |ORDER BY m.sent_at ASC, m.id ASC LIMIT 40""".stripMargin

  // --- TextSearch (texts-mode FTS over the bodies sidecar) ------------------

  /** The chat-surface deep search (duckdb_text.go:399-452): chat types
    * only, body-token prefix match OR subject substring, recency order,
    * default page 50, then the same enrichment as every list path. The
    * bodies sidecar carries the per-message token array the way
    * CacheBuilder.buildBodies does at ETL; "data" matches only body
    * tokens by construction (no subject contains it), so the oracle's
    * predicate is the token branch alone.
    */
  def textSearch(s: SparkSession, dir: String): DataFrame = {
    // the PRODUCTION tokenizer, exactly as CacheBuilder.buildBodies runs
    // it at ETL (lowercase + diacritic fold + punctuation split): the
    // gate must certify the real match semantics, not a weaker
    // whitespace-split stand-in. On this corpus (verified pure
    // [a-z0-9 ] at every SF) the oracle's string_split-on-space CTE
    // tokenizes identically, so both sides stay bit-equal while the
    // engine-side fold/tokenize interplay is actually exercised.
    val bodies = Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("message_id"),
        graft.functions.TextFunctions.tokens(
          graft.functions.TextFunctions.foldDiacritics(col("text")))
          .as("tokens"))
    engine(s, dir).textSearch("data", bodies, limit = 50)
      .select(col("id"), col("subject"), col("from_email"), col("from_name"),
        col("sent_at"), array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))
  }

  val textSearchSql: String =
    s"""$starCte,
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id),
       |hits AS (
       |  SELECT m.* FROM m JOIN documents d ON d.doc_id = m.id
       |  WHERE NOT m.is_deleted AND NOT m.is_src_deleted
       |    AND m.message_type = 'sms'
       |    AND len(list_filter(string_split(d.text, ' '),
       |          t -> t LIKE 'data%')) > 0)
       |SELECT h.id, h.subject, p.email AS from_email, p.pname AS from_name,
       |       h.sent_at, COALESCE(lbl.lbls, '') AS labels,
       |       'conv-' || CAST(h.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM hits h
       |JOIN p ON p.pid = (h.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = h.id
       |ORDER BY h.sent_at DESC, h.id DESC LIMIT 50""".stripMargin

  // --- SubAggregate (drill-down aggregation over a filtered subset) ---------

  /** Drill-down aggregate (reference SubAggregate duckdb.go:1027-1065):
    * the Senders view re-aggregated over only the 'work'-labeled subset.
    * Covers the full aggregate pipeline — label semi-join, from-recipient
    * view join, attachment rollup, COUNT OVER () total_unique, sort+limit.
    * `count` is aliased to msg_count on both sides (COUNT is reserved-ish
    * in DuckDB and the compare keys on column names).
    */
  def subAggregate(s: SparkSession, dir: String): DataFrame =
    engine(s, dir)
      .subAggregate(ViewType.Senders, MessageFilter(label = "work"),
        AggregateOptions(limit = 20))
      .select(col("key"), col("count").as("msg_count"), col("total_size"),
        col("attachment_size"), col("attachment_count"), col("total_unique"))

  val subAggregateSql: String =
    s"""$starCte,
       |f AS (
       |  SELECT m.id, m.size_estimate, p.email AS key
       |  FROM m JOIN p ON p.pid = (m.id * 7) % 30
       |  WHERE NOT m.is_deleted
       |    AND m.id IN (SELECT message_id FROM ml WHERE name = 'work')),
       |g AS (
       |  SELECT key, CAST(COUNT(*) AS BIGINT) AS msg_count,
       |         CAST(COALESCE(SUM(f.size_estimate), 0) AS BIGINT)
       |           AS total_size,
       |         CAST(COALESCE(SUM(att.att_size), 0) AS BIGINT)
       |           AS attachment_size,
       |         CAST(COALESCE(SUM(att.att_cnt), 0) AS BIGINT) AS attachment_count
       |  FROM f LEFT JOIN att ON att.message_id = f.id
       |  GROUP BY key)
       |SELECT key, msg_count, total_size, attachment_size, attachment_count,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS total_unique
       |FROM g ORDER BY msg_count DESC, key ASC LIMIT 20""".stripMargin

  // --- Texts-mode aggregates (contacts / sources / time) --------------------

  /** The 6-column AggregateRow shape every text view returns
    * (runAggregation duckdb.go:784-806), as a shared Spark-side select.
    */
  private def textAggCols(df: DataFrame): DataFrame =
    df.select(col("key"), col("count").as("msg_count"), col("total_size"),
      col("attachment_size"), col("attachment_count"), col("total_unique"))

  /** Contact aggregate (reference TextViewContacts duckdb_text.go:
    * 196-207): chat types only, contact = COALESCE(sender_id, first
    * from-recipient) resolved through the participants dim, keyed by
    * the ADDRESS — COALESCE(NULLIF(phone, ''), email); star phones are
    * NULL, so the key is the participant email.
    */
  def aggTextContacts(s: SparkSession, dir: String): DataFrame =
    textAggCols(engine(s, dir)
      .aggregateTextContacts(AggregateOptions(limit = 25)))

  private val textContactCtes: String =
    s"""$starCte,
       |chats AS (SELECT * FROM m
       |  WHERE NOT is_deleted AND message_type = 'sms'),
       |c AS (SELECT ch.*, COALESCE(ch.sender_id, (ch.id * 7) % 30) AS cpid
       |      FROM chats ch)""".stripMargin

  /** The 6-column tail of each oracle's per-key CTE (att joined at the
    * message grain before grouping, as runAggregation does).
    */
  private def textAggTailSql(keyExpr: String, from: String,
      where: String = ""): String =
    s"""g AS (
       |  SELECT $keyExpr AS key,
       |         CAST(COUNT(*) AS BIGINT) AS msg_count,
       |         CAST(COALESCE(SUM(tbl.size_estimate), 0) AS BIGINT)
       |           AS total_size,
       |         CAST(COALESCE(SUM(att.att_size), 0) AS BIGINT)
       |           AS attachment_size,
       |         CAST(COALESCE(SUM(att.att_cnt), 0) AS BIGINT) AS attachment_count
       |  FROM $from
       |  LEFT JOIN att ON att.message_id = tbl.id
       |  $where
       |  GROUP BY 1)
       |SELECT key, msg_count, total_size, attachment_size,
       |       attachment_count,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS total_unique
       |FROM g""".stripMargin

  val aggTextContactsSql: String =
    s"""$textContactCtes,
       |${textAggTailSql("p.email", "c tbl JOIN p ON p.pid = tbl.cpid")}
       |ORDER BY msg_count DESC, key ASC LIMIT 25""".stripMargin

  /** Contact-NAME aggregate (reference TextViewContactNames
    * duckdb_text.go:209-218): same contact resolution, keyed by the
    * display-name fallback chain.
    */
  def aggTextContactNames(s: SparkSession, dir: String): DataFrame =
    textAggCols(engine(s, dir)
      .aggregateTextContactNames(AggregateOptions(limit = 25)))

  val aggTextContactNamesSql: String =
    s"""$textContactCtes,
       |${textAggTailSql("'Person ' || CAST(tbl.cpid AS VARCHAR)", "c tbl")}
       |ORDER BY msg_count DESC, key ASC LIMIT 25""".stripMargin

  /** Source aggregate (reference TextViewSources duckdb_text.go:220-225):
    * chat messages grouped by the source TYPE, not the account
    * identifier.
    */
  def aggTextSources(s: SparkSession, dir: String): DataFrame =
    textAggCols(engine(s, dir).aggregateTextSources(AggregateOptions()))

  val aggTextSourcesSql: String =
    s"""$starCte,
       |${textAggTailSql(
      "CASE tbl.source_id WHEN 0 THEN 'gmail' WHEN 1 THEN 'imap' " +
        "ELSE 'mbox' END",
      "m tbl",
      "WHERE NOT tbl.is_deleted AND tbl.message_type = 'sms'")}
       |ORDER BY msg_count DESC, key ASC LIMIT 100""".stripMargin

  /** Label aggregate (reference TextViewLabels duckdb_text.go:226-233):
    * chat messages fanned out over their labels, keyed by label name.
    */
  def aggTextLabels(s: SparkSession, dir: String): DataFrame =
    textAggCols(engine(s, dir).aggregateTextLabels(AggregateOptions()))

  val aggTextLabelsSql: String =
    s"""$starCte,
       |${textAggTailSql("lb.name", "m tbl JOIN ml lb ON lb.message_id = tbl.id",
      "WHERE NOT tbl.is_deleted AND tbl.message_type = 'sms'")}
       |ORDER BY msg_count DESC, key ASC LIMIT 100""".stripMargin

  /** The searchQuery path through the text-aggregate tail: a text term
    * that matches ONLY the grouping key column (label name) — reference
    * buildAggregateSearchConditions ORs the view's key columns into each
    * term's match set (duckdb.go:443-470), so only the matching label's
    * bucket survives. Sorted by Name asc to exercise the opts sort
    * plumbing (sortClause duckdb.go:810-827).
    */
  def aggTextLabelsSearch(s: SparkSession, dir: String): DataFrame =
    textAggCols(engine(s, dir).aggregateTextLabels(
      AggregateOptions(searchQuery = "personal",
        sortField = SortField.Name, sortDirection = SortDirection.Asc)))

  // the per-term OR replays compileSearch's FULL match set — subject,
  // snippet, from-participant email/name, and the key column. The
  // sender branch is vacuous for 'personal' by construction ("Person N"
  // does not contain it), but leaving it out would make the oracle
  // structurally narrower than the engine and a participant-recipe
  // tweak away from a false mismatch.
  val aggTextLabelsSearchSql: String =
    s"""$starCte,
       |${textAggTailSql("lb.name", "m tbl JOIN ml lb ON lb.message_id = tbl.id",
      """WHERE NOT tbl.is_deleted AND tbl.message_type = 'sms'
       |    AND (contains(lower(tbl.subject), 'personal')
       |         OR contains(lower(tbl.snippet), 'personal')
       |         OR contains(lower(lb.name), 'personal')
       |         OR EXISTS (
       |           SELECT 1 FROM mr JOIN p ON p.pid = mr.participant_id
       |           WHERE mr.message_id = tbl.id
       |             AND mr.recipient_type = 'from'
       |             AND (contains(lower(p.email), 'personal')
       |                  OR contains(lower(p.pname), 'personal'))))"""
        .stripMargin)}
       |ORDER BY key ASC LIMIT 100""".stripMargin

  /** The searchQuery path through a NON-label text view — the reference
    * sets per-term key-column matching ONLY for TextViewLabels
    * (textAggViewDef duckdb_text.go:191-243 gives only the Labels branch
    * `keyColumns`), so on Sources/Contacts/Time a text term matches just
    * subject/snippet/from-participant. Two legs pin both sides of that
    * rule: "invoice" matches via subject (non-empty buckets); "gmail"
    * matches ONLY the grouping key and must therefore match NOTHING — an
    * implementation that wrongly ORs the key into the term's match set
    * returns the whole gmail-source bucket on the second leg.
    */
  def aggTextSourcesSearch(s: SparkSession, dir: String): DataFrame = {
    val e = engine(s, dir)
    def leg(q: String, tag: String) =
      textAggCols(e.aggregateTextSources(AggregateOptions(searchQuery = q)))
        .withColumn("leg", lit(tag))
    leg("invoice", "subject").unionByName(leg("gmail", "key"))
      .orderBy(col("leg").asc, col("msg_count").desc, col("key").asc)
  }

  private def sourcesSearchLegSql(term: String, tag: String): String =
    s"""g_$tag AS (
       |  SELECT CASE tbl.source_id WHEN 0 THEN 'gmail' WHEN 1 THEN 'imap'
       |              ELSE 'mbox' END AS key,
       |         CAST(COUNT(*) AS BIGINT) AS msg_count,
       |         CAST(COALESCE(SUM(tbl.size_estimate), 0) AS BIGINT)
       |           AS total_size,
       |         CAST(COALESCE(SUM(att.att_size), 0) AS BIGINT)
       |           AS attachment_size,
       |         CAST(COALESCE(SUM(att.att_cnt), 0) AS BIGINT)
       |           AS attachment_count
       |  FROM m tbl LEFT JOIN att ON att.message_id = tbl.id
       |  WHERE NOT tbl.is_deleted AND tbl.message_type = 'sms'
       |    AND (contains(lower(tbl.subject), '$term')
       |         OR contains(lower(tbl.snippet), '$term')
       |         OR EXISTS (
       |           SELECT 1 FROM mr JOIN p ON p.pid = mr.participant_id
       |           WHERE mr.message_id = tbl.id
       |             AND mr.recipient_type = 'from'
       |             AND (contains(lower(p.email), '$term')
       |                  OR contains(lower(p.pname), '$term'))))
       |  GROUP BY 1),
       |leg_$tag AS (
       |  SELECT key, msg_count, total_size, attachment_size,
       |         attachment_count,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM g_$tag) AS total_unique,
       |         '$tag' AS leg
       |  FROM g_$tag ORDER BY msg_count DESC, key ASC LIMIT 100)""".stripMargin

  val aggTextSourcesSearchSql: String =
    s"""$starCte,
       |${sourcesSearchLegSql("invoice", "subject")},
       |${sourcesSearchLegSql("gmail", "key")}
       |SELECT * FROM leg_subject UNION ALL SELECT * FROM leg_key
       |ORDER BY leg ASC, msg_count DESC, key ASC""".stripMargin

  /** Time aggregate (duckdb_text.go ViewTime branch), day granularity —
    * the star's minute-per-doc timestamps span a handful of days, so the
    * day key exercises the bucket arithmetic with multiple output rows.
    */
  def aggTextTime(s: SparkSession, dir: String): DataFrame =
    // Name-asc = chronological bucket order (the reference's DEFAULT here
    // is count desc like every aggregate — sortClause duckdb.go:810-827;
    // a timeline caller passes SortField.Name, which this entry pins)
    textAggCols(engine(s, dir).aggregateTextTime(
      AggregateOptions(sortField = SortField.Name,
        sortDirection = SortDirection.Asc),
      TimeGranularity.Day))

  val aggTextTimeSql: String =
    s"""$starCte,
       |${textAggTailSql("strftime(tbl.sent_at, '%Y-%m-%d')", "m tbl",
      """WHERE NOT tbl.is_deleted AND tbl.message_type = 'sms'
       |    AND tbl.sent_at IS NOT NULL""".stripMargin)}
       |ORDER BY key ASC LIMIT 100""".stripMargin

  // --- ListMessages (compound filter, paged + enriched) ---------------------

  /** The message-list surface under a COMPOUND filter (reference
    * ListMessages duckdb.go:1215-1299): label semi-join AND
    * attachments-only scalar predicate AND non-default sort (Size desc)
    * AND offset pagination — paginate-before-enrich with the page cut on
    * the composed predicate.
    */
  def listMessages(s: SparkSession, dir: String): DataFrame =
    engine(s, dir)
      .listMessages(MessageFilter(
        label = "personal", withAttachmentsOnly = true,
        sorting = MessageSorting(MessageSortField.Size, SortDirection.Desc),
        pagination = Pagination(limit = 30, offset = 10)))
      .select(col("id"), col("subject"), col("from_email"), col("from_name"),
        col("sent_at"), col("size_estimate"),
        array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))

  val listMessagesSql: String =
    s"""$starCte,
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id),
       |sel AS (
       |  SELECT * FROM m
       |  WHERE NOT is_deleted AND id % 11 = 0
       |    AND id IN (SELECT message_id FROM ml WHERE name = 'personal')
       |  ORDER BY size_estimate DESC, id DESC LIMIT 30 OFFSET 10)
       |SELECT sel.id, sel.subject, p.email AS from_email,
       |       p.pname AS from_name, sel.sent_at, sel.size_estimate,
       |       COALESCE(lbl.lbls, '') AS labels,
       |       'conv-' || CAST(sel.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM sel
       |JOIN p ON p.pid = (sel.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = sel.id
       |ORDER BY sel.size_estimate DESC, sel.id DESC""".stripMargin

  // --- ListMessages, keyset twin (the documented 100 TB paging path) --------

  /** The same list surface through the KEYSET cursor path
    * ([[graft.engine.MsgEngine.listMessagesAfter]] — SURVEY "What's
    * hard" #4): the cursor (sent_at, id) of the previous page's last row
    * becomes a range predicate that prunes partitions/row groups BEFORE
    * any sort, where OFFSET must sort-and-skip `offset + limit` rows per
    * page at any depth. This entry gates the cursor predicate's exact
    * semantics (strict (ts, id) descent + the null-timestamp tail rule)
    * against the oracle's replay; the DEPTH economics (offset page-1000
    * vs this twin on the bucketed disk star) are BASELINE history.
    */
  def listMessagesKeyset(s: SparkSession, dir: String): DataFrame =
    engine(s, dir)
      .listMessagesAfter(MessageFilter(label = "personal"),
        // = (sent_at of id 150, 150): epoch 1700000000000000 µs + 150 min
        cursor = Some((new java.sql.Timestamp(1700009000000L), 150L)),
        limit = 30)
      .select(col("id"), col("subject"), col("from_email"), col("from_name"),
        col("sent_at"), col("size_estimate"),
        array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))

  val listMessagesKeysetSql: String =
    s"""$starCte,
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id),
       |sel AS (
       |  SELECT * FROM m
       |  WHERE NOT is_deleted
       |    AND id IN (SELECT message_id FROM ml WHERE name = 'personal')
       |    AND (sent_at < make_timestamp(1700009000000000)
       |         OR (sent_at = make_timestamp(1700009000000000) AND id < 150)
       |         OR sent_at IS NULL)
       |  ORDER BY sent_at DESC NULLS LAST, id DESC LIMIT 30)
       |SELECT sel.id, sel.subject, p.email AS from_email,
       |       p.pname AS from_name, sel.sent_at, sel.size_estimate,
       |       COALESCE(lbl.lbls, '') AS labels,
       |       'conv-' || CAST(sel.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM sel
       |JOIN p ON p.pid = (sel.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = sel.id
       |ORDER BY sel.sent_at DESC NULLS LAST, sel.id DESC""".stripMargin

  // --- GetMessageSummariesByIDs (order-preserving bulk hydration) -----------

  /** Rank-order preservation under the hash gate (reference
    * GetMessageSummariesByIDs engine.go:34-42): ids arrive ranked (the
    * hybrid-search result path), summaries must come back in exactly that
    * order, with a repeated id yielding one row PER occurrence (the
    * reference reassembly loop sqlite.go:793-799 walks the original ids)
    * and hidden ids silently DROPPED — sqlite.go:715-748 applies
    * LiveMessagesWhere("m", true), so the list deliberately includes a
    * dedup-deleted id (194 = 2·97), a source-deleted id (178 = 2·89)
    * that must be absent from the output, and id 402 twice (ranks 0 and
    * 3 — both slots must surface). The oracle carries the same
    * (id, rank) pairs as a VALUES list and orders by rank — compare.py
    * hard-fails on row-order mismatch, so a pass certifies the order
    * contract, not just the row set.
    *
    * The duplicated id doubles as the discriminating leg for the
    * label last-wins quirk (fidelity audit r13, shared.go:62-68): 402
    * is divisible by 2 and 3 so it CARRIES labels (INBOX, personal) —
    * the rank-3 slot must show them and the rank-0 slot must show ''
    * (the oracle replays the rule with a MAX(rnk)-per-id join). A
    * fixture id without labels would pass both behaviors silently.
    */
  def messageSummaries(s: SparkSession, dir: String): DataFrame =
    engine(s, dir)
      .messageSummariesByIds(
        Seq(402L, 194L, 7L, 402L, 133L, 178L, 88L, 260L, 19L))
      .select(col("id"), col("subject"), col("snippet"), col("from_email"),
        col("from_name"), col("sent_at"),
        array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))

  val messageSummariesSql: String =
    s"""$starCte,
       |r(rid, rnk) AS (
       |  VALUES (402, 0), (194, 1), (7, 2), (402, 3), (133, 4), (178, 5),
       |         (88, 6), (260, 7), (19, 8)),
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id),
       |lastr AS (SELECT rid, MAX(rnk) AS mx FROM r GROUP BY rid)
       |SELECT m.id, m.subject, m.snippet, p.email AS from_email,
       |       p.pname AS from_name, m.sent_at,
       |       CASE WHEN r.rnk = lastr.mx THEN COALESCE(lbl.lbls, '')
       |            ELSE '' END AS labels,
       |       'conv-' || CAST(m.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM r
       |JOIN lastr ON lastr.rid = r.rid
       |JOIN m ON m.id = r.rid
       |  AND NOT m.is_deleted AND NOT m.is_src_deleted
       |JOIN p ON p.pid = (m.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = m.id
       |ORDER BY r.rnk ASC""".stripMargin

  // --- GetMessage detail (parties pivot + bodies + raw fallback) ------------

  /** Full message detail for one id (reference GetMessage
    * duckdb.go:1398-1445 + MessageDetail models.go:44-69): recipient
    * lists pivoted per type, attachments, labels, and body resolution —
    * the bodies sidecar is EMPTY for this id, so body_text must come
    * from the raw-MIME fallback (shared.go:326-330): inflate the zlib
    * raw sidecar, parse headers, extract the plain-text body. The raw
    * sidecar is built in-query as deflate("Subject: ...\r\n\r\n" + text),
    * so the oracle's body_text is simply the document text. Arrays are
    * serialized (email|name; id:filename:mime:size:hash) because the
    * compare layer hashes scalars only.
    */
  def messageDetail(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("message_id"), col("text"))
    // bodies sidecar: populated for odd ids only — id 44 exercises the
    // raw fallback; the subject header makes the MIME parse non-trivial
    val bodies = docs.select(col("message_id"),
      when(col("message_id") % 2 === 1, col("text")).otherwise(lit(""))
        .as("body_text"))
    val raw = docs.select(col("message_id"),
      graft.functions.Mime.deflateUdf(
        encode(concat(lit("Subject: s\r\n\r\n"), col("text")), "utf-8"))
        .as("raw_data"))
    engine(s, dir).messageDetail(44L, bodies, Some(raw))
      .select(Seq(col("id"), col("subject"), col("snippet"), col("sent_at"),
        col("message_type"), col("size_estimate")) ++ detailLists ++
        Seq(col("body_text"), col("body_html")): _*)
  }

  /** The detail pivot's list columns serialized to scalars (the compare
    * layer hashes scalars only), shared by every detail entry:
    * from/to/cc parties as `email|name` joined by `;`, attachments as
    * `id:filename:mime:size:hash` joined by `;`, labels joined by `,` —
    * a NULL list serializes as ''.
    */
  private[queries] def detailLists: Seq[Column] = {
    def party(c: String) = array_join(
      transform(coalesce(col(c), array().cast(
        "array<struct<email:string,name:string>>")),
        x => concat_ws("|", x.getField("email"), x.getField("name"))), ";")
    Seq(party("from").as("from_list"), party("to").as("to_list"),
      party("cc").as("cc_list"),
      array_join(transform(coalesce(col("attachments"), array().cast(
        "array<struct<id:bigint,filename:string,mime_type:string,size:bigint,content_hash:string>>")),
        a => concat_ws(":", a.getField("id").cast("string"),
          a.getField("filename"), a.getField("mime_type"),
          a.getField("size").cast("string"), a.getField("content_hash"))),
        ";").as("att_list"),
      array_join(coalesce(col("labels"), array().cast("array<string>")),
        ",").as("labels"))
  }

  val messageDetailSql: String =
    s"""$starCte,
       |det AS (SELECT * FROM m WHERE id = 44)
       |SELECT det.id, det.subject, det.snippet, det.sent_at,
       |       det.message_type, det.size_estimate,
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
       |       (SELECT string_agg(name, ',' ORDER BY name) FROM ml
       |        WHERE ml.message_id = det.id) AS labels,
       |       (SELECT d.text FROM documents d WHERE d.doc_id = det.id)
       |         AS body_text,
       |       '' AS body_html
       |FROM det""".stripMargin

  // --- GetTextStats (texts-mode totals with substring search) ---------------

  def textStats(s: SparkSession, dir: String): DataFrame =
    engine(s, dir).textStats(None, "snip-1")

  val textStatsSql: String =
    s"""$starCte,
       |chats AS (
       |  SELECT * FROM m
       |  WHERE NOT is_deleted AND message_type = 'sms'
       |    AND (lower(subject) LIKE '%snip-1%'
       |         OR lower(snippet) LIKE '%snip-1%'))
       |SELECT CAST(COUNT(*) AS BIGINT) AS message_count,
       |       CAST(COALESCE(SUM(size_estimate), 0) AS BIGINT) AS total_size,
       |       CAST(COALESCE(SUM(att.att_size), 0) AS BIGINT)
       |         AS attachment_size,
       |       CAST(COALESCE(SUM(att.att_cnt), 0) AS BIGINT) AS attachment_count,
       |       CAST(COUNT(DISTINCT chats.source_id) AS BIGINT)
       |         AS distinct_sources,
       |       (SELECT CAST(COUNT(DISTINCT ml.name) AS BIGINT) FROM ml
       |         WHERE ml.message_id IN (SELECT id FROM chats))
       |         AS label_count
       |FROM chats
       |LEFT JOIN att ON att.message_id = chats.id""".stripMargin

  // --- find_similar_messages (seed → live+filtered KNN → hydration) --------

  /** The COMPOSED MCP surface (reference mcp/handlers.go:398-485) on the
    * facade star, with one discriminating fixture leg per backend rule
    * (verified present in the top page at ALL THREE SFs before pinning
    * seed 36):
    *
    *   - seed exclusion: vec_id 36 never surfaces though it is its own
    *     nearest neighbour;
    *   - liveness at SEARCH time (sqlitevec/backend.go:655-710): a
    *     delete-class id ranks inside the unfiltered top page at every
    *     SF (e.g. 291 = 3·97 at sf0.001, 1261 = 13·97 at sf0.1) and
    *     must be replaced by the next live hit, not dropped from a
    *     fixed page;
    *   - the structured before-bound (vector.Filter.Before,
    *     backend.go:77) reshapes the page at every SF (ids ≥ 300 rank
    *     in the unfiltered top-12) — candidates only; the seed loads
    *     regardless;
    *   - the maxPage clamp: limit 15 requested, operator clamp 12
    *     (MaxPageSizeHybridClamp) — the oracle takes 12.
    *
    * Hydration order IS the rank order (compare.py's hard row-order
    * gate certifies it); labels ride [[graft.engine.MsgEngine.messageSummariesByIds]].
    */
  def similarMessages(s: SparkSession, dir: String): DataFrame =
    engine(s, dir).findSimilarMessages(
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("message_id"), col("embedding")),
      seedId = 36L, limit = 15, maxPage = 12,
      structured = Some(col("sent_at") <
        timestamp_micros(lit(epochUs + 300L * 60000000L))))
      .select(col("id"), col("subject"), col("from_email"),
        col("from_name"), col("sent_at"),
        array_join(col("labels"), ",").as("labels"),
        col("conversation_title"))

  val similarMessagesSql: String =
    s"""$starCte,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 36),
       |hits AS (
       |  SELECT e.vec_id,
       |         row_number() OVER (
       |           ORDER BY ${duckCos("e.embedding", "q.qv")} DESC,
       |                    e.vec_id ASC) AS rn
       |  FROM embeddings e CROSS JOIN q
       |  JOIN m ON m.id = e.vec_id
       |    AND NOT m.is_deleted AND NOT m.is_src_deleted
       |    AND m.sent_at < make_timestamp(${epochUs + 300L * 60000000L})
       |  WHERE e.vec_id <> 36
       |  QUALIFY rn <= 12),
       |lbl AS (
       |  SELECT message_id, string_agg(name, ',' ORDER BY name) AS lbls
       |  FROM ml GROUP BY message_id)
       |SELECT m.id, m.subject, p.email AS from_email,
       |       p.pname AS from_name, m.sent_at,
       |       COALESCE(lbl.lbls, '') AS labels,
       |       'conv-' || CAST(m.conversation_id AS VARCHAR)
       |         AS conversation_title
       |FROM hits
       |JOIN m ON m.id = hits.vec_id
       |JOIN p ON p.pid = (m.id * 7) % 30
       |LEFT JOIN lbl ON lbl.message_id = m.id
       |ORDER BY hits.rn ASC""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] =
    Map(
      "search_fast" -> (searchFast _, Some(searchFastSql)),
      "similar_messages" -> (similarMessages _, Some(similarMessagesSql)),
      "search_fast_stats" -> (searchFastStats _, Some(searchFastStatsSql)),
      "search_by_domains" -> (searchByDomains _, Some(searchByDomainsSql)),
      "gmail_ids_by_filter" -> (gmailIds _, Some(gmailIdsSql)),
      "text_conversations" -> (textConversations _, Some(textConversationsSql)),
      "text_search" -> (textSearch _, Some(textSearchSql)),
      "text_timeline" -> (textTimeline _, Some(textTimelineSql)),
      "text_stats" -> (textStats _, Some(textStatsSql)),
      "sub_aggregate" -> (subAggregate _, Some(subAggregateSql)),
      "agg_text_contacts" -> (aggTextContacts _, Some(aggTextContactsSql)),
      "agg_text_contact_names" ->
        (aggTextContactNames _, Some(aggTextContactNamesSql)),
      "agg_text_labels" -> (aggTextLabels _, Some(aggTextLabelsSql)),
      "agg_text_labels_search" ->
        (aggTextLabelsSearch _, Some(aggTextLabelsSearchSql)),
      "agg_text_sources" -> (aggTextSources _, Some(aggTextSourcesSql)),
      "agg_text_sources_search" ->
        (aggTextSourcesSearch _, Some(aggTextSourcesSearchSql)),
      "agg_text_time" -> (aggTextTime _, Some(aggTextTimeSql)),
      "list_messages" -> (listMessages _, Some(listMessagesSql)),
      "list_messages_keyset" ->
        (listMessagesKeyset _, Some(listMessagesKeysetSql)),
      "message_summaries_by_ids" ->
        (messageSummaries _, Some(messageSummariesSql)),
      "message_detail" -> (messageDetail _, Some(messageDetailSql)))
}
