package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.search.{SearchParser, SearchQuery}

/** The analytics engine — Spark rebuild of the reference's `query.Engine`
  * interface (reference: internal/query/engine.go:14-84), all three
  * backends (DuckDB aggregate path, SQLite list/detail path, metadata
  * search) expressed as one set of DataFrame pipelines.
  *
  * Scale design notes per method are inline; the shared shape is:
  * filter → (page before join) → enrich → deterministic order.
  */
final class MsgEngine(val vault: MsgVault) {
  import FilterCompiler._

  val filters = new FilterCompiler(vault)
  private val spark = vault.spark

  // ---------------------------------------------------------------- views

  /** Per-view grouping definition (reference getViewDef duckdb.go:705-770):
    * key expression + required junction joins + null guard.
    */
  /** Re-alias every column so the view-side copy of a junction table gets
    * fresh attribute ids. The incoming filtered fact plan may already
    * contain `recipients`/`message_labels` lineage (empty-bucket anti-joins
    * compile against the same frames), and joining the original Dataset
    * back onto it trips Spark's ambiguous-self-join detection
    * (e.g. empty-Recipients drilldown re-aggregated by Senders).
    */
  private def freshAttrs(df: DataFrame): DataFrame = df.toDF(df.columns: _*)

  /** (join, key expr, null guard, search key columns). The 4th element
    * mirrors getViewDef's `keyColumns` EXACTLY (duckdb.go:705-770): the
    * RAW columns a search text term additionally matches, set only where
    * the reference sets them — SenderNames/RecipientNames get the
    * joined participant's email/display_name/phone_number (the chain's
    * inputs, NOT the coalesced key: a term matching the phone must
    * admit a row whose display_name won the coalesce), Recipients gets
    * email/display_name (no phone), Labels gets the label name, and
    * Senders/Domains/Time get NONE — for Senders/Domains the key is
    * subsumed by the default from-participant email branch anyway,
    * while a Time term genuinely must NOT match the bucket string
    * (nothing in getViewDef does).
    */
  private def viewDef(view: ViewType, granularity: TimeGranularity)
      : (DataFrame => DataFrame, Column, Column, Seq[Column]) = {
    val mr = freshAttrs(vault.recipients)
    val p = freshAttrs(vault.participants)
    def joinFrom(msg: DataFrame): DataFrame =
      msg.join(mr, mr("message_id") === msg("id") && mr("recipient_type") === "from")
        .join(p, p("id") === mr("participant_id"))
    def joinRcpt(msg: DataFrame): DataFrame =
      msg.join(mr, mr("message_id") === msg("id") &&
          mr("recipient_type").isin("to", "cc", "bcc"))
        .join(p, p("id") === mr("participant_id"))
    def joinLabels(msg: DataFrame): DataFrame = {
      val ml = freshAttrs(vault.messageLabels)
      val lb = freshAttrs(vault.labels).withColumnRenamed("name", "__lbl_name")
      msg.join(ml, ml("message_id") === msg("id"))
        .join(lb, lb("id") === ml("label_id"))
    }
    val nameCols =
      Seq(p("email_address"), p("display_name"), p("phone_number"))

    view match {
      case ViewType.Senders =>
        (joinFrom, p("email_address"), p("email_address").isNotNull, Nil)
      case ViewType.SenderNames =>
        (joinFrom, participantNameOf(p), participantNameOf(p).isNotNull,
          nameCols)
      case ViewType.Recipients =>
        (joinRcpt, p("email_address"), p("email_address").isNotNull,
          Seq(p("email_address"), p("display_name")))
      case ViewType.RecipientNames =>
        (joinRcpt, participantNameOf(p), participantNameOf(p).isNotNull,
          nameCols)
      case ViewType.Domains =>
        (joinFrom, p("domain"), p("domain").isNotNull && p("domain") =!= "",
          Nil)
      case ViewType.Labels =>
        (joinLabels, col("__lbl_name"), col("__lbl_name").isNotNull,
          Seq(col("__lbl_name")))
      case ViewType.Time =>
        (identity[DataFrame], timeKey(granularity), col("sent_at").isNotNull,
          Nil)
    }
  }

  // ----------------------------------------------------------- aggregates

  /** The hot path: aggregate by view (reference runAggregation
    * duckdb.go:773-807). Plan: filtered fact table → junction joins (small
    * dims broadcast by AQE) → left-join pre-aggregated attachment rollup →
    * hash aggregate (partial+final automatic) → COUNT OVER () total →
    * TakeOrderedAndProject.
    */
  def aggregate(view: ViewType, opts: AggregateOptions = AggregateOptions(),
      granularity: TimeGranularity = TimeGranularity.Month): DataFrame =
    aggregateFiltered(view, filters.compile(optsFilter(opts)), opts, granularity)

  /** Drill-down: same aggregation over a filtered subset (reference
    * SubAggregate duckdb.go:1025-1065). The reference merges the
    * OPTS-side scalar conditions ON TOP of the filter: sourceId /
    * after / before / attachments-only are ANDed (duckdb.go:1041-1056),
    * hideDeletedFromSource is the OR of both fields (duckdb.go:1034-38).
    * opts.sourceIds is deliberately NOT applied here — the reference's
    * SubAggregate checks only the scalar SourceID, unlike the top-level
    * aggregate path (collections scoping rides the filter instead).
    */
  def subAggregate(view: ViewType, filter: MessageFilter,
      opts: AggregateOptions = AggregateOptions(),
      granularity: TimeGranularity = TimeGranularity.Month): DataFrame = {
    val f = if (opts.hideDeletedFromSource)
      filter.copy(hideDeletedFromSource = true) else filter
    var msg = filters.compile(f)
    opts.sourceId.foreach(v => msg = msg.filter(col("source_id") === v))
    opts.after.foreach(t =>
      msg = msg.filter(col("sent_at") >= lit(FilterCompiler.secTrunc(t))))
    opts.before.foreach(t =>
      msg = msg.filter(col("sent_at") < lit(FilterCompiler.secTrunc(t))))
    if (opts.withAttachmentsOnly)
      msg = msg.filter(col("has_attachments") === true)
    aggregateFiltered(view, msg, opts, granularity)
  }

  private def aggregateFiltered(view: ViewType, msgIn: DataFrame,
      opts: AggregateOptions, granularity: TimeGranularity): DataFrame = {
    val (doJoin, key, nullGuard, searchKeyCols) = viewDef(view, granularity)
    // search applies AFTER the view joins so text terms can also match the
    // view's key COLUMNS where getViewDef declares them (duckdb.go:705-770
    // keyColumns through buildAggregateSearchConditions:649-655;
    // duckdb_test.go:539-643) — those columns only exist post-join
    // (label name, recipient email/display name).
    var joined0 = doJoin(msgIn).filter(nullGuard)
    if (opts.searchQuery.nonEmpty)
      joined0 = filters.compileSearch(joined0,
        SearchParser.parse(opts.searchQuery),
        keyCols = searchKeyCols, idCol = Some(msgIn("id")),
        senderFallback = false,
        // Labels view: label: terms filter the grouping column itself
        // (duckdb.go:521-541) — only matching labels become result rows
        labelKeyCol = if (view == ViewType.Labels) Some(key) else None)
    aggregateTail(joined0, key, msgIn("id"), msgIn("size_estimate"), opts)
  }

  /** THE shared aggregate tail (reference runAggregation
    * duckdb.go:773-806) — email-mode views and texts-mode views both
    * route here, so a sort/limit/rollup parity fix can never fork the
    * two surfaces: attachment rollup left-join at the message grain,
    * 6-column AggregateRow, opts-selected sort (count desc default)
    * with this engine's deterministic key-asc tiebreak, default limit
    * 100. Limit edge (r13 audit): the reference substitutes 100 only
    * when Limit == 0 and would pass a NEGATIVE limit straight into SQL
    * (a DuckDB binder error); no reference caller can produce one
    * (MCP limitArg floors at 0, the TUI uses fixed pages), so this
    * engine folds limit <= 0 into the same 100 default rather than
    * mirror an error path.
    */
  private def aggregateTail(joined0: DataFrame, key: Column, idCol: Column,
      sizeCol: Column, opts: AggregateOptions): DataFrame = {
    val att = vault.attachmentRollup
    val grouped = joined0
      .join(att, col("__att_mid") === idCol, "left")
      .groupBy(key.as("key"))
      .agg(
        count(lit(1)).as("count"),
        coalesce(sum(sizeCol), lit(0L)).as("total_size"),
        coalesce(sum(col("__att_size")), lit(0L)).cast("long").as("attachment_size"),
        coalesce(sum(col("__att_cnt")), lit(0L)).cast("long").as("attachment_count"))
      .withColumn("total_unique", count(lit(1)).over(Window.partitionBy()))
    val sortCol = opts.sortField match {
      case SortField.Count => col("count")
      case SortField.Size => col("total_size")
      case SortField.AttachmentSize => col("attachment_size")
      case SortField.Name => col("key")
    }
    val ordered = opts.sortDirection match {
      case SortDirection.Desc => grouped.orderBy(sortCol.desc, col("key").asc)
      case SortDirection.Asc => grouped.orderBy(sortCol.asc, col("key").asc)
    }
    ordered.limit(if (opts.limit > 0) opts.limit else 100)
  }

  // ---- typed surface: Dataset[T] with the reference's model shapes
  // (models.go) — case-class Encoders give callers compile-time fields;
  // the untyped DataFrame methods stay the composition layer.

  def aggregateTyped(view: ViewType,
      opts: AggregateOptions = AggregateOptions(),
      granularity: TimeGranularity = TimeGranularity.Month)
      : org.apache.spark.sql.Dataset[AggregateRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[AggregateRow] =
      org.apache.spark.sql.Encoders.product[AggregateRow]
    aggregate(view, opts, granularity)
      .withColumn("key", col("key").cast("string")).as[AggregateRow]
  }

  def listMessagesTyped(filter: MessageFilter)
      : org.apache.spark.sql.Dataset[MessageSummary] = {
    implicit val enc: org.apache.spark.sql.Encoder[MessageSummary] =
      org.apache.spark.sql.Encoders.product[MessageSummary]
    listMessages(filter).as[MessageSummary]
  }

  def totalStatsTyped(filter: MessageFilter = MessageFilter()): TotalStats = {
    implicit val enc: org.apache.spark.sql.Encoder[TotalStats] =
      org.apache.spark.sql.Encoders.product[TotalStats]
    totalStats(filter).as[TotalStats].head()
  }

  /** Archive totals (reference GetTotalStats duckdb.go:1101-1179): the
    * reference runs two queries (main rollup + distinct-label-name count
    * — a different grain); here both grains ride ONE aggregate over a
    * union of the two row streams — see [[statsOf]].
    */
  def totalStats(filter: MessageFilter = MessageFilter()): DataFrame =
    // email surface: the reference's GetTotalStats restricts to email
    // types on BOTH engines (duckdb.go:1109, sqlite.go:894); chat totals
    // are the separate textStats surface
    statsOf(filters.compile(filter).filter(filters.emailOnly))

  /** Stats with an active search (reference StatsOptions models.go:339-346):
    * when the TUI has a search applied over an aggregate view, the
    * headline totals reflect only matching messages, with text terms
    * matched against the ACTIVE view's key dimension (duckdb.go:1121-1126).
    */
  def totalStats(opts: StatsOptions): DataFrame = {
    val base = MessageFilter(
      sourceId = opts.sourceId, sourceIds = opts.sourceIds,
      withAttachmentsOnly = opts.withAttachmentsOnly,
      hideDeletedFromSource = opts.hideDeletedFromSource)
    var msg = filters.compile(base).filter(filters.emailOnly)
    if (opts.searchQuery.nonEmpty)
      msg = filters.compileStatsSearch(msg,
        SearchParser.parse(opts.searchQuery), opts.groupBy)
    statsOf(msg)
  }

  /** The shared stats aggregation: main rollup + distinct label names
    * in ONE aggregate pass.
    */
  private[engine] def statsOf(msg: DataFrame): DataFrame = {
    // FUSED single aggregate (same union construction as enrich /
    // messageDetail): the label-name count used to be its own agg
    // subtree crossJoined onto the rollup — one extra final-agg stage
    // pair plus a nested-loop broadcast per stats call. The message
    // rows (rollup-joined) and the match-scoped label rows union into
    // one stream and aggregate ONCE; count/sum/countDistinct all skip
    // nulls, so each column partitions back out by construction (label
    // rows carry null size/source, message rows carry null label name).
    val att = vault.attachmentRollup
    val mRows = msg.join(att, col("__att_mid") === msg("id"), "left")
      .select(lit(1).as("__s_m"),
        col("size_estimate").as("__s_size"),
        col("__att_size").as("__s_asize"),
        col("__att_cnt").as("__s_acnt"),
        msg("source_id").as("__s_src"),
        lit(null).cast("string").as("__s_lbl"))
    val ml = vault.messageLabels
      .select(col("message_id").as("__ml_mid"), col("label_id").as("__ml_lid"))
    val lbl = vault.labels
      .select(col("id").as("__lbl_id"), col("name").as("__lbl_name"))
    val lRows = ml
      .join(msg.select(msg("id").as("__sid")), col("__ml_mid") === col("__sid"),
        "left_semi")
      .join(lbl, col("__lbl_id") === col("__ml_lid"))
      .select(lit(null).cast("int").as("__s_m"),
        lit(null).cast("long").as("__s_size"),
        lit(null).cast("long").as("__s_asize"),
        lit(null).cast("long").as("__s_acnt"),
        lit(null).cast(msg.schema("source_id").dataType).as("__s_src"),
        col("__lbl_name").as("__s_lbl"))
    mRows.unionByName(lRows).agg(
      count(col("__s_m")).as("message_count"),
      coalesce(sum(col("__s_size")), lit(0L)).as("total_size"),
      coalesce(sum(col("__s_asize")), lit(0L)).cast("long").as("attachment_size"),
      coalesce(sum(col("__s_acnt")), lit(0L)).cast("long").as("attachment_count"),
      countDistinct(col("__s_src")).as("distinct_sources"),
      countDistinct(col("__s_lbl")).as("label_count"))
  }

  // ------------------------------------------------------------- listing

  /** Message list view (reference ListMessages duckdb.go:1197-1320).
    * Paginate-BEFORE-join (duckdb.go:1241-1299): filter/sort/limit the fact
    * table alone, then enrich only the page with sender resolution, labels
    * and conversation title — the joins touch `limit+offset` rows, not the
    * archive.
    */
  def listMessages(filter: MessageFilter): DataFrame = {
    val sortCol = filter.sorting.field match {
      case MessageSortField.Date => col("sent_at")
      case MessageSortField.Size => col("size_estimate")
      case MessageSortField.Subject => col("subject")
    }
    // subject and sent_at are nullable sort keys and the reference's
    // ORDER BY is bare (duckdb.go:1218-1233): DuckDB's default null
    // order puts NULLs LAST on both directions, Spark's asc is
    // nulls-first — spelled out on both branches (fidelity audit r13;
    // same rule as listConversations / timelineOrdering)
    val ordered = filter.sorting.direction match {
      case SortDirection.Desc => Seq(sortCol.desc_nulls_last, col("id").desc)
      case SortDirection.Asc => Seq(sortCol.asc_nulls_last, col("id").asc)
    }
    pageThenEnrich(filters.compile(filter), ordered,
      filter.pagination.limit, filter.pagination.offset, defaultLimit = 500)
  }

  /** The shared page cut: (cursor) → order → offset → limit → (drop) →
    * enrich → re-order. Enrichment joins do not preserve order, so the
    * page is cut FIRST — only the page rows ride through the joins — and
    * the ordering re-applies at the result edge. Default page sizes
    * differ BY DESIGN per surface (reference: messages 500, search 100,
    * text search 50 — duckdb.go:776/1238/1850, duckdb_text.go:409), so
    * the default is a parameter with one point of truth per call site.
    * A keyset `cursor` (see [[cursorFiltered]]) applies before the sort;
    * it assumes the [[MsgEngine.NewestFirst]] ordering.
    */
  private[engine] def pageThenEnrich(df: DataFrame, ordering: Seq[Column],
      limit: Int, offset: Int, defaultLimit: Int,
      dropBeforeEnrich: Seq[String] = Nil,
      cursor: Option[(java.sql.Timestamp, Long)] = None): DataFrame = {
    val ordered = cursorFiltered(df, cursor).orderBy(ordering: _*)
    val off = if (offset > 0) ordered.offset(offset) else ordered
    val page = off.limit(if (limit > 0) limit else defaultLimit)
    enrich(page.drop(dropBeforeEnrich: _*)).orderBy(ordering: _*)
  }

  /** Keyset ("cursor") pagination — the 100 TB replacement for
    * LIMIT/OFFSET (SURVEY §7 hard-item 4: `offset` re-sorts every
    * partition; a (sent_at, id) cursor is a range predicate that prunes
    * partitions and row groups before any sort). Pass the last row of the
    * previous page; None = first page. Ordering matches
    * [[listMessages]]'s default (sent_at DESC, id DESC).
    */
  def listMessagesAfter(filter: MessageFilter,
      cursor: Option[(java.sql.Timestamp, Long)], limit: Int = 500): DataFrame =
    pageThenEnrich(filters.compile(filter), MsgEngine.NewestFirst, limit,
      offset = 0, defaultLimit = 500, cursor = cursor)

  /** Email-surface search base: every search surface in the reference
    * restricts to email message types (SearchFast duckdb.go:2310, deep
    * Search via buildSearchQueryParts sqlite.go:1196) — chats are served
    * by the texts-mode surface ([[textSearch]]/[[textStats]]) instead.
    */
  private def emailSearchBase(filter: MessageFilter): DataFrame =
    filters.compile(filter).filter(filters.emailOnly)

  /** The (sent_at DESC, id DESC) keyset predicate shared by every cursor
    * path. Null-timestamp rows sort AFTER all dated rows (desc, nulls
    * last) — the predicate must keep them reachable: a dated cursor
    * admits every null row; a null cursor pages within the null tail.
    */
  private def cursorFiltered(df: DataFrame,
      cursor: Option[(java.sql.Timestamp, Long)]): DataFrame =
    cursorPredicate(cursor).foldLeft(df)(_.filter(_))

  private def cursorPredicate(
      cursor: Option[(java.sql.Timestamp, Long)]): Option[Column] =
    cursor.map {
      case (null, id) => col("sent_at").isNull && col("id") < id
      case (ts, id) => col("sent_at") < lit(ts) ||
        (col("sent_at") === lit(ts) && col("id") < id) ||
        col("sent_at").isNull
    }

  /** Sender resolution (dual path) + labels + conversation title for a page
    * of messages (reference duckdb.go:1254-1299; FIRST→min_by for
    * determinism). Package-visible so [[SearchWithStats]] pages return the
    * same MessageSummary shape as every other list path.
    *
    * The junction tables are semi-joined down to the page's ids BEFORE
    * their aggregations — this is what makes paginate-before-join real:
    * without the semi-join, every page query would shuffle the whole
    * archive's recipient/label rows to aggregate them, and page latency
    * would scale with archive size instead of page size.
    */
  private[engine] def enrich(pageIn: DataFrame): DataFrame =
    enrichWith(pageIn, knownIds = None)

  /** [[enrich]] with an optional LITERAL id frame (one `__pg_id`
    * column, driver-built) covering the page's ids. When present, the
    * page is NOT materialized and the junction semi-joins probe the
    * literal frame directly: the page derivation is a broadcast point
    * lookup executed exactly once as the probe side, and all three
    * broadcast uses of the id list (page cut + both junction semis)
    * canonicalize to ONE exchange, which the planner's ReuseExchange
    * builds once — measured on message_summaries_by_ids: 12 → 10 jobs
    * per run. Callers whose page is derived by filter/sort/limit (no
    * literal ids) keep the materialize-once path below.
    */
  private def enrichWith(pageIn: DataFrame,
      knownIds: Option[DataFrame]): DataFrame = {
    // Materialize the page ONCE before the enrichment joins: the page
    // feeds the probe side AND two broadcast-side semi-join subtrees
    // (recipients, labels), and each broadcast exchange is its own job
    // that re-executes its child — without this, one searchFast ran the
    // whole filter+sort+page pipeline 4× (measured: 10 jobs / 311 tasks
    // / 4.3 s of task time for a 50-row page; 0.3 s after). Sound at any
    // scale: every caller passes a LIMIT-bounded page, so the
    // checkpoint holds ≤ page-size rows — this is paginate-before-join
    // completing its own argument. localCheckpoint is NOT
    // fault-tolerant: executor loss fails the page query rather than
    // recomputing, which a bounded page retry absorbs.
    //
    // With a literal id list the barrier is unnecessary: the page's
    // only multi-use subtree IS the id list, which the driver already
    // holds — see [[enrich]]'s knownIds overload doc.
    val page = knownIds match {
      case Some(_) => pageIn
      case None => pageIn.localCheckpoint(true)
    }
    // fresh aliases everywhere: the page's lineage already contains the
    // recipients/participants frames (filter semi-joins), so reusing the
    // vault frames directly trips DetectAmbiguousSelfJoin.
    // broadcast() is explicit, not left to statistics: the checkpointed
    // page is a LogicalRDD with NO size stats (planner default =
    // "huge"), which would silently turn both junction semi-joins into
    // full shuffles of recipients/labels — the page is limit-bounded,
    // so broadcasting it is safe by construction at any corpus size
    val pageIds = broadcast(
      knownIds.getOrElse(page.select(page("id").as("__pg_id"))))
    val mr = vault.recipients.alias("emr")
      .join(pageIds, col("emr.message_id") === col("__pg_id"), "left_semi")
    val p = vault.participants.alias("ep")
    // FUSED side aggregate (round 10): the from-party resolution and the
    // label list used to be two separately-aggregated broadcast sides —
    // two shuffles, two broadcast-exchange jobs, two page joins per
    // enrichment. The page-semi-joined from-recipient rows and label
    // rows UNION into one keyed stream and aggregate once: min_by skips
    // rows whose ordering value is null, so label rows (null
    // participant_id) never win the from-party columns, and collect_list
    // skips nulls, so from rows never land in the label array. Same two
    // junction scans, one fewer shuffle + broadcast + page join.
    val fromRows = mr.filter(col("emr.recipient_type") === "from")
      .join(p, col("ep.id") === col("emr.participant_id"))
      .select(col("emr.message_id").as("__e_mid"),
        col("emr.participant_id").as("__e_pid"),
        col("ep.email_address").as("__e_email"),
        recipientName(col("emr.display_name"), col("ep.display_name"),
          col("ep.phone_number"), col("ep.email_address")).as("__e_name"),
        coalesce(col("ep.phone_number"), lit("")).as("__e_phone"),
        lit(null).cast("string").as("__e_lbl"))
    val lblRows = vault.messageLabels.alias("eml")
      .join(pageIds, col("eml.message_id") === col("__pg_id"), "left_semi")
      .join(vault.labels.alias("el"), col("el.id") === col("eml.label_id"))
      .select(col("eml.message_id").as("__e_mid"),
        lit(null).cast("long").as("__e_pid"),
        lit(null).cast("string").as("__e_email"),
        lit(null).cast("string").as("__e_name"),
        lit(null).cast("string").as("__e_phone"),
        col("el.name").as("__e_lbl"))
    val sideAgg = fromRows.unionByName(lblRows)
      .groupBy(col("__e_mid"))
      .agg(
        min_by(col("__e_email"), col("__e_pid")).as("__mr_email"),
        min_by(col("__e_name"), col("__e_pid")).as("__mr_name"),
        min_by(col("__e_phone"), col("__e_pid")).as("__mr_phone"),
        // labels sorted by name: the reference hydrates labels in raw
        // scan order with no ORDER BY (shared.go:54-95
        // fetchLabelsForMessageList), i.e. SQLite storage order —
        // nondeterministic from a Parquet star, so we pin name order
        // (documented divergence; same choice as messageDetail)
        array_sort(collect_list(col("__e_lbl"))).as("labels"))
    val senderP = vault.participants.alias("sp")
      .select(col("sp.id").as("__sp_id"),
        col("sp.email_address").as("__sp_email"),
        coalesce(col("sp.display_name"), lit("")).as("__sp_name"),
        coalesce(col("sp.phone_number"), lit("")).as("__sp_phone"))
    val conv = vault.conversations.select(col("id").as("__c_id"),
      col("title").as("conversation_title"),
      col("source_conversation_id").as("__c_scid"))

    // sideAgg aggregates page-semi-joined junction rows, so it is
    // ≤ page-size (+labels) by construction — broadcast explicitly (its
    // agg output carries no statistics, and a stat-less build side
    // sort-merges the page per fetch). senderP/conv are left to the
    // planner: those dims are corpus-sized at archive scale and
    // broadcastability is a statistics question, not a structural one.
    page
      .join(broadcast(sideAgg), page("id") === col("__e_mid"), "left")
      .join(senderP, page("sender_id") === col("__sp_id"), "left")
      .join(conv, page("conversation_id") === col("__c_id"), "left")
      .select(
        page("id"), page("source_message_id"), page("conversation_id"),
        // the Gmail thread id (reference MessageSummary models.go:26,
        // scanned as COALESCE(conv.source_conversation_id, '') in every
        // list query — duckdb.go:1282) and the source-deletion stamp
        // (models.go:37 DeletedAt, scanned from deleted_from_source_at)
        // are part of the summary shape real consumers read
        coalesce(col("__c_scid"), lit("")).as("source_conversation_id"),
        page("subject"), page("snippet"),
        coalesce(col("__mr_email"), col("__sp_email"), lit("")).as("from_email"),
        coalesce(col("__mr_name"), nullif(col("__sp_name"), lit("")),
          nullif(col("__sp_phone"), lit("")), col("__sp_email"), lit("")).as("from_name"),
        coalesce(col("__mr_phone"), col("__sp_phone"), lit("")).as("from_phone"),
        page("sent_at"), page("size_estimate"), page("has_attachments"),
        page("attachment_count"),
        coalesce(col("labels"), array().cast("array<string>")).as("labels"),
        page("deleted_from_source_at"),
        coalesce(page("message_type"), lit("")).as("message_type"),
        coalesce(col("conversation_title"), lit("")).as("conversation_title"))
  }

  /** Bulk order-preserving summary hydration (reference
    * GetMessageSummariesByIDs engine.go:34-42) — the hybrid-search result
    * path: ids arrive ranked, summaries must come back in that order. The
    * rank is carried through the enrichment joins as a column and
    * re-sorted at the end (joins don't preserve order). Visibility: BOTH
    * hide-deleted rules apply (sqlite.go:715-748 uses
    * LiveMessagesWhere("m", true)) — a deleted/retired id is silently
    * DROPPED, which is the documented caller contract ("treat absent
    * rows as deleted, skip"); unlike [[messageDetail]], which is a
    * point lookup with no visibility filter (shared.go WHERE m.id = ?).
    *
    * Label hydration on a REPEATED id mirrors a reference quirk
    * (fidelity audit r13): fetchLabelsForMessageList builds its
    * id→slot map last-wins (shared.go:62-68 `idToIndex[msg.ID] = i`
    * over the reassembled occurrence list), so labels append only to
    * the LAST occurrence of a duplicated id — earlier occurrences keep
    * nil labels. Deterministic, observable API behavior, so it is
    * mirrored (same standard as listConversations' phantom
    * participant), not "fixed": only the final slot of each id carries
    * the label array; earlier slots carry the empty array (the shape
    * nil serializes to everywhere the summary is consumed).
    */
  def messageSummariesByIds(ids: Seq[Long]): DataFrame = {
    if (ids.isEmpty) return enrich(vault.messages.limit(0))
    // page + enrich once per DISTINCT id (a repeated id must not be
    // hydrated twice), but the reference's reassembly loop
    // (sqlite.go:793-799) walks the ORIGINAL ids and appends one row PER
    // occurrence — a repeated id, e.g. the same message surfacing from
    // two un-deduped retrieval legs, yields one output row per slot. So
    // the page cut joins the distinct ids and the rank re-attach joins
    // the full (id, rank) list.
    // named __pg_id so the page cut and BOTH of enrich's junction
    // semi-joins broadcast the SAME literal frame on the same key —
    // the three builds canonicalize to one exchange (ReuseExchange),
    // and the page needs no materialization barrier (knownIds path)
    val distinctIds = spark.createDataFrame(ids.distinct.map(Tuple1(_)))
      .toDF("__pg_id")
    // Scala's toMap keeps the LAST value per key — the exact last-wins
    // rule of the reference's idToIndex (shared.go:62-68)
    val lastSlot = ids.zipWithIndex.toMap
    val rankDf = spark.createDataFrame(
      ids.zipWithIndex.map { case (id, i) => (id, i, lastSlot(id) == i) })
      .toDF("__rid", "__rank", "__lbl_last")
    val page = vault.messages
      .filter(filters.liveMessages(hideDeletedFromSource = true))
      .join(broadcast(distinctIds), col("id") === col("__pg_id"), "inner")
    enrichWith(page.drop("__pg_id"), knownIds = Some(distinctIds))
      .join(broadcast(rankDf), col("id") === col("__rid"), "inner")
      .withColumn("labels", when(col("__lbl_last"), col("labels"))
        .otherwise(array().cast("array<string>")))
      .orderBy(col("__rank").asc)
      .drop("__rid", "__rank", "__lbl_last")
  }

  /** The composed find_similar_messages surface (reference MCP handler
    * mcp/handlers.go:398-485 over engine.go + the sqlitevec backend) —
    * r12 verdict ask #4's audited surface, now a first-class operator:
    *
    *   1. the SEED vector loads from the full store, un-filtered — an
    *      embedding outlives its message's soft-delete
    *      (sqlitevec/backend.go:300-305), so a deleted or
    *      filtered-out seed still queries;
    *   2. CANDIDATES are live messages (BOTH delete classes,
    *      backend.go:662-770: the empty-filter fast path over-fetches
    *      and drops deleted hits until k live ones remain; a populated
    *      filter enforces liveness inline) intersected with the
    *      structured filter (account/after/before/has_attachment —
    *      handlers.go:488+, applied "at the backend level");
    *   3. the seed is excluded and the top-`limit` live hits are ranked
    *      (score DESC; sqlitevec distance ASC == cosine DESC, vec_id
    *      ASC tie-break for determinism);
    *   4. the ranked ids hydrate through [[messageSummariesByIds]] —
    *      order-preserving, silently dropping ids hidden at hydration
    *      time (a no-op here since candidates are already live; the
    *      reference pays the same re-check, sqlite.go:715-748).
    *
    * Limit contract ([[MsgEngine.similarMessagesLimit]], pure +
    * spec-pinned): absent → caller passes the default 20; negative → 0
    * (limitArg handlers.go:822-834 maps v<0 to 0 — an EMPTY page, not
    * the default); >1000 clamps to maxLimit (handlers.go:26); an
    * operator-configured `maxPage` > 0 clamps again
    * (MaxPageSizeHybridClamp, handlers.go:411-413). A missing seed
    * vector yields the empty page (documented divergence: the MCP edge
    * surfaces a vector_not_found error; a DataFrame API has no error
    * channel worth a throw on an id-typo-shaped input —
    * [[graft.operators.VectorIndex.findSimilar]] owns that rule).
    *
    * Scale: one semi-join of the vector store against the live+filtered
    * id projection feeds the codegen cosine scan +
    * TakeOrderedAndProject. The semi-join broadcasts when the
    * structured filter is selective; with no/loose filter both sides
    * are corpus-sized and it hash-shuffles on message_id — one
    * exchange of two narrow (id / id+vector) projections, the honest
    * minimum for an exact liveness gate. The top-k itself adds no
    * exchange (per-partition partial top-k), the driver materializes
    * only the ≤1000-id rank list (the reference handler is equally
    * driver-side), and hydration touches `limit` rows.
    */
  def findSimilarMessages(vectors: DataFrame, seedId: Long,
      limit: Int = 20, maxPage: Int = 0,
      structured: Option[Column] = None): DataFrame = {
    val lim = MsgEngine.similarMessagesLimit(limit, maxPage)
    if (lim == 0) return messageSummariesByIds(Seq.empty)
    val liveIds = structured.foldLeft(
        vault.messages.filter(filters.liveMessages(hideDeletedFromSource = true)))(
        _.filter(_))
      .select(col("id").as("__live_id"))
    val candidates = vectors.join(liveIds,
      col("message_id") === col("__live_id"), "left_semi")
    val rankedIds = graft.operators.VectorIndex
      .findSimilar(vectors, candidates, seedId, lim)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    messageSummariesByIds(rankedIds)
  }

  /** [[findSimilarMessages]] served from a generation-managed index
    * directory — the full reference handler flow (handlers.go:429-455:
    * resolve the ACTIVE generation first, then search it): a stale /
    * building / absent index throws the reference's corresponding
    * refusal via [[graft.operators.VectorIndex.serveActive]] instead of
    * silently answering from the wrong embedding space.
    */
  def findSimilarMessages(indexDir: String, fingerprint: String,
      seedId: Long, limit: Int, maxPage: Int,
      structured: Option[Column]): DataFrame =
    findSimilarMessages(
      graft.operators.VectorIndex.serveActive(spark, indexDir, fingerprint),
      seedId, limit, maxPage, structured)

  // -------------------------------------------------------------- search

  /** Metadata search (reference SearchFast duckdb.go:1844-1963): parse →
    * compile → ILIKE-over-metadata + semi-join filters → ORDER BY sent_at
    * DESC → page → enrich.
    */
  def searchFast(query: String, filter: MessageFilter = MessageFilter()): DataFrame = {
    val q = SearchParser.parse(query)
    val msg = filters.compileSearch(emailSearchBase(filter), q)
    pageThenEnrich(msg, MsgEngine.NewestFirst,
      filter.pagination.limit, filter.pagination.offset, defaultLimit = 100)
  }

  /** Keyset twin of [[searchFast]] (SURVEY §7 hard-item 4): the cursor is
    * a range predicate that prunes before any sort, where `offset` must
    * order every matching row on each page fetch. Same ordering and
    * enrichment as the offset path — page k+1 of one equals page k+1 of
    * the other.
    */
  def searchFastAfter(query: String, filter: MessageFilter = MessageFilter(),
      cursor: Option[(java.sql.Timestamp, Long)] = None,
      limit: Int = 100): DataFrame = {
    val q = SearchParser.parse(query)
    val msg = filters.compileSearch(emailSearchBase(filter), q)
    pageThenEnrich(msg, MsgEngine.NewestFirst, limit, offset = 0,
      defaultLimit = 100, cursor = cursor)
  }

  /** Materialize-once search (reference SearchFastWithStats
    * duckdb.go:2190-2300): ONE scan materializes matching ids, then
    * count/page/stats reuse it. Spark: persist(MEMORY_AND_DISK) keyed by the
    * normalized (query, filter) pair — the reference keys its temp-table
    * cache by (conditions, args) JSON (duckdb.go:50-57).
    */
  // LRU-bounded: every distinct (query, filter) persists a match set, and
  // an interactive session generates one per keystroke refinement — an
  // unbounded map would grow executor storage forever. Eviction
  // unpersists; the reference's temp-table cache is similarly dropped on
  // invalidation (duckdb.go:2029-2037).
  private val searchCacheMax = 32
  private val searchCache =
    new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DataFrame]): Boolean = {
        val evict = size() > searchCacheMax
        if (evict) e.getValue.unpersist()
        evict
      }
    }

  /** Unambiguous cache key: every leaf value is length-prefixed so no
    * content can shift a field boundary (the reference's searchCacheKeyFor
    * JSON-encodes conditions+args for the same reason — duckdb.go:50-57,
    * duckdb_test.go:3174-3255). Case-class toString is NOT usable here:
    * it is a bare comma-join, so `sender="x,"` and
    * `(sender="x", senderName=",")` would render identically. Sets are
    * sorted so two == filters can't mint two keys.
    */
  private[engine] def searchCacheKeyFor(query: SearchQuery,
      filter: MessageFilter): String = {
    def join(tokens: List[String]): String =
      tokens.map(t => s"${t.length}:$t").mkString("|")
    // recursive length-prefixed tree encoding: constructor tag + arity for
    // Products (so Some(x),None never collides with None,Some(x)), and Set
    // elements re-encoded then sorted (order-insensitive like Set equality)
    def enc(v: Any): String = v match {
      // collections match BEFORE Product: scala.List is itself a Product
      // (`::`), and the cons-cell encoding would give equal Seqs of
      // different implementations (List vs Vector) different keys —
      // duplicating the identical match set in the cache
      case s: scala.collection.Set[_] =>
        join(s"#${s.size}" :: s.toList.map(enc).sorted)
      case xs: scala.collection.Iterable[_] =>
        join(s"#${xs.size}" :: xs.toList.map(enc))
      case p: Product =>
        join(s"@${p.productPrefix}#${p.productArity}" ::
          p.productIterator.toList.map(enc))
      case null => "@null"
      // Timestamp.toString renders in the JVM's LOCAL timezone and is
      // non-injective during a DST fall-back hour (two distinct instants
      // print identically) — a collision would serve one after/before
      // filter's cached match set for the other. Exact epoch encoding.
      case t: java.sql.Timestamp => s"@ts:${t.getTime}:${t.getNanos}"
      case x => x.toString
    }
    // pagination AND sorting normalize away: the cached artifact is the
    // unordered match SET — ordering/paging are applied per call on top
    join(List(enc(query),
      enc(filter.copy(pagination = Pagination(), sorting = MessageSorting()))))
  }

  def searchFastWithStats(query: String,
      filter: MessageFilter = MessageFilter()): SearchWithStats = {
    // parse BEFORE keying: relative-date terms (newer_than:7d) resolve
    // against now() at PARSE time, so the key must carry the RESOLVED
    // boundary — keyed on the raw string, day 3 would silently serve
    // day 1's persisted match set. The reference keys its temp-table
    // cache by the compiled conditions+args JSON (duckdb.go:50-57) for
    // exactly this reason; relative-date queries therefore miss the
    // cache as the boundary moves (honest), while raw-string variants
    // that PARSE identically now share one entry.
    val q = SearchParser.parse(query)
    val key = searchCacheKeyFor(q, filter)
    def compile() = filters.compileSearch(emailSearchBase(filter), q)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val matches = searchCache.synchronized {
      if (q.usedNow) {
        // relative-date keys can never hit again (the boundary moves
        // with now()), so routing them through the LRU would persist a
        // dead frame per call AND evict a hot entry each time — a
        // polling dashboard would flush the whole cache every 32 polls.
        // ONE volatile slot instead: the same request flow (page +
        // count + stats over one parse) reuses it, the next poll
        // replaces it and unpersists the predecessor.
        volatileSearch match {
          case (`key`, df) => df
          case (_, old) =>
            if (old != null) { old.unpersist(false); () }
            val df = compile()
            volatileSearch = (key, df)
            df
        }
      } else searchCache.computeIfAbsent(key, _ => compile())
    }
    SearchWithStats(matches, this)
  }

  // (key, frame) of the latest relative-date search — see above; guarded
  // by searchCache's monitor
  private var volatileSearch: (String, DataFrame) = ("", null)

  def invalidateSearchCache(): Unit = searchCache.synchronized {
    searchCache.values.forEach(df => { df.unpersist(); () })
    searchCache.clear()
    if (volatileSearch._2 != null) { volatileSearch._2.unpersist(); () }
    volatileSearch = ("", null)
  }

  /** Release every block this engine pins for the session: persisted
    * search match sets AND localCheckpointed star frames. The latter are
    * cached at the RDD level (outside the CacheManager), so a plain
    * `Dataset.unpersist` misses them — the checkpoint RDD is unpersisted
    * directly off the plan's LogicalRDD leaves. Used by memo eviction
    * when a corpus rewrite supersedes this engine; without it the old
    * star's blocks stay pinned for the session's lifetime.
    */
  def releaseCaches(): Unit = {
    invalidateSearchCache()
    Seq(vault.messages, vault.recipients, vault.participants, vault.labels,
      vault.messageLabels, vault.attachments, vault.conversations,
      vault.sources).foreach(graft.queries.unpersistWithCheckpointLeaves)
  }

  /** Deep full-text search (reference Search sqlite.go:1319-1461: FTS5
    * `MATCH '"term"* ...'` — quoted, prefix-star, AND — joined to messages;
    * LIKE fallback when FTS5 is missing). Spark approximation contract
    * (SURVEY §2.9): `bodies` carries a precomputed `tokens` array (built at
    * ETL by [[CacheBuilder.buildBodies]] with the unicode61-ish tokenizer);
    * match = AND over terms of prefix-token hits on body tokens OR subject
    * substring; results recency-ordered (sent_at DESC, id DESC) exactly
    * like the reference's deep path (duckdb.go:2046/2079 ORDER BY sent_at
    * DESC) — relevance-ranked retrieval is the separate
    * [[graft.functions.Fts.bm25Search]] / hybrid-search surface.
    *
    * Scale: the body scan is the honest cost of no inverted index — but
    * metadata filters (dates, sources, labels) compile FIRST and semi-join
    * the body table down before the token predicate runs.
    */
  def searchDeep(query: String, bodies: DataFrame,
      filter: MessageFilter = MessageFilter()): DataFrame = {
    pageThenEnrich(deepMatches(query, bodies, filter), MsgEngine.NewestFirst,
      filter.pagination.limit, filter.pagination.offset, defaultLimit = 100,
      dropBeforeEnrich = Seq("__b_mid", "tokens"))
  }

  /** Keyset twin of [[searchDeep]]: same matching and ordering, cursor
    * range predicate instead of offset — the predicate lands BEFORE the
    * body-token scan, so deep-search paging prunes instead of re-ranking
    * every match per page.
    */
  def searchDeepAfter(query: String, bodies: DataFrame,
      filter: MessageFilter = MessageFilter(),
      cursor: Option[(java.sql.Timestamp, Long)] = None,
      limit: Int = 100): DataFrame =
    pageThenEnrich(deepMatches(query, bodies, filter), MsgEngine.NewestFirst,
      limit, offset = 0, defaultLimit = 100,
      dropBeforeEnrich = Seq("__b_mid", "tokens"), cursor = cursor)

  /** Shared match stage of the deep-search paths: metadata filters +
    * subject: terms compile FIRST (semi-joining the body table down), then
    * bare text terms apply as prefix-token-OR-subject predicates.
    */
  private def deepMatches(query: String, bodies: DataFrame,
      filter: MessageFilter): DataFrame =
    deepMatchesParsed(SearchParser.parse(query), bodies, filter,
      filters.emailOnly)

  /** `typeScope` picks the surface: email types for [[searchDeep]]
    * (sqlite.go:1196), chat types for [[textSearch]]
    * (duckdb_text.go:399-452) — applied on the fact table BEFORE the
    * body join so the scan prunes early.
    */
  private def deepMatchesParsed(q: graft.search.SearchQuery, bodies: DataFrame,
      filter: MessageFilter, typeScope: Column): DataFrame = {
    // subject: terms stay subject-only (compileSearch applies them as
    // subject filters, reference sqlite.go:1287-1292); only bare text
    // terms get the body-token OR subject treatment below
    val msg = filters.compileSearch(filters.compile(filter).filter(typeScope),
      q.copy(textTerms = Nil))
    val terms = q.textTerms.map(_.toLowerCase)
    val b = bodies.select(col("message_id").as("__b_mid"), col("tokens"))
    val candidates = msg.join(b, msg("id") === col("__b_mid"), "left")
    // every term compiles to FTS5's `"term"*` (sqlite.go:1326-1333): a
    // quoted multi-word phrase matches adjacent in-order tokens with the
    // LAST word as a prefix; a single word is a plain token prefix.
    // unicode61 folds BOTH sides — the token column was folded at ETL, so
    // the query literal folds here (driver-side, once); the subject
    // fallback stays unfolded like the reference's LIKE path.
    val termHit = terms.map { t =>
      graft.functions.Fts.prefixPhraseMatch(col("tokens"),
        graft.functions.TextFunctions.foldDiacriticsLocal(t)) ||
        lower(col("subject")).contains(t)
    }.reduceOption(_ && _).getOrElse(lit(true))
    candidates.filter(termHit)
  }

  // ---------------------------------------------------------- texts mode

  /** Per-conversation stats for texts mode (reference duckdb_text.go:129-158):
    * count, distinct senders, last activity, and last-message preview picked
    * deterministically (max_by on (sent_at, id)).
    */
  def conversationStats(filter: MessageFilter = MessageFilter()): DataFrame = {
    val msg = filters.compile(filter).filter(filters.textsOnly)
    val conv = vault.conversations.select(col("id").as("__c_id"),
      col("title"), col("conversation_type"))
    msg.groupBy(col("conversation_id"))
      .agg(
        count(lit(1)).as("message_count"),
        countDistinct(col("sender_id")).as("distinct_senders"),
        max(col("sent_at")).as("last_message_at"),
        coalesce(sum(col("size_estimate")), lit(0L)).as("total_size"),
        max_by(col("snippet"), struct(col("sent_at"), col("id"))).as("last_snippet"))
      .join(conv, col("conversation_id") === col("__c_id"), "left")
      .drop("__c_id")
      .orderBy(col("last_message_at").desc, col("conversation_id").asc)
  }

  /** Full message detail: participant lists per recipient_type, labels,
    * attachments (reference GetMessage duckdb.go:1790-1963 / sqlite path).
    * Point lookup: the id predicate prunes partitions + row groups.
    * Null shaping follows getMessageByQueryShared (shared.go:257-268):
    * subject/snippet/source_conversation_id → '', size_estimate → 0, and
    * each attachment field coalesced (shared.go:163-166) — a NULL
    * filename surfaces as '', never null.
    */
  def messageDetail(id: Long): DataFrame = {
    val mr = vault.recipients
    val p = vault.participants
    val conv = vault.conversations.select(col("id").as("__cv_id"),
      coalesce(col("source_conversation_id"), lit(""))
        .as("source_conversation_id"))
    val one = vault.messages.filter(col("id") === id)
      .withColumn("subject", coalesce(col("subject"), lit("")))
      .withColumn("snippet", coalesce(col("snippet"), lit("")))
      .withColumn("size_estimate", coalesce(col("size_estimate"), lit(0L)))
      .join(broadcast(conv), col("conversation_id") === col("__cv_id"),
        "left")
      .withColumn("source_conversation_id",
        coalesce(col("source_conversation_id"), lit("")))
      .drop("__cv_id")
    // FUSED side aggregate (same construction as enrich's round-10
    // fusion): parties, attachments and labels used to be three
    // separately-aggregated subtrees — three shuffles and three joins
    // per point lookup. The three id-filtered junction streams UNION
    // into one superset-typed keyed stream and aggregate ONCE:
    // collect_list skips nulls, so a conditional when(tag=…) collect
    // partitions the rows back out without a pivot, and the aggregated
    // side is ≤ one message's junction rows — broadcast by construction.
    val mrOne = mr.filter(mr("message_id") === id)
      .join(p, p("id") === mr("participant_id"))
    val partyStruct = struct(
      coalesce(p("email_address"), lit("")).as("email"),
      recipientName(mr("display_name"), p("display_name"),
        p("phone_number"), p("email_address")).as("name"))
    val attOne = vault.attachments.filter(col("message_id") === id)
    val attStruct = struct(attOne("id"),
      coalesce(attOne("filename"), lit("")).as("filename"),
      coalesce(attOne("mime_type"), lit("")).as("mime_type"),
      coalesce(attOne("size"), lit(0L)).as("size"),
      coalesce(attOne("content_hash"), lit("")).as("content_hash"))
    // null placeholders typed FROM the one real definition of each
    // struct (a second hand-written DDL literal would have to track the
    // canonical casts in lockstep and only fails at runtime analysis)
    val partyT = mrOne.select(partyStruct).schema.head.dataType
    val attT = attOne.select(attStruct).schema.head.dataType
    val partyRows = mrOne
      .select(mr("message_id").as("__d_mid"),
        mr("recipient_type").as("__d_tag"),
        partyStruct.as("__d_party"),
        lit(null).cast(attT).as("__d_att"),
        lit(null).cast("string").as("__d_lbl"))
    val attRows = attOne
      .select(attOne("message_id").as("__d_mid"),
        lit("att").as("__d_tag"),
        lit(null).cast(partyT).as("__d_party"),
        attStruct.as("__d_att"),
        lit(null).cast("string").as("__d_lbl"))
    val lblRows = vault.messageLabels.filter(col("message_id") === id)
      .join(vault.labels, vault.labels("id") === vault.messageLabels("label_id"))
      .select(vault.messageLabels("message_id").as("__d_mid"),
        lit("lbl").as("__d_tag"),
        lit(null).cast(partyT).as("__d_party"),
        lit(null).cast(attT).as("__d_att"),
        vault.labels("name").as("__d_lbl"))
    def partyList(tag: String) =
      array_sort(collect_list(when(col("__d_tag") === tag, col("__d_party"))))
    val side = partyRows.unionByName(attRows).unionByName(lblRows)
      .groupBy(col("__d_mid"))
      .agg(partyList("from").as("from"), partyList("to").as("to"),
        partyList("cc").as("cc"), partyList("bcc").as("bcc"),
        count(col("__d_party")).as("__d_nparty"),
        array_sort(collect_list(col("__d_att"))).as("attachments"),
        array_sort(collect_list(col("__d_lbl"))).as("labels"))
    // Pre-fusion list shapes, exactly: the parties PIVOT emitted a row
    // iff the message had ≥1 recipient row of ANY type — each type then
    // read [] when its slot was empty — and NULL for all four types only
    // when no recipient row existed at all; the attachments/labels
    // subtrees (groupBy over their own rows) were NULL-or-non-empty,
    // never []. The fused agg produces one row if ANY junction row
    // exists, so the party count and empty→null restore each shape.
    def nn(c: Column): Column = when(size(c) > 0, c)
    def partyShape(c: Column): Column = when(col("__d_nparty") > 0, c)
    one
      .join(broadcast(side), one("id") === col("__d_mid"), "left")
      .select((one.columns.map(one(_)) ++ Seq(
        partyShape(col("from")).as("from"), partyShape(col("to")).as("to"),
        partyShape(col("cc")).as("cc"), partyShape(col("bcc")).as("bcc"),
        nn(col("attachments")).as("attachments"),
        nn(col("labels")).as("labels"))): _*)
  }

  /** Full detail INCLUDING body content (reference MessageDetail
    * models.go:44-69 carries BodyText + BodyHTML, fetched from the
    * message_bodies table by PK — shared.go:305-324 — with a raw-MIME
    * extraction fallback when both are empty, shared.go:326-330).
    * `bodies` is the (message_id, body_text[, body_html]) sidecar;
    * `raw` optionally supplies the zlib raw sidecar for the fallback.
    * All point-pruned joins — no driver-side conditional.
    */
  def messageDetail(id: Long, bodies: DataFrame,
      raw: Option[DataFrame]): DataFrame = {
    val html =
      if (bodies.columns.contains("body_html")) col("body_html")
      else lit(null).cast("string")
    val b = bodies.filter(col("message_id") === id)
      .select(col("message_id").as("__bd_mid"),
        col("body_text").as("__bd_text"), html.as("__bd_html"))
    var out = messageDetail(id).join(b, col("id") === col("__bd_mid"), "left")
    val rawText = raw match {
      case Some(r) =>
        out = out.join(
          r.filter(col("message_id") === id)
            .select(col("message_id").as("__rw_mid"), col("raw_data").as("__rw_data")),
          col("id") === col("__rw_mid"), "left")
        when(col("__rw_data").isNotNull,
          graft.functions.Mime.extractBodyTextUdf(
            graft.functions.Mime.inflateUdf(col("__rw_data"))))
          .otherwise(lit(""))
      case None => lit("")
    }
    val bt = coalesce(col("__bd_text"), lit(""))
    val bh = coalesce(col("__bd_html"), lit(""))
    out
      .withColumn("body_text",
        when(bt === "" && bh === "", coalesce(rawText, lit(""))).otherwise(bt))
      .withColumn("body_html", bh)
      .drop("__bd_mid", "__bd_text", "__bd_html", "__rw_mid", "__rw_data")
  }

  /** Point lookup by the source system's message id (reference
    * GetMessageBySourceID engine.go:28 — routed to SQLite there
    * (duckdb.go:1412-1422), served from the star here).
    *
    * Deliberate divergence, documented (same class as the text-surface
    * hide-deleted rule at [[compileTextFilter]]): the reference's
    * by-source-id lookup applies NO visibility filter and takes an
    * arbitrary first row on duplicates (shared.go:255-297 — point
    * lookups see everything, like GetMessage). Here the store contract
    * rules: dedup losers (`deleted_at`) never surface from the star, and
    * the LOWEST live id wins on a duplicated source id — deterministic
    * where the reference is row-order-dependent. The
    * `message_detail_by_source_id` oracle pins the deleted-must-drop leg
    * of this contract.
    */
  def messageDetailBySourceId(sourceMessageId: String): DataFrame = {
    val hit = vault.messages
      .filter(col("source_message_id") === sourceMessageId &&
        col("deleted_at").isNull)
      .select(col("id")).orderBy(col("id").asc).limit(1)
      .collect().headOption.map(_.getLong(0))
    messageDetail(hit.getOrElse(-1L))
  }

  /** Attachment metadata point lookup (reference GetAttachment,
    * models.go:79-85 AttachmentInfo shape; nulls coalesce to ''/0 —
    * sqlite.go:831-845 — and no visibility filter applies, unlike raw
    * reads).
    */
  def attachmentInfo(id: Long): DataFrame =
    vault.attachments.filter(col("id") === id)
      .select(col("id"),
        coalesce(col("filename"), lit("")).as("filename"),
        coalesce(col("mime_type"), lit("")).as("mime_type"),
        coalesce(col("size"), lit(0L)).as("size"),
        coalesce(col("content_hash"), lit("")).as("content_hash"))

  /** Decompressed raw MIME for one message, from the raw sidecar frame
    * (message_id, raw_data zlib binary). Raw MIME stays OUT of the
    * analytics star by design (reference query/DESIGN.md:56-69) — the
    * caller supplies the sidecar. None when absent OR when the message
    * is hidden from normal reads: dedup losers (deleted_at) and
    * source-deleted rows (deleted_from_source_at) are BOTH filtered
    * here, matching the reference's raw-read visibility rule
    * (shared.go:217-254 getMessageRawShared) — stricter than the list
    * surfaces, where source-deleted hiding is opt-in.
    */
  def messageRaw(raw: DataFrame, id: Long): Option[Array[Byte]] = {
    val visible = vault.messages
      .filter(col("id") === id && col("deleted_at").isNull &&
        col("deleted_from_source_at").isNull)
      .select(col("id").as("__viz_id"))
    raw.filter(col("message_id") === id)
      .join(visible, col("message_id") === col("__viz_id"), "left_semi")
      .select(graft.functions.Mime.inflateUdf(col("raw_data")))
      .collect().headOption.map(_.getAs[Array[Byte]](0))
  }

  /** Source accounts (reference ListAccounts → AccountInfo{id,
    * source_type, identifier, display_name}, models.go:330-336).
    */
  def listAccounts(): DataFrame =
    // reference shape exactly (sqlite.go:853-858): display_name
    // coalesces to '' (NOT the identifier), ordered by identifier
    // (id tiebreak added for determinism under duplicate identifiers)
    vault.sources.select(col("id"), col("source_type"), col("identifier"),
      coalesce(col("display_name"), lit("")).as("display_name"))
      .orderBy(col("identifier").asc, col("id").asc)

  /** Unpaged match count for a fast search (reference SearchFastCount
    * engine.go:55-57 — the "N of M results" pagination count).
    */
  def searchFastCount(query: String,
      filter: MessageFilter = MessageFilter()): Long = {
    val q = SearchParser.parse(query)
    filters.compileSearch(emailSearchBase(filter), q).count()
  }

  /** Any-participant domain search, date-bounded (reference
    * SearchByDomains engine.go:72-74, sqlite.go:1149-1194). Four
    * reference rules, each with its own discriminating oracle leg:
    *
    *   - BOTH delete classes hidden (`store.LiveMessagesWhere("m",
    *     true)`, sqlite.go:1164-1166 — the reference comments that this
    *     MCP-facing surface must match Search/SearchFast visibility);
    *   - email-only (`emailOnlyFilterM`, sqlite.go:1163) — chats are
    *     served by the texts-mode surface;
    *   - case-insensitive domain match on BOTH sides
    *     (`LOWER(p_dom.domain) IN (lowercased args)`,
    *     sqlite.go:1155-1171);
    *   - paging per executeSearchQuery's contract: default limit 100,
    *     clamp 1000, offset honored (sqlite.go:1184-1189).
    *
    * Date bounds compare at DAY granularity: the reference binds
    * after/before as `Format("2006-01-02")` date strings against a TEXT
    * DATETIME column (sqlite.go:1174-1181, schema.sql:119), so `>=`
    * admits the whole `after` day and `<` excludes the whole `before`
    * day — mirrored here with date_trunc. NOTE the TZ assumption:
    * date_trunc('DAY', ...) truncates in spark.sql.session.timeZone,
    * while Go's Format renders the day in the time value's OWN location
    * — the two agree when callers pass timestamps in the session zone
    * (our engines pin UTC); a caller whose Go-side time carried a
    * different location could see its window shift by up to one day at
    * the boundary. Returns the same enriched
    * MessageSummary page as every search surface (executeSearchQuery,
    * sqlite.go:1368-1407); id DESC tie-break added to the reference's
    * ORDER BY sent_at DESC for determinism.
    */
  def searchByDomains(domains: Seq[String],
      after: Option[java.sql.Timestamp] = None,
      before: Option[java.sql.Timestamp] = None,
      limit: Int = 0, offset: Int = 0): DataFrame = {
    val lowered = domains.map(_.toLowerCase(java.util.Locale.ROOT))
    val mr = vault.recipients
    val p = vault.participants
    val ids = mr.join(p, p("id") === mr("participant_id"))
      .filter(lower(p("domain")).isin(lowered: _*))
      .select(mr("message_id")).distinct()
    var msg = vault.messages
      .filter(filters.liveMessages(hideDeletedFromSource = true))
      .filter(filters.emailOnly)
    after.foreach(t =>
      msg = msg.filter(col("sent_at") >= date_trunc("DAY", lit(t))))
    before.foreach(t =>
      msg = msg.filter(col("sent_at") < date_trunc("DAY", lit(t))))
    val matched = msg.join(ids, msg("id") === ids("message_id"), "left_semi")
    pageThenEnrich(matched, MsgEngine.NewestFirst,
      MsgEngine.domainSearchLimit(limit), offset, defaultLimit = 100)
  }

  /** Gmail ids for deletion staging (reference GetGmailIDsByFilter —
    * the AUTHORITATIVE SQLite path, sqlite.go:1006-1135; the DuckDB
    * form is an explicit stale-cache fallback that even delegates to
    * SQLite when present, duckdb.go:1655-1659): always hide-deleted
    * (never an opt-in — this feeds remote deletion), STRICT
    * source_type = 'gmail' (the DuckDB fallback's
    * COALESCE(source_type,'gmail') legacy-NULL admission is a
    * fallback-only quirk not mirrored here), recency order
    * (sent_at DESC, id DESC — semantic once a limit applies: it picks
    * WHICH messages stage), and pagination.limit honored when > 0.
    */
  def gmailIdsByFilter(filter: MessageFilter): DataFrame = {
    val gmailSources = vault.sources
      .filter(col("source_type") === "gmail")
      .select(col("id").as("__gsid"))
    val out = filters.compile(filter.copy(hideDeletedFromSource = true))
      .join(gmailSources, col("source_id") === col("__gsid"), "left_semi")
      .orderBy(col("sent_at").desc, col("id").desc)
      .select(col("source_message_id"))
    if (filter.pagination.limit > 0) out.limit(filter.pagination.limit)
    else out
  }

  /** Dual-path contact resolution shared by the texts-mode paths: contact
    * participant = direct sender_id, falling back to the first (min_by)
    * from-recipient — reference duckdb_text.go's COALESCE(msg.sender_id,
    * (SELECT ... LIMIT 1)) correlated subquery as one left join.
    * Adds `__contact_pid` (+ helper `__f_mid`/`__f_pid`).
    */
  private def withContactPid(msg: DataFrame): DataFrame = {
    val mr = vault.recipients
    val firstFrom = mr.filter(col("recipient_type") === "from")
      .groupBy(mr("message_id").as("__f_mid"))
      .agg(min(mr("participant_id")).as("__f_pid"))
    msg.join(firstFrom, msg("id") === col("__f_mid"), "left")
      .withColumn("__contact_pid", coalesce(col("sender_id"), col("__f_pid")))
  }

  /** Texts-mode entry to [[aggregateTail]] (duckdb_text.go:287-293
    * routes every text view through the same runAggregation): applies
    * the optional search terms first, then the shared 6-column tail
    * keyed by `__tkey`. Text terms match subject/snippet/from-sender —
    * plus the grouping key ONLY for the Labels view: textAggViewDef
    * (duckdb_text.go:191-243) sets `keyColumns` on the TextViewLabels
    * branch alone, so a Sources/Contacts/Time search term that matches
    * only the key (e.g. "gmail" on Sources) matches NOTHING.
    */
  private def textAggTail(keyed0: DataFrame, opts: AggregateOptions,
      labelKey: Boolean = false): DataFrame = {
    var keyed = keyed0
    if (opts.searchQuery.nonEmpty)
      keyed = filters.compileSearch(keyed,
        SearchParser.parse(opts.searchQuery),
        keyCols = if (labelKey) Seq(col("__tkey")) else Nil,
        idCol = Some(col("id")),
        senderFallback = false,
        labelKeyCol = if (labelKey) Some(col("__tkey")) else None)
    aggregateTail(keyed, col("__tkey"), keyed0("id"), col("size_estimate"),
      opts)
  }

  /** The contact-resolved frame both contact views share: chat messages
    * joined to the dual-path contact participant.
    */
  private def textContactFrame(opts: AggregateOptions,
      key: DataFrame => Column): DataFrame = {
    val p = vault.participants
    val msg = filters.compile(optsFilter(opts)).filter(filters.textsOnly)
    val pd = p.select(p("id").as("__p_id"), key(p).as("__tkey"))
    withContactPid(msg)
      .join(pd, col("__contact_pid") === col("__p_id"))
      .filter(col("__tkey").isNotNull)
  }

  /** TextEngine.TextAggregate, method-for-method (text_engine.go:15-16):
    * dispatch over the five reference views (textAggViewDef
    * duckdb_text.go:191-243). Liveness: the reference's TextAggregate
    * WHERE carries NO LiveMessagesWhere in either engine
    * (duckdb_text.go:255-262, sqlite_text.go:316-330) — this engine
    * hides dedup losers on every text surface per the store contract;
    * the full rationale lives on [[compileTextFilter]] (r13 audit
    * confirmed the two reference engines agree with each other, so the
    * divergence is ours alone and stays deliberate).
    */
  def textAggregate(view: TextViewType,
      opts: AggregateOptions = AggregateOptions(),
      granularity: TimeGranularity = TimeGranularity.Month): DataFrame =
    view match {
      case TextViewType.Contacts => aggregateTextContacts(opts)
      case TextViewType.ContactNames => aggregateTextContactNames(opts)
      case TextViewType.Sources => aggregateTextSources(opts)
      case TextViewType.Labels => aggregateTextLabels(opts)
      case TextViewType.Time => aggregateTextTime(opts, granularity)
    }

  /** Texts-mode contact aggregate (reference TextViewContacts,
    * duckdb_text.go:196-207): key = COALESCE(NULLIF(phone, ''), email)
    * — the ADDRESS, phone-first. The display-name view is the separate
    * [[aggregateTextContactNames]] (TextViewContactNames).
    */
  def aggregateTextContacts(opts: AggregateOptions = AggregateOptions()): DataFrame =
    textAggTail(textContactFrame(opts, p =>
      coalesce(nullif(p("phone_number"), lit("")), p("email_address"))),
      opts)

  /** Texts-mode contact-NAME aggregate (reference TextViewContactNames,
    * duckdb_text.go:209-218): key = display_name → phone → email chain.
    */
  def aggregateTextContactNames(opts: AggregateOptions = AggregateOptions()): DataFrame =
    textAggTail(textContactFrame(opts, participantNameOf), opts)

  /** Texts-mode source aggregate (reference TextViewSources,
    * duckdb_text.go:220-225): chat messages grouped by the source TYPE
    * ('gmail'/'imap'/…), not the account identifier.
    */
  def aggregateTextSources(opts: AggregateOptions = AggregateOptions()): DataFrame = {
    val msg = filters.compile(optsFilter(opts)).filter(filters.textsOnly)
    val src = vault.sources.select(col("id").as("__s_id"),
      col("source_type").as("__tkey"))
    textAggTail(
      msg.join(src, col("source_id") === col("__s_id"))
        .filter(col("__tkey").isNotNull),
      opts)
  }

  /** Texts-mode label aggregate (reference TextViewLabels,
    * duckdb_text.go:226-233): chat messages fanned out over their
    * labels, keyed by label name.
    */
  def aggregateTextLabels(opts: AggregateOptions = AggregateOptions()): DataFrame = {
    val msg = filters.compile(optsFilter(opts)).filter(filters.textsOnly)
    val ml = vault.messageLabels.select(col("message_id").as("__ml_mid"),
      col("label_id").as("__ml_lid"))
    val lbl = vault.labels.select(col("id").as("__lbl_id"),
      col("name").as("__tkey"))
    textAggTail(
      msg.join(ml, msg("id") === col("__ml_mid"))
        .join(lbl, col("__lbl_id") === col("__ml_lid"))
        .filter(col("__tkey").isNotNull),
      opts, labelKey = true)
  }

  /** Texts-mode time aggregate (reference TextViewTime,
    * duckdb_text.go:234-239): same runAggregation tail as every view —
    * the reference's default ordering here is count DESC (sortClause
    * duckdb.go:810-827), NOT bucket order; callers wanting a timeline
    * pass SortField.Name (= the key).
    */
  def aggregateTextTime(opts: AggregateOptions = AggregateOptions(),
      granularity: TimeGranularity = TimeGranularity.Month): DataFrame = {
    val msg = filters.compile(optsFilter(opts)).filter(filters.textsOnly)
    textAggTail(
      msg.filter(col("sent_at").isNotNull)
        .withColumn("__tkey", timeKey(granularity)),
      opts)
  }

  /** TextFilter → filtered chat-type message frame (reference
    * buildTextFilterConditions duckdb_text.go:22-103). Source/label/time
    * bounds reuse the MessageFilter compiler; contact phone/name resolve
    * through the dual-path sender and semi-join a broadcast participant
    * set; source_type semi-joins the sources dim.
    *
    * Deliberate divergence, documented: the reference's DuckDB text
    * surfaces apply NO live-messages rule at all (no `deleted_at IS
    * NULL` anywhere in duckdb_text.go's WHERE building) — but the store
    * contract says dedup-hidden rows "must not appear in normal
    * user-facing reads" (store/live_messages.go:17-19), and the text
    * path only gets away without the clause because its sources never
    * carry deleted_at in practice. This engine honors the documented
    * intent: every text surface hides dedup losers
    * (liveMessages(false) via the MessageFilter compiler);
    * [[textSearch]] additionally hides source-deleted rows, matching
    * its live-ruled SQLite twin (sqlite_text.go:455).
    */
  private def compileTextFilter(filter: TextFilter): DataFrame = {
    val base = MessageFilter(sourceId = filter.sourceId,
      label = filter.label, timeRange = filter.timeRange,
      after = filter.after, before = filter.before)
    var msg = filters.compile(base).filter(filters.textsOnly)
    if (filter.contactPhone.nonEmpty || filter.contactName.nonEmpty) {
      val p = vault.participants
      var key: Column = lit(true)
      if (filter.contactPhone.nonEmpty)
        key = key && coalesce(nullif(p("phone_number"), lit("")),
          p("email_address")) === filter.contactPhone
      if (filter.contactName.nonEmpty)
        key = key && participantNameOf(p) === filter.contactName
      val pids = p.filter(key).select(p("id").as("__cf_pid"))
      msg = withContactPid(msg)
        .join(broadcast(pids), col("__contact_pid") === col("__cf_pid"),
          "left_semi")
        .drop("__f_mid", "__f_pid", "__contact_pid")
    }
    if (filter.sourceType.nonEmpty) {
      val srcIds = vault.sources
        .filter(col("source_type") === filter.sourceType)
        .select(col("id").as("__st_sid"))
      msg = msg.join(broadcast(srcIds), msg("source_id") === col("__st_sid"),
        "left_semi")
    }
    msg
  }

  /** Texts-mode conversation list (reference ListConversations
    * duckdb_text.go:103-190): per-conversation rollup over the filtered
    * chat messages, enriched with title + source type, sorted by
    * last-message/count/name with a conversation-id tie-break
    * (deterministic where the reference's bare FIRST is not).
    */
  def listConversations(filter: TextFilter = TextFilter()): DataFrame = {
    val msg = compileTextFilter(filter)
    val baseStats = msg.groupBy(col("conversation_id"))
      .agg(count(lit(1)).as("message_count"),
        // fallback path (no junction in the star): reference parity,
        // imprecision included — the reference counts
        // COALESCE(sender_id, 0) (duckdb_text.go:136), so ALL
        // null-sender messages collapse into one phantom participant.
        countDistinct(coalesce(col("sender_id"), lit(0L)))
          .as("__sender_count"),
        max(col("sent_at")).as("last_message_at"),
        max_by(col("snippet"), struct(col("sent_at"), col("id")))
          .as("__preview"),
        min_by(col("source_id"), col("id")).as("__src_id"))
    // participant_count: when the star carries the membership junction
    // (exported since r14 — the reference's own TODO,
    // duckdb_text.go:135), the count is TRUE membership — a member who
    // never sent a message in the filter window still counts, which the
    // sender-derived fallback cannot see. Junction rows per
    // conversation, the same rule as the reference's denormalized
    // participant_count (store/subset.go:423-427).
    val stats = vault.conversationParticipants match {
      case Some(cp) =>
        val members = cp.groupBy(col("conversation_id").as("__cp_cid"))
          .agg(count(lit(1)).as("__member_count"))
        baseStats
          .join(members, col("conversation_id") === col("__cp_cid"), "left")
          // per-CONVERSATION fallback (r14 review find): a junction-
          // bearing star whose upstream synced no membership rows for
          // SOME conversation (mixed-source archives) must not report
          // 0 participants for a conversation that demonstrably has
          // senders — fall back to the sender-derived count there,
          // keeping the pre-junction floor of ≥1
          .withColumn("participant_count",
            coalesce(col("__member_count"), col("__sender_count")))
          .drop("__cp_cid", "__member_count", "__sender_count")
      case None =>
        baseStats.withColumnRenamed("__sender_count", "participant_count")
    }
    val conv = vault.conversations.select(col("id").as("__c_id"),
      coalesce(col("title"), lit("")).as("title"))
    val src = vault.sources.select(col("id").as("__s_id"),
      col("source_type").as("__stype"))
    val rowsDf = stats
      .join(conv, col("conversation_id") === col("__c_id"))
      .join(src, col("__src_id") === col("__s_id"), "left")
      .select(col("conversation_id"), col("title"),
        coalesce(col("__stype"), lit("")).as("source_type"),
        col("message_count"), col("participant_count"),
        col("last_message_at"),
        coalesce(col("__preview"), lit("")).as("last_preview"))
    val sortCol = filter.sortField match {
      case TextSortField.Count => col("message_count")
      case TextSortField.Name => col("title")
      case TextSortField.LastMessage => col("last_message_at")
    }
    // NULLS LAST on BOTH directions: DuckDB's default_null_order is
    // NULLS_LAST regardless of ASC/DESC (the reference's bare
    // "ORDER BY last_message_at ASC" puts an all-NULL-sent_at
    // conversation LAST), where Spark's asc is nulls-FIRST. Only
    // last_message_at is nullable here (title is coalesced,
    // message_count never null); fidelity audit r13 vs
    // duckdb_text.go:108-122.
    val ordered = filter.sortDirection match {
      case SortDirection.Asc =>
        Seq(sortCol.asc_nulls_last, col("conversation_id").asc)
      case _ => Seq(sortCol.desc_nulls_last, col("conversation_id").asc)
    }
    var page = rowsDf.orderBy(ordered: _*)
    if (filter.pagination.offset > 0) page = page.offset(filter.pagination.offset)
    page.limit(if (filter.pagination.limit > 0) filter.pagination.limit else 100)
  }

  /** Chat timeline for one conversation (reference ListConversationMessages
    * duckdb_text.go:298-392): filtered chat messages of the conversation,
    * paged BEFORE the sender/label enrichment joins, sent_at ASC unless
    * descending requested (+id tie-break).
    */
  def listConversationMessages(convId: Long,
      filter: TextFilter = TextFilter()): DataFrame = {
    val ordered = timelineOrdering(filter)
    var page = compileTextFilter(filter)
      .filter(col("conversation_id") === convId)
      .orderBy(ordered: _*)
    if (filter.pagination.offset > 0) page = page.offset(filter.pagination.offset)
    page = page.limit(
      if (filter.pagination.limit > 0) filter.pagination.limit else 500)
    enrich(page).orderBy(ordered: _*)
  }

  /** Conversation timeline WITH full body text (reference
    * ListConversationMessages routes to SQLite because "timelines need
    * the full body text" — duckdb_text.go:298-306,
    * scanMessageSummariesWithBody models.go:40 BodyText "only populated
    * for timeline views"). The body join is page-scoped: applied AFTER
    * the limit, so it touches `limit` rows, not the conversation.
    */
  def listConversationMessages(convId: Long, filter: TextFilter,
      bodies: DataFrame): DataFrame = {
    val page = listConversationMessages(convId, filter)
    val b = bodies.select(col("message_id").as("__bd_mid"),
      col("body_text").as("__bd_text"))
    page.join(b, page("id") === col("__bd_mid"), "left")
      .withColumn("body_text", coalesce(col("__bd_text"), lit("")))
      .drop("__bd_mid", "__bd_text")
      .orderBy(timelineOrdering(filter): _*)
  }

  /** Timeline sort: sent_at ASC unless descending requested, id
    * tie-break — shared so the body-join overload re-sorts exactly the
    * order the page was cut with.
    */
  private def timelineOrdering(filter: TextFilter): Seq[Column] =
    filter.sortDirection match {
      // nulls-last explicit on ASC: DuckDB's default_null_order puts a
      // NULL sent_at LAST on both directions (fidelity audit r13,
      // duckdb_text.go:315-320); Spark's bare asc is nulls-first.
      // desc_nulls_last is Spark's desc default — spelled out so the
      // two branches visibly carry the same null rule.
      case SortDirection.Desc =>
        Seq(col("sent_at").desc_nulls_last, col("id").desc)
      case _ => Seq(col("sent_at").asc_nulls_last, col("id").asc)
    }

  /** Texts-mode full-text search (reference TextSearch
    * duckdb_text.go:399-452: FTS5 over chat types, sent_at DESC, default
    * limit 50; empty query → empty result). Runs over the bodies sidecar
    * like [[searchDeep]]. Visibility: BOTH hide-deleted rules — the
    * SQLite TextSearch twin applies LiveMessagesWhere("m", true)
    * (sqlite_text.go:415-455), the one text-mode surface in either
    * reference backend that carries an explicit live rule.
    */
  def textSearch(query: String, bodies: DataFrame, limit: Int = 50,
      offset: Int = 0): DataFrame = {
    val q = SearchParser.parse(query)
    val matched0 = deepMatchesParsed(q, bodies,
      MessageFilter(hideDeletedFromSource = true),
      filters.textsOnly)
    // reference returns nil for "" and FTS5 ERRORS on a whitespace-only
    // MATCH (duckdb_text.go:399-412) — guard on the PARSED text terms,
    // not the raw string, so " " (or an operator-only query, which FTS5
    // would mangle as column-filter syntax) yields nothing rather than
    // the newest 50 chats via the vacuous-true term reduce
    val matched = if (q.textTerms.nonEmpty) matched0
      else matched0.filter(lit(false))
    pageThenEnrich(matched, MsgEngine.NewestFirst,
      limit, offset, defaultLimit = 50,
      dropBeforeEnrich = Seq("__b_mid", "tokens"))
  }

  /** Texts-mode totals (reference GetTextStats duckdb_text.go:453-520):
    * chat types only, optional source scope + subject/snippet substring
    * search — the same rollup + distinct-label-name shape as
    * [[totalStats]].
    */
  def textStats(sourceId: Option[Long] = None,
      searchQuery: String = ""): DataFrame = {
    var msg = filters.compile(MessageFilter(sourceId = sourceId))
      .filter(filters.textsOnly)
    if (searchQuery.nonEmpty) {
      val t = searchQuery.toLowerCase
      msg = msg.filter(lower(col("subject")).contains(t) ||
        lower(col("snippet")).contains(t))
    }
    statsOf(msg)
  }

  private def optsFilter(opts: AggregateOptions): MessageFilter =
    MessageFilter(
      sourceId = opts.sourceId, sourceIds = opts.sourceIds,
      after = opts.after, before = opts.before,
      withAttachmentsOnly = opts.withAttachmentsOnly,
      hideDeletedFromSource = opts.hideDeletedFromSource)
}

object MsgEngine {
  /** The timeline order every search/keyset page uses: sent_at DESC
    * (Spark's desc is NULLS LAST), id DESC as the unique tie-break —
    * the order the keyset cursor predicate assumes.
    */
  private[engine] val NewestFirst: Seq[Column] =
    Seq(col("sent_at").desc, col("id").desc)

  /** SearchByDomains paging contract (sqlite.go:1184-1189): anything
    * above 1000 clamps to 1000; limit <= 0 passes through UNCHANGED so
    * pageThenEnrich's defaultLimit = 100 remains the single owner of the
    * reference default (two live defaults would mask drift). Pure so the
    * spec can pin the clamp — the page materializes before enrichment,
    * so it is not recoverable from the final plan.
    */
  private[engine] def domainSearchLimit(limit: Int): Int =
    if (limit <= 0) limit else math.min(limit, 1000)

  /** find_similar_messages limit contract (mcp/handlers.go:822-834
    * limitArg + :411-413 MaxPageSizeHybridClamp + :26 maxLimit): a
    * NEGATIVE limit maps to 0 — an empty page, NOT the default (the
    * default-20 substitution happens only when the arg is absent, which
    * for a Scala API is the default parameter value); above 1000 clamps
    * to 1000; a configured maxPage > 0 clamps once more. Pure so the
    * spec pins every branch.
    */
  private[engine] def similarMessagesLimit(limit: Int, maxPage: Int): Int = {
    val capped = if (limit < 0) 0 else math.min(limit, 1000)
    if (maxPage > 0) math.min(capped, maxPage) else capped
  }
}

/** Result handle for the materialized search: count/page/stats all reuse the
  * single persisted match set (reference engine.go:57-66).
  */
final case class SearchWithStats(matches: DataFrame, engine: MsgEngine) {
  def totalCount: Long = matches.count()

  def page(limit: Int, offset: Int): DataFrame =
    engine.pageThenEnrich(matches, MsgEngine.NewestFirst,
      limit, offset, defaultLimit = 100)

  /** Keyset page over the SAME persisted match set — deep paging through
    * a large result without re-sorting every match per page.
    */
  def pageAfter(cursor: Option[(java.sql.Timestamp, Long)],
      limit: Int = 100): DataFrame =
    engine.pageThenEnrich(matches, MsgEngine.NewestFirst, limit, offset = 0,
      defaultLimit = 100, cursor = cursor)

  /** Search-scoped totals (reference computeSearchStats
    * duckdb.go:2144-2190): the same rollup + distinct-label-name shape as
    * GetTotalStats, computed over the persisted match set — the second
    * pass re-reads the in-memory matches, not the archive.
    */
  def stats: DataFrame = engine.statsOf(matches)
}
