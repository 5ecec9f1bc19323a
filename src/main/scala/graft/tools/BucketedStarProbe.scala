package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{CacheBuilder, MsgEngine}
import graft.model._
import graft.queries.FacadeQueries
import graft.sources.Tables

/** Dev tool (r13 verdict ask #7): the PartitionedStarProbe decade,
  * re-run on the BUCKETED warehouse layout ([[CacheBuilder.buildBucketed]]
  * — messages bucketed+sorted by id, junctions by message_id, same
  * bucket count) at a replication factor large enough that the star is
  * a real multi-file disk dataset. Certifies that
  *
  *   1. the zero-Exchange sort-merge claim PlanAuditSpec proves at
  *      fixture scale holds in the TIMED path at 1×/10×/100× — the
  *      probe counts Exchange operators in the executed plan of the
  *      message↔junction join family per factor, and
  *   2. page-shaped facades stay FLAT-ish across the decades on the
  *      metastore-served star (disk, zstd, no table cache).
  *
  * Usage: runMain graft.tools.BucketedStarProbe [sfDir] [factors...]
  *   e.g. ... /root/testdata/sf0.1 1 10 100
  */
object BucketedStarProbe {
  private val spacing = 500L

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10)
    val spark = graft.Session.oracle(
      // disk-backed warehouse — the probe's point is the on-disk layout
      "spark.sql.warehouse.dir" -> "/tmp/graft_bsp_warehouse",
      "javax.jdo.option.ConnectionURL" ->
        "jdbc:derby:;databaseName=/tmp/graft_bsp_metastore;create=true")
    spark.sparkContext.setLogLevel("ERROR")

    val docs1 = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val n1 = docs1.count()
    def spreadDocs(f: Int): DataFrame =
      if (f == 1) docs1.select((col("doc_id") * spacing).as("doc_id"))
      else spark.range(f).crossJoin(docs1)
        .select(((col("id") * n1 + col("doc_id")) * spacing).as("doc_id"))

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val headline: Seq[(String, MsgEngine => DataFrame)] = Seq(
      ("search_fast", e => e.searchFast("invoice",
        MessageFilter(pagination = Pagination(limit = 50)))),
      ("agg_senders", e => e.aggregate(ViewType.Senders,
        AggregateOptions(limit = 100))),
      ("list_messages", e => e.listMessages(MessageFilter(
        label = "personal", withAttachmentsOnly = true,
        sorting = MessageSorting(MessageSortField.Size, SortDirection.Desc),
        pagination = Pagination(limit = 30, offset = 10)))),
      ("text_conversations", e => e.listConversations(TextFilter())),
      ("summaries_by_ids", e => e.messageSummariesByIds(
        (1 to 40).map(_ * 7L * spacing))))

    val results = factors.map { f =>
      val db = s"graft_bsp_${f}x"
      val (tBuild, _) = time(
        CacheBuilder.buildBucketed(spark, FacadeQueries.starFromDocs(
          spark, spreadDocs(f)), db = db, buckets = 64))
      val e = new MsgEngine(CacheBuilder.openBucketed(spark, db))
      val nMsg = e.vault.messages.count()
      println(f"[bsp] build ${f}x: $nMsg msgs in ${tBuild}%.1f s -> $db")

      // zero-Exchange certification on the co-located join family: the
      // attachment rollup join (messages ⋈ attachments on the bucket
      // key) must plan with NO Exchange on either bucketed side
      val joined = e.vault.messages
        .join(e.vault.attachments,
          e.vault.messages("id") === e.vault.attachments("message_id"))
        .groupBy(e.vault.messages("id")).agg(count(lit(1)))
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      println(s"[bsp] ${f}x bucket-join exchanges on scan sides: " +
        s"$exchanges (bucketed scan feeds SMJ directly when 0/1)")

      // ONE measurement recipe for headline and deep-page legs — a
      // protocol change (pass count, warm policy) applied to a single
      // copy cannot desynchronize the numbers the growth report compares
      def bench(name: String, q: () => DataFrame): (String, Double) = {
        q().write.format("noop").mode("overwrite").save() // warm
        val best = Seq.fill(3)(
          time(q().write.format("noop").mode("overwrite").save())._1).min
        println(f"[bsp] ${f}x $name%-20s $best%7.3f s")
        name -> best
      }
      val times = headline.map { case (name, q) => bench(name, () => q(e)) }

      // DEEP paging (r14 verdict ask #7): page 1000 of the default list
      // order through OFFSET vs the keyset twin. OFFSET must
      // sort-and-skip offset+limit rows per page at any corpus size;
      // the (sent_at, id) cursor is a range predicate the bucketed
      // parquet star prunes BEFORE sorting, so the keyset page should
      // stay flat across the decades while offset grows.
      val pageSize = 30
      // depth sweep, corpus-capped (1×'s ~5k msgs top out near page 162):
      // OFFSET must sort-and-skip depth×pageSize rows, so its wall should
      // grow with DEPTH at fixed corpus; the keyset twin at the SAME
      // depth should stay flat in both depth and corpus size.
      val maxPage = ((nMsg - 2L * pageSize) / pageSize).max(1L)
      val depths = Seq(10L, 100L, 1000L).map(_.min(maxPage)).distinct
      val deep: Seq[(String, () => DataFrame)] = depths.flatMap { pg =>
        val curRow = e.listMessages(MessageFilter(pagination =
            Pagination(limit = 1, offset = (pg * pageSize - 1).toInt)))
          .select(col("sent_at"), col("id")).head()
        val cursor = Some((curRow.getTimestamp(0), curRow.getLong(1)))
        Seq(
          (s"page${pg}_offset",
            () => e.listMessages(MessageFilter(pagination = Pagination(
              limit = pageSize, offset = (pg * pageSize).toInt)))),
          (s"page${pg}_keyset", () =>
            e.listMessagesAfter(MessageFilter(), cursor, limit = pageSize)))
      }
      val deepTimes = deep.map { case (name, q) => bench(name, q) }
      f -> (times ++ deepTimes).toMap
    }
    val (f0, base) = results.head
    // deep-page keys are corpus-capped per factor (page162_* at 1×,
    // page1000_* at 100×) — growth only prints for keys BOTH factors ran
    for {
      (f, t) <- results.drop(1)
      (name, v) <- t.toSeq.sortBy(_._1) if base.contains(name)
    } println(f"[bsp] growth $name ${f}x/${f0}x = ${v / base(name)}%.2f")
    spark.stop()
  }
}
