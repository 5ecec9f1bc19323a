package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{CacheBuilder, MsgEngine, MsgVault}
import graft.model._
import graft.queries.FacadeQueries
import graft.sources.Tables

/** Dev tool: one bench/probe leg over a MULTI-FILE partitioned star.
  *
  * The sf testdata is one parquet file per table, so the bench's
  * `Tables.cacheAll` repartitioning stands in for what
  * `maxPartitionBytes` does natively on real multi-file data — and
  * partition pruning was only ever plan-audited, never TIMED. This probe
  * writes the facade star through the production ETL
  * ([[CacheBuilder.build]]: messages partitionBy(batch, year) zstd,
  * junction shard dirs), reopens it with [[MsgVault.open]], and times
  * the headline engine facades against (a) the localCheckpointed
  * derived star the bench uses and (b) the on-disk partitioned star —
  * plus a year-scoped query whose `numFiles` scan metric proves the
  * partition pruning happens in the TIMED path, and a 1×→10× decade on
  * the disk layout.
  *
  * Replication spreads doc ids by [[spacing]] so sent_at (epoch +
  * id minutes) spans ~6 years at 1× and ~57 at 10× — multiple year
  * partitions, the shape partition pruning exists for. (The facade
  * oracles never see this star; modular label/type distributions shift
  * with the id spacing, which is irrelevant here.)
  *
  * Usage: runMain graft.tools.PartitionedStarProbe [sfDir] [factor] [outBase]
  */
object PartitionedStarProbe {
  private val spacing = 500L

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outBase = args.lift(2).getOrElse("/dev/shm/graft-tmp/partstar")
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("ERROR")

    val docs1 = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val n1 = docs1.count()

    def spreadDocs(f: Int): DataFrame =
      if (f == 1) docs1.select((col("doc_id") * spacing).as("doc_id"))
      else spark.range(f).crossJoin(docs1)
        .select(((col("id") * n1 + col("doc_id")) * spacing).as("doc_id"))

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    /** Input bytes read across EVERY job a thunk runs — the facade's
      * messages scan executes inside the engine call's own page-
      * materialization job (and AQE hides scans in leaf QueryStageExec
      * nodes), so per-plan FileSourceScan metrics on the returned frame
      * miss it; task-level input metrics see the whole timed path.
      */
    def inputBytes(f: => Unit): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            { bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead); () }
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(800) } // listener bus is async; let it drain
      finally spark.sparkContext.removeSparkListener(l)
      bytes.get()
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

    def benchEngine(tag: String, e: MsgEngine): Map[String, Double] =
      headline.map { case (name, q) =>
        q(e).write.format("noop").mode("overwrite").save() // warm
        val runs = Seq.fill(3) {
          time(q(e).write.format("noop").mode("overwrite").save())._1
        }
        val best = runs.min
        println(f"[partstar] $tag%-12s $name%-20s ${best}%7.3f s")
        name -> best
      }.toMap

    def rmTree(dir: String): Unit = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      if (Files.exists(Paths.get(dir))) {
        val walk = Files.walk(Paths.get(dir))
        try walk.iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }

    // ---- 1×: in-memory derived star vs on-disk partitioned star ----------
    val star1 = FacadeQueries.starFromDocs(spark, spreadDocs(1))
    val out1 = s"$outBase/sf1x"
    rmTree(out1)
    val (tBuild1, rows1) = time(CacheBuilder.build(spark, star1, out1))
    println(f"[partstar] build 1x: $rows1 msgs in ${tBuild1}%.1f s -> $out1")
    val disk1 = new MsgEngine(MsgVault.open(spark, out1))
    val mem1 = FacadeQueries.checkpointedEngine(star1)
    val memT = benchEngine("mem-1x", mem1)
    val diskT = benchEngine("disk-1x", disk1)
    val memTotal = memT.values.sum
    val diskTotal = diskT.values.sum
    println(f"[partstar] totals 1x: mem=${memTotal}%.2f s disk=${diskTotal}%.2f s (disk/mem=${diskTotal / memTotal}%.2f)")

    // ---- partition pruning in the TIMED path ------------------------------
    // pick a mid-range year so the scoped scan hits exactly one partition
    val years = disk1.vault.messages.select(col("year")).distinct()
      .orderBy(col("year")).collect().map(_.getInt(0)).toSeq
    val midYear = years(years.length / 2)
    def runAll(): Unit =
      disk1.searchFast("subj",
        MessageFilter(pagination = Pagination(limit = 20)))
        .write.format("noop").mode("overwrite").save()
    def runOne(): Unit =
      disk1.searchFast("subj",
        MessageFilter(timeRange = TimeRange(period = midYear.toString),
          pagination = Pagination(limit = 20)))
        .write.format("noop").mode("overwrite").save()
    runAll(); runOne() // warm (codegen + dim caches)
    val bAll = inputBytes(runAll())
    val bOne = inputBytes(runOne())
    val (tAll, _) = time(runAll())
    val (tOne, _) = time(runOne())
    println(f"[partstar] pruning (full facade: page + enrich junctions): years=${years.size} unpruned read=${bAll / 1024} KiB (${tAll}%.3f s) year=$midYear read=${bOne / 1024} KiB (${tOne}%.3f s)")
    // the hard gate measures the messages SCAN alone — in the enriched
    // facade the junction/dim reads (not year-partitioned) dominate the
    // byte count and would let a pruning regression hide inside noise
    val scanAll = inputBytes {
      disk1.vault.messages.write.format("noop").mode("overwrite").save()
    }
    val scanOne = inputBytes {
      disk1.vault.messages
        .filter(col("year").cast("string") === midYear.toString)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[partstar] pruning (bare messages scan): unpruned=${scanAll / 1024} KiB year=$midYear=${scanOne / 1024} KiB (${100.0 * scanOne / math.max(scanAll, 1)}%.0f%% of the table)")
    require(scanOne * 2 < scanAll,
      s"year-scoped messages scan must prune partitions ($scanOne vs $scanAll bytes)")

    // ---- one decade on the disk layout ------------------------------------
    if (factor > 1) {
      val starN = FacadeQueries.starFromDocs(spark, spreadDocs(factor))
      val outN = s"$outBase/sf${factor}x"
      rmTree(outN)
      val (tBuildN, rowsN) = time(CacheBuilder.build(spark, starN, outN))
      println(f"[partstar] build ${factor}x: $rowsN msgs in ${tBuildN}%.1f s -> $outN")
      val diskN = new MsgEngine(MsgVault.open(spark, outN))
      val diskNT = benchEngine(s"disk-${factor}x", diskN)
      headline.foreach { case (name, _) =>
        val r = diskNT(name) / diskT(name)
        println(f"[partstar] growth $name: ${factor}x/1x = ${r}%.2f (pages/top-k should stay FLAT-ish; linear decade = ~$factor)")
      }
      println(f"[partstar] totals: 1x=${diskTotal}%.2f s ${factor}x=${diskNT.values.sum}%.2f s")
    }
    spark.stop()
  }
}
