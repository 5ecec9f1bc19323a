package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.engine.{CacheBuilder, MsgEngine, MsgVault}
import graft.model._
import graft.search.SearchParser

/** One browse request. `op` names the engine operation it exercises. */
sealed trait Req { def op: String }
final case class SearchPage(q: String) extends Req { def op = "search_page" }
final case class SearchStats(q: String) extends Req { def op = "search_stats" }
final case class SearchCount(q: String) extends Req { def op = "search_count" }
final case class Aggregate(view: ViewType, q: String) extends Req { def op = "aggregate" }
final case class SubAggregate(view: ViewType, f: MessageFilter) extends Req {
  def op = "sub_aggregate" }
case object TotalStatsReq extends Req { def op = "total_stats" }
final case class ListFirst(f: Int) extends Req { def op = "list" }
final case class ListKeyset(f: Int, cursor: (Timestamp, Long)) extends Req {
  def op = "list_keyset" }
final case class Detail(id: Long) extends Req { def op = "detail" }
final case class Summaries(ids: Seq[Long]) extends Req { def op = "summaries" }

/** The seeded browse request stream: the reference benchmark's operations
  * in a fixed mix (35 % search, 25 % aggregate, 25 % list, 15 % detail),
  * with search strings drawn Zipf from ~200 distinct queries — more than
  * the engine's 32-entry search cache holds. */
object BrowseMix {
  val Ops: Seq[String] = Seq("list", "list_keyset", "search_page",
    "search_stats", "search_count", "aggregate", "sub_aggregate",
    "total_stats", "detail", "summaries")
  val PageSize = 50

  def listFilters: IndexedSeq[MessageFilter] = IndexedSeq(
    MessageFilter(),
    MessageFilter(label = "WORK"),
    MessageFilter(sender = Gen.email(3)),
    MessageFilter(withAttachmentsOnly = true,
      after = Some(Timestamp.valueOf("2022-01-01 00:00:00")),
      before = Some(Timestamp.valueOf("2024-01-01 00:00:00"))))

  /** Term, from:, label:, has:attachment and absolute date-range queries;
    * no relative dates, which would depend on the wall clock. */
  def queries(seed: Long): IndexedSeq[String] = {
    val terms = (0 until 300 by 4).map(Gen.Vocab)
    val froms = ((1 to 30) ++ (250 to 279)).map(p => s"from:${Gen.email(p)}")
    val labels = Gen.LabelNames.map(l => s"label:$l")
    val att = (1 until 300 by 10).map(i => s"has:attachment ${Gen.Vocab(i)}")
    val rnd = new java.util.Random(seed)
    val dates = (0 until 25).map { _ =>
      val m0 = rnd.nextInt(70)
      val d0 = java.time.LocalDate.of(2020, 1, 1).plusMonths(m0)
      s"after:$d0 before:${d0.plusMonths(1 + rnd.nextInt(3))}"
    }
    // rank r of the Zipf draw cycles through the shapes (a seeded pick
    // within each), so every seed puts the same shapes at the same ranks
    val rng = new scala.util.Random(seed)
    val pools = Seq(terms, froms, labels, att, dates).map(p => rng.shuffle(p).iterator)
    val total = terms.size + froms.size + labels.size + att.size + dates.size
    Iterator.continually(pools.filter(_.hasNext).map(_.next())).flatten
      .take(total).toIndexedSeq
  }

  /** One cycle of the mix: 7 search, 5 aggregate, 5 list and 3 detail
    * requests. Every cycle is a seeded permutation of this multiset, so
    * each run replays the same proportions whatever its length. */
  val Cycle: Seq[String] = Seq.fill(3)("search_page") ++
    Seq.fill(2)("search_stats") ++ Seq.fill(2)("search_count") ++
    Seq.fill(3)("aggregate") ++ Seq("sub_aggregate", "total_stats") ++
    Seq.fill(3)("list") ++ Seq.fill(2)("list_keyset") ++
    Seq.fill(2)("detail") ++ Seq("summaries")

  def stream(seed: Long, n: Int, messages: Long): IndexedSeq[Req] = {
    val qs = queries(seed)
    val zq = Gen.zipfCdf(qs.size, 1.0)
    val rnd = new java.util.Random(seed * 31 + 7)
    val shuffle = new scala.util.Random(seed * 17 + 3)
    def q(): String = qs(Gen.zipfRank(zq, rnd.nextDouble()))
    def id(): Long = 1L + (rnd.nextDouble() * messages).toLong
    val views = IndexedSeq(ViewType.Senders, ViewType.Domains,
      ViewType.Labels, ViewType.Time)
    // per-op parameters that change the work (view, filter, drill-down
    // kind) rotate rather than being drawn, so every seed runs the same
    // multiset of them; the seed picks the starting point
    val turn = mutable.Map[String, Int]().withDefault(_ => rnd.nextInt(60))
    def next(op: String, n: Int): Int = { val t = turn(op); turn(op) = t + 1; t % n }
    Iterator.continually(shuffle.shuffle(Cycle)).flatten.take(n).map {
      case "search_page" => SearchPage(q())
      case "search_stats" => SearchStats(q())
      case "search_count" => SearchCount(q())
      case "aggregate" =>
        val v = next("aggregate", 5)
        if (v < 4) Aggregate(views(v), "") else Aggregate(ViewType.Time, q())
      case "sub_aggregate" => next("sub_aggregate", 3) match {
        case 0 => SubAggregate(ViewType.Labels,
          MessageFilter(sender = Gen.email(1 + rnd.nextInt(40))))
        case 1 => SubAggregate(ViewType.Senders,
          MessageFilter(label = Gen.LabelNames(rnd.nextInt(10))))
        case _ => SubAggregate(ViewType.Time,
          MessageFilter(domain = s"d${rnd.nextInt(Gen.Domains)}.example.com"))
      }
      case "total_stats" => TotalStatsReq
      case "list" => ListFirst(next("list", 4))
      case "list_keyset" =>
        // a cursor need not be an existing row: any (sent_at, id) point
        // of the keyset order is a valid follow-up position
        ListKeyset(next("list_keyset", 4), (Gen.ts(Gen.Epoch2020 +
          (rnd.nextDouble() * (Gen.Epoch2026 - Gen.Epoch2020)).toLong), id()))
      case "detail" => Detail(id())
      case _ => Summaries(Seq.fill(20)(id()).distinct)
    }.toIndexedSeq
  }
}

/** archive_browse: two closed-loop clients replaying the browse stream
  * against a 15k-message archive built by CacheBuilder.build. */
final class Browse(spark: SparkSession, seed: Long, work: String) extends Workload {
  val Messages = 15000L
  val Clients = 2
  /** Warm-up requests, taken from the end of the stream. */
  val Warmup = 3
  /** The measured window is whole mix cycles, at least this many; two
    * give p75 10 samples beyond it. */
  val MinCycles = 2
  /** Requests [0, Digested) make the result digest. */
  val Digested = 40
  private val stream = BrowseMix.stream(seed, 5000, Messages)
  private val filters = BrowseMix.listFilters
  private var engine: MsgEngine = _
  private var total = 0L
  private var starDir = ""
  private val lat = mutable.ArrayBuffer[(String, Long)]()
  private var wallS = 0.0
  private var buildS = 0.0
  private var openMs = 0.0
  // search query -> searchFastWithStats total, for the count check
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val hits = new AtomicLong
  private val lookups = new AtomicLong
  private val parseNs = mutable.ArrayBuffer[Long]()

  private def input(s: Long) = {
    val msgs = Gen.messages(spark, s, 1, Messages + 1, Gen.Epoch2020, Gen.Epoch2026)
    Gen.vault(spark, msgs, Gen.recipients(s, msgs), Gen.messageLabels(s, msgs),
      Gen.attachments(s, msgs), Messages)
  }

  def inputDigest(s: Long): String = {
    val v = input(s)
    Gen.combine(Seq(Gen.digestAll(Seq(v.messages, v.recipients,
      v.messageLabels, v.attachments)),
      Gen.combine(BrowseMix.stream(s, 5000, Messages).map(_.toString))))
  }

  def setup(i: Int): Unit = {
    if (starDir.nonEmpty) { engine.releaseCaches(); Disk.delete(starDir) }
    starDir = s"$work/star$i"
    val t0 = System.nanoTime()
    CacheBuilder.build(spark, input(seed), starDir)
    val t1 = System.nanoTime()
    engine = new MsgEngine(MsgVault.open(spark, starDir))
    val t2 = System.nanoTime()
    buildS = (t1 - t0) / 1e9
    openMs = (t2 - t1) / 1e6
  }

  def corpus: Map[String, Any] = Map("messages" -> Messages,
    "participants" -> Gen.Participants, "domains" -> Gen.Domains,
    "labels" -> Gen.LabelNames.size, "distinct_queries" -> BrowseMix.queries(seed).size,
    "clients" -> Clients)

  /** Rows of a result with array elements sorted, one string per row. */
  private def canon(rows: Seq[Row]): Seq[String] = {
    def v(x: Any): String = x match {
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(v).sorted.mkString("[", ",", "]")
      case null => "null"
      case o => o.toString
    }
    rows.map(v)
  }

  private def ordered(rows: Seq[Row]): Boolean = rows.sliding(2).forall {
    case Seq(a, b) =>
      val (ta, tb) = (a.getAs[Timestamp]("sent_at"), b.getAs[Timestamp]("sent_at"))
      val (ia, ib) = (a.getAs[Long]("id"), b.getAs[Long]("id"))
      ta.after(tb) || (ta == tb && ia > ib)
    case _ => true
  }

  private def bucketSum(rows: Seq[Row]): Long = rows.map(_.getAs[Long]("count")).sum

  /** Runs one request; returns its canonical result rows. Checks are
    * made on the collected rows, after the timed call. */
  private def exec(r: Req, req: Long, probe: Probe, checks: Checks): Seq[String] = {
    val op = r.op
    val g = s"engine.$op"
    def page(mk: => DataFrame): Seq[Row] = {
      val df = probe.call(s"$g.plan", req, g) {
        val d = mk; d.queryExecution.executedPlan; d }
      probe.call(s"$g.collect", req, g)(df.collect().toSeq)
    }
    def parse(q: String): Unit = if (probe.traced) {
      val (_, ns) = probe.timed("search.parse", req)(SearchParser.parse(q))
      parseNs.synchronized(parseNs += ns)
    }
    def view(rows: Seq[Row], what: String, bound: Long => Boolean): Unit = {
      checks(s"$what: bucket sums consistent with totalStats",
        bound(bucketSum(rows)))
    }
    r match {
      case SearchPage(q) =>
        parse(q)
        val rows = page(engine.searchFast(q,
          MessageFilter(pagination = Pagination(BrowseMix.PageSize, 0))))
        checks("search page: at most limit rows, ordered",
          rows.size <= BrowseMix.PageSize && ordered(rows))
        canon(rows)
      case SearchStats(q) =>
        parse(q)
        val before = if (probe.traced)
          spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
        val (p, s, sws) = probe.call(s"$g.plan", req, g) {
          val sws = engine.searchFastWithStats(q)
          val p = sws.page(BrowseMix.PageSize, 0)
          val s = sws.stats
          p.queryExecution.executedPlan; s.queryExecution.executedPlan
          (p, s, sws)
        }
        val (rows, n, stats) = probe.call(s"$g.collect", req, g)(
          (p.collect().toSeq, sws.totalCount, s.collect().toSeq))
        if (probe.traced) {
          // a hit adds no persistent RDD for its match set: the set's
          // in-memory buffer already existed when the call began (other
          // RDDs, such as the page's local checkpoint or another
          // client's work, do not count)
          lookups.incrementAndGet()
          if (CacheProbe.bufferRdd(sws.matches).exists(before)) hits.incrementAndGet()
        }
        totals.put(q, n)
        checks("search stats: page at most limit rows, ordered, within total",
          rows.size <= BrowseMix.PageSize && rows.size <= n && ordered(rows))
        checks("search stats: stats count equals total",
          stats.head.getAs[Long]("message_count") == n)
        canon(rows) ++ canon(stats) :+ n.toString
      case SearchCount(q) =>
        parse(q)
        val n = probe.call(s"$g.plan", req, g)(engine.searchFastCount(q))
        Option(totals.get(q)).foreach(t =>
          checks("searchFastCount equals searchFastWithStats total", t == n))
        Seq(n.toString)
      case Aggregate(v, q) =>
        if (q.nonEmpty) parse(q)
        val rows = page(engine.aggregate(v,
          AggregateOptions(limit = 1000, searchQuery = q)))
        if (q.isEmpty && v != ViewType.Labels) view(rows, s"aggregate $v", _ == total)
        else if (q.isEmpty) view(rows, "aggregate Labels", _ >= total)
        else view(rows, "aggregate with search", _ <= total)
        canon(rows)
      case SubAggregate(v, f) =>
        val rows = page(engine.subAggregate(v, f, AggregateOptions(limit = 1000)))
        view(rows, s"sub-aggregate $v", s => s > 0 &&
          (if (v == ViewType.Labels) true else s <= total))
        canon(rows)
      case TotalStatsReq =>
        val rows = page(engine.totalStats())
        checks("totalStats: message count",
          rows.head.getAs[Long]("message_count") == total)
        canon(rows)
      case ListFirst(i) =>
        val rows = page(engine.listMessages(filters(i).copy(
          pagination = Pagination(BrowseMix.PageSize, 0))))
        checks("list: at most limit rows, ordered",
          rows.size <= BrowseMix.PageSize && ordered(rows))
        canon(rows)
      case ListKeyset(i, (ct, cid)) =>
        val rows = page(engine.listMessagesAfter(filters(i), Some((ct, cid)),
          BrowseMix.PageSize))
        checks("keyset page: at most limit rows, ordered, after the cursor",
          rows.size <= BrowseMix.PageSize && ordered(rows) && rows.forall { row =>
            val t = row.getAs[Timestamp]("sent_at")
            t.before(ct) || (t == ct && row.getAs[Long]("id") < cid) })
        canon(rows)
      case Detail(id) =>
        val rows = page(engine.messageDetail(id))
        checks("detail returns the requested id",
          rows.size == 1 && rows.head.getAs[Long]("id") == id)
        canon(rows)
      case Summaries(ids) =>
        val rows = page(engine.messageSummariesByIds(ids))
        checks("summaries return the requested ids",
          rows.map(_.getAs[Long]("id")).sorted == ids.sorted)
        canon(rows)
    }
  }

  private val results = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** The last requests of the stream, in order, from one client; the
    * measured window starts at the stream's first request. */
  def warmup(checks: Checks): Unit = {
    total = engine.totalStatsTyped().message_count
    val p = new Probe(spark, traced = false)
    (stream.size - Warmup until stream.size).foreach { i =>
      val r = stream(i)
      try checks.op(r.op)(exec(r, i, p, checks))
      catch { case _: Exception => () }
    }
  }

  def resultDigest: String = Gen.combine(
    (0 until Digested).map(i => results.getOrDefault(i.toLong, "missing")))

  /** Runs requests 0, 1, ... until `seconds` have passed and the window
    * holds whole cycles of the mix, at least MinCycles, so every run
    * measures the same multiset of operations. */
  def measure(probe: Probe, checks: Checks, seconds: Double): Unit = {
    val cycle = BrowseMix.Cycle.size
    var next = 0
    var closed = false
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // the next request index, or None once the window is closed
    def take(): Option[Int] = synchronized {
      if (!closed && next % cycle == 0 && next >= MinCycles * cycle &&
          System.nanoTime() >= deadline) closed = true
      if (closed || next >= stream.size - Warmup) None
      else { next += 1; Some(next - 1) }
    }
    var last = t0
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        Iterator.continually(take()).takeWhile(_.isDefined).flatten.foreach { i =>
          val r = stream(i)
          val s0 = System.nanoTime()
          val (res, ns) = probe.timed(s"browse.${r.op}", i, s"engine.${r.op}") {
            try checks.op(r.op)(exec(r, i, probe, checks))
            catch { case _: Exception => Seq("failed") }
          }
          if (i < Digested) results.put(i.toLong, res.sorted.mkString("\n"))
          lat.synchronized {
            lat += ((r.op, ns))
            last = math.max(last, s0 + ns)
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    wallS = (last - t0) / 1e9
  }

  def endToEnd(setupS: Double): Map[String, M] = {
    val ms = lat.map(_._2 / 1e6).toSeq
    Map(
      "setup_s" -> M(setupS, "s"),
      "p50_ms" -> M(Stats.median(ms), "ms"),
      "p75_ms" -> M(Stats.pct(ms, 0.75), "ms"),
      "throughput_per_s" -> M(ms.size / wallS, "1/s"),
      "store_bytes_per_item" -> M(Disk.usage(starDir)._2.toDouble / total, "B"))
  }

  override def details: Map[String, Any] = Map("requests" -> lat.size,
    "op_median_ms" -> lat.groupBy(_._1).map { case (op, xs) =>
      op -> Stats.median(xs.map(_._2 / 1e6).toSeq) })

  def perLayer(probe: Probe): Map[String, M] = {
    val spans = probe.allSpans.groupBy(_.name)
    def medMs(name: String) = spans.get(name)
      .map(ss => Stats.median(ss.map(s => (s.end - s.start) / 1e6))).getOrElse(0.0)
    val perOp = BrowseMix.Ops.flatMap { op =>
      val g = probe.group(s"engine.$op")
      val calls = math.max(1, spans.get(s"browse.$op").map(_.size).getOrElse(0))
      Seq(
        s"engine.$op.wall_ms" -> M(medMs(s"browse.$op"), "ms"),
        s"engine.$op.plan_ms" -> M(medMs(s"engine.$op.plan"), "ms"),
        s"engine.$op.jobs" -> M(g.jobs.get.toDouble / calls, "count"),
        s"engine.$op.stages" -> M(g.stages.get.toDouble / calls, "count"),
        s"engine.$op.tasks" -> M(g.tasks.get.toDouble / calls, "count"),
        s"engine.$op.task_run_s" -> M(g.runMs.get / 1e3 / calls, "s"),
        s"engine.$op.task_deser_s" -> M(g.deserMs.get / 1e3 / calls, "s"))
    }
    (perOp ++ Seq(
      "engine.search_cache_hit_ratio" ->
        M(if (lookups.get == 0) 0.0 else hits.get.toDouble / lookups.get, "ratio"),
      "search.parse_us" -> M(if (parseNs.isEmpty) 0.0
        else Stats.median(parseNs.map(_ / 1e3).toSeq), "us"),
      "cachebuilder.full.build_s" -> M(buildS, "s"),
      "msgvault.open_ms" -> M(openMs, "ms"))).toMap
  }

  def close(): Unit = if (engine != null) engine.releaseCaches()
}
