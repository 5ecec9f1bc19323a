package graft.queries

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import graft.SparkTestBase
import graft.engine.MsgEngine
import graft.model._
import graft.sources.Tables

/** Shared mutable state under contention: the memo grace queue and the
  * per-engine volatile relative-date search slot, each spec'd alone
  * elsewhere, run together here. Two engines on the base session and
  * one on a `newSession()` (own SQL conf, SHARED CacheManager — the
  * sharing that makes cross-session eviction casualties possible); six
  * threads run the same six ops round-robin across them with
  * releaseGraceMs=1500, and every answer must equal its single-threaded
  * value.
  */
class ConcurrentEnginesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val GraceKey = "spark.graft.memo.releaseGraceMs"
  private val Threads = 6
  private val ItersPerThread = 10

  /** Paged search, aggregate (broadcast dims), list page, the LRU'd
    * stats search, the volatile relative-date slot, text conversations. */
  private val ops: Seq[(String, MsgEngine => Long)] = Seq(
    ("search_page", e => e.searchFast("invoice",
      MessageFilter(pagination = Pagination(limit = 25))).count()),
    ("agg_senders", e => e.aggregate(ViewType.Senders,
      AggregateOptions(limit = 50)).count()),
    ("list_page", e => e.listMessages(MessageFilter(
      label = "personal", withAttachmentsOnly = true,
      pagination = Pagination(limit = 20, offset = 5))).count()),
    ("stats_search", e => e.searchFastWithStats("invoice").totalCount),
    ("volatile_slot", e =>
      e.searchFastWithStats("invoice newer_than:1y").totalCount),
    ("text_convs", e => e.listConversations(TextFilter()).count()))

  test("3 engines on 2 sessions × 6 threads: every answer right, persisted RDDs bounded") {
    val sparkB = spark.newSession()
    val prior = spark.conf.getOption(GraceKey)
    def mkEngine(s: SparkSession): MsgEngine =
      FacadeQueries.checkpointedEngine(
        FacadeQueries.starFromDocs(s, Tables.load(s, sf, "documents")))
    var engines = Seq.empty[MsgEngine]
    try {
      spark.conf.set(GraceKey, "1500")
      sparkB.conf.set(GraceKey, "1500")
      engines = Seq(mkEngine(spark), mkEngine(spark), mkEngine(sparkB))

      // the engines share a corpus, so one engine's answers are every
      // engine's expectations
      val expected = ops.map { case (n, f) => n -> f(engines.head) }.toMap
      val failures = new ConcurrentLinkedQueue[String]()
      val done = new AtomicLong(0)
      val pool = Executors.newFixedThreadPool(Threads)
      val start = new CountDownLatch(1)
      val rdds0 = spark.sparkContext.getPersistentRDDs.size
      (0 until Threads).foreach { tid =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            (0 until ItersPerThread).foreach { i =>
              val (name, f) = ops((tid + i) % ops.length)
              val e = engines((i + tid * 7) % engines.length)
              try {
                val got = f(e)
                if (got != expected(name))
                  failures.add(s"$name@t$tid/i$i: got $got want ${expected(name)}")
                done.incrementAndGet()
              } catch {
                case ex: Throwable =>
                  failures.add(s"$name@t$tid/i$i: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
              }
              ()
            }
          }
        })
        ()
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(10, TimeUnit.MINUTES), "soak did not finish")

      // past the grace one more query drains the retire queue; the
      // search caches are then flushed
      Thread.sleep(1600)
      engines.head.searchFast("invoice",
        MessageFilter(pagination = Pagination(limit = 5))).count()
      engines.foreach(_.invalidateSearchCache())
      val rdds2 = spark.sparkContext.getPersistentRDDs.size

      assert(failures.isEmpty, failures.toArray.mkString("\n"))
      assert(done.get() == Threads.toLong * ItersPerThread)
      // a bound, not an exact count: the star engines pin their
      // localCheckpoints (4 frames × 3 engines), volatile slots ≤ 3
      assert(rdds2 <= rdds0 + 24,
        s"persisted RDDs grew unboundedly: $rdds0 -> $rdds2")
    } finally {
      prior.fold(spark.conf.unset(GraceKey))(spark.conf.set(GraceKey, _))
      engines.foreach(_.releaseCaches())
      // wait out the grace, then one memo op drains anything retired
      // under it, so no retired artifact outlives this spec
      Thread.sleep(1600)
      DocQueries.queryVector(spark, sf)
      ()
    }
  }
}
