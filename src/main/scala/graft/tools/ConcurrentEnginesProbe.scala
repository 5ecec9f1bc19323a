package graft.tools

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.SparkSession
import graft.engine.MsgEngine
import graft.model._
import graft.queries.FacadeQueries
import graft.sources.Tables

/** Dev tool: concurrent-engines soak for shared mutable state — the
  * memoized-index grace queue and the per-engine volatile relative-date
  * search slot. Each is spec'd in isolation; this probe runs them
  * together under real contention:
  *
  *   - TWO MsgEngine instances on the base session + ONE on a second
  *     `spark.newSession()` (separate SQL conf, SHARED CacheManager —
  *     the sharing that makes cross-session eviction casualties possible)
  *   - 6 worker threads hammering paged search / aggregate / list /
  *     stats surfaces round-robin across the three engines, with
  *     releaseGraceMs=1500 so memo evictions defer behind in-flight
  *     queries — the exact failure mode ADVICE r10 flagged
  *   - every op's row-/value-shape is precomputed single-threaded first;
  *     any deviation (or exception) under contention is a failure
  *
  * Pass = N queries, 0 failures, 0 wrong answers, and persisted-RDD
  * count back to a bounded level after the soak (grace queue drain;
  * the search-stats LRU keeps its ≤32 by design).
  *
  * Usage: runMain graft.tools.ConcurrentEnginesProbe [sfDir] [itersPerThread]
  */
object ConcurrentEnginesProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val iters = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = graft.Session.oracle(
      "spark.graft.memo.releaseGraceMs" -> "1500")
    spark.sparkContext.setLogLevel("ERROR")
    val sparkB = spark.newSession()
    sparkB.conf.set("spark.graft.memo.releaseGraceMs", "1500")

    def mkEngine(s: SparkSession): MsgEngine =
      FacadeQueries.checkpointedEngine(
        FacadeQueries.starFromDocs(s, Tables.load(s, sfDir, "documents")))
    val engines = Seq(mkEngine(spark), mkEngine(spark), mkEngine(sparkB))

    // the op mix: page materialization, aggregate
    // (broadcast dims), LRU'd stats search, volatile relative-date slot
    val ops: Seq[(String, MsgEngine => Long)] = Seq(
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

    // single-threaded expectations per engine (engines share a corpus,
    // so expectations are identical — computed per op once)
    val expected: Map[String, Long] =
      ops.map { case (n, f) => n -> f(engines.head) }.toMap
    println(s"[soak] expectations: $expected")

    val failures = new ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicLong(0)
    val pool = Executors.newFixedThreadPool(6)
    val start = new CountDownLatch(1)
    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    val t0 = System.nanoTime()
    (0 until 6).foreach { tid =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          (0 until iters).foreach { i =>
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
    pool.awaitTermination(20, TimeUnit.MINUTES)
    val wall = (System.nanoTime() - t0) / 1e9
    val rdds1 = spark.sparkContext.getPersistentRDDs.size

    // let the grace window pass and run one more query, then flush the
    // search caches
    Thread.sleep(1600)
    engines.head.searchFast("invoice",
      MessageFilter(pagination = Pagination(limit = 5))).count()
    engines.foreach(_.invalidateSearchCache())
    val rdds2 = spark.sparkContext.getPersistentRDDs.size

    println(f"[soak] ${done.get()} queries over 6 threads × 3 engines " +
      f"(2 sessions) in ${wall}%.1f s; failures=${failures.size}")
    println(s"[soak] persistentRDDs: before=$rdds0 after-soak=$rdds1 " +
      s"after-drain=$rdds2 (grace window; LRU flushed)")
    failures.forEach(f => println(s"[soak] FAIL $f"))
    val totalQ = 6L * iters
    require(failures.isEmpty, s"${failures.size} failures")
    require(done.get() == totalQ, s"${done.get()} != $totalQ")
    // bound, not exact: the star engines pin their localCheckpoints
    // (4 frames × 3 engines), volatile slots ≤3
    require(rdds2 <= rdds0 + 24,
      s"persisted RDDs grew unboundedly: $rdds0 -> $rdds2")
    println("[soak] PASS")
    spark.stop()
  }
}
