package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Outcome tally per operation: an operation fails when it throws or
  * when any check made while it runs fails. A check made outside an
  * operation counts as one operation of its own. */
final class Checks {
  private var attempted0, failed0 = 0L
  private val notes = mutable.LinkedHashMap[String, Int]()
  private val open = new ThreadLocal[Array[Boolean]]

  /** Runs `body` as one operation; exceptions propagate after counting. */
  def op[T](what: String)(body: => T): T = {
    val ok = Array(true)
    open.set(ok)
    try body
    catch { case e: Exception =>
      ok(0) = false; note(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
      throw e
    } finally {
      open.remove()
      synchronized { attempted0 += 1; if (!ok(0)) failed0 += 1 }
    }
  }

  def apply(what: String, cond: => Boolean): Boolean = {
    val passed = try cond catch { case e: Exception =>
      note(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    if (!passed) note(what)
    Option(open.get) match {
      case Some(ok) => if (!passed) ok(0) = false
      case None => synchronized { attempted0 += 1; if (!passed) failed0 += 1 }
    }
    passed
  }

  private def note(s: String): Unit = synchronized {
    val k = s.take(300); notes(k) = notes.getOrElse(k, 0) + 1
  }
  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def summary: Map[String, Int] = synchronized(notes.take(20).toMap)
}

/** Progress lines on stderr, with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** One workload: set up its inputs (several times, so set-up time is a
  * median), warm up, then drive the program for the measured window and
  * digest a fixed part of its results. */
trait Workload {
  /** One complete set-up, timed. The last set-up's state is measured;
    * the first runs on a cold JVM, so the median is a warm one. */
  def setup(i: Int): Unit
  /** Digest of every input the seed generates (untimed). */
  def inputDigest(seed: Long): String
  /** Untimed warm-up, so the measured window starts with a warm JIT. */
  def warmup(checks: Checks): Unit
  /** The measured window. */
  def measure(probe: Probe, checks: Checks, seconds: Double): Unit
  /** Digest of a fixed set of measured results, for the committed check. */
  def resultDigest: String
  def endToEnd(setupS: Double): Map[String, M]
  def perLayer(probe: Probe): Map[String, M]
  def corpus: Map[String, Any]
  /** Extra per-run readings for the run record. */
  def details: Map[String, Any] = Map.empty
  def close(): Unit
}

/** Runs one workload for one seed and prints the run record and, as the
  * last line, the result object. Invoked by run.py. */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val data = opts("data")
    val expected = opts.get("expected-digest")
    Log("start")
    val nproc = Runtime.getRuntime.availableProcessors()
    val load0 = Host.loadavg()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val w: Workload = workload match {
      case "archive_browse" => new Browse(spark, seed, work)
      case "curation_batch" => new Batch(spark, seed, work, data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checks = new Checks
    val probe = new Probe(spark, traced)
    try {
      val setups = (0 until Setups).map { i =>
        val t0 = System.nanoTime()
        w.setup(i)
        Log(s"setup $i done")
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = Stats.median(setups)
      val heapSetup = Host.liveHeapMb()
      // the three digests run as concurrent jobs
      implicit val ec: ExecutionContext = ExecutionContext.global
      val Seq(digest, again, other) = Seq(seed, seed, seed + 1)
        .map(s => Future(w.inputDigest(s))).map(Await.result(_, Duration.Inf))
      checks("generator: same seed gives the same input digest", again == digest)
      checks("generator: another seed gives another input digest", other != digest)
      Log("self-check done")
      w.warmup(checks)
      Log("warm-up done")

      val gc0 = Host.gcSeconds()
      val steal0 = Host.stealSeconds()
      w.measure(probe, checks, seconds)
      val gcS = Host.gcSeconds() - gc0
      val stealS = Host.stealSeconds() - steal0
      Log("measured")
      val resultDigest = w.resultDigest
      expected.foreach(d => checks(s"result digest at seed $seed", d == resultDigest))

      val e2e = w.endToEnd(setupS) + ("live_heap_mb" -> M(heapSetup, "MB"))
      val metrics =
        if (traced) Layers.complete(w.perLayer(probe) + ("spark.gc_s" -> M(gcS, "s")))
        else e2e
      opts.get("spans").foreach(probe.dump)
      val selfTimes = probe.selfTimes
      val record = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "traced" -> traced, "nproc" -> nproc,
        "master" -> spark.sparkContext.master,
        "conf" -> Seq("spark.sql.shuffle.partitions",
          "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
          .map(k => k -> spark.conf.get(k)).toMap,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "corpus" -> w.corpus,
        "details" -> w.details,
        "input_digest" -> digest,
        "setup_s_each" -> setups,
        "result_digest" -> resultDigest,
        "result_digest_expected" -> expected,
        "check_failures" -> checks.summary,
        "end_to_end" -> e2e.map { case (k, m) => k -> m.value },
        "spark_gc_s" -> gcS,
        "span_self_time_s" -> selfTimes,
        "cpu_steal_s_measured" -> stealS,
        "loadavg_before" -> load0, "loadavg_after" -> Host.loadavg())
      println(Json(Map("run_record" -> record)))
      println(Json(Map(
        "correct" -> (checks.failed == 0),
        "attempted" -> checks.attempted,
        "failed" -> checks.failed,
        "metrics" -> metrics.map { case (k, m) =>
          k -> Map("value" -> m.value, "unit" -> m.unit) })))
    } finally {
      probe.close()
      w.close()
      spark.stop()
    }
  }
}

/** Every per-layer metric with its unit. A traced run reports all of
  * them; a layer the workload does not exercise reads 0. */
object Layers {
  val EngineCounters: Seq[(String, String)] = Seq("wall_ms" -> "ms",
    "plan_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_run_s" -> "s", "task_deser_s" -> "s")
  val Steps: Seq[String] = Seq("curate", "dedup_exact", "dedup_minhash",
    "semantic_dedup", "knn_graph", "bpe_learn", "bpe_apply", "pack_write")
  val StepCounters: Seq[(String, String)] = Seq("wall_s" -> "s",
    "task_run_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")

  val units: Map[String, String] = (
    (for (op <- BrowseMix.Ops; (c, u) <- EngineCounters)
      yield s"engine.$op.$c" -> u) ++
    (for (st <- Steps; (c, u) <- StepCounters)
      yield s"operators.$st.$c" -> u) ++
    Seq(
      "engine.search_cache_hit_ratio" -> "ratio",
      "search.parse_us" -> "us",
      "operators.dedup_minhash.verified_per_candidate" -> "ratio",
      "operators.pack_write.fill_ratio" -> "ratio",
      "sources.cache_s" -> "s",
      "sources.cached_mb" -> "MB",
      "cachebuilder.full.build_s" -> "s",
      "msgvault.open_ms" -> "ms",
      "spark.gc_s" -> "s")).toMap

  def complete(m: Map[String, M]): Map[String, M] = {
    val unknown = m.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    units.map { case (k, u) => k -> m.getOrElse(k, M(0.0, u)) }
  }
}

