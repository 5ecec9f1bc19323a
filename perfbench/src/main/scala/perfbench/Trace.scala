package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{classic, DataFrame, SparkSession}

/** Spark work charged to one job group: jobs, executed stages, tasks and
  * the task metrics the per-layer counters are made of. */
final class GroupAcc {
  val jobs, stages, tasks = new AtomicLong
  val runMs, deserMs, shuffleWriteB, spillB = new AtomicLong
}

/** Benchmark-side listener: attributes every job, stage and task to the
  * job group that was set on the client thread when the job started.
  * Group ids are `<layer.op>|<request id>`; counters aggregate per
  * `<layer.op>`. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, GroupAcc]()

  private def acc(op: String): GroupAcc =
    groups.computeIfAbsent(op, _ => new GroupAcc)

  private def opOf(group: String): String =
    if (group == null) "none" else group.takeWhile(_ != '|')

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(Option(e.properties)
      .map(_.getProperty(GroupListener.GroupKey)).orNull)
    acc(op).jobs.incrementAndGet()
    e.stageIds.foreach(id => stageGroup.put(id, op))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId))
      .foreach(op => acc(op).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(Option(stageGroup.get(e.stageId)).getOrElse("none"))
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(m.executorRunTime)
      a.deserMs.addAndGet(m.executorDeserializeTime)
      a.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object GroupListener {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the top), `req` the request it serves. Times are ns since the run's
  * origin. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Long, end: Long)

/** Times calls into the program's layers from outside. Untraced, it only
  * measures wall time. Traced, it also records spans in memory, sets a
  * job group on the calling thread around each call and attaches the
  * listener above — so the end-to-end figures always come from a run
  * without any of that. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val nextSpan = new AtomicLong(0)
  private val spans = ArrayBuffer[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }
  private val listener: Option[GroupListener] =
    if (traced) { val l = new GroupListener; sc.addSparkListener(l); Some(l) }
    else None

  /** Runs `f` as the span `name` (a `<layer>.<op>[.<phase>]` name) and
    * returns its result with its wall time in ns. The job group is
    * `<group>|<req>`, `group` defaulting to the span name. */
  def timed[T](name: String, req: Long, group: String = null)(f: => T): (T, Long) = {
    val parent = current.get
    val id = if (traced) nextSpan.incrementAndGet() else 0L
    val prevGroup = if (traced) sc.getLocalProperty(GroupListener.GroupKey) else null
    if (traced) {
      current.set(id)
      sc.setJobGroup(s"${Option(group).getOrElse(name)}|$req", name,
        interruptOnCancel = false)
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, System.nanoTime() - t0)
    } finally {
      val t1 = System.nanoTime()
      if (traced) {
        current.set(parent)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setLocalProperty(GroupListener.GroupKey, prevGroup)
        spans.synchronized {
          spans += Span(id, parent, req, name, t0 - origin, t1 - origin)
        }
      }
    }
  }

  def call[T](name: String, req: Long, group: String = null)(f: => T): T =
    timed(name, req, group)(f)._1

  /** Listener counters per `<layer.op>`, after the bus has drained. */
  def groups: Map[String, GroupAcc] = listener match {
    case Some(l) =>
      org.apache.spark.perfbench.BusDrain(sc)
      l.groups.asScala.toMap
    case None => Map.empty
  }

  def group(op: String): GroupAcc = groups.getOrElse(op, new GroupAcc)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name in seconds: each span's duration minus the
    * part of its interval its child spans cover. */
  def selfTimes: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Writes every span as one JSON line. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.start).foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Reads the session's cache from outside the program. */
object CacheProbe {
  /** Id of the persistent RDD holding `df`'s in-memory buffers, when `df`
    * is cached and its buffers have been built. */
  def bufferRdd(df: DataFrame): Option[Int] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers.id)
  }
}
