package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.BusDrain
import graft.{Session, SparkEntry}
import graft.queries.dropMemo

/** Dev tool: the per-query profile of SparkEntry.benchQueries entries, in
  * the timing layout [[graft.Bench]] runs (cached tables, warm JIT). For
  * each query it prints:
  *
  *   - the formatted physical plan, once;
  *   - the cold wall (first run in this JVM) and the best-of-[[Runs]]
  *     warm wall;
  *   - the floor split: DataFrame build (analysis), planning (optimizer +
  *     physical), execution (warm best − build − plan), each a best of
  *     [[Runs]]. A query that runs jobs while it is built (the sink
  *     roundtrips) charges them to build;
  *   - per warm run: jobs, executed stages, tasks, and summed task run /
  *     deserialize / result-serialize / GC time. The gap between wall and
  *     task time ÷ cores is driver-side: DAG submission, stage barriers,
  *     the sink commit;
  *   - a per-stage table of the best warm run, naming the stage that
  *     carries an anomaly in a multi-job query;
  *   - for a memoized query (an index, pair table or merge table built
  *     once per session), `rebuild_best`: the best of [[Runs]] with the
  *     memo dropped before each run, so the operator is timed and not
  *     only the memo probe. The memo is left empty after each query.
  *
  * Every run is tagged with a job group (`<query>#<run>`), so the
  * listener charges each job, stage and task to the run that caused it.
  *
  * Exits non-zero, naming them, when any query fails.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [names...]  (default: all)
  */
object Profile {
  val Runs = 4

  /** The local property `SparkContext.setJobGroup` sets. */
  private val GroupKey = "spark.jobGroup.id"

  /** Task metrics summed over one stage's tasks. */
  final class StageStat(val id: Int) {
    var name = ""
    var tasks = 0
    var runMs, deserMs, resSerMs, gcMs = 0L
  }

  /** Charges every job, executed stage and task to the job group set on
    * the submitting thread when its job started; untagged work (the
    * table cache, plan printing) is not recorded. */
  final class GroupListener extends SparkListener {
    private val stageGroup = mutable.Map[Int, String]()
    private val jobs = mutable.Map[String, Int]().withDefaultValue(0)
    private val stages = mutable.Map[String, mutable.Map[Int, StageStat]]()

    private def stat(stageId: Int): Option[StageStat] =
      stageGroup.get(stageId).map(g => stages.getOrElseUpdate(g,
        mutable.Map()).getOrElseUpdate(stageId, new StageStat(stageId)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .foreach { g =>
          jobs(g) += 1
          e.stageIds.foreach(stageGroup(_) = g)
        }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized(stat(e.stageInfo.stageId).foreach(_.name = e.stageInfo.name))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stat(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.deserMs += m.executorDeserializeTime
        s.resSerMs += m.resultSerializationTime
        s.gcMs += m.jvmGCTime
      }
    }

    def jobsOf(group: String): Int = synchronized(jobs(group))

    def stagesOf(group: String): Seq[StageStat] = synchronized(
      stages.get(group).fold(Seq.empty[StageStat])(_.values.toSeq.sortBy(_.id)))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [names...]")
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.benchQueries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.benchQueries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.timing()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.cacheAll(spark, sfDir)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val failed = names.filter { name =>
      try { profile(spark, sfDir, name, listener); false }
      catch { case e: Throwable =>
        println(s"[profile] $name FAILED ${String.valueOf(e.getMessage).take(200)}")
        dropMemo(spark) // the next query's rebuild check sees only its own
        true
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      println(s"[profile] ${failed.size} query(ies) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  private def profile(spark: SparkSession, sfDir: String, name: String,
      listener: GroupListener): Unit = {
    val fn = SparkEntry.benchQueries(name)
    val sc = spark.sparkContext
    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(group: String): Double = {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try secs(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      finally sc.clearJobGroup()
    }

    val cold = run(s"$name#cold")
    println(s"\n========== $name ==========")
    fn(spark, sfDir).explain("formatted")
    val floor = Seq.fill(Runs) {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      ((System.nanoTime() - t0) / 1e9, secs(df.queryExecution.executedPlan))
    }
    val build = floor.map(_._1).min
    val plan = floor.map(_._2).min
    val groups = (1 to Runs).map(i => s"$name#$i")
    val warm = groups.map(run)
    BusDrain(sc)

    val all = groups.flatMap(listener.stagesOf)
    def perRun(f: StageStat => Long): Double = all.map(f).sum / 1000.0 / Runs
    println(f"[profile] $name%-28s cold=$cold%.3f s  warm_best=${warm.min}%.3f s  " +
      f"(best of $Runs)")
    println(f"[profile] $name%-28s build=$build%.3f s  plan=$plan%.3f s  " +
      f"exec=${warm.min - build - plan}%.3f s")
    println(f"[profile] $name%-28s per warm run: " +
      f"jobs=${groups.map(listener.jobsOf).sum.toDouble / Runs}%.1f " +
      f"stages=${all.size.toDouble / Runs}%.1f " +
      f"tasks=${all.map(_.tasks).sum.toDouble / Runs}%.1f " +
      f"task_run=${perRun(_.runMs)}%.3f s deser=${perRun(_.deserMs)}%.3f s " +
      f"result_ser=${perRun(_.resSerMs)}%.3f s gc=${perRun(_.gcMs)}%.3f s")
    val bestRun = groups(warm.indexOf(warm.min))
    println(f"[profile] $name%-28s stages of warm run $bestRun:")
    println(f"[profile]   ${"stage"}%6s ${"tasks"}%6s ${"run_s"}%8s " +
      f"${"deser_s"}%8s ${"res_ser_s"}%9s ${"gc_s"}%7s  name")
    listener.stagesOf(bestRun).foreach { s =>
      println(f"[profile]   ${s.id}%6d ${s.tasks}%6d ${s.runMs / 1000.0}%8.3f " +
        f"${s.deserMs / 1000.0}%8.3f ${s.resSerMs / 1000.0}%9.3f " +
        f"${s.gcMs / 1000.0}%7.3f  ${s.name.take(80)}")
    }

    if (dropMemo(spark) > 0) {
      val rebuild = (1 to Runs).map { i =>
        val t = run(s"$name#rebuild$i")
        dropMemo(spark)
        t
      }
      println(f"[profile] $name%-28s rebuild_best=${rebuild.min}%.3f s  " +
        f"(best of $Runs, memo dropped before each)")
    }
  }
}
