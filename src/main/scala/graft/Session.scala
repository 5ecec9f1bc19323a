package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Two layouts, the two the repo
  * gates on:
  *
  *   - [[oracleConf]]: what the correctness dump ([[Verify]]) runs —
  *     `local[cpus]`, shuffle partitions = cpus, AQE at the Spark
  *     default;
  *   - [[timingConf]]: what the timing harness ([[Bench]]) runs —
  *     `local[cpus]`, 8 shuffle partitions (600k-row shuffles are
  *     task-overhead-bound) and AQE off (these are sub-second warm-cache
  *     queries where each AQE stage barrier re-plans the DAG and the
  *     exchanges it would optimize hold a few MB — measured total 7.4 s
  *     vs 8.0 s, dedup_minhash 0.54 s vs 0.86 s). AQE stays on in the
  *     oracle layout and the tests: runtime coalescing and skew-join
  *     splitting are the scale story.
  *
  * Both run in UTC with the UI off. Conf building is pure (key/value
  * pairs) and separate from [[start]], so a spec can pin a layout
  * without starting a second session. Callers add static extras — a
  * warehouse dir, a metastore URL — but never override a layout key.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else (or when it is `*`, Spark's all-cores
    * spelling) the host's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_ != "*")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def oracleConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def timingConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.ui.enabled" -> "false")

  /** Oracle layout at [[cpus]], plus `extra`. */
  def oracle(extra: (String, String)*): SparkSession =
    start(oracleConf(cpus), extra)

  /** Timing layout at [[cpus]], plus `extra`. */
  def timing(extra: (String, String)*): SparkSession =
    start(timingConf(cpus), extra)

  def start(layout: Seq[(String, String)],
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val clash = extra.map(_._1).toSet.intersect(layout.map(_._1).toSet)
    require(clash.isEmpty, s"extras may not override layout keys: $clash")
    (layout ++ extra).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  }
}
