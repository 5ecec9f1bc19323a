package graft

import org.apache.spark.sql.SparkSession

/** Every volume → partition, file and shard count the engine picks. Each
  * count is one [[count]] over a per-unit target, stated with its reason
  * in the function of its work class. Apart from [[cores]], nothing here
  * reads a session, so a spec can pin every site at every corpus and
  * core count without starting Spark. The measurements behind the
  * targets are in BASELINE.md, "Sizing rules (history)".
  */
object Sizing {

  /** clamp(ceil(volume / perUnit), floor, cap): exactly one unit of
    * volume is one count, and `floor` wins where it exceeds `cap`. */
  def count(volume: Long, perUnit: Long, floor: Int, cap: Int): Int = {
    val units = if (volume <= 0L) 0L else (volume - 1L) / perUnit + 1L
    math.max(floor.toLong, math.min(cap.toLong, units)).toInt
  }

  /** The session's core count: the one read of `defaultParallelism`. */
  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Cached partitions of one sf table of `rows` rows (counted only for
    * the tables sized by volume). */
  def cacheParts(table: String, rows: => Long, cores: Int): Int = table match {
    // extra map partials lose on the aggregate-dominated fact queries
    case "lineitem" | "orders" | "events" => math.max(1, cores / 4)
    // documents feed per-row-heavy tokenize/shingle pipelines
    case "documents" => count(rows, 625L, math.max(1, cores / 4), cores)
    // embeddings feed the per-row posexplode centroid pass
    case "embeddings" => count(rows, 5000L, 1, cores)
    // the remaining dimension tables are cheap per row
    case _ => count(rows, 100000L, 1, cores / 2)
  }

  /** Round-robin target for a scan of `nFiles` files, when so few files
    * would serialize compute-heavy work; None leaves it as it is. A
    * non-file scan (0 files) is never spread. */
  def spreadTo(nFiles: Int, cores: Int): Option[Int] =
    if (nFiles > 0 && nFiles < math.min(4, cores)) Some(cores) else None

  /** Salt of the cluster scan: about two (cluster, salt) groups per core
    * for `hint` expected clusters, at most 32; 1 when no hint is given. */
  def clusterSalt(hint: Int, cores: Int): Int =
    if (hint <= 0) 1 else count(2L * cores, hint.toLong, 1, 32)

  // 50k messages, a few hundred MB of MIME: one shard per readMbox
  // fast-path task
  def mboxShards(rows: Long, cap: Int): Int = count(rows, 50000L, 1, cap)

  // 4M tokens: one bucket of packs stays inside a reader task's memory
  def packShards(tokens: Long): Int = count(tokens, 4000000L, 1, 4096)

  // 500k tokens: one file per small micro-batch, fan-out for a large one
  def streamPackFiles(tokens: Long, cores: Int): Int = count(tokens, 500000L, 1, cores)

  // 250k members: one file per typical deletion manifest
  def manifestFiles(rows: Long, cores: Int): Int = count(rows, 250000L, 1, cores)

  // 128 MiB, the usual Parquet file size; at most 32 files, because one
  // file would funnel a large compaction through one task
  def compactFiles(bytes: Long): Int = count(bytes, 128L << 20, 1, 32)
}
