package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{BpeVocab, Curation, Dedup, Packing, Similarity}

/** curation_batch: one closed-loop client running passes of the LLM-data
  * pipeline over the scaled document/vector corpus, cached in memory. Each
  * step's output is materialized so the steps time separately; checks run
  * after the timed step, outside the timed wall. The window runs whole
  * passes until `seconds` have passed (at least one); a pass is the
  * client's request, so latencies are pass walls. */
final class Batch(spark: SparkSession, seed: Long, work: String, data: String)
    extends Workload {
  val SeqLen = 512
  val NList = 16
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var nDocs, nVecs = 0L
  private var cacheS, cachedMb = 0.0
  private val passes = mutable.ArrayBuffer[Map[String, Double]]()
  private var verified, candidates = 0L
  private var packTokens, packs, packBytes = 0L

  private var digest = ""
  private def docsOf(s: Long) = Gen.scaledDocs(spark, s, data)
  private def vecsOf(s: Long) = Gen.scaledVecs(spark, s, data)

  def setup(i: Int): Unit = {
    Option(docs).foreach(_.unpersist(true))
    Option(vecs).foreach(_.unpersist(true))
    val par = spark.sparkContext.defaultParallelism
    docs = docsOf(seed).repartition(par).persist(StorageLevel.MEMORY_ONLY)
    vecs = vecsOf(seed).repartition(par).persist(StorageLevel.MEMORY_ONLY)
    val t0 = System.nanoTime()
    nDocs = docs.count()
    nVecs = vecs.count()
    cacheS = (System.nanoTime() - t0) / 1e9
    cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  def inputDigest(s: Long): String =
    Gen.digestAll(Seq(docsOf(s), vecsOf(s)))

  def corpus: Map[String, Any] = Map("documents" -> nDocs, "vectors" -> nVecs,
    "dim" -> 64, "copies" -> Gen.Copies, "nlist" -> NList, "seq_len" -> SeqLen)

  /** Rows of `df` whose column `c` is not a `key` of `from`. */
  private def strays(df: DataFrame, c: String, from: DataFrame, key: String): DataFrame =
    df.select(col(c).as("__k")).join(from.select(col(key).as("__k")),
      Seq("__k"), "left_anti")

  /** One pass; returns (step -> wall s) and the digest of its outputs.
    * Each step is one checked operation: its timed call, then its output
    * check and digest, untimed. */
  private def pass(docs: DataFrame, vecs: DataFrame, probe: Probe, checks: Checks,
      req: Long): (Map[String, Double], String) = {
    val walls = mutable.LinkedHashMap[String, Double]()
    val digests = mutable.ArrayBuffer[String]()
    val held = mutable.ArrayBuffer[DataFrame]()
    def step[T](name: String, what: String)(f: => T)(ok: T => Boolean,
        digest: T => String): T = checks.op(name) {
      val (r, ns) = probe.timed(s"operators.$name", req)(f)
      walls(name) = ns / 1e9
      checks(s"$name: $what", ok(r))
      digests += digest(r)
      r
    }
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); held += p; p.count(); p
    }
    def none(df: DataFrame): Boolean = df.isEmpty
    try {
      val curated = step("curate", "survivors are input documents")(keep(
        Curation.curate(docs, col("doc_id"), col("text"), minQuality = 0.5)))(
        c => none(strays(c, "doc_id", docs, "doc_id")), Gen.digest)

      step("dedup_exact", "members are input documents, winner is a member")(keep(
        Dedup.exactGroups(docs, col("doc_id"), col("text"))))(g =>
        none(strays(g.select(explode(col("member_ids")).as("m")), "m", docs,
          "doc_id")) &&
        none(g.filter(!array_contains(col("member_ids"), col("winner_id")) ||
          size(col("member_ids")) =!= col("dup_count"))), Gen.digest)

      val near = step("dedup_minhash", "ordered pairs of input documents above threshold")(
        keep(Dedup.nearDuplicates(docs, col("doc_id"), col("text"))))(n =>
        none(strays(n.select(explode(array(col("id_a"), col("id_b"))).as("m")),
          "m", docs, "doc_id")) &&
        none(n.filter(col("id_a") >= col("id_b") || col("jaccard") < 0.8)),
        Gen.digest)
      if (probe.traced) {
        verified += near.count()
        candidates += Dedup.minhashCandidates(docs, col("doc_id"), col("text")).count()
      }

      val (assigned, _) = step("semantic_dedup",
          "each duplicate once, kept vector is another input vector") {
        val a = keep(Similarity.semanticAssign(vecs, col("vec_id"), col("embedding"),
          nList = NList))
        (a, keep(Similarity.semanticDupes(a, eps = 0.33, clusterHint = NList)))
      }({ case (_, d) =>
        none(d.filter(col("dup_id") === col("kept_id"))) &&
        d.select("dup_id").distinct().count() == d.count() &&
        none(strays(d, "kept_id", vecs, "vec_id"))
      }, r => Gen.digest(r._2))

      step("knn_graph", "at most k neighbours per node, none of them itself")(keep(
        Similarity.knnGraph(assigned, k = 5, clusterHint = NList)))(k =>
        none(k.groupBy("vec_id").count().filter(col("count") > 5)) &&
        none(k.filter(col("vec_id") === col("neighbor_id"))), Gen.digest)

      val merges = step("bpe_learn", "six distinct merges")(
        BpeVocab.learnMerges(docs, col("text"), iterations = 6)
          .orderBy("iteration").collect().map(_.getString(1)).toSeq)(
        m => m.size == 6 && m.distinct.size == 6, _.mkString("|"))

      step("bpe_apply", "subwords belong to input documents")(keep(
        BpeVocab.applyMerges(docs, col("doc_id"), col("text"), merges)))(sw =>
        none(strays(sw.select("doc_id").distinct(), "doc_id", docs, "doc_id")),
        Gen.digest)

      val out = s"$work/packs"
      val toPack = docs.join(curated.select("doc_id"), Seq("doc_id"), "left_semi")
      step("pack_write", "tokens conserved")(Packing.writePacks(toPack,
        col("doc_id"), split(col("text"), " "), SeqLen, out))({ _ =>
        val r = spark.read.parquet(out)
          .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L))).head()
        packs = r.getLong(0); packTokens = r.getLong(1)
        packBytes = Disk.usage(out)._2
        packTokens == toPack.agg(coalesce(sum(size(split(col("text"), " "))),
          lit(0L))).head().getLong(0)
      }, _ => s"$packs:$packTokens")
      (walls.toMap, Gen.combine(digests.toSeq))
    } finally held.foreach(_.unpersist(false))
  }

  /** None: a pipeline job runs once per process, so its users pay JIT and
    * code generation on every run. The first measured pass is cold; a
    * pass takes longer than the window, so a run measures that one pass. */
  def warmup(checks: Checks): Unit = ()

  def resultDigest: String = digest

  def measure(probe: Probe, checks: Checks, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var req = 1L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      try {
        val (walls, d) = pass(docs, vecs, probe, checks, req)
        passes += walls
        if (digest.isEmpty) digest = d
      } catch { case _: Exception => () }
      req += 1
      require(passes.nonEmpty || req <= 3, "no curation pass completed")
    }
  }

  override def details: Map[String, Any] = Map("step_wall_s" -> passes.toSeq)

  private def passMs = passes.map(_.values.sum * 1e3).toSeq

  def endToEnd(setupS: Double): Map[String, M] = Map(
    "setup_s" -> M(setupS, "s"),
    "p50_ms" -> M(Stats.median(passMs), "ms"),
    "p75_ms" -> M(Stats.pct(passMs, 0.75), "ms"),
    "throughput_per_s" -> M(nDocs * passes.size / (passMs.sum / 1e3), "1/s"),
    "store_bytes_per_item" -> M(packBytes.toDouble / nDocs, "B"))

  def perLayer(probe: Probe): Map[String, M] = {
    val n = math.max(1, passes.size).toDouble
    Layers.Steps.flatMap { st =>
      val g = probe.group(s"operators.$st")
      Seq(
        s"operators.$st.wall_s" -> M(Stats.median(passes.map(_(st)).toSeq), "s"),
        s"operators.$st.task_run_s" -> M(g.runMs.get / 1e3 / n, "s"),
        s"operators.$st.shuffle_write_mb" -> M(g.shuffleWriteB.get / 1048576.0 / n, "MB"),
        s"operators.$st.spill_mb" -> M(g.spillB.get / 1048576.0 / n, "MB"))
    }.toMap ++ Map(
      "operators.dedup_minhash.verified_per_candidate" ->
        M(if (candidates == 0) 0.0 else verified.toDouble / candidates, "ratio"),
      "operators.pack_write.fill_ratio" ->
        M(if (packs == 0) 0.0 else packTokens.toDouble / (packs * SeqLen), "ratio"),
      "sources.cache_s" -> M(cacheS, "s"),
      "sources.cached_mb" -> M(cachedMb, "MB"))
  }

  def close(): Unit = {
    Option(docs).foreach(_.unpersist(false))
    Option(vecs).foreach(_.unpersist(false))
  }
}
