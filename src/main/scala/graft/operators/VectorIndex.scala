package graft.operators

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ControlFile

/** Versioned embedding index with a building→active→retired generation
  * lifecycle (reference: internal/vector/sqlitevec/schema.sql:8-29 +
  * backend.go:102-435 — unique active generation, fingerprint for change
  * detection) re-expressed as versioned Parquet directories:
  *
  *   <dir>/gen=<n>/  — (message_id, embedding float[]) rows
  *   <dir>/_index.json — {"active": n, "fingerprint": "..."}
  *
  * Spark-first reasoning: a generation is immutable columnar data; "switch
  * active" is a metadata pointer flip, so readers never see a half-built
  * index; retired generations are just unreferenced directories. At scale
  * a generation can be written by a full cluster job while the previous
  * stays live.
  */
object VectorIndex {

  final case class IndexState(active: Long, fingerprint: String,
      model: String = "", dimension: Int = 0, activatedAt: String = "")

  /** In-flight rebuild marker (reference Generation state=building,
    * backend.go:22-35).
    */
  final case class BuildingState(id: Long, model: String, dimension: Int,
      startedAt: String)

  private def metaPath(dir: String) = new Path(dir, "_index.json")
  private def buildingPath(dir: String) = new Path(dir, "_building.json")

  def readState(dir: String): Option[IndexState] =
    ControlFile.readJson(metaPath(dir)).map(j =>
      IndexState(j.long("active"), j.str("fingerprint"),
        model = j.optStr("model").getOrElse(""),
        dimension = j.optLong("dimension").getOrElse(0L).toInt,
        activatedAt = j.optStr("activated_at").getOrElse("")))

  def readBuilding(dir: String): Option[BuildingState] =
    ControlFile.readJson(buildingPath(dir)).map(j =>
      BuildingState(j.long("id"),
        model = j.optStr("model").getOrElse(""),
        dimension = j.optLong("dimension").getOrElse(0L).toInt,
        startedAt = j.optStr("started_at").getOrElse("")))

  // published through ControlFile (tmp + rename): an in-place write
  // would let a concurrent [[readState]] observe a half-written pointer
  private[graft] def writeState(dir: String, st: IndexState): Unit =
    ControlFile.publishJson(metaPath(dir), ListMap("active" -> st.active,
      "fingerprint" -> st.fingerprint, "model" -> st.model,
      "dimension" -> st.dimension, "activated_at" -> st.activatedAt))

  private def nowUtc(): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(
      java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS))

  /** Reserve the next generation id and mark it building (reference
    * CreateGeneration → state='building', sqlitevec/schema.sql:8-29).
    * The marker makes an in-flight cluster-scale rebuild observable to
    * [[collectStats]] while the previous generation stays live.
    */
  def beginGeneration(dir: String, model: String = "",
      dimension: Int = 0): Long = {
    val next = readState(dir).map(_.active + 1).getOrElse(0L)
    ControlFile.publishJson(buildingPath(dir), ListMap("id" -> next,
      "model" -> model, "dimension" -> dimension, "started_at" -> nowUtc()))
    next
  }

  /** Write the building generation's vectors and atomically activate it
    * (reference ActivateGeneration: the pointer flip is the only mutation
    * readers can observe). No-op marker cleanup when [[beginGeneration]]
    * wasn't called — the one-shot [[buildGeneration]] path.
    */
  def completeGeneration(vectors: DataFrame, dir: String,
      fingerprint: String): Long = {
    val building = readBuilding(dir)
    val next = building.map(_.id)
      .getOrElse(readState(dir).map(_.active + 1).getOrElse(0L))
    vectors.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(s"$dir/gen=$next")
    writeState(dir, IndexState(next, fingerprint,
      model = building.map(_.model).getOrElse(""),
      dimension = building.map(_.dimension).getOrElse(0),
      activatedAt = nowUtc()))
    ControlFile.delete(buildingPath(dir))
    next
  }

  /** Build the next generation from (id, embedding) rows and atomically
    * activate it. Returns the new generation number.
    */
  def buildGeneration(vectors: DataFrame, dir: String,
      fingerprint: String): Long =
    completeGeneration(vectors, dir, fingerprint)

  /** The active generation's vectors; None before any build completes. */
  def active(spark: SparkSession, dir: String): Option[DataFrame] =
    readState(dir).map(st => spark.read.parquet(s"$dir/gen=${st.active}"))

  /** Rebuild needed iff the corpus fingerprint changed (reference
    * backend.go fingerprint check).
    */
  def needsRebuild(dir: String, fingerprint: String): Boolean =
    !readState(dir).exists(_.fingerprint == fingerprint)

  /** [[resolveActive]]'s verdict — the reference's four-way
    * ResolveActiveForFingerprint contract (generations.go:27-49): a
    * serving caller needs to distinguish "index usable" from the three
    * distinct failure stories it reports to the user.
    */
  sealed trait IndexResolution
  object IndexResolution {
    /** Active and fingerprint-compatible. */
    final case class Ready(state: IndexState) extends IndexResolution
    /** Active exists but was built under a DIFFERENT config fingerprint
      * (ErrIndexStale — serve refuses rather than answering from the
      * wrong embedding space).
      */
    final case class Stale(active: String, configured: String)
      extends IndexResolution
    /** No active generation, but a build is in flight (ErrIndexBuilding
      * — "try again soon", not "not configured").
      */
    case object Building extends IndexResolution
    /** Neither active nor building (ErrNotEnabled). */
    case object NotEnabled extends IndexResolution
  }

  /** Resolve the generation a serving caller may use
    * (generations.go:27-49, rule-for-rule): an empty `fingerprint`
    * skips the staleness check (the reference treats "" as
    * unconstrained); with no active generation, an in-flight build
    * resolves Building, else NotEnabled.
    */
  def resolveActive(dir: String,
      fingerprint: String = ""): IndexResolution =
    readState(dir) match {
      case Some(st) =>
        if (fingerprint.nonEmpty && st.fingerprint != fingerprint)
          IndexResolution.Stale(st.fingerprint, fingerprint)
        else IndexResolution.Ready(st)
      case None =>
        if (readBuilding(dir).nonEmpty) IndexResolution.Building
        else IndexResolution.NotEnabled
    }

  /** The throwing face of [[resolveActive]] for serve paths (each arm's
    * message mirrors the reference error the MCP/hybrid layers surface:
    * ErrIndexStale / ErrIndexBuilding / ErrNotEnabled,
    * vector/errors.go via generations.go:27-49). Returns the active
    * generation's vectors when Ready.
    */
  def serveActive(spark: SparkSession, dir: String,
      fingerprint: String = ""): DataFrame =
    resolveActive(dir, fingerprint) match {
      case IndexResolution.Ready(st) =>
        spark.read.parquet(s"$dir/gen=${st.active}")
      case IndexResolution.Stale(active, configured) =>
        throw new IllegalStateException(
          s"vector index is stale: active generation fingerprint " +
            s"'$active' != configured '$configured' — rebuild before " +
            "serving (reference ErrIndexStale: never answer from the " +
            "wrong embedding space)")
      case IndexResolution.Building =>
        throw new IllegalStateException(
          "vector index is building; retry when the generation " +
            "activates (reference ErrIndexBuilding)")
      case IndexResolution.NotEnabled =>
        throw new IllegalStateException(
          "vector search is not enabled: no index generations exist " +
            "(reference ErrNotEnabled)")
    }

  /** Serving-state summary for the active generation (reference
    * GenerationSummary stats.go:37-46).
    */
  final case class GenerationSummary(id: Long, model: String,
      dimension: Int, fingerprint: String, state: String,
      activated_at: String, message_count: Long)

  /** In-flight rebuild summary with queue progress (reference
    * BuildingSummary + Progress stats.go:48-63).
    */
  final case class BuildingSummary(id: Long, model: String,
      dimension: Int, started_at: String, done: Long, total: Long)

  /** Stats-endpoint view (reference StatsView stats.go:15-34). */
  final case class VectorStatsView(enabled: Boolean,
      active: Option[GenerationSummary],
      building: Option[BuildingSummary],
      pending_embeddings_total: Long)

  /** Assemble the stats view (reference CollectStats stats.go:78-133):
    * active-generation serving state, in-flight rebuild progress, and the
    * total pending-embeddings backlog. `pendingActive`/`pendingBuilding`
    * are the caller's queue depths (the pending frame is the caller's —
    * e.g. `Embed.failed(...)` counts — since the queue lives outside the
    * index directory). Missing index → disabled view, mirroring the nil
    * backend contract; an absent active generation during a first build
    * is the normal state, not an error.
    */
  def collectStats(spark: SparkSession, dir: String,
      pendingActive: Long = 0, pendingBuilding: Long = 0): VectorStatsView = {
    val state = readState(dir)
    val building = readBuilding(dir)
    if (state.isEmpty && building.isEmpty)
      return VectorStatsView(enabled = false, None, None, 0L)
    val active = state.map { st =>
      GenerationSummary(st.active, st.model, st.dimension, st.fingerprint,
        state = "active", activated_at = st.activatedAt,
        message_count = spark.read.parquet(s"$dir/gen=${st.active}").count())
    }
    val bld = building.map { b =>
      // progress: rows already written to the building dir (partial
      // cluster output is observable) vs those plus the pending queue
      val gen = new Path(dir, s"gen=${b.id}")
      val done =
        if (gen.getFileSystem(spark.sessionState.newHadoopConf()).exists(gen))
          spark.read.parquet(gen.toString).count()
        else 0L
      BuildingSummary(b.id, b.model, b.dimension, b.startedAt,
        done = done, total = done + pendingBuilding)
    }
    VectorStatsView(enabled = true, active, bld,
      pending_embeddings_total = pendingActive + pendingBuilding)
  }

  /** find_similar_messages (reference mcp/server.go:342-358 +
    * backend.go:606-626): the seed message's stored vector becomes the
    * query; the seed itself is excluded from results. A seed with no
    * stored vector (embedded in a later generation, or a bad id) returns
    * an empty result, not a crash — this is an API-facing path.
    */
  def findSimilar(vectors: DataFrame, seedId: Long, k: Int): DataFrame =
    findSimilar(vectors, vectors, seedId, k)

  /** [[findSimilar]] with a separate candidate frame — the shape the
    * composed surface needs: the reference loads the seed vector from
    * the vector STORE with no liveness or filter check (an embedding
    * outlives its message's soft-delete, sqlitevec/backend.go:300-305),
    * while Search's candidates are constrained to live messages passing
    * the structured filter (backend.go:662-770 — the empty-filter fast
    * path over-fetches and drops deleted hits; resolveFilter enforces
    * the deletion check inline otherwise). Passing the filtered frame
    * as `candidates` and the full store as `vectors` reproduces exactly
    * that split; a seed excluded by the FILTER still seeds the query.
    *
    * Seed exclusion is pre-search here where the reference over-fetches
    * k+1 and drops the seed post-search (mcp/handlers.go:437-455) —
    * set-equivalent: removing the seed from the top-(k+1) of all
    * candidates equals the top-k of the non-seed candidates, whether or
    * not the seed ranks among its own neighbours.
    */
  def findSimilar(vectors: DataFrame, candidates: DataFrame, seedId: Long,
      k: Int): DataFrame =
    vectors.filter(col("message_id") === seedId)
      .select(col("embedding")).head(1).headOption match {
      // a seed row with a NULL stored embedding (failed embed left the
      // row) is as vectorless as a missing row — empty result, never a
      // driver NPE on getAs(...).toSeq
      case Some(row) if !row.isNullAt(0) =>
        val seed = row.getAs[scala.collection.Seq[Float]](0).toSeq
        Similarity.bruteForceKnn(
          candidates.filter(col("message_id") =!= seedId),
          col("message_id"), col("embedding"), seed, k)
      case _ =>
        vectors.select(col("message_id").as("vec_id"),
          org.apache.spark.sql.functions.lit(0.0).as("score")).limit(0)
    }
}
