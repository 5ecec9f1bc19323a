package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a coarse quantizer assigns every vector
  * to its nearest centroid ("inverted list"); a query ranks centroids,
  * probes the `nProbe` nearest lists, and exact-re-ranks only those
  * members. The coarse structure is the complement of sign-LSH
  * ([[Similarity.lshKnnMultiTable]]): centroids adapt to the data's
  * density instead of fixed random hyperplanes.
  *
  * Centroids here are a deterministic evenly-spaced sample of the corpus
  * (rank-strided over the id order) rather than k-means: centroid choice
  * is then independent of partitioning and float-reduction order, so
  * search results are bit-reproducible on any cluster layout — the
  * property the correctness gate needs. A deployment can swap in MLlib
  * KMeans centroids (better list balance) without touching the search
  * path; the assignment/probe logic only sees an `Array[Array[Float]]`.
  *
  * Scale shape: assignment is one narrow projection (vec_id, cluster) —
  * write it `partitionBy("cluster")` and a query reads only nProbe/nList
  * of the corpus (partition pruning on the cluster column); no shuffle at
  * query time. Cosine comparisons run on unit-normalized vectors via the
  * codegen'd [[org.apache.spark.sql.graft.CosineSimilarity]].
  */
object IvfIndex {

  final case class Index(centroids: Seq[Seq[Float]], assigned: DataFrame) {
    /** Two-level routing structure for the ROUTED serving/build paths —
      * built lazily ONCE per index (nList·√nList driver cosines: real at
      * 1M lists, which is exactly the regime that needs routing) and
      * reused by every [[IvfIndex.searchRouted]] query; rProbe stays a
      * per-call knob.
      */
    @transient private[graft] lazy val routing: Similarity.RoutedStructure =
      Similarity.routedStructure(centroids)
  }

  /** Build the index: pick ~`nList` centroids by a deterministic hash
    * stride over the ids (`xxhash64(id) % (n/nList) == 0` — a random-but-
    * reproducible sample needing no global sort; only the sample itself
    * is sorted for a stable centroid order), assign every vector to its
    * max-cosine centroid. `assigned` carries (vec_id, embedding, cluster).
    *
    * `rProbe` (opt-in, 0 = exact flat default — [[Similarity.assign]]'s
    * contract): route the assignment through the two-level coarse
    * structure. Flat assignment is O(n·nList) — quadratic overall in the
    * documented regime where nList ∝ corpus keeps mean list size flat
    * (the r11 100× probe measured ~30×/decade at 200k × 2000); routing
    * drops per-row work to O(rProbe·√nList). `rProbe ≥ ⌈√nList⌉`
    * reproduces flat bit-for-bit; smaller rProbe is the standard IVF
    * build-side approximation (a boundary vector may land in a
    * neighboring list, costing probe recall, never wrong scores — search
    * re-ranks with exact cosines).
    */
  def build(emb: DataFrame, id: Column, vec: Column, nList: Int,
      rProbe: Int = 0): Index = {
    val base = emb.select(id.as("vec_id"), vec.as("embedding"))
    val centroids = Similarity.centroidSampleBy(base, nList)(stride =>
      pmod(xxhash64(col("vec_id")), lit(stride)))
    Index(centroids, Similarity.assign(base, centroids, rProbe = rProbe))
  }

  /** Probe-and-re-rank search: rank centroids by cosine to the query
    * (driver-side, same double fold as the column expression), scan only
    * the `nProbe` nearest lists, exact cosine top-k within them.
    */
  def search(index: Index, query: Seq[Float], k: Int, nProbe: Int): DataFrame =
    searchAssigned(index.assigned, index.centroids, query, k, nProbe)

  /** [[search]] over any (vec_id, embedding, cluster) relation — in
    * particular one reopened from [[writeLists]] output, where the
    * `cluster isin probes` predicate becomes a PARTITION filter and the
    * scan physically reads only the probed lists.
    */
  def searchAssigned(assigned: DataFrame, centroids: Seq[Seq[Float]],
      query: Seq[Float], k: Int, nProbe: Int): DataFrame = {
    // tie-break must MATCH assignment: TopCentroids sends an exact
    // cosine tie to the HIGHER centroid index, so the probe ranking
    // prefers -i too — ranking the lower duplicate first would probe an
    // EMPTY list and miss every tied vector at small nProbe.
    // This flat ranking is driver-side O(nList) per query — fine to
    // ~10⁵–10⁶ lists (≈1 ms/10⁴ at ~100 ns/dim·cosine over 64 dims),
    // a real knee past ~1M; [[searchRouted]] is the scale path.
    val probes = centroids.zipWithIndex
      .sortBy { case (c, i) => (-Similarity.cosineLocal(c, query), -i) }
      .take(nProbe).map(_._2)
    probeLists(assigned, probes, query, k)
  }

  /** [[search]] with the probe RANKING routed through the index's
    * two-level coarse structure ([[Index.routing]], built once per
    * index) — the de-knee for nList ∝ corpus, where flat ranking's
    * O(nList) driver cosines per query become the serving bottleneck
    * (~1M lists): rank the ⌈√nList⌉ coarse rows, keep the top `rProbe`
    * groups, rank only their member centroids — O(rProbe·√nList) per
    * query. Tie rules match [[searchAssigned]] and the assignment
    * expression at both levels ((score desc, index desc)); `rProbe =
    * ⌈√nList⌉` reproduces the flat probe set exactly. Smaller rProbe is
    * the usual IVF recall trade: a near-boundary query may rank a
    * neighboring group's list out of its probe budget — fewer lists
    * scanned, never wrong scores.
    */
  def searchRouted(index: Index, query: Seq[Float], k: Int, nProbe: Int,
      rProbe: Int): DataFrame = {
    val rs = index.routing
    val groups = rs.coarse.indices
      .sortBy(g => (-Similarity.cosineLocal(rs.coarse(g).toSeq, query), -g))
      .take(rs.clampProbe(rProbe))
    val probes = groups.flatMap(g => rs.members(g))
      .sortBy(c => (-Similarity.cosineLocal(rs.cents(c).toSeq, query), -c))
      .take(nProbe)
    probeLists(index.assigned, probes, query, k)
  }

  /** The shared probe tail: scan ONLY the ranked lists (a partition
    * filter over [[writeLists]] output), exact cosine re-rank, top-k.
    */
  private def probeLists(assigned: DataFrame, probes: Seq[Int],
      query: Seq[Float], k: Int): DataFrame =
    assigned
      .filter(col("cluster").isin(probes: _*))
      .select(col("vec_id"),
        Similarity.cosine(col("embedding"), typedLit(query)).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  /** Persist the inverted lists hive-partitioned by cluster (the
    * deployment shape: one directory per list, co-located rows). A probe
    * query over the reopened table reads nProbe/nList of the data —
    * partition pruning, no shuffle, verified in PlanAuditSpec.
    *
    * The `batch=full` level on top matches
    * [[graft.streaming.VectorStreaming]]'s per-micro-batch idempotency
    * partitions, so a bootstrapped directory and its later streamed
    * delta drains share ONE discoverable layout — mixing a bare
    * cluster= tree with batch=/cluster= subtrees would fail partition
    * discovery ("conflicting directory structures").
    */
  def writeLists(index: Index, path: String): Unit =
    index.assigned
      .withColumn("batch", lit("full"))
      .repartition(col("cluster")) // one writer per list, no small files
      .write.mode("overwrite")
      // STATIC pinned explicitly: a full rebuild must truncate the whole
      // tree even when the session sets partitionOverwriteMode=dynamic
      // globally — otherwise earlier VectorStreaming batch=* delta
      // partitions survive the rebuild and openLists serves every vector
      // in an old delta twice (same bug class as CacheBuilder's full
      // rebuild, fixed the same way)
      .option("partitionOverwriteMode", "static")
      .partitionBy("batch", "cluster").parquet(path)

  /** THE reader for an on-disk lists directory (batch-build
    * [[writeLists]] output, [[graft.streaming.VectorStreaming]] drains,
    * or both in one tree). Compaction-aware: batch partitions shadowed
    * by a completed [[graft.streaming.SinkCompaction]] pass are
    * excluded, so a maintenance crash mid-delete can never surface a
    * vector twice. A probe filtering on `cluster` still prunes to
    * nProbe/nList of the files — cluster stays a partition column
    * through compaction.
    */
  def openLists(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.streaming.SinkCompaction.read(spark, path)
}
