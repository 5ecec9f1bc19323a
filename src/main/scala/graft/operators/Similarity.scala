package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search: brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH as the 100 TB path, and RRF rank fusion
  * (reference: internal/vector/sqlitevec/backend.go:629-680 KNN,
  * internal/vector/hybrid/rrf.go:24-76 fusion).
  *
  * All arithmetic is double-precision left-fold over the float arrays via
  * `aggregate`/`zip_with` builtins — codegen'd, deterministic, and
  * bit-reproducible against a DuckDB oracle using the same fold order.
  */
object Similarity {

  /** dot(a, b) in double precision (sequential fold ⇒ deterministic).
    * Codegen'd single-loop expression ([[org.apache.spark.sql.graft.DotProduct]]);
    * bit-identical to the HOF form `aggregate(zip_with(a,b,_*_),0.0,_+_)`
    * (same index-order fold, same null propagation) but a primitive loop
    * inside WholeStageCodegen instead of per-element lambda dispatch —
    * the signature paths evaluate one dot per hyperplane per row.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.DotProduct(a, b)

  /** Driver-side twin of [[dot]] — the SAME index-order double fold, so
    * local signature/probe arithmetic agrees bitwise with the column
    * expressions. Every local dot in this package must go through here:
    * a divergent copy would silently break driver-vs-executor signature
    * agreement.
    */
  private[operators] def dotLocal(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)

  /** Driver-side cosine (−2.0 for a zero-norm side, sorting below any
    * real similarity).
    */
  private[graft] def cosineLocal(a: Seq[Float], b: Seq[Float]): Double = {
    val d = dotLocal(a, b)
    val na = math.sqrt(dotLocal(a, a)); val nb = math.sqrt(dotLocal(b, b))
    if (na == 0.0 || nb == 0.0) -2.0 else d / (na * nb)
  }

  /** Sign-LSH signature of a literal query vector against `planes` —
    * driver-side twin of [[lshSignature]].
    */
  private def querySignature(query: Seq[Float], planes: Seq[Seq[Float]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (acc, (h, i)) =>
      if (dotLocal(query, h) > 0) acc | (1L << i) else acc
    }

  /** One table's probe buckets: the query's bucket plus (multi-probe)
    * its Hamming-1 neighbors — shared by the inline, multi-table, and
    * prebuilt-index ANN forms so probe policy has one definition.
    */
  private def probeSet(query: Seq[Float], planes: Seq[Seq[Float]],
      multiProbe: Boolean): Seq[Long] = {
    val qSig = querySignature(query, planes)
    if (multiProbe) qSig +: planes.indices.map(b => qSig ^ (1L << b))
    else Seq(qSig)
  }

  /** The shared exact-re-rank tail of every KNN operator: cosine against
    * the literal query over a (vec_id, __v) candidate set, deterministic
    * (score DESC, id ASC) top-k.
    */
  private def rerank(candidates: DataFrame, query: Seq[Float],
      k: Int): DataFrame =
    candidates.select(col("vec_id"),
      cosine(col("__v"), typedLit(query)).as("score"))
      // unscoreable rows (NULL embedding from a failed embed, or a
      // zero vector — cosine yields null for both) must not OCCUPY
      // top-k slots when the scoreable pool underfills k: the
      // reference backend cannot return such a row because no vector
      // row exists for it (r13 review find — desc ordering alone only
      // pushes nulls last, it does not exclude them)
      .filter(col("score").isNotNull)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity ∈ [-1, 1] — the codegen'd custom Expression
    * ([[org.apache.spark.sql.graft.CosineSimilarity]]); bit-identical to
    * `dot(a,b)/(norm(a)*norm(b))` in HOF form (same index-order double
    * folds) but a primitive loop inside WholeStageCodegen instead of
    * interpreted per-element lambda dispatch.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.CosineSimilarity(a, b)

  /** Exact brute-force top-k by cosine to a literal query vector. One scan
    * + TakeOrderedAndProject — no shuffle of the corpus; correct baseline
    * at any scale, O(corpus) per query.
    */
  def bruteForceKnn(emb: DataFrame, id: Column, vec: Column,
      query: Seq[Float], k: Int): DataFrame =
    rerank(emb.select(id.as("vec_id"), vec.as("__v")), query, k)

  /** Deterministic random hyperplanes (seeded) for sign-LSH. */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)((rng.nextGaussian()).toFloat))
  }

  /** Sign-LSH signature: bit r = (dot(v, h_r) > 0). Vectors close in
    * cosine agree on most bits (Charikar 2002).
    */
  def lshSignature(vec: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      when(dot(vec, typedLit(h)) > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN via sign-LSH: probe the query's bucket (plus optional multi-probe
    * Hamming-1 neighbors), exact-re-rank candidates. The scale path: the
    * corpus is bucketed once (writable as a bucketed table); each query
    * touches only its probe buckets.
    */
  def lshKnn(emb: DataFrame, id: Column, vec: Column, query: Seq[Float],
      k: Int, nBits: Int = 12, multiProbe: Boolean = true,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(query.length, nBits, seed)
    val probes = probeSet(query, planes, multiProbe)
    val bucketed = emb.select(id.as("vec_id"), vec.as("__v"),
      lshSignature(vec, planes).as("__sig"))
    rerank(bucketed.filter(col("__sig").isin(probes: _*)), query, k)
  }

  /** Multi-table sign-LSH ANN (the standard E2LSH recall lever): L
    * independently-seeded hash tables; a vector is a candidate if ANY
    * table places it in the query's probe set (query bucket + Hamming-1
    * neighbors); candidates get an exact cosine re-rank. Recall ≈
    * 1-(1-p₁)^L compounds per table, so L controls the recall/scan-cost
    * trade. Here the tables are evaluated as one scan with an OR-of-
    * membership predicate (no union/dedup pass); the deployment shape at
    * scale is L bucketed-table writes probed per query.
    */
  def lshKnnMultiTable(emb: DataFrame, id: Column, vec: Column,
      query: Seq[Float], k: Int, nBits: Int = 4, tables: Int = 8,
      multiProbe: Boolean = true, seedBase: Long = 42L): DataFrame = {
    val dim = query.length
    val cond = (0 until tables).map { t =>
      val planes = hyperplanes(dim, nBits, seedBase + t)
      lshSignature(vec, planes)
        .isin(probeSet(query, planes, multiProbe): _*)
    }.reduce(_ || _)
    rerank(emb.select(id.as("vec_id"), vec.as("__v")).filter(cond), query, k)
  }

  /** Precomputed multi-table signature index behind [[lshKnnMultiTable]]:
    * (vec_id, __v, __sig_0..__sig_{L-1}) — the deployment artifact: write
    * or persist once (bucketable by any signature column), probe per
    * query. Signatures are deterministic in (dim, nBits, seedBase), so a
    * probe with the same parameters sees the exact bucketing the scan
    * form computes inline.
    */
  def lshMultiTableIndex(emb: DataFrame, id: Column, vec: Column, dim: Int,
      nBits: Int = 4, tables: Int = 8, seedBase: Long = 42L): DataFrame =
    emb.select(id.as("vec_id") +: vec.as("__v") +:
      (0 until tables).map { t =>
        lshSignature(vec, hyperplanes(dim, nBits, seedBase + t))
          .as(s"__sig_$t")
      }: _*)

  /** Probe half of [[lshKnnMultiTable]] over a prebuilt
    * [[lshMultiTableIndex]] — identical results, minus the per-query
    * 32-hyperplane signature recomputation.
    */
  def lshKnnMultiTableIndexed(idx: DataFrame, query: Seq[Float], k: Int,
      nBits: Int = 4, tables: Int = 8, multiProbe: Boolean = true,
      seedBase: Long = 42L): DataFrame = {
    val dim = query.length
    val cond = (0 until tables).map { t =>
      val planes = hyperplanes(dim, nBits, seedBase + t)
      col(s"__sig_$t").isin(probeSet(query, planes, multiProbe): _*)
    }.reduce(_ || _)
    rerank(idx.filter(cond), query, k)
  }

  /** Quantized ANN scan (ADC — asymmetric distance computation): rank the
    * corpus by cosine between the FULL-precision query and each vector's
    * int8 codes ([[Embed.quantizeInt8]] output), keep the top
    * `candidates`, then exact-re-rank only those against the float
    * vectors. The int8 scale factor cancels out of cosine (it is a
    * non-negative per-row scalar), so the approximate score needs codes
    * only — the probe artifact is a (vec_id, codes) relation whose
    * TINYINT-backed parquet form scans at a quarter of the float32
    * bandwidth, which is the whole point at 100 TB: the wide float
    * vectors are touched for exactly `candidates` rows per query.
    *
    * Plan shape: one narrow codes scan + TakeOrderedAndProject (no
    * shuffle) yields the candidate page; its ≤`candidates` ids come back
    * to the driver and re-enter the float-corpus scan as a pushed-down
    * IN filter — TRUE point lookups (row-group/partition pruning at the
    * parquet reader), not a stream of the whole wide corpus past a
    * broadcast probe. A broadcast-join re-rank would read every float32
    * row and forfeit exactly the bandwidth the codes scan saved.
    * Arithmetic is index-order double folds on both stages (codes widen
    * to double per element), so candidate selection and final scores are
    * bit-reproducible against an engine replaying the same folds; a
    * zero-norm code row scores −2.0 (below any real similarity) rather
    * than NULL, whose sort position is engine-dependent.
    */
  def adcKnn(codes: DataFrame, emb: DataFrame, id: Column, vec: Column,
      query: Seq[Float], k: Int, candidates: Int): DataFrame = {
    val q = typedLit(query)
    // the codes scan is the bandwidth-bound hot loop — the codegen'd
    // Expression keeps it inside WholeStageCodegen (the HOF form runs
    // interpreted with per-element lambda dispatch); bit-identical folds,
    // zero-norm null pinned to −2.0 exactly like the exact stage below
    val approxPage: Array[(Long, Double)] = codes.select(col("vec_id"),
      coalesce(cosine(col("codes"), q), lit(-2.0))
        .as("approx_score"))
      .orderBy(col("approx_score").desc, col("vec_id").asc)
      .limit(candidates)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ids = approxPage.map(_._1)
    val approxCol = element_at(typedLit(approxPage.toMap), col("vec_id"))
    // cosine() is NULL on a zero-norm side; pin that to −2.0 so degenerate
    // rows rank LAST on every engine (NULL sort position is not portable:
    // Spark desc puts nulls last, DuckDB first)
    emb.select(id.as("vec_id"), vec.as("__v"))
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"),
        coalesce(cosine(col("__v"), q), lit(-2.0)).as("score"),
        approxCol.as("approx_score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs at corpus scale: bucket by
    * sign-LSH signature (one shuffle), generate pairs only within buckets
    * (bounded by `maxBucket`, like [[Dedup.minhashCandidates]]), exact
    * cosine re-rank + threshold. Single-table LSH trades recall for a
    * linear scan: near-dups split across buckets are missed — raise recall
    * with fewer bits or multiple seeded passes unioned. The exact variant
    * for modest corpora is a plain self-join; this is the 100 TB path.
    */
  def embeddingNearDupPairs(emb: DataFrame, id: Column, vec: Column,
      threshold: Double, nBits: Int = 8, maxBucket: Int = 2000,
      seed: Long = 42L): DataFrame = {
    // an empty corpus (upstream filter removed everything, or every row's
    // embedding is NULL after a failed embed run) yields an empty PAIR
    // set, not a head()-on-empty crash or a size(NULL)→getInt NPE at
    // plan construction. Dimension comes from the first NON-NULL row;
    // mixed-dimension corpora are the caller's bug (a drifted-dim row's
    // signature degrades, it does not crash).
    val dimRow = emb.filter(vec.isNotNull).select(size(vec).as("d")).head(1)
    if (dimRow.isEmpty)
      return emb.select(id.as("__id")).limit(0)
        .select(col("__id").as("id_a"), col("__id").as("id_b"),
          lit(0.0).as("cosine"))
    val dim = dimRow.head.getInt(0)
    val planes = hyperplanes(dim, nBits, seed)
    // NULL embeddings can't pair with anything: dropped here rather than
    // lumped into one degenerate NULL-signature bucket
    val bucketed = emb.filter(vec.isNotNull)
      .select(id.as("__id"), vec.as("__v"),
        lshSignature(vec, planes).as("__sig"))
    val buckets = bucketed.groupBy(col("__sig"))
      .agg(collect_list(struct(col("__id"), col("__v"))).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
    buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        cosine(col("a.__v"), col("b.__v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The build-once half of semantic dedup: centroid pick + cluster
    * assignment → a (vec_id, embedding, cluster) relation. This is the
    * persistent artifact of the pipeline (the paper's k-means pass) —
    * callers memoize/persist it and run [[semanticDupes]] per snapshot,
    * the same build-once/probe-many split as the LSH and IVF indexes.
    * Exactly `assign(base, strideCentroids(base, nList))`.
    */
  def semanticAssign(emb: DataFrame, id: Column, vec: Column,
      nList: Int): DataFrame = {
    val base = emb.select(id.as("vec_id"), vec.as("embedding"))
    assign(base, strideCentroids(base, nList))
  }

  /** Deterministic ~`nList`-centroid sample behind [[semanticAssign]];
    * ≤ nList rows reach the driver. Public because the centroid set is
    * the FROZEN half of an incremental index: build it from the indexed
    * corpus once, then [[assign]] each fresh shard against it without
    * touching the existing lists. `base` must carry (vec_id, embedding)
    * columns.
    *
    * Centroid candidates are rows whose md5 id draw
    * ([[Sampling.hashBucket]]'s recipe — cross-engine replayable, unlike
    * xxhash64) lands on the stride. A plain `id % stride` pick is NOT
    * structure-immune: production ids carry block structure (shard
    * offsets, snowflake epochs), and any common factor between the block
    * size and the stride collapses the centroid set — measured on the
    * 20× replicated corpus (BASELINE.md "Scale probe"; ids shifted by
    * 1 M per copy, stride 125): 16 distinct centroids out of 320, mean
    * cluster 2 500 instead of 125, and the quadratic within-cluster pair
    * stage blew up 20×. A fixture that must control WHICH rows seed the
    * clusters passes its centroids to [[assign]] directly.
    */
  def strideCentroids(base: DataFrame, nList: Int): Seq[Seq[Float]] =
    // the ONE cross-engine stable draw (Sampling.hashBucket) — never
    // inline a second copy of the md5 recipe here, or a recipe fix
    // breaks the replay guarantee between samplers and centroid picks
    centroidSampleBy(base, nList)(Sampling.hashBucket(col("vec_id"), _))

  /** The one stride-sample pipeline behind every centroid pick
    * ([[strideCentroids]]'s md5 draw, [[IvfIndex.build]]'s xxhash64
    * draw): filter on the caller's stride draw, stabilize order by id,
    * bound the driver collect at nList rows.
    */
  private[operators] def centroidSampleBy(base: DataFrame, nList: Int)(
      drawOf: Long => Column): Seq[Seq[Float]] = {
    val n = base.count()
    require(n >= nList, s"corpus ($n) smaller than nList ($nList)")
    val stride = math.max(1L, n / nList)
    val centroids = base
      .filter(drawOf(stride) === 0)
      .orderBy(col("vec_id").asc)
      .limit(nList)
      .select(col("embedding"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toSeq)
      .toSeq
    require(centroids.nonEmpty, "id stride produced no centroids")
    centroids
  }

  /** THE vector → cluster assignment, against a FROZEN centroid set:
    * every (vec_id, embedding) row of `base` lands in its `p` highest-
    * cosine centroid lists, one output row per list — (vec_id,
    * embedding, cluster). One narrow scan, no shuffle: the build step of
    * [[IvfIndex.build]], SemDeDup and the knn graph, and the incremental
    * step that appends a fresh shard to an existing index (same ranking
    * as a from-scratch build, so the two agree row for row given the
    * same centroids).
    *
    * Ranking is one [[org.apache.spark.sql.graft.TopCentroids]]
    * evaluation per row: (cosine desc, HIGHER centroid id on ties).
    *  - `p` ∈ [1, centroids.length]; p > 1 is the recall lever for
    *    cluster-bucketed pair generation ([[knnGraph]],
    *    [[semanticDupes]]): neighbors split across a
    *    single-assignment boundary still meet in some shared list;
    *    storage and pair fan-out scale by p. The top-p prefix does not
    *    depend on p, so p = 1 is each vector's argmax.
    *  - `0 < rProbe < nCoarse` (nCoarse = ⌈√nList⌉, see
    *    [[routedStructure]]) routes each row through the two-level
    *    coarse structure: it ranks the coarse rows, then only the
    *    top-`rProbe` groups' member centroids — O(rProbe·√nList) per row
    *    instead of O(nList), the scale path once nList ∝ corpus (the
    *    r11 100× probe measured flat at ~30×/decade at 200k × 2000). A
    *    vector near a group boundary may land in a neighboring list,
    *    which costs SemDeDup/knn-graph recall, never wrong pairs. Every
    *    other rProbe runs the flat kernel: probing all groups reproduces
    *    the flat ranking bit for bit, at a higher cost.
    *
    * A row that gets no cluster — a NULL embedding, or a routed row
    * whose probed groups are all member-empty — is dropped, in every
    * cell; a routed row whose probed groups hold fewer than p members
    * emits only those. Both match the SQL replays' `assigned` CTEs
    * (an inner join on `rn <= p`).
    */
  def assign(base: DataFrame, centroids: Seq[Seq[Float]], p: Int = 1,
      rProbe: Int = 0): DataFrame = {
    val routing =
      if (rProbe <= 0) None
      else Some(routedStructure(centroids)).filter(rProbe < _.coarse.length)
        .map(rs => org.apache.spark.sql.graft.TopCentroids.Routing(
          rs.coarse, rs.members, rProbe))
    // explode drops NULL and empty results itself. A get(…, 0) projection
    // plus a `cluster IS NOT NULL` filter would run the kernel twice per
    // row: Catalyst pushes the filter below the projection with the
    // expression inlined (8k × 160: ~290 ms vs ~200 ms, 4 cores).
    base.select(col("vec_id"), col("embedding"),
      explode(org.apache.spark.sql.graft.TopCentroids(col("embedding"),
        centroids, p, routing)).as("cluster"))
  }

  /** The two-level routing structure shared by every routed consumer
    * ([[assign]] at `0 < rProbe < nCoarse`,
    * [[IvfIndex.searchRouted]]'s driver-side probe ranking):
    * coarse = every ⌈nList/⌈√nList⌉⌉-th centroid (first ⌈√nList⌉ of the
    * index order); each centroid routed driver-side to its nearest
    * coarse row by the expression's exact rule (score desc, index desc).
    * Building it costs nList·√nList driver cosines — amortized over the
    * corpus for assignment jobs, and built ONCE per [[IvfIndex.Index]]
    * ([[IvfIndex.Index.routing]]) for the per-query serving path.
    * rProbe is a PROBE-TIME knob (clamped via [[RoutedStructure.clampProbe]]),
    * not part of the structure, so one structure serves every budget.
    */
  private[graft] final case class RoutedStructure(
      cents: Array[Array[Float]], coarse: Array[Array[Float]],
      members: Array[Array[Int]]) {
    def clampProbe(rProbe: Int): Int =
      math.min(math.max(1, rProbe), coarse.length)
  }

  private[graft] def routedStructure(
      centroids: Seq[Seq[Float]]): RoutedStructure = {
    val cents = centroids.map(_.toArray).toArray
    val nCoarse = math.max(1, math.ceil(math.sqrt(cents.length.toDouble)).toInt)
    val stride = math.max(1, cents.length / nCoarse)
    val coarse = cents.indices.by(stride).take(nCoarse).map(cents).toArray
    val members = Array.fill(coarse.length)(
      new scala.collection.mutable.ArrayBuffer[Int]())
    var c = 0
    while (c < cents.length) {
      var bg = -1; var bs = Double.NegativeInfinity
      var g = 0
      while (g < coarse.length) {
        val s = cosineLocal(cents(c).toSeq, coarse(g).toSeq)
        if (s > bs || (s == bs && g > bg)) { bs = s; bg = g }
        g += 1
      }
      members(bg) += c
      c += 1
    }
    RoutedStructure(cents, coarse, members.map(_.toArray))
  }

  /** The within-cluster collect shared by every compiled cluster-scan
    * consumer ([[knnGraph]], [[semanticDupes]]): members gathered once
    * per (cluster, salt) group — ONE exchange of n·p assignment rows,
    * where the old self-join materialized the quadratic pair stream as
    * rows. `clusterHint` drives the same salt lever the salted join
    * used: below ~2 clusters/core each cluster's group is exploded S
    * ways (every group holds the full member list; the expression
    * splits the scanned side by floorMod(id, S), so the union over
    * salts is the unsalted output by construction). At real scale
    * nList grows past the core count, S computes to 1, and the plan is
    * a single ungrouped aggregate. Inner-join semantics are preserved:
    * a NULL cluster matches nothing, so it forms no group either.
    */
  private def clusterGroups(assigned: DataFrame,
      clusterHint: Int): (DataFrame, Int) = {
    val cores = graft.Sizing.cores(assigned.sparkSession)
    val salt = graft.Sizing.clusterSalt(clusterHint, cores)
    val base = assigned.filter(col("cluster").isNotNull)
      .select(col("cluster"),
        struct(col("vec_id"), col("embedding")).as("__m"))
    val grouped =
      if (salt <= 1)
        base.groupBy(col("cluster"))
          .agg(collect_list(col("__m")).as("__members"))
          .withColumn("__salt", lit(0))
      else {
        // the salt exists because clusters < ~2/core — an explicit
        // partition COUNT must ride along: the aggregate would otherwise
        // plan its exchange at spark.sql.shuffle.partitions, which may sit
        // under the core count the salt is sized for. The repartition's
        // hashpartitioning(cluster, __salt) satisfies the aggregate's
        // clustering, so this is one exchange, not two.
        base.withColumn("__salt",
          explode(array((0 until salt).map(lit): _*)))
          .repartition(cores, col("cluster"), col("__salt"))
          .groupBy(col("cluster"), col("__salt"))
          .agg(collect_list(col("__m")).as("__members"))
      }
    (grouped, salt)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540),
    * the recurring half over a [[semanticAssign]] relation (fresh or
    * reopened/persisted): cluster the corpus around coarse centroids,
    * then report every document whose cosine to a LOWER-id member of its
    * own cluster exceeds `eps` — the canonical "prune ε-balls within
    * k-means clusters" recipe for embedding-level near-dup removal in
    * LLM training pipelines. Output: one row per pruned doc — (dup_id,
    * cluster, kept_id = its smallest qualifying neighbor, max_cosine) —
    * anti-join `dup_id` against the corpus to materialize the
    * deduplicated set.
    *
    * Scale shape: centroid pick is a bounded `limit(nList).collect()`
    * (≤ nList rows on the driver); assignment is one scan with no shuffle
    * ([[assign]]); the pair stage shuffles on `cluster` once and
    * is quadratic only WITHIN a cluster, so `nList` must grow with the
    * corpus to hold the mean cluster size (≈ n/nList) at the budget — the
    * same knob as the paper's k. Centroids here are an md5-stride sample
    * over the ids (id-structure-immune AND cross-engine reproducible,
    * hence oracle-able — see [[strideCentroids]]); a deployment can swap
    * in MLlib KMeans without touching the pair stage.
    *
    * Pair stage: [[org.apache.spark.sql.graft.ClusterEpsAgg]] — one
    * compiled scan per (cluster, salt) group emitting each dup's
    * per-cluster partial (min qualifying kept_id, max qualifying
    * cosine), bounded by the member count instead of the quadratic pair
    * stream the old self-join materialized as rows. The final aggregate
    * is unchanged and bit-identical (min/max decompose; a pair's cosine
    * is identical in every shared cluster): min cluster over clusters
    * with a qualifying pair, min kept_id / max cosine over all
    * qualifying pairs. `clusterHint` = expected cluster count, the
    * parallelism lever ([[clusterGroups]]).
    */
  def semanticDupes(assigned: DataFrame, eps: Double,
      clusterHint: Int = 0): DataFrame = {
    val (grouped, salt) = clusterGroups(assigned, clusterHint)
    grouped.select(col("cluster"),
        explode(org.apache.spark.sql.graft.ClusterEpsAgg(
          col("__members"), col("__salt"), eps, salt)).as("__c"))
      .select(col("__c.dup_id").as("dup_id"), col("cluster"),
        col("__c.kept_id").as("kept_id"), col("__c.cosine").as("cosine"))
      .groupBy(col("dup_id"))
      .agg(min(col("cluster")).cast("long").as("cluster"),
        min(col("kept_id")).as("kept_id"),
        max(col("cosine")).as("max_cosine"))
  }

  /** Batch top-k KNN graph — one row per (vector, neighbor rank ≤ k) —
    * the all-rows twin of the single-query KNN operators and the
    * primitive behind hard-negative mining for contrastive training and
    * graph-based corpus clustering. A naive build is an O(n²) self-join;
    * here candidates are SAME-CLUSTER pairs over a coarse assignment
    * relation ([[semanticAssign]] / [[IvfIndex.build]] output), so pair
    * fan-out is bounded by the mean list size (≈ n/nList — grow nList
    * with the corpus, the SemDeDup knob), and recall is the standard IVF
    * trade: neighbors split across cluster boundaries are missed; raise
    * recall by multi-assigning each row to its p nearest centroids.
    *
    * Plan shape: the assignment shuffles once on `cluster`; within-
    * cluster pairs are generated in place; the per-vector top-k is a
    * rank-limited window on `vec_id` whose WindowGroupLimit pre-prunes
    * each map partition to k rows per vector BEFORE the window exchange
    * — and since a vector's candidates are all in its cluster's single
    * partition, the exchange carries at most k·n rows, never the
    * quadratic pair stream.
    */
  def knnGraph(assigned: DataFrame, k: Int,
      dedupCandidates: Boolean = false, clusterHint: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // The within-cluster pair scan used to be a self-JOIN on `cluster`:
    // every directed pair became a join row (~members² rows per cluster)
    // whose cost was row machinery — shuffle/join bookkeeping around a
    // dim-wide dot product (r15 measured 4.3 s summed taskRun at sf0.1;
    // halving the arithmetic via symmetric pairs LOST because row
    // materialization dominates). Instead, collect each cluster's
    // members once (ONE exchange of n·p assignment rows — the same
    // bytes the join shuffled, minus the pair fan-out) and run the
    // quadratic scan inside [[org.apache.spark.sql.graft.ClusterTopK]]:
    // a compiled primitive loop emitting only each member's top-k
    // candidate rows, ranked by exactly the downstream window's order.
    // Results are bit-identical, not approximate — the global top-k is
    // contained in the union of per-cluster top-k cuts (see the
    // expression's containment proof), and the pair arithmetic is the
    // same hoisted-norm index-order fold as the old pairCosine.
    //
    // The SALT ([[clusterGroups]]) is the same parallelism lever as the
    // old salted join: every group holds the full member list but
    // scores only sources with floorMod(id, S) == salt, so the union
    // over salts is the unsalted output by construction.
    val (grouped, salt) = clusterGroups(assigned, clusterHint)
    val cand = grouped.select(explode(org.apache.spark.sql.graft.ClusterTopK(
        col("__members"), col("__salt"), k, salt)).as("__c"))
      .select(col("__c.vec_id").as("vec_id"),
        col("__c.neighbor_id").as("neighbor_id"),
        col("__c.cosine").as("cosine"))
    // a multi-assigned relation ([[assign]] at p > 1) emits a shared
    // neighbor once per shared list (identical cosine — same embeddings,
    // same fold) — without the dedup it would occupy several of the k
    // rank slots. The explicit repartition(vec_id) makes the dedup and
    // the rank window share ONE exchange: hashpartitioning(vec_id)
    // satisfies both the aggregate's clustering on (vec_id, neighbor_id)
    // and the window's on (vec_id). The candidate stream is ≤ n·p·k
    // rows, never the quadratic pair stream.
    val uniq =
      if (dedupCandidates)
        cand.repartition(col("vec_id"))
          .groupBy(col("vec_id"), col("neighbor_id"))
          .agg(max(col("cosine")).as("cosine"))
      else cand
    uniq
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cosine"))
  }

  /** Embedding outlier audit: the top-k vectors per label by distance to
    * their label centroid — the distance-to-prototype gate that surfaces
    * mislabeled or degenerate rows before training on a labeled corpus.
    *
    * Arithmetic is EXACT fixed point end-to-end (components ×2²⁰ rounded
    * to longs; centroid = rounded integer mean per position; distance =
    * integer sum of squared long differences), so results carry no
    * float-addition-order dependence on any engine or partitioning.
    *
    * Domain bound: the long accumulator holds dims·(2·m·2²⁰)² where m is
    * the max |component|, so m must stay under √(2²¹/dims) — ≈22 for
    * 4096-dim, ≈45 for 1024-dim vectors. Normalized or typical
    * model-output embeddings (|c| ≲ 10) are far inside the bound;
    * a hotter corpus overflows LOUDLY under ANSI mode
    * (ARITHMETIC_OVERFLOW, never a silent wrong distance) — rescale the
    * inputs or shrink the 2²⁰ scale factor on both engine and oracle
    * sides together if you need that range.
    *
    * Plan shape at scale: one posexplode+two-level agg builds |labels|
    * centroid arrays (the shuffle is |labels|×dims after map-side
    * combine); centroids BROADCAST back onto the corpus; distances are
    * per-row zip_with arithmetic; the per-label top-k is a bounded
    * window. The corpus is hash-shuffled once, on the label.
    */
  def labelOutliers(emb: DataFrame, id: Column, vec: Column, label: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = emb.select(id.as("vec_id"), vec.as("embedding"),
      label.as("label"))
    val fixedSum = sum(round(col("v").cast("double") * 1048576.0).cast("long"))
    val cent = base
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(fixedSum.as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
        x => round(x.getField("s").cast("double") /
          x.getField("n").cast("double")).cast("long")).as("centroid_fp"))
    val vfp = transform(col("embedding"),
      x => round(x.cast("double") * 1048576.0).cast("long"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist2_fp").desc, col("vec_id").asc)
    base.select(col("vec_id"), col("label"), vfp.as("v_fp"))
      .join(broadcast(cent), "label")
      .withColumn("dist2_fp",
        aggregate(
          zip_with(col("v_fp"), col("centroid_fp"), (a, c) => (a - c) * (a - c)),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("label"), col("rnk"), col("vec_id"), col("dist2_fp"))
  }

  /** Reciprocal-rank fusion of two ranked lists (reference rrf.go:24-76;
    * SQL form sqlitevec/fused.go:176-190): full outer join on id,
    * score = Σ 1/(K + rank), deterministic (score DESC, id ASC) order.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      k: Int = 60, limit: Int = 100): DataFrame = {
    val left = a.select(col(idCol), col(rankCol).as("__rank_a"))
    val right = b.select(col(idCol), col(rankCol).as("__rank_b"))
    left.join(right, Seq(idCol), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(k) + col("__rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("__rank_b")), lit(0.0)))
      .select(col(idCol), col("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(limit)
  }
}
