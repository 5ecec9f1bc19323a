package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Embed, Similarity, VectorIndex}

/** Embedding-lifecycle queries: the reference's find-similar API and
  * enqueue/delta selection (previously spec-only), plus an embedding
  * outlier report — the distance-to-prototype quality gate a curation
  * pipeline runs before training on a labeled corpus.
  *
  * Determinism discipline matches DocQueries: cosine scores are
  * index-order double folds (bit-identical in Spark and DuckDB), and
  * centroid/distance arithmetic is exact fixed-point integer math so no
  * float-addition-order dependence exists anywhere.
  */
object EmbedQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** find_similar_messages (reference internal/mcp/server.go:342-358,
    * internal/vector/sqlitevec/backend.go:606-626): the stored vector of a
    * seed row becomes the query; the seed is excluded from results. Runs
    * the REAL API operator ([[VectorIndex.findSimilar]]) — a point lookup
    * for the seed vector (pushed-down vec_id predicate), then one corpus
    * scan + TakeOrderedAndProject; no shuffle at any corpus size.
    */
  def similarToDoc(s: SparkSession, dir: String): DataFrame =
    VectorIndex.findSimilar(
      t(s, dir, "embeddings")
        .select(col("vec_id").as("message_id"), col("embedding")),
      seedId = 42L, k = 10)

  // seed vector resolved by self-join inside the oracle; same index-order
  // double fold as vector_knn_brute → bit-identical scores
  val similarToDocSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 42),
      |scored AS (
      |  SELECT vec_id, ${duckCos("embedding", "qv")} AS score
      |  FROM embeddings, q WHERE vec_id <> 42)
      |SELECT vec_id, score FROM scored
      |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Enqueue/delta selection (reference internal/vector/enqueue.go:29-34;
    * queue drain at sqlitevec/queue.go): corpus rows with no stored vector
    * in the current generation still need embedding. Exercises the REAL
    * [[Embed.pendingEmbeddings]] anti-join; the "partially embedded
    * generation" is simulated by retiring every 7th vector (the corpus and
    * vector tables ship fully aligned, so an unscoped delta is empty — the
    * same synthetic-scope trick as MessageDedupQueries). At 100 TB the
    * anti-join output is the daily increment; the embedded side is only
    * semi-joined, never re-embedded.
    */
  def embedDelta(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("n_chars"))
    val embedded = t(s, dir, "embeddings")
      .filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("message_id"))
    bucketOrdered(
      Embed.pendingEmbeddings(corpus, embedded)
        .select(col("id").as("doc_id"), col("n_chars")),
      col("doc_id"))
  }

  val embedDeltaSql: String =
    s"""SELECT d.doc_id, d.n_chars FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM embeddings e
      |  WHERE e.vec_id = d.doc_id AND e.vec_id % 7 <> 0)
      |ORDER BY ${duckBucket("d.doc_id")}, d.doc_id ASC""".stripMargin

  /** Embedding outliers: top-3 vectors per label by distance to their
    * label centroid — the "farthest from its class prototype" audit that
    * surfaces mislabeled or degenerate rows before a corpus trains a
    * classifier (the embedding-space twin of the text-quality quartile
    * report).
    *
    * All arithmetic is EXACT fixed point (the embed_centroid recipe):
    * components scale by 2²⁰ and round to longs, the centroid is the
    * rounded integer mean per position, and the distance is the integer
    * sum of squared long differences (dim 64, |v|<1 ⇒ each square < 2⁴²,
    * the sum < 2⁴⁸ — no overflow, no float folds anywhere).
    *
    * Plan shape: one posexplode+two-level agg builds |labels| centroid
    * arrays (shuffle is |labels|×dims rows after map-side combine); the
    * centroid table BROADCASTS back onto the corpus (labels ≪ corpus at
    * any scale), distances are per-row zip_with arithmetic, and the
    * per-label top-3 is a bounded window — corpus shuffled once, by label.
    */
  def embedOutliers(s: SparkSession, dir: String): DataFrame =
    orderedAtTailExchanged(
      Similarity.labelOutliers(t(s, dir, "embeddings"), col("vec_id"),
        col("embedding"), col("label"), k = 3),
      col("label").asc, col("rnk").asc)

  val embedOutliersSql: String =
    """WITH e AS (
      |  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
      |         unnest(embedding) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT label, pos,
      |         SUM(CAST(round(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
      |         COUNT(*) AS n
      |  FROM e GROUP BY label, pos),
      |c AS (SELECT label, pos,
      |        CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS cfp FROM a),
      |d AS (
  -- SUM(BIGINT) widens to HUGEINT (read back as double) — cast back
      |  SELECT e.label, e.vec_id,
      |    CAST(SUM((CAST(round(CAST(e.v AS DOUBLE) * 1048576.0) AS BIGINT) - c.cfp)
      |      * (CAST(round(CAST(e.v AS DOUBLE) * 1048576.0) AS BIGINT) - c.cfp))
      |      AS BIGINT) AS dist2_fp
      |  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
      |  GROUP BY e.label, e.vec_id),
      |r AS (
      |  SELECT label, vec_id, dist2_fp,
      |    row_number() OVER (PARTITION BY label
      |                       ORDER BY dist2_fp DESC, vec_id ASC) AS rnk
      |  FROM d)
      |SELECT label, rnk, vec_id, dist2_fp FROM r WHERE rnk <= 3
      |ORDER BY label ASC, rnk ASC""".stripMargin

  /** Batch top-k KNN graph over the SemDeDup cluster assignment — the
    * hard-negative-mining / corpus-graph primitive
    * ([[Similarity.knnGraph]]): each vector's 5 nearest same-cluster
    * neighbors by exact cosine. Shares the memoized `semdedup_assign_16`
    * artifact with `dedup_semantic` (build once, probe from both
    * pipelines). The oracle replays the WHOLE pipeline — md5-stride
    * centroid pick, argmax assignment with the (score, cid) tie-break,
    * within-cluster ranking — so the graph structure, not just the ids,
    * is what the gate proves.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    orderedAtTailExchanged(
      Similarity.knnGraph(DocQueries.semdedupAssigned(s, dir), k = 5,
        clusterHint = 16),
      col("vec_id").asc, col("rnk").asc)

  val knnGraphSql: String =
    s"""WITH ${duckAssignedCtes("embeddings")},
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    ${duckCos("a.embedding", "b.embedding")} AS cosine
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY cosine DESC, neighbor_id ASC) AS rnk
       |  FROM pairs)
       |SELECT vec_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 5
       |ORDER BY vec_id ASC, rnk ASC""".stripMargin

  /** knn graph over a ROUTED top-p multi-assignment
    * ([[Similarity.assign]] at p = 2, rProbe = 2 — both scale levers at
    * once: p = 2 for pair recall, two-level routing for the
    * nList ∝ corpus assignment knee). The oracle replays BOTH routing
    * levels AND the top-p cut in SQL (duckRoutedAssignedCtes at
    * rProbe = 2, p = 2 — genuinely approximate: rProbe < the 4 coarse
    * groups), plus the shared-list pair dedup the multi-assignment
    * makes necessary — so the hash gate certifies the approximation
    * path itself, exactly like `dedup_semantic_routed`.
    */
  /** The routed multi-assignment is an INDEX artifact (cluster ids per
    * vector), not per-query work — memoized + persisted exactly like
    * [[DocQueries.semdedupAssigned]] and the int8 codes above. Before
    * this, every run re-derived centroids (driver-side sample collect +
    * routing jobs), which was both the bulk of the query's wall and its
    * run-to-run variance (r13: 1.37-1.87 s spread on a recomputed
    * assignment; decomposed to taskGap/driver jobs, not the pair scan).
    */
  private def routedAssigned(s: SparkSession, dir: String): DataFrame =
    memoizedIndex(s, dir, "routed_assign_16_p2_r2") {
      val base = t(s, dir, "embeddings")
      val a = Similarity.assign(base, Similarity.strideCentroids(base, 16),
        p = 2, rProbe = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      a.count()
      a
    }

  def knnGraphRouted(s: SparkSession, dir: String): DataFrame =
    orderedAtTailExchanged(
      Similarity.knnGraph(routedAssigned(s, dir),
        k = 5, dedupCandidates = true, clusterHint = 16),
      col("vec_id").asc, col("rnk").asc)

  val knnGraphRoutedSql: String =
    s"""WITH ${duckRoutedAssignedCtes("embeddings", rProbe = 2, p = 2)},
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    max(${duckCos("a.embedding", "b.embedding")}) AS cosine
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
       |  GROUP BY a.vec_id, b.vec_id),
       |r AS (
       |  SELECT vec_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY cosine DESC, neighbor_id ASC) AS rnk
       |  FROM pairs)
       |SELECT vec_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 5
       |ORDER BY vec_id ASC, rnk ASC""".stripMargin

  /** Quantized ANN (ADC): approximate cosine over the int8 codes picks 50
    * candidates from a scan that touches a quarter of the float32 bytes;
    * the wide vectors are read for those 50 rows only
    * ([[Similarity.adcKnn]]). The codes relation is the memoized
    * compressed-index artifact ([[Embed.quantizeInt8]], whose
    * construction `vector_quantize_int8` oracles bit-exactly); the
    * oracle here replays quantization + both ranking stages, so the
    * candidate SET — not just the final page — must agree.
    */
  def vectorKnnAdc(s: SparkSession, dir: String): DataFrame = {
    val codes = memoizedIndex(s, dir, "int8_codes") {
      // the artifact stores TINYINT codes — values are in [−127, 127] by
      // construction, and a long-typed cache would be 8 B/element, twice
      // the float32 it replaces instead of a quarter of it
      val c = Embed.quantizeInt8(t(s, dir, "embeddings"), col("vec_id"),
        col("embedding"))
        .select(col("id").as("vec_id"),
          transform(col("codes"), _.cast("byte")).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }
    Similarity.adcKnn(codes, t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), DocQueries.queryVector(s, dir), k = 10,
      candidates = 50)
  }

  val vectorKnnAdcSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |e AS (SELECT vec_id, embedding,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |sc AS (SELECT vec_id, embedding, v,
       |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       |       FROM e),
       |c AS (SELECT vec_id, embedding,
       |        list_transform(v, x -> CAST(floor(x /
       |          (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5) AS BIGINT))
       |          AS codes
       |      FROM sc),
       |a AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN sqrt(${duckDot("codes", "codes")}) = 0 THEN -2.0
       |         ELSE ${duckDot("codes", "qv")} /
       |              (sqrt(${duckDot("codes", "codes")}) * sqrt(${duckDot("qv", "qv")}))
       |    END AS approx_score
       |  FROM c, q
       |  ORDER BY approx_score DESC, vec_id ASC LIMIT 50)
       |SELECT a.vec_id,
       |  CASE WHEN sqrt(${duckDot("a.embedding", "a.embedding")}) = 0 THEN -2.0
       |       ELSE ${duckCos("a.embedding", "qv")} END AS score,
       |  a.approx_score
       |FROM a, q
       |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Incremental coarse-index maintenance: fresh vectors (the delta —
    * same synthetic 1-in-7 scope as `embed_delta`, which selects the
    * TEXT rows still needing vectors; this is the next lifecycle step,
    * placing the newly arrived vectors) are assigned against the ACTIVE
    * generation's FROZEN centroids ([[Similarity.strideCentroids]] over
    * the indexed slice, memoized) — one narrow scan of the delta, no
    * shuffle, no rebuild, existing inverted lists untouched. At 100 TB
    * the delta append goes straight into the lists' hive partitions
    * ([[graft.operators.IvfIndex.writeLists]] layout); a generation
    * rotate ([[graft.operators.VectorIndex]]) re-derives centroids only
    * when drift warrants it.
    */
  def vectorIndexDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = memoizedIndex(s, dir, "ivf_delta_centroids_16") {
      Similarity.strideCentroids(
        emb.filter(col("vec_id") % 7 =!= 0)
          .select(col("vec_id"), col("embedding")), nList = 16)
    }
    bucketOrdered(
      Similarity.assign(emb.filter(col("vec_id") % 7 === 0), cents)
        .select(col("vec_id"), col("cluster")),
      col("vec_id"))
  }

  val vectorIndexDeltaSql: String =
    s"""WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 0),
       |${duckCentsCtes("idx")},
       |delta AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0),
       |scored AS (
       |  SELECT d.vec_id, c.cid,
       |    ${duckCos("d.embedding", "c.cvec")} AS s
       |  FROM delta d CROSS JOIN cents c)
       |SELECT vec_id, cid AS cluster
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                ORDER BY s DESC, cid DESC) AS rn FROM scored)
       |WHERE rn = 1 ORDER BY ${duckBucket("vec_id")}, vec_id ASC""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "similar_to_doc" -> (similarToDoc _, Some(similarToDocSql)),
    "embed_delta" -> (embedDelta _, Some(embedDeltaSql)),
    "embed_outliers" -> (embedOutliers _, Some(embedOutliersSql)),
    "knn_graph" -> (knnGraph _, Some(knnGraphSql)),
    "knn_graph_routed" -> (knnGraphRouted _, Some(knnGraphRoutedSql)),
    "vector_knn_adc" -> (vectorKnnAdc _, Some(vectorKnnAdcSql)),
    "vector_index_delta" -> (vectorIndexDelta _, Some(vectorIndexDeltaSql)))
}
