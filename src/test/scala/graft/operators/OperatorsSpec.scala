package graft.operators

import graft.SparkTestBase
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Specs for the non-oracled operators: MinHash-LSH, SimHash, LSH-ANN,
  * language ID, multimodal plumbing — the algorithms DuckDB can't twin.
  */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and columnar storage"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "el gato y el perro estan en la casa que se ve desde el parque"))
    .toDF("doc_id", "text")

  test("exact dedup groups find the identical pair") {
    val g = Dedup.exactGroups(docs, col("doc_id"), col("text")).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("dup_count") == 2)
    assert(g(0).getAs[Long]("winner_id") == 1)
  }

  test("exactGroups: NULL-text rows never form a duplicate group") {
    val weird = Seq[(Long, String)]((1L, null), (2L, null), (3L, "real text"))
      .toDF("doc_id", "text")
    // sha2(NULL) is NULL and groupBy groups nulls together — without the
    // guard, unrelated null-text rows would prune each other as dups
    assert(Dedup.exactGroups(weird, col("doc_id"), col("text")).isEmpty)
  }

  test("survivor pairs: loser points at min-id winner") {
    val pairs = Dedup.survivorPairs(docs, col("doc_id"), md5(col("text")), Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((4L, 1L)))
  }

  test("survivor pairs: a preference column overrides the min-id tie-break") {
    // regression: the projection used to drop caller preference columns
    // before the window ordered by them — UNRESOLVED_COLUMN for any
    // non-Nil preference, masked because every in-repo caller passed Nil
    val pref = when(col("doc_id") === 4, 0).otherwise(1)
    val pairs = Dedup.survivorPairs(docs, col("doc_id"), md5(col("text")),
      Seq(pref)).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 4L)),
      "preferred doc 4 must win over min-id doc 1")
  }

  test("minhash LSH surfaces the near-dup pair, not unrelated docs") {
    val cand = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)) || cand.contains((1L, 4L))) // near+exact dups bucket together
    assert(!cand.contains((3L, 5L))) // unrelated docs don't collide
  }

  test("nearDuplicates thresholds by true jaccard") {
    val nd = Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSet.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(nd.forall { case (a, b) => Set(1L, 2L, 4L).contains(a) && Set(1L, 2L, 4L).contains(b) })
  }

  test("simhash: exact dups identical, near-dups close, unrelated far") {
    val sh = Dedup.simhashSignatures(docs, col("doc_id"),
      TextFunctions.tokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(4L))
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("simhashPairs equals the O(n²) Hamming join (pigeonhole recall 1.0)") {
    // 40 synthetic signatures with planted near-pairs at varying distances
    val base = 0x0FEDCBA987654321L & ((1L << 60) - 1)
    def flip(sig: Long, bits: Seq[Int]): Long =
      bits.foldLeft(sig)((s, b) => s ^ (1L << b))
    val sigs = ((1L to 30L).map(i => i -> (i * 0x9E3779B97F4A7C15L & ((1L << 60) - 1))) ++ Seq(
      31L -> base, 32L -> flip(base, Seq(3)), 33L -> flip(base, Seq(3, 17, 42)),
      34L -> flip(base, Seq(1, 2, 3, 4)), // hamming 4 from 31: excluded
      35L -> flip(base, Seq(59)))).toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(sigs, maxHamming = 3, sigBits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == want)
    assert(want.exists { case (a, b, _) => a == 31L && b == 34L } == false)
    assert(want.nonEmpty) // the planted pairs actually exercise the path
  }

  test("incremental probe finds cross-slice near-dups only") {
    // doc 6 (fresh) is a near-dup of docs 1/2/4 (indexed); docs 6,7 are
    // near-dups of EACH OTHER but fresh×fresh must not be reported
    val six = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (7L, "the quick brown fox jumps over the lazy dog near the river bank now!"))
      .toDF("doc_id", "text")
    val fresh = six.union(docs.limit(0))
    val cand = Dedup.probeCandidates(
      Dedup.indexedBandTable(docs, col("doc_id"), col("text")),
      Dedup.bandRows(fresh, col("doc_id"), col("text")))
    val got = Dedup.incrementalProbe(cand, docs, fresh, col("doc_id"),
      col("text"), threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    assert(got.forall { case (n, i) => n >= 6L && i <= 5L },
      s"probe leaked a non-cross-slice pair: $got")
  }

  test("winnowPairs: shared run >= k+w-1 tokens guarantees a shared fingerprint") {
    // docs 1,2 share a 9-token run (k=4, w=5 ⇒ k+w-1=8 < 9: structural hit);
    // docs 3,4 share nothing beyond isolated words
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota unique1 tail1 one"),
      (2L, "head2 alpha beta gamma delta epsilon zeta eta theta iota other2 two"),
      (3L, "totally different words live here in this sentence about engines"),
      (4L, "unrelated content speaking of other topics entirely with no overlap"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(d, col("doc_id"), col("text"),
      k = 4, w = 5, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("winnow fingerprints: deterministic, sorted, null on empty docs") {
    val d = Seq((1L, "a b c d e f g h"), (2L, ""), (3L, "!!!"))
      .toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
      org.apache.spark.sql.graft.TextExpressions.winnowFingerprints(
        TextFunctions.rawTokens(col("text")), 4, 5).as("fps"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(fps(2L) == null && fps(3L) == null)
    val f1 = fps(1L)
    assert(f1 != null && f1 == f1.sorted && f1.distinct == f1)
  }

  test("simhash: docs with no real tokens are absent, even via rawTokens") {
    // rawTokens of "" / punctuation yields [""], never an empty array —
    // the absence invariant must come from the expression's NULL, not a
    // size() filter (two empty docs must not be hamming-0 "near-dups")
    val weird = Seq((1L, "real tokens here"), (2L, ""), (3L, "!!! ... ---"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashSignatures(weird, col("doc_id"),
      TextFunctions.rawTokens(col("text")))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L))
    // and the minhash path excludes them from candidates entirely
    val sigs = Dedup.minhashSignatures(weird, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).toSet
    assert(sigs == Set(1L))
  }

  test("brute-force KNN: self is nearest with score 1.0") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceKnn(emb, col("vec_id"), col("embedding"),
      Seq(1.0f, 0.0f, 0.0f), k = 3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
  }

  test("LSH ANN recall: top-1 matches brute force on the real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).select(col("embedding"))
      .head().getAs[scala.collection.Seq[Float]](0).toSeq
    val brute = Similarity.bruteForceKnn(emb, col("vec_id"), col("embedding"), q, 5)
      .collect().map(_.getLong(0)).toSeq
    val lsh = Similarity.lshKnn(emb, col("vec_id"), col("embedding"), q, 5, nBits = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(brute.head == 7L)
    assert(lsh.contains(7L)) // the query's own bucket always probes itself
  }

  test("embeddingNearDupPairs: empty corpus yields empty pairs, not a crash") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val out = Similarity.embeddingNearDupPairs(empty, col("vec_id"),
      col("embedding"), threshold = 0.9)
    assert(out.isEmpty)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "cosine"))
  }

  test("embeddingNearDupPairs: NULL embeddings neither crash the dim probe nor bucket") {
    // regression: a NULL vec in the first scanned row made the dimension
    // probe NPE (size(NULL) is NULL → getInt throws); and NULL vecs
    // lumped into one degenerate NULL-signature bucket
    val emb = Seq[(Long, Seq[Float])](
      (1L, null),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.999f, 0.001f, 0.0f, 0.0f)),
      (4L, null)).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.99, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((2L, 3L)))
    // all-NULL corpus behaves like the empty corpus
    val allNull = Seq[(Long, Seq[Float])]((1L, null)).toDF("vec_id", "embedding")
    assert(Similarity.embeddingNearDupPairs(allNull, col("vec_id"),
      col("embedding"), threshold = 0.9).isEmpty)
  }

  test("archive audit: duplicate blobs AND to one verdict; orphaned sources surface") {
    import java.sql.Timestamp
    val messages = Seq[(Long, Long, Option[Timestamp])](
      (1L, 10L, None), (2L, 10L, None), (3L, 99L, None))
      .toDF("id", "source_id", "deleted_at")
    val deflater = {
      val d = new java.util.zip.Deflater()
      val in = "hello".getBytes("UTF-8"); d.setInput(in); d.finish()
      val buf = new Array[Byte](64); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    // message 1 has TWO raw rows (crashed re-ingest): one good zlib blob,
    // one truncated — the audit must count ONE message with raw, corrupt
    // (every stored copy must inflate), and never inflate n_messages
    val raw = Seq[(Long, String, Array[Byte])](
      (1L, "zlib", deflater),
      (1L, "zlib", java.util.Arrays.copyOf(deflater, 2)),
      (3L, "none", "plain".getBytes("UTF-8")))
      .toDF("message_id", "compression", "raw_data")
    val sources = Seq((10L, "gmail")).toDF("id", "source_type")
    val out = ArchiveVerify.auditRaw(messages, raw, sources)
      .collect().map(r => r.getAs[Long]("source_id") ->
        ((r.getAs[String]("source_type"), r.getAs[Long]("n_messages"),
          r.getAs[Long]("n_with_raw"), r.getAs[Long]("n_raw_ok"),
          r.getAs[Long]("n_raw_corrupt")))).toMap
    assert(out(10L) == (("gmail", 2L, 1L, 0L, 1L)),
      "dup blob rows must not inflate counts; any corrupt copy = corrupt")
    // source 99 has no sources row: referential breakage is REPORTED,
    // not silently dropped by an inner join
    assert(out(99L) == (("(unknown)", 1L, 1L, 1L, 0L)))
  }

  test("IVF probe tie-break matches assignment on duplicate centroids") {
    // two IDENTICAL centroids: assignment (greatest struct) sends every
    // tied vector to the HIGHER index list; the probe ranking must agree
    // or nProbe=1 would probe the empty low-index list and return nothing
    val cents = Seq(Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))
    val emb = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.assign(emb, cents)
    assert(assigned.select(col("cluster")).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(1))
    val hits = IvfIndex.searchAssigned(assigned, cents,
      query = Seq(1.0f, 0.0f), k = 2, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L))
  }

  test("embedding near-dup pairs: LSH buckets surface the near-identical pair") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.001f, 0.0f, 0.0f)), // near-dup of 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(emb, col("vec_id"),
      col("embedding"), threshold = 0.99, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("semanticDedup prunes the in-cluster near-copy and nothing else") {
    // ids 0-3 point near +x (centroid id 0), ids 4-7 near +z (centroid
    // id 4); id 3 is a near-copy of id 1 (cosine ≈ 0.999997); every other
    // in-cluster pair sits below 0.99
    val emb = Seq(
      (0L, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.3f, 0.0f, 0.0f)),
      (2L, Seq(0.8f, -0.4f, 0.2f, 0.0f)),
      (3L, Seq(0.9001f, 0.2999f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.05f)),
      (5L, Seq(0.0f, 0.3f, 0.9f, 0.0f)),
      (6L, Seq(0.2f, 0.0f, 0.8f, -0.4f)),
      (7L, Seq(0.0f, 0.0f, 0.7f, 0.7f))).toDF("vec_id", "embedding")
    // the fixture PLANTS which ids seed the clusters: ids 0 and 4
    val seeds = Seq(Seq(1.0f, 0.05f, 0.0f, 0.0f), Seq(0.0f, 0.0f, 1.0f, 0.05f))
    def dedup(eps: Double) = Similarity.semanticDupes(
      Similarity.assign(emb, seeds), eps, clusterHint = 2)
    val pruned = dedup(0.99).collect()
    assert(pruned.length == 1)
    assert(pruned.head.getAs[Long]("dup_id") == 3L)
    assert(pruned.head.getAs[Long]("kept_id") == 1L)
    assert(pruned.head.getAs[Long]("cluster") == 0L)
    assert(pruned.head.getAs[Double]("max_cosine") > 0.999)
    // a threshold no cosine can exceed prunes nothing
    assert(dedup(1.01).isEmpty)
  }

  test("knnGraph: within-cluster top-k matches local brute force, no self/cross pairs") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.3f, 0.0f, 0.0f)),
      (2L, Seq(0.8f, -0.4f, 0.2f, 0.0f)),
      (3L, Seq(0.9001f, 0.2999f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.05f)),
      (5L, Seq(0.0f, 0.3f, 0.9f, 0.0f)),
      (6L, Seq(0.2f, 0.0f, 0.8f, -0.4f)),
      (7L, Seq(0.0f, 0.0f, 0.7f, 0.7f))).toDF("vec_id", "embedding")
    val assigned = Similarity.assign(emb,
      Seq(Seq(1.0f, 0.05f, 0.0f, 0.0f), Seq(0.0f, 0.0f, 1.0f, 0.05f)))
    val got = Similarity.knnGraph(assigned, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // local replay: same cluster, cosineLocal ranking, same tie-breaks
    val rows = assigned.collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq,
        r.getInt(2)))
    val want = rows.flatMap { case (id, v, cl) =>
      rows.filter(o => o._3 == cl && o._1 != id)
        .map(o => (o._1, Similarity.cosineLocal(v, o._2.toSeq)))
        .sortBy { case (nid, c) => (-c, nid) }
        .take(2).zipWithIndex
        .map { case ((nid, c), i) => (id, i + 1, nid, c) }
    }.toSet
    assert(got.toSet == want)
    assert(got.forall { case (a, _, b, _) => a != b })
    assert(got.groupBy(_._1).values.forall(_.length <= 2))
    // the planted near-copy (1,3) is each other's rank-1 neighbor
    assert(got.contains((1L, 1, 3L, got.find(r => r._1 == 1L && r._2 == 1).get._4)))
  }

  test("semanticAssign hash stride is immune to block-structured ids") {
    // ids with a 1 M block offset per shard copy — the replicated-corpus
    // shape (BASELINE.md "Scale probe")
    // that collapsed the dense-id mod pick (when the stride divides the
    // block size, every block re-picks the SAME originals; identical
    // centroids then tie and only the distinct few win the argmax).
    // 4 copies × 500 rows, nList 16 → stride 125, and 125 | 1 M.
    val emb1 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val embN = spark.range(4).crossJoin(emb1)
      .select((col("id") * 1000000 + col("vec_id")).as("vec_id"),
        col("embedding"))
    def distinctClusters(assigned: org.apache.spark.sql.DataFrame): Long =
      assigned.select(col("cluster")).distinct().count()
    // the dense-id mod pick, spelled out: pmod(vec_id, stride) == 0
    val dense = distinctClusters(Similarity.assign(embN,
      Similarity.centroidSampleBy(embN, 16)(s => pmod(col("vec_id"), lit(s)))))
    val hashed = distinctClusters(Similarity.semanticAssign(embN,
      col("vec_id"), col("embedding"), nList = 16))
    assert(dense <= 6, s"fixture no longer triggers the collapse ($dense)")
    assert(hashed >= 10, s"hash stride still collapsed: $hashed clusters")
  }

  test("assignTo frozen centroids reproduces from-scratch assignment row-for-row") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.strideCentroids(
      emb.select(col("vec_id"), col("embedding")), nList = 16)
    val inc = Similarity.assign(emb, cents)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val scratch = Similarity.semanticAssign(emb, col("vec_id"),
      col("embedding"), nList = 16)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(inc == scratch) // incremental ≡ rebuild given the same centroids
  }

  test("semanticAssignMulti: p=1 bit-matches single assignment; p=2 lifts graph recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val single = Similarity.semanticAssign(emb, col("vec_id"),
      col("embedding"), nList = 16)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val base = emb.select(col("vec_id"), col("embedding"))
    val cents = Similarity.strideCentroids(base, nList = 16)
    val multi1 = Similarity.assign(base, cents, p = 1)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(multi1 == single) // same ranking + tie-breaks by construction
    // p=2 emits exactly two DISTINCT lists per vector
    val multi2 = Similarity.assign(base, cents, p = 2)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(multi2.groupBy(_._1).values.forall(_.toSet.size == 2))
    // graph recall vs the exact local top-5 graph rises with p
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    val exact = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map(o => (o._1, Similarity.cosineLocal(v, o._2)))
        .sortBy { case (nid, c) => (-c, nid) }.take(5).map(_._1).toSet
    }.toMap
    def recall(p: Int): Double = {
      val assigned = Similarity.assign(base, cents, p = p)
      val got = Similarity.knnGraph(assigned, k = 5, dedupCandidates = true)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      vecs.map { case (id, _) =>
        (got.getOrElse(id, Set.empty[Long]) & exact(id)).size / 5.0
      }.sum / vecs.length
    }
    val r1 = recall(1); val r2 = recall(2)
    assert(r2 > r1, s"p=2 recall $r2 did not improve on p=1 recall $r1")
  }

  test("knnGraph dedupCandidates: a twice-shared neighbor takes ONE rank slot") {
    // both vectors assigned to both clusters → every pair generated twice
    val assigned = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (1L, Seq(1.0f, 0.0f), 1),
      (2L, Seq(0.9f, 0.1f), 0), (2L, Seq(0.9f, 0.1f), 1),
      (3L, Seq(0.0f, 1.0f), 0), (3L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "cluster")
    val got = Similarity.knnGraph(assigned, k = 2, dedupCandidates = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // without the dedup, vec 1's two slots would BOTH be neighbor 2
    assert(got.filter(_._1 == 1L).map(_._3).toSeq.sorted == Seq(2L, 3L))
    assert(got.groupBy(r => (r._1, r._3)).values.forall(_.length == 1))
  }

  test("packPlacement: two-level scan equals the local prefix sum, any partitioning") {
    val docs = Seq(
      (1L, 100L), (2L, 0L), (3L, 250L), (4L, 512L), (5L, 7L),
      (6L, 1024L), (7L, 1L), (8L, 511L), (9L, 2L), (10L, 300L))
      .toDF("doc_id", "n")
    // local replay: cumulative offsets in doc_id order
    var acc = 0L
    val expected = Seq((1L, 100L), (2L, 0L), (3L, 250L), (4L, 512L),
      (5L, 7L), (6L, 1024L), (7L, 1L), (8L, 511L), (9L, 2L), (10L, 300L))
      .map { case (id, n) =>
        val off = acc; acc += n
        val L = 64L
        (id, n, off, off / L, (off + math.max(n, 1L) - 1) / L, off % L)
      }
    for (parts <- Seq(1, 3, 8)) {
      val got = Packing.packPlacement(docs, col("doc_id"), col("n"),
        seqLen = 64, partitions = parts)
        .orderBy(col("doc_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got == expected, s"partitions=$parts")
    }
    // a zero-token doc occupies no slots but sits at its offset
    val z = expected.find(_._1 == 2L).get
    assert(z._3 == 100L && z._4 == z._5)
    // summary: every touched pack counted once per doc
    val sum4 = Packing.packSummary(Packing.packPlacement(docs,
      col("doc_id"), col("n"), seqLen = 64, partitions = 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 6 spans 1024 tokens from offset 869: packs 13..29
    (13L to 29L).foreach(p => assert(sum4.contains(p)))
    // has_boundary: doc 6 STARTS mid-pack-13 (869 % 64 = 37 > 0) → its
    // first pack carries a doc→doc transition; its continuation packs
    // (sole occupant, no start) do not
    val hb = Packing.packSummary(Packing.packPlacement(docs,
      col("doc_id"), col("n"), seqLen = 64, partitions = 4))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(hb(13L))
    // packs 14..28 hold only doc 6's continuation (no doc starts) —
    // pack 29 is doc 6's LAST pack but docs 7 and 8 start mid-pack
    // there (offsets 1893/1894), so its flag is true again
    (14L to 28L).foreach(p => assert(!hb(p), s"pack $p"))
    assert(hb(29L))
  }

  test("knnGraph salted pair stage (clusterHint) returns the unsalted graph exactly") {
    // the salt raises pair-stage parallelism when clusters < cores
    // (r14); it must be a pure physical rewrite — same pair set, each
    // pair generated exactly once per shared list, identical ranks
    val emb = (0L until 40L).map(i =>
      (i, Seq((math.cos(i * 0.37)).toFloat, (math.sin(i * 0.37)).toFloat,
        ((i % 7).toFloat) / 7.0f, ((i % 3).toFloat) / 3.0f)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.assign(emb,
      Similarity.strideCentroids(emb, nList = 4), p = 2)
    def rows(hint: Int) = Similarity.knnGraph(assigned, k = 3,
      dedupCandidates = true, clusterHint = hint)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val unsalted = rows(0)
    val salted = rows(4) // 4 clusters << local cores → salt kicks in
    assert(salted == unsalted)
  }

  test("adcKnn: int8 candidate scan recovers the brute-force top-k on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getAs[scala.collection.Seq[Float]](0).toSeq
    val codes = Embed.quantizeInt8(emb, col("vec_id"), col("embedding"))
      .select(col("id").as("vec_id"), col("codes"))
    val brute = Similarity.bruteForceKnn(emb, col("vec_id"), col("embedding"),
      q, k = 10).collect().map(_.getLong(0)).toSet
    val adc = Similarity.adcKnn(codes, emb, col("vec_id"), col("embedding"),
      q, k = 10, candidates = 50).collect()
    assert(adc.head.getLong(0) == 0L) // the query row itself ranks first
    val recall = adc.map(_.getLong(0)).count(brute.contains) / 10.0
    assert(recall >= 0.9, s"ADC recall $recall below 0.9")
    // exact re-rank scores are true cosines, approx stays within int8 error
    adc.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 0.02,
        s"approx drifted: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("adcKnn with candidates >= corpus equals brute-force KNN exactly") {
    // the approximate stage only SELECTS candidates; with the budget at
    // corpus size nothing is pruned, so the exact re-rank must reproduce
    // brute force bit-for-bit — scores included
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).select(col("embedding"))
      .head().getAs[scala.collection.Seq[Float]](0).toSeq
    val codes = Embed.quantizeInt8(emb, col("vec_id"), col("embedding"))
      .select(col("id").as("vec_id"), col("codes"))
    val adc = Similarity.adcKnn(codes, emb, col("vec_id"), col("embedding"),
      q, k = 10, candidates = 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.bruteForceKnn(emb, col("vec_id"),
      col("embedding"), q, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(adc == brute)
  }

  test("knnGraph with full multi-assignment equals the exact graph") {
    // p = nList puts every vector in every list: candidates = all pairs,
    // so the dedup'd graph must equal the local brute-force top-k graph
    val emb = Seq(
      (0L, Seq(1.0f, 0.05f, 0.0f)), (1L, Seq(0.9f, 0.3f, 0.1f)),
      (2L, Seq(0.1f, -0.4f, 0.9f)), (3L, Seq(0.0f, 0.8f, 0.6f)),
      (4L, Seq(-0.7f, 0.1f, 0.7f)), (5L, Seq(0.3f, 0.3f, 0.9f)))
      .toDF("vec_id", "embedding")
    // planted seeds (ids 0 and 3); p = 2 puts every vector in both lists
    val assigned = Similarity.assign(emb,
      Seq(Seq(1.0f, 0.05f, 0.0f), Seq(0.0f, 0.8f, 0.6f)), p = 2)
    val got = Similarity.knnGraph(assigned, k = 3, dedupCandidates = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val vecs = emb.collect().map(r =>
      (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    val want = vecs.flatMap { case (id, v) =>
      vecs.filter(_._1 != id)
        .map(o => (o._1, Similarity.cosineLocal(v, o._2)))
        .sortBy { case (nid, c) => (-c, nid) }
        .take(3).zipWithIndex.map { case ((nid, _), i) => (id, i + 1, nid) }
    }.toSet
    assert(got == want)
  }

  test("adcKnn: zero-code rows score -2.0, never NULL") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f)), // zero vector → zero codes
      (3L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val codes = Embed.quantizeInt8(emb, col("vec_id"), col("embedding"))
      .select(col("id").as("vec_id"), col("codes"))
    val out = Similarity.adcKnn(codes, emb, col("vec_id"), col("embedding"),
      Seq(1.0f, 0.0f), k = 3, candidates = 3).collect()
    val zeroRow = out.find(_.getLong(0) == 2L).get
    assert(zeroRow.getDouble(2) == -2.0)
    assert(out.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L))
  }

  test("rrf fusion ranks an item present in both lists first") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = Similarity.rrfFuse(a, b, "id", "rank").collect()
    assert(out.head.getLong(0) == 20L) // 1/62 + 1/61 beats any single-list score
  }

  test("boostRerank multiplies matching rows and re-sorts deterministically") {
    val fused = Seq((1L, 0.02, "spark tuning notes"), (2L, 0.03, "lunch plans"))
      .toDF("id", "rrf_score", "title")
    val out = HybridSearch.boostRerank(fused, col("title"), Seq("spark"),
      boostFactor = 2.0).collect()
    // 0.02*2 = 0.04 > 0.03 → boosted row first
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(math.abs(out.head.getAs[Double]("rrf_score") - 0.04) < 1e-12)
  }

  test("langId picks the dominant stopword profile") {
    val out = Seq(
      (1L, "the cat and the dog went to the market and it is fine"),
      (2L, "el perro y la casa de los gatos que se ven"),
      (3L, "xyzzy qwerty asdf"))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "und")
  }

  test("multimodal: features are partition-independent and deterministic") {
    val media = Multimodal.withFakeMedia(
      Seq((1L, "abc def"), (2L, "zzzz")).toDF("doc_id", "text"))
      .select(col("doc_id"), col("mime"), col("media"))
      .as[Multimodal.MediaRow]
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(media.repartition(3)).collect().sortBy(_.doc_id)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    assert(f1(0).n_bytes == 7)
    assert(math.abs(f1(0).features.sum - 1.0f) <= 1e-6f)
  }

  test("multimodal: binaryFile ingestion reads raw media into opaque columns") {
    val dir = java.nio.file.Files.createTempDirectory("media")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    put("a.png", Array[Byte](0x50, 0x4e, 0x47, 1, 2, 3))
    put("b.WAV", Array[Byte](0x52, 0x49, 0x46, 0x46)) // extension case-folds
    put("c.xyz", Array[Byte](9))                      // unknown → octet-stream
    put("notes.txt", "skip me".getBytes)              // pruned by the glob
    val got = Multimodal
      .ingestBinaryFiles(spark, dir.toString, glob = "*.{png,WAV,xyz}")
      .collect()
      .map(r => (r.getAs[String]("media_uri").split('/').last,
        r.getAs[String]("mime"), r.getAs[Long]("n_bytes"),
        r.getAs[Array[Byte]]("media").length))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq("a.png", "b.WAV", "c.xyz"))
    assert(got.map(_._2).toSeq ==
      Seq("image/png", "audio/wav", "application/octet-stream"))
    assert(got.forall { case (_, _, n, len) => n == len && n > 0 })
    // the ingested frame feeds extractFeatures unchanged: same contract
    // as the fixture path (doc_id keyed off anything stable — here row #)
    val media = Multimodal.ingestBinaryFiles(spark, dir.toString,
      glob = "*.{png,WAV}")
      .select(monotonically_increasing_id().as("doc_id"), col("mime"),
        col("media")).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 2 &&
      feats.forall(f => math.abs(f.features.sum - 1.0f) <= 1e-6f))
  }

  test("multimodal: frame sampling fans out only video rows") {
    val media = Multimodal.withFakeMedia(
      Seq((2L, "a video document with enough bytes to slice into frames ok"),
        (1L, "audio doc")).toDF("doc_id", "text"))
    val frames = Multimodal.sampleFrames(media, framesPerDoc = 3).collect()
    assert(frames.forall(_.getAs[Long]("doc_id") == 2L))
    assert(frames.length == 3)
  }

  private lazy val embSf0001 =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("IVF: probe-and-rerank recall vs brute force, deterministic layout") {
    val qv = embSf0001.filter(col("vec_id") === 0)
      .select(col("embedding")).head()
      .getAs[scala.collection.Seq[Float]](0).toSeq
    val idx = IvfIndex.build(embSf0001, col("vec_id"), col("embedding"), nList = 16)
    assert(idx.centroids.nonEmpty && idx.centroids.length <= 16)
    val got = IvfIndex.search(idx, qv, k = 10, nProbe = 8)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(got.size == 10)
    val exact = Similarity.bruteForceKnn(embSf0001, col("vec_id"),
      col("embedding"), qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((got & exact).size >= 7, s"recall too low: ${(got & exact).size}/10")
    // centroid choice and assignment must not depend on partitioning
    val idx2 = IvfIndex.build(embSf0001.repartition(7), col("vec_id"),
      col("embedding"), nList = 16)
    assert(idx2.centroids == idx.centroids)
    val got2 = IvfIndex.search(idx2, qv, k = 10, nProbe = 8)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(got2 == got)
  }

  test("multi-table LSH: compounded recall dominates single-table") {
    val qv = embSf0001.filter(col("vec_id") === 0)
      .select(col("embedding")).head()
      .getAs[scala.collection.Seq[Float]](0).toSeq
    val exact = Similarity.bruteForceKnn(embSf0001, col("vec_id"),
      col("embedding"), qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Int =
      (df.collect().map(_.getAs[Long]("vec_id")).toSet & exact).size
    val single = recall(Similarity.lshKnn(embSf0001, col("vec_id"),
      col("embedding"), qv, k = 10, nBits = 4))
    val multi = recall(Similarity.lshKnnMultiTable(embSf0001, col("vec_id"),
      col("embedding"), qv, k = 10, nBits = 4, tables = 8))
    assert(multi >= single, s"multi-table recall $multi < single-table $single")
    assert(multi >= 7, s"multi-table recall too low: $multi/10")
    // deterministic across partitioning
    val multi2 = recall(Similarity.lshKnnMultiTable(embSf0001.repartition(5),
      col("vec_id"), col("embedding"), qv, k = 10, nBits = 4, tables = 8))
    assert(multi2 == multi)
  }

  test("IVF: every vector lands in exactly one list; probes bound the scan") {
    val idx = IvfIndex.build(embSf0001, col("vec_id"), col("embedding"), nList = 8)
    val n = embSf0001.count()
    assert(idx.assigned.count() == n)
    assert(idx.assigned.select(col("cluster")).distinct().count() <= 8)
    // nProbe=1 must scan strictly less than the corpus (list sizes bounded)
    val qv = embSf0001.filter(col("vec_id") === 1)
      .select(col("embedding")).head()
      .getAs[scala.collection.Seq[Float]](0).toSeq
    def probeSize(p: Int): Long = {
      def dotL(a: Seq[Float], b: Seq[Float]): Double =
        a.zip(b).foldLeft(0.0)((acc, x) => acc + x._1.toDouble * x._2.toDouble)
      val ranked = idx.centroids.zipWithIndex.sortBy { case (c, i) =>
        (-(dotL(c, qv) / (math.sqrt(dotL(c, c)) * math.sqrt(dotL(qv, qv)))), i)
      }.take(p).map(_._2)
      idx.assigned.filter(col("cluster").isin(ranked: _*)).count()
    }
    assert(probeSize(1) < n)
    assert(probeSize(8) == n)
  }

}
