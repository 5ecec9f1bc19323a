package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for archive + training-data pipelines.
  *
  * The reference dedups messages by RFC822 Message-ID with a
  * normalized-content sha256 fallback and preference-ranked survivor
  * selection (reference: internal/dedup/dedup.go:166-303, 505-600,
  * 673-758). Generalized here to any (id, text) table, plus the near-dup
  * family (MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine) a
  * 100 TB pretraining pipeline needs.
  *
  * Scale design: every operator is a key-shuffle (groupBy hash/band/bucket)
  * with no global state; candidate generation is strictly
  * bucket-local so the pairwise step never goes quadratic in the corpus —
  * only in the bucket.
  */
object Dedup {

  /** Exact duplicate groups: sha2(content) → groups with >1 member.
    * One shuffle on the 256-bit key; map-side partial agg applies.
    */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    // NULL text must not form a group: sha2(NULL) is NULL and groupBy
    // groups nulls together, so unrelated null-text rows would prune
    // each other as "duplicates"
    df.filter(text.isNotNull)
      .groupBy(sha2(text, 256).as("content_hash"))
      .agg(count(lit(1)).as("dup_count"),
        min(id).as("winner_id"),
        array_sort(collect_list(id)).as("member_ids"))
      .filter(col("dup_count") > 1)

  /** Survivor selection: rank group members by a preference struct
    * (reference dedup.go:62-135 source-type order + sent-copy detection →
    * generalized to caller-supplied preference columns); emit
    * (loser_id, winner_id) pairs — the merge-job input.
    */
  def survivorPairs(df: DataFrame, id: Column, groupKey: Column,
      preference: Seq[Column]): DataFrame = {
    // preference columns must survive the projection the window runs
    // over — aliased positionally so caller expressions (struct(...),
    // when(...)) need no resolvable name of their own
    val prefs = preference.zipWithIndex.map { case (c, i) => c.as(s"__p$i") }
    val w = Window.partitionBy(col("__g"))
      .orderBy(prefs.indices.map(i => col(s"__p$i").asc) :+ col("__id").asc: _*)
    df.select(id.as("__id") +: groupKey.as("__g") +: prefs: _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("winner_id", first(col("__id")).over(
        Window.partitionBy(col("__g"))
          .orderBy(col("__rn"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__rn") > 1)
      .select(col("__id").as("loser_id"), col("winner_id"))
  }

  /** MinHash signatures. Signature j = min over word-shingles of a
    * j-seeded rehash of the shingle hash (shingle hash chained from token
    * hashes — shingle strings are never materialized; no distinct pass —
    * `min` is idempotent over duplicates, so the multiset signature
    * equals the set signature).
    *
    * Returns (doc_id, sig: array<long>[k]); docs with zero tokens are
    * absent.
    */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, shingleSize: Int = 3): DataFrame =
    // a signature is a per-row scalar (depends only on the doc's own
    // tokens) → ONE custom expression with a tight per-row loop
    // (org.apache.spark.sql.graft.MinHashSignature); no shuffle at all.
    // Spread first: single-file scans would otherwise run the whole
    // corpus on one core.
    // The zero-token filter tests for a letter or digit (the complement
    // of rawTokens' separator) rather than `sig IS NOT NULL`: the
    // optimizer pushes a filter on the alias below the spread as a
    // second signature evaluation, run on the unspread partitions.
    graft.sources.Tables.spread(
      df.select(id.as("doc_id"), text.as("__text"))
        .filter(lower(col("__text")).rlike("[\\p{L}\\p{N}]")))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.HashingExpressions.minhashSignature(
          rawTokens(col("__text")), numHashes, shingleSize).as("sig"))

  /** MinHash + LSH banding: docs sharing any band bucket become candidate
    * pairs (Broder/Leskovec MMDS construction). Returns distinct
    * (id_a, id_b) with id_a < id_b.
    *
    * Plan: signature (narrow, computed ONCE) → explode bands (×bands rows)
    * → ONE shuffle on (band, band_hash) → [[bucketPairs]]. Buckets larger
    * than `maxBucket` are dropped (standard LSH practice: a bucket that
    * big means the band is degenerate, and keeping it makes candidate
    * count quadratic in the bucket) — so the pair fan-out is bounded by
    * bands × maxBucket²/2 regardless of corpus size, and the corpus is
    * scanned exactly once.
    */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    candidatesFromBands(
      bandRows(df, id, text, numHashes, bands, shingleSize), maxBucket)
      .distinct()

  /** (doc_id, band, band_hash) band rows for LSH bucketing — THE MinHash
    * pass over a frame, shared by the batch candidate generator, the
    * indexed band table and the incremental probe. Factored out so a
    * caller probing SEVERAL references with the same batch (e.g.
    * streaming curation: frozen index + own history) computes the
    * signatures once and feeds [[nearDuplicatesWithBands]],
    * [[probeCandidates]] and [[bandTableFromRows]].
    */
  def bandRows(df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    minhashSignatures(df.select(id.as("doc_id"), text.as("doc_text")),
      col("doc_id"), col("doc_text"), numHashes, shingleSize)
      .select(col("doc_id"), posexplode(org.apache.spark.sql.graft
        .HashingExpressions.bandHashes(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** The bucket-local pair fan-out every blocked pair generator shares
    * (MinHash bands, SimHash bit-bands, winnow fingerprints, sign-LSH
    * buckets): ONE shuffle grouping `rows` on `key`, each bucket's
    * `member`s collected, singletons and buckets over `maxBucket` dropped,
    * members paired by double-explode. Returns (id_a, id_b) member pairs
    * with id(id_a) < id(id_b) — for scalar members (a bare doc id, `id` =
    * identity) that is already the pair-id shape; struct members carry
    * their payload through the shuffle and callers unwrap it.
    */
  private[operators] def bucketPairs(rows: DataFrame, key: Seq[Column],
      member: Column, id: Column => Column, maxBucket: Int): DataFrame =
    rows.groupBy(key: _*)
      .agg(collect_list(member).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(id(col("id_a")) < id(col("id_b")))

  /** [[bucketPairs]] over (band, band_hash, doc_id) rows, WITHOUT a dedup
    * shuffle: a pair sharing j band buckets appears j times.
    */
  private[operators] def candidatesFromBands(banded: DataFrame,
      maxBucket: Int): DataFrame =
    bucketPairs(banded, Seq(col("band"), col("band_hash")), col("doc_id"),
      identity, maxBucket)

  /** THE MinHash verify: exact word-shingle Jaccard for the candidate
    * pairs in `cand`'s two id columns, which join `left` and `right`
    * ((doc_id, doc_text)-shaped) in that order; keeps pairs at or above
    * `threshold`. Each side is a candidate-independent shingle projection,
    * so each pair joins exactly one row per side and `cand` is the one
    * spine. No broadcast HINT on either join: for a web corpus where
    * 30-50% of docs sit in some near-dup pair, the candidate set is
    * O(corpus·dup-rate) and a forced broadcast collects it to the driver
    * (found by the 100× probe: >1 GiB of task results at 500k docs under a
    * dense dup fixture). AQE picks each join from the REAL runtime sizes —
    * broadcast when a side is genuinely small, co-partitioned shuffle join
    * when it is not. The shingle expression is compiled (≈µs/doc vs
    * ms/doc for an interpreted HOF chain) and NULL for zero-token inputs,
    * so degenerate docs never match on an empty set.
    */
  private def verify(cand: DataFrame, left: DataFrame, right: DataFrame,
      threshold: Double, shingleSize: Int): DataFrame = {
    import org.apache.spark.sql.graft.HashingExpressions._
    val (l, r) = (cand.columns(0), cand.columns(1))
    def shingled(d: DataFrame) = d.select(col("doc_id"),
      wordShingles(rawTokens(col("doc_text")), shingleSize).as("__sh"))
    cand
      .join(shingled(left).as("L"), col(l) === col("L.doc_id"))
      .join(shingled(right).as("R"), col(r) === col("R.doc_id"))
      .withColumn("jaccard", distinctJaccard(col("L.__sh"), col("R.__sh")))
      .filter(col("jaccard") >= threshold)
      .select(col(l), col(r), col("jaccard"))
  }

  /** Near-dup via MinHash-LSH candidates + exact Jaccard threshold.
    *
    * Re-rank plan shape: the candidate pair set is referenced ONCE — it
    * is the spine of the [[verify]] join — and the corpus side is a
    * candidate-independent shingle projection joined to it as A and
    * again as B. Every document is shingled once per side; that is
    * cheaper per document than the 64-hash signature every document
    * already paid in banding, so it costs less than re-running the
    * MinHash pass to semi-join the corpus down to candidate members
    * (Spark re-executes each reference to the candidate set: exchange
    * reuse was measured not to fire on these subplans).
    */
  def nearDuplicates(df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, maxBucket: Int = 1000): DataFrame =
    nearDuplicatesWithBands(df, id, text,
      bandRows(df, id, text, numHashes, bands, shingleSize),
      threshold, shingleSize, maxBucket)

  /** [[nearDuplicates]] with the [[bandRows]] precomputed (same banding
    * parameters) — the reuse hook for callers that already paid the
    * MinHash pass.
    */
  def nearDuplicatesWithBands(df: DataFrame, id: Column, text: Column,
      banded: DataFrame, threshold: Double = 0.8,
      shingleSize: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val docs = df.select(id.as("doc_id"), text.as("doc_text"))
    // distinct BEFORE verification: a pair sharing j band buckets would
    // otherwise be exact-verified j times, and with high-recall low-row
    // bandings j is large (2-row bands match a 0.9-Jaccard pair with
    // p≈0.81 each ⇒ ~26 redundant shingle-set intersections at
    // bands=32). The distinct shuffles two longs per candidate — orders
    // of magnitude less data than the redundant verifications it removes
    // once documents are big enough for the intersection to cost.
    // No trailing distinct: cand is already distinct and each pair joins
    // exactly one row per side.
    verify(candidatesFromBands(banded, maxBucket).distinct(), docs, docs,
      threshold, shingleSize)
  }

  /** The indexed corpus's (band, band_hash) → members table — the
    * materialized artifact a production pipeline builds once and probes
    * per ingest batch (persist/write it; [[incrementalProbe]] consumes it).
    */
  def indexedBandTable(indexed: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    bandTableFromRows(
      bandRows(indexed, id, text, numHashes, bands, shingleSize), maxBucket)

  /** Group [[bandRows]] into the [[indexedBandTable]] layout — THE
    * definition of the (band, band_hash) → members grouping
    * ([[indexedBandTable]] delegates here), so a sidecar built from
    * reused band rows cannot drift from a fresh build.
    */
  def bandTableFromRows(rows: DataFrame, maxBucket: Int = 1000): DataFrame =
    rows.groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")) <= maxBucket)

  /** The candidate pairs of an INCREMENTAL probe: the fresh batch's
    * [[bandRows]] `bNew` broadcast into the prebuilt [[indexedBandTable]]
    * `bIdx` (same banding parameters), so the indexed corpus is scanned
    * once and never shuffled. Pairs a fresh doc with an indexed doc only
    * (never fresh×fresh or indexed×indexed). Returns distinct
    * (new_id, indexed_id) — the input of [[incrementalProbe]].
    */
  def probeCandidates(bIdx: DataFrame, bNew: DataFrame): DataFrame =
    bIdx.join(broadcast(bNew), Seq("band", "band_hash"))
      .select(col("doc_id").as("new_id"),
        explode(col("members")).as("indexed_id"))
      .distinct()

  /** INCREMENTAL near-dup: new docs probed against an already-indexed
    * corpus — the daily-ingest path, where re-running batch dedup over
    * corpus+delta would redo O(corpus) work for an O(delta)-sized
    * question. `cand` is the [[probeCandidates]] frame; the exact-Jaccard
    * [[verify]] is bounded by it exactly as in [[nearDuplicates]].
    * `indexed` and `fresh` are still needed for the verify, but each is
    * semi-joined to its candidate members before shingling, so the
    * verify stays O(delta).
    *
    * The plan references `cand` three times (spine + two semi-joins), and
    * exchange reuse was measured NOT to fire on those subplans: each
    * reference recomputes the candidate join and its distinct shuffle,
    * and the MinHash pass behind `bNew` too unless that is materialized.
    * A single-tenant batch caller `localCheckpoint`s `cand` (the
    * `dedup_incremental` query does: it makes the one MinHash pass over
    * the fresh slice structural); a caller probing several references
    * with one batch materializes the batch's band rows instead
    * (streaming curation).
    * This function itself runs no job.
    *
    * Returns (new_id, indexed_id, jaccard) with jaccard ≥ threshold.
    */
  def incrementalProbe(cand: DataFrame, indexed: DataFrame, fresh: DataFrame,
      id: Column, text: Column, threshold: Double = 0.8,
      shingleSize: Int = 3): DataFrame = {
    def members(d: DataFrame, ids: String) =
      d.select(id.as("doc_id"), text.as("doc_text"))
        .join(cand.select(col(ids).as("doc_id")), Seq("doc_id"), "left_semi")
    verify(cand, members(fresh, "new_id"), members(indexed, "indexed_id"),
      threshold, shingleSize)
  }

  /** 64-bit SimHash: per-bit majority vote of token hashes, frequency-
    * weighted (duplicates count). Near-dups differ in ≤ k bits (Hamming).
    *
    * Returns (doc_id, simhash: long); docs with zero real tokens are
    * absent — the expression returns NULL for them (even when handed a
    * raw `split` whose output is never empty), filtered here.
    */
  def simhashSignatures(df: DataFrame, id: Column, toks: Column): DataFrame =
    // per-row scalar, same reasoning as [[minhashSignatures]] — the
    // explode → 64-aggregate encoding existed only to dodge interpreted
    // HOFs and cost a full shuffle of the exploded tokens.
    // The zero-token filter tests the tokens (exactly the expression's
    // NULL condition) rather than `simhash IS NOT NULL`, which the
    // optimizer would push below the spread as a second signature
    // evaluation (same trap as [[minhashSignatures]]).
    graft.sources.Tables.spread(df.select(id.as("doc_id"), toks.as("__toks")))
      .filter(exists(col("__toks"), t => length(t) > 0))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.HashingExpressions
          .simhash64(col("__toks")).as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup PAIRS via exact band blocking (the Manku–Jain–
    * Sarma WWW'07 simhash-dedup construction): split the `sigBits`-bit
    * signature into `maxHamming + 1` contiguous bit-bands; by pigeonhole
    * any pair within Hamming distance `maxHamming` agrees EXACTLY on at
    * least one band, so blocking on (band, band_bits) has recall 1.0 —
    * deterministic, unlike probabilistic minhash banding. Candidates are
    * then verified with the true Hamming distance to kill band-collision
    * false positives.
    *
    * Plan shape: the full signature is ONE long, so it rides through the
    * band shuffle alongside the doc id — explode bands (× bands rows of
    * three longs), ONE shuffle on (band, band_bits), [[bucketPairs]]
    * fan-out capped at `maxBucket` (a 2^bandBits-space collision bucket
    * that large means a degenerate corpus slice — same bound and caveat
    * as LSH), Hamming verified INLINE from the carried signatures. One
    * corpus scan, no join, no broadcast — the join-back alternative
    * would ship the whole signature table to every executor, an O(corpus)
    * memory bound this formulation doesn't have. The final distinct
    * dedups pairs that match in several bands (shuffles only verified
    * survivors).
    *
    * `sigs` carries (doc_id, simhash); returns (id_a, id_b, hamming)
    * with id_a < id_b.
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3, sigBits: Int = 60,
      maxBucket: Int = 1000): DataFrame = {
    val bands = maxHamming + 1
    val bandBits = sigBits / bands
    require(bandBits * bands == sigBits, "bands must divide sigBits")
    val mask = (1L << bandBits) - 1
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("simhash"), b * bandBits)
          .bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_bits")
    bucketPairs(banded, Seq(col("band"), col("band_bits")),
        struct(col("doc_id"), col("simhash")), _("doc_id"), maxBucket)
      .select(col("id_a.doc_id").as("id_a"), col("id_b.doc_id").as("id_b"),
        hamming64(col("id_a.simhash"), col("id_b.simhash")).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact-substring near-dup pairs via winnowing fingerprints
    * (Schleimer–Wilkerson–Aiken; see
    * [[org.apache.spark.sql.graft.WinnowFingerprints]]): docs sharing at
    * least `minShared` selected k-gram hashes are reported with the
    * shared count. Catches long verbatim COPIED PASSAGES inside otherwise
    * different documents — the case set-similarity (minhash/simhash)
    * underweights, because a 500-token boilerplate block inside two 10k-
    * token docs moves Jaccard by only ~5% but yields dozens of shared
    * fingerprints. Any shared run of ≥ k+w−1 tokens is guaranteed ≥ 1
    * shared fingerprint.
    *
    * Plan shape: fingerprints are a per-row scalar (ONE corpus scan, no
    * shuffle), then explode → ONE shuffle on the fingerprint →
    * [[bucketPairs]] fan-out (capped at `maxBucket`, same bound and rationale
    * as [[minhashCandidates]]) → count shared per pair. Pair rows enter
    * the final groupBy once per shared fingerprint; the count is the
    * map-side-combinable aggregate.
    *
    * Returns (id_a, id_b, n_shared) with id_a < id_b, n_shared ≥ minShared.
    */
  def winnowPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 4, w: Int = 5, minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    // explode the expression itself, with no `fps IS NOT NULL` filter:
    // explode of a NULL array emits no rows already, and a filter on (or
    // an explode of) an aliased fps column is pushed below the spread as
    // a second fingerprint evaluation (the optimizer infers
    // `size(fps) > 0 AND fps IS NOT NULL` for an explode of an attribute)
    val fps = graft.sources.Tables.spread(
      df.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.TextExpressions.winnowFingerprints(
          rawTokens(col("__text")), k, w)).as("fp"))
    bucketPairs(fps, Seq(col("fp")), col("doc_id"), identity, maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair set — A~B and B~C put A,B,C in ONE cluster even when A,C were
    * never compared (the transitive step pairwise dedup misses; reference
    * groups transitively too via shared Message-ID keys, dedup.go:505-600).
    *
    * Two execution paths, picked by edge count (the GraphFrames/GraphX
    * production pattern — iterate distributed, finish small graphs
    * centrally):
    *
    *  - **≤ localEdgeThreshold edges**: union-find on the driver. The
    *    near-dup EDGE set after exact verification is tiny relative to
    *    the corpus (it is bounded by the LSH bucket cap, and a healthy
    *    corpus has few dups), so even a 100 TB run usually lands here —
    *    2 M edges is ~32 MB on the driver. One job to count, one to
    *    collect; no iteration.
    *  - **above the threshold**: iterative min-label propagation with
    *    path halving — each round every vertex takes the min label among
    *    itself and its neighbors, then jumps to its label's label
    *    (pointer doubling), so convergence is O(log diameter) rounds;
    *    each round is key-shuffle joins over the EDGE set only.
    *    Convergence is detected by the (monotonically decreasing) sum of
    *    labels going flat — an aggregate per round instead of a
    *    change-count join. Rounds are `localCheckpoint`ed to keep the
    *    plan constant-size; blocks are released by the ContextCleaner
    *    when the frame is GC'd, so callers need not unpersist.
    *
    * Both paths label every vertex with the min doc-id reachable from it,
    * so the result is identical and deterministic regardless of path or
    * partitioning. Throws IllegalStateException if the distributed loop
    * hits maxIter without converging (with path halving 25 rounds covers
    * graphs of diameter ≫ 2^25 — hitting it means something is wrong, and
    * returning half-propagated labels would be a silent wrong answer).
    *
    * Returns (doc_id, cluster_id = min id reachable).
    */
  def duplicateClusters(edges: DataFrame, maxIter: Int = 25,
      localEdgeThreshold: Long = 2000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = edges.sparkSession
    val pairs = edges
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .persist(MEMORY_AND_DISK)
    val edgeCount = pairs.count()
    val out =
      if (edgeCount <= localEdgeThreshold) localUnionFind(spark, pairs)
      else distributedClusters(pairs, maxIter)
    pairs.unpersist(blocking = false)
    out
  }

  /** Driver-side union-find over a collected (bounded) edge set; labels
    * components by min member id — byte-identical to the distributed path.
    */
  private def localUnionFind(spark: org.apache.spark.sql.SparkSession,
      pairs: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    pairs.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      // union by min id: the surviving root IS the component label
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(v => rows += ((v, find(v))))
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "cluster_id")
  }

  private def distributedClusters(pairs: DataFrame, maxIter: Int): DataFrame = {
    val sym = pairs.union(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum.signum() == 0 && labels.isEmpty
    while (!converged && iter < maxIter) {
      // min label among neighbors …
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("__nbr"))
      val stepped = labels.as("l")
        .join(nbrMin.as("n"), col("l.id") === col("n.id"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("__nbr"), col("l.label")))
            .as("label"))
      // … then path-halve: follow the label to ITS label (labels are
      // vertex ids, so the lookup is a self-join on the same frame)
      val next = stepped.as("x")
        .join(stepped.select(col("id").as("label"), col("label").as("__ll"))
          .as("y"), Seq("label"), "left")
        .select(col("id"), coalesce(col("__ll"), col("label")).as("label"))
        .localCheckpoint(true)
      // labels only ever decrease, so an unchanged sum ⇔ a fixed point —
      // one map-side-combined agg per round, no change-count join
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: label propagation did not converge in $maxIter rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }
}
