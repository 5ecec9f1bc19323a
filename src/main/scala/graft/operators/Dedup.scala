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
    * → ONE shuffle on (band, band_hash) → collect bucket members → pairs by
    * double-explode. Buckets larger than `maxBucket` are dropped (standard
    * LSH practice: a bucket that big means the band is degenerate, and
    * keeping it makes candidate count quadratic in the bucket) — so the
    * pair fan-out is bounded by bands × maxBucket²/2 regardless of corpus
    * size, and the corpus is scanned exactly once.
    */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    candidatesRaw(df, id, text, numHashes, bands, shingleSize, maxBucket)
      .distinct()

  /** (doc_id, band, band_hash) band rows for LSH bucketing — shared by
    * the batch candidate generator and the incremental probe.
    */
  private def bandRows(df: DataFrame, id: Column, text: Column,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    minhashSignatures(df, id, text, numHashes, shingleSize)
      .select(col("doc_id"), posexplode(org.apache.spark.sql.graft
        .HashingExpressions.bandHashes(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** [[minhashCandidates]] WITHOUT the dedup shuffle: a pair sharing j
    * band buckets appears j times — for probes/consumers that dedup
    * downstream anyway.
    */
  private[graft] def candidatesRaw(df: DataFrame, id: Column, text: Column,
      numHashes: Int, bands: Int, shingleSize: Int,
      maxBucket: Int): DataFrame =
    candidatesFromBands(
      bandRows(df, id, text, numHashes, bands, shingleSize), maxBucket)

  /** Bucket-capped pair fan-out from (band, band_hash, doc_id) rows —
    * the candidate half of [[candidatesRaw]], split out so callers that
    * already hold the band rows ([[freshBandRows]] reuse) skip the
    * MinHash pass.
    */
  private[graft] def candidatesFromBands(banded: DataFrame,
      maxBucket: Int): DataFrame = {
    val buckets = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
    buckets
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Exact n-gram Jaccard for candidate pairs: re-rank LSH candidates with
    * the true similarity. `withTexts` must carry (id_a, id_b, text_a,
    * text_b) — join texts before calling (pairs ≪ corpus, so the join is
    * cheap).
    */
  def jaccard(textA: Column, textB: Column, shingleSize: Int = 3): Column = {
    // compiled shingle expression (≈µs/doc vs ms/doc for the interpreted
    // transform/slice/concat_ws HOF chain); NULL for zero-token inputs,
    // so degenerate docs yield NULL jaccard instead of matching on [""]
    import org.apache.spark.sql.graft.HashingExpressions._
    distinctJaccard(wordShingles(rawTokens(textA), shingleSize),
      wordShingles(rawTokens(textB), shingleSize))
  }

  /** Near-dup via MinHash-LSH candidates + exact Jaccard threshold.
    *
    * Re-rank plan shape: the candidate pair set is referenced ONCE — it
    * is the spine of the verify join — and the corpus side is a
    * candidate-independent shingle projection joined to it as A and
    * again as B. Every document is shingled once per side; that is
    * cheaper per document than the 64-hash signature every document
    * already paid in banding, so it costs less than re-running the
    * MinHash pass to semi-join the corpus down to candidate members
    * (Spark re-executes each reference to the candidate set: exchange
    * reuse was measured not to fire on these subplans). Each pair joins
    * exactly one A-row and one B-row; the joins are un-hinted (see
    * [[nearDuplicatesWithBands]]).
    */
  def nearDuplicates(df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, maxBucket: Int = 1000): DataFrame =
    nearDuplicatesWithBands(df, id, text,
      bandRows(df.select(id.as("doc_id"), text.as("doc_text")),
        col("doc_id"), col("doc_text"), numHashes, bands, shingleSize),
      threshold, shingleSize, maxBucket)

  /** [[nearDuplicates]] with the band rows precomputed (same banding
    * parameters, (band, band_hash, doc_id)-shaped) — the reuse hook for
    * callers that already paid the MinHash pass.
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
    val cand = candidatesFromBands(banded, maxBucket)
      .distinct()
    // `shingled` does not depend on `cand`, so the MinHash pass behind
    // `cand` runs once. No broadcast HINT on either verify join: for a
    // web corpus where 30-50% of docs sit in some near-dup pair, the
    // candidate set is O(corpus·dup-rate) and a forced broadcast
    // collects it to the driver (found by the 100× probe: >1 GiB of
    // task results at 500k docs under a dense dup fixture). AQE picks
    // each join from the REAL runtime sizes — broadcast when a side is
    // genuinely small, co-partitioned shuffle join when it is not.
    val shingled = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.HashingExpressions
        .wordShingles(rawTokens(col("doc_text")), shingleSize).as("__sh"))
    cand
      .join(shingled.as("A"), col("id_a") === col("A.doc_id"))
      .join(shingled.as("B"), col("id_b") === col("B.doc_id"))
      .withColumn("jaccard", org.apache.spark.sql.graft.HashingExpressions
        .distinctJaccard(col("A.__sh"), col("B.__sh")))
      .filter(col("jaccard") >= threshold)
      // no trailing distinct: cand is already distinct and each pair
      // joins exactly one A-row and one B-row
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** INCREMENTAL near-dup: new docs probed against an already-indexed
    * corpus — the daily-ingest path, where re-running batch dedup over
    * corpus+delta would redo O(corpus) work for an O(delta)-sized
    * question. Candidates pair a fresh doc with an indexed doc only
    * (never fresh×fresh or indexed×indexed); the fresh side's band rows
    * broadcast into the indexed side's (bucket-capped) band table, so
    * the indexed corpus is scanned once and never shuffled, and the
    * exact-Jaccard verify is bounded by the candidate set exactly as in
    * [[nearDuplicates]]. At production scale the indexed band table is
    * a materialized artifact (build once, probe per batch — the
    * memoizedIndex pattern the inverted-index and IVF queries use).
    *
    * Returns (new_id, indexed_id, jaccard) with jaccard ≥ threshold.
    */
  def incrementalNearDuplicates(indexed: DataFrame, fresh: DataFrame,
      id: Column, text: Column, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    incrementalProbe(
      indexedBandTable(indexed, id, text, numHashes, bands, shingleSize,
        maxBucket),
      indexed, fresh, id, text, threshold, numHashes, bands, shingleSize)

  /** The indexed corpus's (band, band_hash) → members table — the
    * materialized artifact a production pipeline builds once and probes
    * per ingest batch (persist/write it; [[incrementalProbe]] consumes it).
    */
  def indexedBandTable(indexed: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    bandTableFromRows(
      bandRows(indexed.select(id.as("doc_id"), text.as("doc_text")),
        col("doc_id"), col("doc_text"), numHashes, bands, shingleSize),
      maxBucket, idCol = "doc_id")

  /** Probe half of [[incrementalNearDuplicates]]: fresh docs against a
    * prebuilt [[indexedBandTable]]. `indexed` is still needed for the
    * exact-Jaccard verify, but only candidate members are shingled.
    *
    * `materializeCandidates = true` eagerly `localCheckpoint`s the
    * bounded candidate set: its lineage holds the MinHash pass over the
    * whole fresh batch, and the verify plan references it three times
    * (spine + two semi-joins that keep the shingling O(delta)). Exchange
    * reuse was measured NOT to fire on those identical subplans, so
    * without the checkpoint the MinHash pass over `fresh` runs three
    * times; the checkpoint makes the single pass structural (a
    * measured ~15% win on the probe). It is OFF by default because it (a)
    * runs a Spark job at DataFrame-construction time — a surprise for a
    * plan-building API — and (b) stores lineage-truncated blocks on
    * executors, which a dynamic-allocation decommission cannot recompute.
    * Opt in from single-tenant batch pipelines (the driver queries do).
    */
  def incrementalProbe(bIdx: DataFrame, indexed: DataFrame, fresh: DataFrame,
      id: Column, text: Column, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, materializeCandidates: Boolean = false): DataFrame =
    incrementalProbeWithBands(bIdx, indexed, fresh,
      freshBandRows(fresh, id, text, numHashes, bands, shingleSize),
      id, text, threshold, shingleSize, materializeCandidates)

  /** The probe frame's (band, band_hash, new_id) rows — the MinHash pass
    * over `fresh`, factored out so a caller probing SEVERAL references
    * with the same batch (e.g. streaming curation: frozen index + own
    * history) computes the signatures once and feeds
    * [[incrementalProbeWithBands]]/[[bandTableFromRows]].
    */
  def freshBandRows(fresh: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3): DataFrame =
    bandRows(fresh.select(id.as("doc_id"), text.as("doc_text")),
      col("doc_id"), col("doc_text"), numHashes, bands, shingleSize)
      .select(col("band"), col("band_hash"), col("doc_id").as("new_id"))

  /** Group band rows into the [[indexedBandTable]] layout — THE
    * definition of the (band, band_hash) → members grouping
    * ([[indexedBandTable]] delegates here), so a sidecar built from
    * reused [[freshBandRows]] cannot drift from a fresh build.
    */
  def bandTableFromRows(rows: DataFrame, maxBucket: Int = 1000,
      idCol: String = "new_id"): DataFrame =
    rows.groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col(idCol)).as("members"))
      .filter(size(col("members")) <= maxBucket)

  /** [[incrementalProbe]] with the probe side's band rows precomputed
    * ([[freshBandRows]], which bakes in the banding parameters — only
    * the verify's `shingleSize` remains a knob here, so a banding
    * mismatch between bNew and bIdx is impossible to express through
    * this signature).
    */
  def incrementalProbeWithBands(bIdx: DataFrame, indexed: DataFrame,
      fresh: DataFrame, bNew: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8,
      shingleSize: Int = 3, materializeCandidates: Boolean = false): DataFrame = {
    val candLazy = bIdx.join(broadcast(bNew), Seq("band", "band_hash"))
      .select(col("new_id"), explode(col("members")).as("indexed_id"))
      .distinct()
    val cand = if (materializeCandidates) candLazy.localCheckpoint(true)
      else candLazy
    // un-hinted verify joins, as in [[nearDuplicatesWithBands]]: AQE
    // picks from the runtime candidate size, which survives dense-dup
    // corpora where candidates grow O(corpus·dup-rate)
    val shingleOf = (d: DataFrame) => d.select(col("doc_id"),
      org.apache.spark.sql.graft.HashingExpressions
        .wordShingles(rawTokens(col("doc_text")), shingleSize).as("__sh"))
    val shIdx = shingleOf(indexed.select(id.as("doc_id"), text.as("doc_text"))
      .join(cand.select(col("indexed_id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
    val shNew = shingleOf(fresh.select(id.as("doc_id"), text.as("doc_text"))
      .join(cand.select(col("new_id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
    cand
      .join(shNew.as("N"), col("new_id") === col("N.doc_id"))
      .join(shIdx.as("I"), col("indexed_id") === col("I.doc_id"))
      .withColumn("jaccard", org.apache.spark.sql.graft.HashingExpressions
        .distinctJaccard(col("N.__sh"), col("I.__sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("indexed_id"), col("jaccard"))
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
    * three longs), ONE shuffle on (band, band_bits), bucket-local pair
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
    banded
      .groupBy(col("band"), col("band_bits"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming64(col("a.simhash"), col("b.simhash")).cast("long")
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
    * shuffle), then explode → ONE shuffle on the fingerprint → bucket-
    * local pair fan-out (capped at `maxBucket`, same bound and rationale
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
    graft.sources.Tables.spread(
      df.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"), explode(
        org.apache.spark.sql.graft.TextExpressions.winnowFingerprints(
          rawTokens(col("__text")), k, w)).as("fp"))
      .groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
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
