package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the concat-and-chunk batch-assembly step of an LLM
  * pretraining pipeline: documents are concatenated in a deterministic
  * global order and cut into fixed `seqLen`-token training sequences
  * ("packs"). The operator computes each document's PLACEMENT: its
  * global token offset, the pack that holds its first token, the pack
  * that holds its last, and its start offset inside the first pack —
  * everything a writer needs to emit packed examples (and a boundary
  * mask) without ever materializing the concatenation.
  *
  * No reference analogue (the reference is a message archive, not a
  * trainer); this belongs to the training-data operator family the
  * engine serves at 100 TB (SURVEY §2.13 adjacents: token counting,
  * mixing, splits).
  *
  * Scale design — the global prefix sum is the classic TWO-LEVEL scan,
  * never a single-partition window:
  *
  *   1. range-partition on the order key (`doc_id`), so partition p
  *      holds a contiguous key range below partition p+1;
  *   2. per-partition local prefix sums (a window PARTITIONED on the
  *      partition id — parallel, no global exchange);
  *   3. the P per-partition totals (P = partition count, driver-bounded
  *      by construction) collect to the driver, cumulative offsets are
  *      computed over them, and re-join as a broadcast on partition id.
  *
  * The result is invariant to WHERE the range boundaries land (offsets
  * derive from the total order, not the partitioning), so the sampled
  * range partitioner costs no determinism. Placement columns are pure
  * integer arithmetic over the offsets — bit-exact against any replay
  * of the same order (the DuckDB oracle runs the same cumulative sum).
  */
object Packing {

  /** Per-document placement under concat-and-chunk packing at `seqLen`
    * tokens, documents ordered by `id` ascending. Zero-token documents
    * occupy no slots: they sit AT their offset (start_in_pack =
    * offset % seqLen, pack_last = pack_first) without advancing it.
    *
    * Output: (doc_id, n_tokens, tok_offset, pack_first, pack_last,
    * start_in_pack).
    */
  def packPlacement(docs: DataFrame, id: Column, tokens: Column,
      seqLen: Int, partitions: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val spark = docs.sparkSession
    val base = docs.select(id.as("doc_id"),
      tokens.cast("long").as("n_tokens"))
    // Range-partition count follows the INPUT's layout, not the core
    // count: the input's partitioning is already size-derived (parquet
    // maxPartitionBytes, shuffle partitions, snapshot inheritance), so
    // a small counts frame stops fanning out over defaultParallelism
    // near-empty ranges (r15, graft.tools.Profile: pack_summary ran 144
    // tasks/run over an 8-partition snapshot; the window/scan stages
    // were 32-wide for hundreds of rows each). At corpus scale the
    // input arrives with proportionally many partitions and the scan
    // keeps its parallelism — the partials collect stays P rows either
    // way. Callers needing explicit control pass `partitions`.
    val n = if (partitions > 0) partitions
      else math.max(1, base.rdd.getNumPartitions)
    // stage 1: contiguous key ranges; __pid captured AT this layout
    val parted = base.repartitionByRange(n, col("doc_id"))
      .withColumn("__pid", spark_partition_id())
    // stage 2: local prefix within each partition id (parallel window)
    val w = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // SNAPSHOTTED (eager localCheckpoint): the partial totals and the
    // placement join both consume this frame, and an unpinned
    // re-derivation could re-sample the range boundaries and assign
    // rows DIFFERENT partition ids than the ones the driver computed
    // base offsets for — silently wrong offsets. localCheckpoint
    // truncates lineage eagerly and self-cleans via the ContextCleaner
    // (a bare persist would pin one cache entry per call for the
    // session's lifetime — r14 review find). Narrow projection (4
    // columns).
    val local = parted.withColumn("__before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("__pid"), col("__before"))
      .localCheckpoint(true)
    // stage 3: P partial totals -> driver -> cumulative base offsets
    val partials = local.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__psum"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val bases = {
      var acc = 0L
      partials.map { case (pid, s) => val b = (pid, acc); acc += s; b }
    }
    val baseDf = broadcast(
      spark.createDataFrame(bases.toSeq).toDF("__b_pid", "__poff"))
    val offset = col("__poff") + col("__before")
    // floor(double) division is exact below 2^53 — ~9e15 tokens, three
    // orders past a 100 TB text corpus (~2.5e13 tokens)
    local.join(baseDf, col("__pid") === col("__b_pid"))
      .select(col("doc_id"), col("n_tokens"),
        offset.as("tok_offset"),
        floor(offset / seqLen).cast("long").as("pack_first"),
        floor((offset + greatest(col("n_tokens"), lit(1L)) - 1) / seqLen)
          .cast("long").as("pack_last"),
        pmod(offset, lit(seqLen.toLong)).as("start_in_pack"))
  }

  /** EMIT the packed examples a trainer consumes — the write side of
    * [[packPlacement]] (which computes placement without materializing
    * the concatenation; this materializes it, sharded). Each output row
    * is one `seqLen`-token training sequence:
    *
    *   - `pack_id`    — the pack's index in the global concat order;
    *   - `n_tokens`   — `seqLen` everywhere except the final partial pack;
    *   - `tokens`     — the pack's token slice, in concat order;
    *   - `boundary_pos` — ascending in-pack offsets where a NEW document's
    *     first token sits strictly inside the pack (offset > 0) — the
    *     positions an attention/loss boundary mask must mark, matching
    *     [[packSummary]]'s `has_boundary` semantics (a doc starting on
    *     the pack edge is no interior boundary; an empty-token doc emits
    *     no tokens and hence no mask position).
    *
    * Shape: one placement computation (the two-level scan), one
    * doc_id-keyed join of offsets back onto the token arrays (the input
    * is snapshotted so the corpus lineage runs once, not once per
    * subtree), one posexplode (the corpus pass), and ONE shuffle keyed
    * on pack_id — groups are seqLen-bounded by construction, so the
    * aggregate is skew-free at any corpus size. Shards ride the same
    * bucket-ordered writer contract as the mbox export
    * ([[Export.writeMbox]]): one writer task per bucket, file set
    * concatenates in bucket order, and a reader bounds memory by
    * packs/buckets. The bucket count follows the corpus token volume
    * ([[graft.Sizing.packShards]]); the total is one tiny aggregate over
    * the already-snapshotted input.
    */
  def writePacks(docs: DataFrame, id: Column, tokens: Column, seqLen: Int,
      outDir: String): Unit = {
    val (frame, base) = packFrameWithBase(docs, id, tokens, seqLen)
    val n = graft.Sizing.packShards(
      base.agg(coalesce(sum(size(col("__toks"))), lit(0L))).head().getLong(0))
    graft.queries.bucketOrderedN(frame, col("pack_id"), n)
      .write.mode("overwrite").parquet(outDir)
  }

  /** The pack-assembly frame [[writePacks]] materializes — package-
    * visible so PlanAuditSpec can pin its exchange profile (corpus
    * shuffles only on the doc_id join key and pack_id).
    *
    * Assembly moves array SLICES, not token rows (r15): the original
    * posexplode emitted one row PER TOKEN into the pack aggregate —
    * Σtokens rows of per-row hash-agg bookkeeping plus an
    * array_sort over seqLen (off, tok) structs per pack. A document
    * touches pack_first..pack_last, so exploding the per-doc PACK SPAN
    * instead yields Σspans ≈ |docs| + |packs| rows, each carrying its
    * doc's token slice for that pack; the per-pack aggregate sorts a
    * handful of disjoint pieces by start offset and flattens. Same
    * bytes through the shuffle, ~seqLen× fewer rows through explode +
    * aggregate. Bit-equivalence with the per-token form is pinned by
    * PackingPropSpec (tokens in offset order, boundary semantics,
    * empty-doc and pack-edge cases).
    */
  private[graft] def packFrame(docs: DataFrame, id: Column, tokens: Column,
      seqLen: Int): DataFrame =
    packFrameWithBase(docs, id, tokens, seqLen)._1

  /** [[packFrame]] plus the snapshotted (doc_id, __toks) base it was
    * built from — [[writePacks]] reuses the snapshot for its one-row
    * token-total aggregate instead of re-deriving the corpus.
    */
  private def packFrameWithBase(docs: DataFrame, id: Column, tokens: Column,
      seqLen: Int): (DataFrame, DataFrame) = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val sl = seqLen.toLong
    val base = docs.select(id.as("doc_id"), tokens.as("__toks"))
      .localCheckpoint(true)
    val placement = packPlacement(base, col("doc_id"), size(col("__toks")),
      seqLen)
    // span row = (doc, one pack it touches); empty docs occupy no slots
    // (the per-token form emitted no rows for them either)
    val spans = base
      .join(placement, "doc_id")
      .filter(col("n_tokens") > 0)
      .select(col("tok_offset"), col("__toks"), col("n_tokens"),
        col("pack_first"), col("start_in_pack"),
        explode(sequence(col("pack_first"), col("pack_last"))).as("pack_id"))
    // the doc's token range clipped to this pack: global [__s, __e)
    val s0 = greatest(col("pack_id") * sl, col("tok_offset"))
    val e0 = least((col("pack_id") + 1) * sl,
      col("tok_offset") + col("n_tokens"))
    val pieces = spans.select(col("pack_id"),
      pmod(s0, lit(sl)).as("off0"),
      slice(col("__toks"), (s0 - col("tok_offset") + 1).cast("int"),
        (e0 - s0).cast("int")).as("piece"),
      // boundary: the doc's FIRST token sits strictly inside this pack —
      // same predicate as the per-token form's (pos == 0 && off > 0)
      (col("pack_id") === col("pack_first") && col("start_in_pack") > 0)
        .as("is_bound"))
    // off0 is unique within a pack (pieces are disjoint intervals), so
    // the struct sort is total; flatten concatenates pieces in offset
    // order — exactly the per-token sort's token sequence
    (pieces.groupBy(col("pack_id")).agg(
      sum(size(col("piece"))).cast("long").as("n_tokens"),
      flatten(transform(
        array_sort(collect_list(struct(col("off0"), col("piece")))),
        x => x.getField("piece"))).as("tokens"),
      // collect_list drops nulls: only boundary offsets survive the when
      array_sort(collect_list(when(col("is_bound"), col("off0"))))
        .as("boundary_pos")), base)
  }

  /** Pack-level summary over a [[packPlacement]] result: documents per
    * pack (counting every pack a document TOUCHES), first/last doc, and
    * `has_boundary` — whether a document STARTS strictly inside the
    * pack (a mid-pack doc→doc transition, the positions a boundary/
    * attention mask must mark; a doc starting exactly on the pack edge
    * is no interior boundary). One explode of the per-doc pack range
    * (bounded by each doc's span) + one hash aggregate on pack_id.
    */
  def packSummary(placement: DataFrame): DataFrame =
    placement
      .select(col("doc_id"), col("pack_first"), col("start_in_pack"),
        explode(sequence(col("pack_first"), col("pack_last")))
          .as("pack_id"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        coalesce(max(col("pack_id") === col("pack_first") &&
          col("start_in_pack") > 0), lit(false)).as("has_boundary"))
}
