package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ControlFile
import graft.operators.Packing

/** Streaming INCREMENTAL packing — the continuous-ingest twin of
  * [[graft.operators.Packing.packPlacement]]: document shards land in a
  * drop directory and every micro-batch's documents are appended to the
  * global concat-and-chunk token stream at the stream's running offset.
  * This is the day-to-day shape of continuous-pretraining batch
  * assembly: the full-corpus placement is the periodic batch job; the
  * per-delivery increment must not rescan the world.
  *
  * Semantics: documents are packed in (arrival batch, id) order. When
  * deliveries are contiguous ascending id ranges (the backfill/replay
  * shape), the incremental placement is BIT-IDENTICAL to the batch
  * operator over the union — the equivalence the `stream_pack_placement`
  * oracle certifies by replaying the plain batch cumsum.
  *
  * Cost per micro-batch is bounded by the BATCH, not the corpus: the
  * two-level scan runs over batch rows only, and the running offset is
  * carried in a per-batch state ledger (`_pack_offsets.json` in the
  * sink), NOT derived by re-aggregating prior placements.
  *
  * Exactly-once is [[Drain]]'s: each batch's placement lands under its
  * own batch partition, which a replay replaces. The ledger keys
  * base/after offsets by BATCH ORDINAL — a replayed batch recomputes the
  * same deterministic input rows (checkpoint contract) and rewrites its
  * own entry with the same values. Micro-batches execute sequentially,
  * one delivered file each, and ordinal k's entry is written before
  * batch k+1 starts, so the base lookup never races its predecessor.
  */
object StreamPacking {

  private def ledgerPath(dir: String) = new Path(dir, "_pack_offsets.json")

  /** The per-batch offset ledger: ordinal → (base, after). */
  private[graft] def readLedger(dir: String): Map[Long, (Long, Long)] =
    ControlFile.readJson(ledgerPath(dir)).fold(Map.empty[Long, (Long, Long)])(
      j => j.entries.map { case (k, e) =>
        k.toLongOption.getOrElse(j.fail(s"ordinal '$k'")) ->
          (e.long("base"), e.long("after"))
      }.toMap)

  private[graft] def writeLedger(dir: String, m: Map[Long, (Long, Long)]): Unit =
    ControlFile.publishJson(ledgerPath(dir), ListMap(
      m.toSeq.sortBy(_._1).map { case (k, (b, a)) =>
        k.toString -> ListMap("base" -> b, "after" -> a)
      }: _*))

  /** Drain every unconsumed document shard in `srcDir`, appending each
    * batch's placement rows (doc_id, n_tokens, tok_offset, pack_first,
    * pack_last, start_in_pack, batch) to `sinkDir`. `tokens` is the
    * per-document token-count expression over the shard schema.
    */
  def runPackAvailableNow(spark: SparkSession, srcDir: String,
      sinkDir: String, checkpoint: String, seqLen: Int,
      id: String, tokens: Column): Unit =
    Drain.run(spark, srcDir, checkpoint, oneFilePerBatch = true) {
      (batch, tag, batchId) =>
        packBatch(spark, batch, sinkDir, tag, batchId, seqLen, id, tokens)
    }

  /** One micro-batch: place the batch's documents at the running offset,
    * write under the batch's own partition, advance the ledger.
    * graft-private so the spec can drive batches (and replays)
    * deterministically.
    */
  private[graft] def packBatch(spark: SparkSession, batch: DataFrame,
      sinkDir: String, tag: String, ordinal: Long, seqLen: Int,
      id: String, tokens: Column): Unit = {
    val ledger = readLedger(sinkDir)
    val base = if (ordinal == 0L) 0L
      else ledger.getOrElse(ordinal - 1,
        throw new IllegalStateException(
          s"pack ledger at $sinkDir missing ordinal ${ordinal - 1} — " +
            s"batch $ordinal cannot derive its base offset"))._2
    // batch-bounded two-level scan, then pure arithmetic re-derivation
    // of the pack columns at the SHIFTED offset (the placement operator
    // numbers from 0; the stream numbers from the running total)
    val placed = Packing.packPlacement(batch, col(id), tokens, seqLen)
    val off = col("tok_offset") + lit(base)
    val shifted = placed.select(
      col("doc_id"), col("n_tokens"),
      off.as("tok_offset"),
      floor(off / seqLen).cast("long").as("pack_first"),
      floor((off + greatest(col("n_tokens"), lit(1L)) - 1) / seqLen)
        .cast("long").as("pack_last"),
      pmod(off, lit(seqLen.toLong)).as("start_in_pack"))
      // the write and the total below are two reads of this frame — and
      // a failed speculative re-derivation must not double-place rows
      .localCheckpoint(true)
    val total = {
      val row = shifted.agg(coalesce(sum(col("n_tokens")), lit(0L))).head()
      row.getLong(0)
    }
    // file count follows batch size (Sizing.streamPackFiles), not the
    // placement scan's partition count: writing that layout verbatim
    // emits up to a core count of near-empty files per micro-batch.
    // coalesce is narrow and reduce-only — a small batch never shuffles.
    val files = graft.Sizing.streamPackFiles(total, graft.Sizing.cores(spark))
    Drain.replaceBatch(shifted.coalesce(files), sinkDir, tag)
    writeLedger(sinkDir, ledger + (ordinal -> (base, base + total)))
  }
}
