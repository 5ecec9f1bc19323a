package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Composed training-data curation pipeline — the end-to-end shape a
  * pretraining data job runs over a 100 TB corpus, built entirely from
  * the operators in this library:
  *
  *   language gate → quality threshold → exact-dup removal (keep the
  *   lowest-id copy) → per-doc token accounting.
  *
  * One scan + one window shuffle on the content fingerprint; every later
  * stage is a narrow filter, so the plan's only wide dependency is the
  * dedup — the same bound a petabyte run needs. Near-dup removal
  * ([[Dedup.nearDuplicates]]) composes after this as a second pass over
  * the survivors (candidate generation needs its own shuffle anyway).
  */
object Curation {

  /** Deterministic core (oracle-able): quality gate FIRST, then exact
    * dedup among the quality survivors — gating after picking winners
    * would drop a whole duplicate group whenever its min-id copy fails
    * the quality check (case-variant dups share a fingerprint but not a
    * quality score). Returns (doc_id, quality, n_tokens).
    */
  def curate(docs: DataFrame, id: Column, text: Column,
      minQuality: Double): DataFrame =
    docs
      // stats projected once (one-pass TextStats scalar expression), so
      // neither the quality sub-scores nor the final token count re-walk
      // the text
      .select(id.as("doc_id"), text.as("__text"),
        TextFunctions.textStats(text).as("__st"))
      .select(col("doc_id"), col("__text"),
        col("__st.n_tokens").cast("long").as("n_tokens"),
        TextFunctions.qualityScoreFromStats(col("__text"), col("__st"))
          .as("quality"))
      .filter(col("quality") >= minQuality)
      .withColumn("__winner", min(col("doc_id")).over(
        Window.partitionBy(TextFunctions.fingerprint(col("__text")))))
      .filter(col("doc_id") === col("__winner"))
      .select(col("doc_id"), col("quality"), col("n_tokens"))

  /** Full pipeline with the non-oracle-able gates composed in: language
    * restriction and LSH near-dup removal over the deterministic
    * survivors.
    */
  def curateFull(docs: DataFrame, id: Column, text: Column,
      minQuality: Double, langs: Set[String],
      nearDupThreshold: Double = 0.8): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("__text"))
      .withColumn("lang", TextFunctions.langId(col("__text")))
      .filter(col("lang").isin(langs.toSeq: _*))
    // MATERIALIZE the survivor set once: `kept` feeds nearDuplicates
    // (which references its doc frame three times: the banding pass and
    // the two shingle sides of the verify join) plus the final
    // anti-join — without the checkpoint each reference re-executes the
    // langId + quality + fingerprint-window subtree, multiplying the
    // dominant full-text scan ~4×. Blocks are reclaimed by the
    // ContextCleaner once the returned frame's lineage is unreachable.
    // Executor loss fails the job (re-run the curation) instead of
    // recomputing.
    val kept = curate(base, col("doc_id"), col("__text"), minQuality)
      .join(base, "doc_id")
      .localCheckpoint(true)
    val nearDupLosers = Dedup.nearDuplicates(kept, col("doc_id"),
      col("__text"), nearDupThreshold)
      .select(col("id_b").as("doc_id")) // keep the lower id of each pair
      .distinct()
    kept.join(nearDupLosers, Seq("doc_id"), "left_anti")
      // n_tokens rides through: the mixture/packing stages downstream
      // need it, and dropping it here would force a second text scan to
      // re-derive what curate's one-pass stats already paid for
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tokens"))
  }

  /** Corpus boilerplate report: the top-k word n-grams by DOCUMENT
    * frequency (each doc counts an n-gram once) — the heavy-hitter scan
    * a curation pipeline runs to find template/boilerplate text worth
    * stripping (CCNet/Dolma-style "common substrings" diagnostics).
    *
    * Scale shape: per-doc DISTINCT n-grams explode into ONE groupBy
    * shuffle with map-side partial aggregation (the per-partition
    * combine absorbs the heavy hitters — precisely the rows that would
    * otherwise skew the shuffle), then a TakeOrderedAndProject top-k; no
    * global sort of the n-gram space.
    */
  def ngramDocFreq(docs: DataFrame, id: Column, text: Column,
      n: Int, topK: Int, minDocs: Long = 2L): DataFrame = {
    graft.sources.Tables.spread(
      docs.select(id.as("doc_id"),
        // compiled shingles; shortFallback=false — a doc below n tokens
        // has no real n-gram and contributes nothing to the report
        org.apache.spark.sql.graft.HashingExpressions.wordShingles(
          TextFunctions.rawTokens(text), n, shortFallback = false)
          .as("__grams")))
      .select(explode(col("__grams")).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .orderBy(col("doc_freq").desc, col("ngram").asc)
      .limit(topK)
  }
}
