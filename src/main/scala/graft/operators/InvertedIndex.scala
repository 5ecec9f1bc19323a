package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native inverted index for deep text search — the index-backed
  * answer to FTS5 that SURVEY §4 marked "no Spark equivalent". The index
  * is a Parquet table `(token, df, postings: array<long>)` sorted by
  * token:
  *
  *   - build: explode distinct tokens per doc → groupBy token →
  *     sorted postings list (one shuffle, linear in corpus);
  *   - store: range-partitioned + sorted by token, so a term or prefix
  *     lookup prunes to a handful of row groups via Parquet min/max on
  *     the sort column — query cost ∝ matched postings, NOT corpus size;
  *   - query: one scan of the matched index rows, explode postings,
  *     count distinct matched terms per doc = AND semantics.
  *
  * This is the structure that turns the "honest full scan per query"
  * trade (graft.functions.Fts) into an index lookup at 100 TB; the scan
  * path remains for ad-hoc queries over un-indexed columns.
  */
object InvertedIndex {

  /** Build the index frame from (id, tokens).
    *
    * `toks` MUST already be case/diacritic-normalized the way query
    * terms will be ([[graft.functions.TextFunctions.tokens]], or
    * lowercase input text before a whitespace split): the query helpers
    * below lowercase their terms — FTS5's unicode61 folds BOTH sides at
    * tokenize time — so an index built over case-preserving tokens
    * silently misses every mixed-case match ("Spark" indexed, query
    * folded to "spark", startsWith fails).
    */
  def build(docs: DataFrame, id: Column, toks: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(array_distinct(toks)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))

  /** Write token-sorted so term/prefix predicates become row-group skips. */
  def write(index: DataFrame, dir: String, buckets: Int = 16): Unit =
    index.repartitionByRange(buckets, col("token"))
      .sortWithinPartitions(col("token"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Ranked variant of the index: postings carry term frequency —
    * `(token, df, postings: array<struct<doc_id, tf>>)` — plus a separate
    * compact doc-length table `(doc_id, dl)`, which together are
    * everything BM25 needs without touching the corpus. Same token
    * normalization contract as [[build]].
    *
    * `withDl = true` additionally embeds the document length in each
    * posting (`struct<doc_id, tf, dl>`) — FTS5 keeps lengths in a
    * separate %_docsize table it point-reads per matched doc, but in
    * Spark that lookup is a join whose stream side scans the WHOLE
    * doc-length table per query; denormalizing one int into each posting
    * makes query cost ∝ matched postings at any corpus size (BASELINE
    * Round 13's decade tables are the evidence; `bm25_rank_indexed` on a
    * `MakeScale … disjoint` corpus re-times it). The doclens table is
    * still returned for corpus stats ([[corpusStats]], computed once per
    * snapshot).
    */
  def buildRanked(docs: DataFrame, id: Column, toks: Column,
      withDl: Boolean = false): (DataFrame, DataFrame) = {
    val base = docs.select(id.as("doc_id"), toks.as("__toks"))
    val exploded = base.select(col("doc_id"),
      explode(col("__toks")).as("token"),
      size(col("__toks")).cast("double").as("dl"))
    val perDoc = exploded
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val posting =
      if (withDl) struct(col("doc_id"), col("tf"), col("dl"))
      else struct(col("doc_id"), col("tf"))
    val index = perDoc
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(posting)).as("postings"))
    val doclens = base.select(col("doc_id"),
      size(col("__toks")).cast("double").as("dl"))
    (index, doclens)
  }

  /** Corpus constants for [[bm25Search]]: total docs + mean doc length,
    * one blocking pass over the doc-length table. Callers serving many
    * queries over one index snapshot precompute this once — without it
    * every query re-pays an O(corpus) doclens aggregate just to learn
    * two scalars that are fixed per snapshot (the knee BASELINE Round
    * 13 measured: the postings lookup is flat per decade, the stats
    * scan is linear).
    */
  def corpusStats(doclens: DataFrame): (Long, Double) = {
    val statsRow =
      doclens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
    val n = statsRow.getAs[Long]("n")
    // avg over zero rows is null — empty corpus must not NPE
    (n, if (statsRow.isNullAt(1)) 0.0 else statsRow.getAs[Double]("avgdl"))
  }

  /** BM25 top-k through the index: matched index rows → exploded
    * (doc, tf) → per-doc score sum → TakeOrdered. Corpus stats (N,
    * avgdl) come from the doc-length table — or from a precomputed
    * [[corpusStats]] snapshot (`statsOpt`), which keeps the per-query
    * cost ∝ matched postings instead of corpus size; df from the index
    * row. Same formula as [[graft.functions.Fts.bm25]] (k1/b defaults).
    * A supplied stats pair MUST describe `doclens` as passed.
    */
  def bm25Search(index: DataFrame, doclens: DataFrame, terms: Seq[String],
      limit: Int = 100, k1: Double = 1.2, b: Double = 0.75,
      statsOpt: Option[(Long, Double)] = None): DataFrame = {
    val lower = terms.map(_.toLowerCase).distinct
    val (n, avgdl) = statsOpt.getOrElse(corpusStats(doclens))
    val dfs = index.filter(col("token").isin(lower: _*))
      .select(col("token"), col("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = lower.map { t =>
      val df = dfs.getOrElse(t, 0L)
      t -> math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
    val idfCol = lower.foldLeft(when(lit(false), 0.0)) { (acc, t) =>
      acc.when(col("token") === t, idf(t))
    }.otherwise(0.0)
    // an index built withDl needs no doclens join at query time — the
    // per-posting length rides in the index row (see buildRanked)
    val hasDl = index.schema("postings").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        s: org.apache.spark.sql.types.StructType, _) =>
        s.fieldNames.contains("dl")
      case _ => false
    }
    val matched = index.filter(col("token").isin(lower: _*))
      .select(idfCol.as("__idf"), explode(col("postings")).as("p"))
    val scored =
      if (hasDl)
        matched.select(col("p.doc_id").as("doc_id"),
          col("p.tf").cast("double").as("__tf"), col("__idf"),
          col("p.dl").as("dl"))
      else
        matched.select(col("p.doc_id").as("doc_id"),
          col("p.tf").cast("double").as("__tf"), col("__idf"))
          .join(doclens, "doc_id")
    scored
      .withColumn("__score",
        col("__idf") * col("__tf") * (k1 + 1.0) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(sum(col("__score")).as("bm25_score"))
      .orderBy(col("bm25_score").desc, col("doc_id").asc)
      .limit(limit)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_score").desc, col("doc_id").asc)))
  }

  /** Doc ids matching ALL terms (prefix or exact): one index scan tags
    * each matched token row with the query-term indexes it satisfies;
    * exploding postings and counting distinct satisfied terms per doc
    * gives the AND. Returns a single-column (doc_id) frame.
    *
    * Works on BOTH index shapes: plain ([[build]] — bare doc-id
    * postings) and ranked ([[buildRanked]] — struct postings). The
    * struct case must project `doc_id` out BEFORE the AND grouping:
    * grouping by the raw struct would split a doc across (tf, dl)
    * variants and silently break the all-terms count (a doc whose terms
    * carry different tfs would never reach `hits == terms.length`).
    */
  def matchingIds(index: DataFrame, terms: Seq[String],
      prefix: Boolean): DataFrame = {
    require(terms.nonEmpty, "at least one term")
    val lower = terms.map(_.toLowerCase)
    def pred(t: String): Column =
      if (prefix) col("token").startsWith(t) else col("token") === t
    val matchedIdx = array_compact(array(lower.zipWithIndex.map {
      case (t, i) => when(pred(t), i)
    }: _*))
    val structPostings = index.schema("postings").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        s: org.apache.spark.sql.types.StructType, _) =>
        s.fieldNames.contains("doc_id")
      case _ => false
    }
    index
      .filter(lower.map(pred).reduce(_ || _))
      .select(col("postings"), explode(matchedIdx).as("__term"))
      .select(explode(col("postings")).as("__p"), col("__term"))
      .select((if (structPostings) col("__p.doc_id") else col("__p"))
        .as("doc_id"), col("__term"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("__term")).as("__hits"))
      .filter(col("__hits") === lower.length)
      .select(col("doc_id"))
  }
}
