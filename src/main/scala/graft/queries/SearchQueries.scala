package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Fts, TextFunctions}
import graft.operators.HybridSearch
import graft.sources.Tables

/** FTS-emulation + hybrid search over documents/embeddings (SURVEY §2.9-10
  * deep-search path). BM25 constants k1=1.2, b=0.75; RRF K=60 (reference
  * internal/vector/hybrid/rrf.go:15). Oracle SQL mirrors the exact double
  * arithmetic (same literal parses, same operation order); the one
  * non-portable op (ln: JVM vs libm, ±1 ulp) is neutralized by rounding the
  * displayed score to 6 decimals on both sides — ordering is tie-broken by
  * id so a sub-ulp difference cannot reorder rows.
  */
object SearchQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val terms = Seq("spark", "join")

  /** BM25 corpus stats for the standing query terms — corpus constants,
    * measured once per snapshot (the serving shape: stats ride with the
    * persistent index, not with each query).
    */
  private def bm25Stats(s: SparkSession, dir: String): Fts.CorpusStats =
    memoizedIndex(s, dir, "bm25_stats_" + terms.mkString("_")) {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.wsTokens(lower(col("text"))).as("toks"))
      Fts.corpusStats(docs, col("toks"), terms)
    }

  // --- FTS5-style prefix AND-match -----------------------------------------

  def ftsPrefixSearch(s: SparkSession, dir: String): DataFrame =
    // tokens projected once, then the AND-of-prefix predicate over the
    // column — an inline filter would tokenize once per query term
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.wsTokens(lower(col("text"))).as("__toks"))
        .filter(Fts.prefixMatch(col("__toks"), Seq("spar", "win")))
        .select(col("doc_id"), col("lang")),
      col("doc_id"))

  val ftsPrefixSearchSql: String =
    s"""SELECT doc_id, lang FROM documents
      |WHERE len(list_filter(string_split(text, ' '), t -> t LIKE 'spar%')) > 0
      |  AND len(list_filter(string_split(text, ' '), t -> t LIKE 'win%')) > 0
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Same semantics (and SAME oracle) as [[ftsPrefixSearch]], answered
    * through the inverted index instead of a corpus scan — at archive
    * scale the index rows for two prefixes replace a full-text pass.
    */
  def ftsIndexedSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // the index is built ONCE and served warm across searches — the
    // reference's FTS5 index is persistent (built at ingest), so the
    // per-search cost is posting-list probe + page hydrate only
    val index = memoizedIndex(s, dir, "fts_inverted") {
      // lowercase BEFORE the split: InvertedIndex's contract is
      // normalized tokens (query terms fold to lowercase). The synthetic
      // corpus is already lowercase, so this is a no-op on the oracle —
      // it guards the mixed-case corpus case.
      val i = graft.operators.InvertedIndex.build(
        docs, col("doc_id"), TextFunctions.wsTokens(lower(col("text"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      i.count()
      i
    }
    val ids = graft.operators.InvertedIndex.matchingIds(
      index, Seq("spar", "win"), prefix = true)
    bucketOrdered(
      docs.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang")),
      col("doc_id"))
  }

  // --- BM25 ranking ---------------------------------------------------------

  def bm25Rank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.wsTokens(lower(col("text"))).as("toks"))
    orderedAtTail(
      Fts.bm25Search(docs, col("doc_id"), col("toks"), terms, limit = 100,
        statsOpt = Some(bm25Stats(s, dir)))
        .select(col("doc_id"), round(col("bm25_score"), 6).as("bm25_score"),
          col("rank")),
      col("rank").asc)
  }

  /** Same ranking (and the SAME oracle SQL) as [[bm25Rank]], answered
    * through the persistent ranked index instead of a corpus scan — the
    * serving shape measured flat-per-decade for scoped terms (BASELINE
    * Round 13; re-time with `Profile` on a `MakeScale … disjoint`
    * corpus): postings carry tf AND dl
    * (`buildRanked(withDl = true)`), corpus stats are a one-time
    * snapshot, so the per-query plan touches matched index rows only —
    * no corpus scan, no doclens join, no per-query stats aggregate.
    * Score parity with the scan path is exact in practice: per-(doc,
    * term) partial scores are the same doubles, and the two-term sum is
    * order-independent (IEEE addition is commutative); the displayed
    * score rounds to 6 decimals like every BM25 surface.
    */
  def bm25RankIndexed(s: SparkSession, dir: String): DataFrame = {
    val (index, doclens, stats) =
      memoizedIndex(s, dir, "bm25_ranked_idx_" + terms.mkString("_")) {
        val docs = t(s, dir, "documents")
        val (i, dl) = graft.operators.InvertedIndex.buildRanked(
          docs, col("doc_id"), TextFunctions.wsTokens(lower(col("text"))),
          withDl = true)
        val ip = i.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ip.count()
        val dlp = dl.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        dlp.count()
        (ip, dlp, graft.operators.InvertedIndex.corpusStats(dlp))
      }
    orderedAtTail(
      graft.operators.InvertedIndex.bm25Search(index, doclens, terms,
        limit = 100, statsOpt = Some(stats))
        .select(col("doc_id"), round(col("bm25_score"), 6).as("bm25_score"),
          col("rank")),
      col("rank").asc)
  }

  val bm25RankSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |stats AS (
      |  SELECT COUNT(*) AS n, AVG(CAST(len(toks) AS DOUBLE)) AS avgdl,
      |         SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df1,
      |         SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df2
      |  FROM d),
      |tf AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE) AS tf1,
      |         CAST(len(list_filter(toks, t -> t = 'join')) AS DOUBLE) AS tf2,
      |         CAST(len(toks) AS DOUBLE) AS dl
      |  FROM d),
      |scored AS (
      |  SELECT doc_id,
      |         ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * (1.2 + 1.0) /
      |           (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) +
      |         ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * (1.2 + 1.0) /
      |           (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS score
      |  FROM tf, stats
      |  WHERE tf1 > 0 OR tf2 > 0),
      |ranked AS (
      |  SELECT doc_id, score,
      |         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM scored)
      |SELECT doc_id, round(score, 6) AS bm25_score, rank
      |FROM ranked WHERE rank <= 100 ORDER BY rank ASC""".stripMargin

  // --- Hybrid BM25 + ANN with RRF fusion -------------------------------------

  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.wsTokens(lower(col("text"))).as("toks"))
    val emb = t(s, dir, "embeddings")
    val qv = DocQueries.queryVector(s, dir) // shared snapshot memo
    orderedAtTail(
      HybridSearch.fusedSearch(
        docs, col("doc_id"), col("toks"),
        emb, col("vec_id"), col("embedding"),
        terms, qv, k = 20, statsOpt = Some(bm25Stats(s, dir))).df
        .select(col("id").as("doc_id"),
          round(col("rrf_score"), 9).as("rrf_score")),
      col("rrf_score").desc, col("doc_id").asc)
  }

  val hybridRrfSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |stats AS (
      |  SELECT COUNT(*) AS n, AVG(CAST(len(toks) AS DOUBLE)) AS avgdl,
      |         SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df1,
      |         SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df2
      |  FROM d),
      |tf AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE) AS tf1,
      |         CAST(len(list_filter(toks, t -> t = 'join')) AS DOUBLE) AS tf2,
      |         CAST(len(toks) AS DOUBLE) AS dl
      |  FROM d),
      |bm25 AS (
      |  SELECT doc_id,
      |         ROW_NUMBER() OVER (ORDER BY
      |           ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * (1.2 + 1.0) /
      |             (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) +
      |           ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * (1.2 + 1.0) /
      |             (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) DESC,
      |           doc_id ASC) AS rank
      |  FROM tf, stats WHERE tf1 > 0 OR tf2 > 0
      |  QUALIFY rank <= 20),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |ann AS (
      |  SELECT vec_id AS doc_id,
      |         ROW_NUMBER() OVER (ORDER BY
      |           ${duckCos("embedding", "qv")}
      |           DESC, vec_id ASC) AS rank
      |  FROM embeddings, q
      |  QUALIFY rank <= 20)
      |SELECT COALESCE(bm25.doc_id, ann.doc_id) AS doc_id,
      |       round(COALESCE(1.0 / (60 + bm25.rank), 0.0) +
      |             COALESCE(1.0 / (60 + ann.rank), 0.0), 9) AS rrf_score
      |FROM bm25 FULL OUTER JOIN ann USING (doc_id)
      |ORDER BY rrf_score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Boost-aware hybrid search: full fused pool (≤2k) → subject boost →
    * trim (reference fused.go:203-216 over-fetch; the deep-rank promotion
    * regression fused_test.go:902-1069). Boost trigger here is the doc's
    * `lang` column containing "de"; factor 2.0 is an exact power-of-two
    * double multiply, so the oracle reproduces scores bit-for-bit.
    */
  def hybridRrfBoosted(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.wsTokens(lower(col("text"))).as("toks"))
    val emb = t(s, dir, "embeddings")
    val subj = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val qv = DocQueries.queryVector(s, dir)
    orderedAtTail(
      HybridSearch.fusedSearchBoosted(
        docs, col("doc_id"), col("toks"),
        emb, col("vec_id"), col("embedding"),
        terms, qv, subj, Seq("de"), boostFactor = 2.0, limit = 10, k = 20,
        statsOpt = Some(bm25Stats(s, dir))).df
        .select(col("id").as("doc_id"),
          round(col("rrf_score"), 9).as("rrf_score"),
          col("subject_boosted")),
      col("rrf_score").desc, col("doc_id").asc)
  }

  val hybridRrfBoostedSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |stats AS (
      |  SELECT COUNT(*) AS n, AVG(CAST(len(toks) AS DOUBLE)) AS avgdl,
      |         SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df1,
      |         SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df2
      |  FROM d),
      |tf AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(toks, t -> t = 'spark')) AS DOUBLE) AS tf1,
      |         CAST(len(list_filter(toks, t -> t = 'join')) AS DOUBLE) AS tf2,
      |         CAST(len(toks) AS DOUBLE) AS dl
      |  FROM d),
      |bm25 AS (
      |  SELECT doc_id,
      |         ROW_NUMBER() OVER (ORDER BY
      |           ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * (1.2 + 1.0) /
      |             (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) +
      |           ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * (1.2 + 1.0) /
      |             (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) DESC,
      |           doc_id ASC) AS rank
      |  FROM tf, stats WHERE tf1 > 0 OR tf2 > 0
      |  QUALIFY rank <= 20),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |ann AS (
      |  SELECT vec_id AS doc_id,
      |         ROW_NUMBER() OVER (ORDER BY
      |           ${duckCos("embedding", "qv")}
      |           DESC, vec_id ASC) AS rank
      |  FROM embeddings, q
      |  QUALIFY rank <= 20),
      |pool AS (
      |  SELECT COALESCE(bm25.doc_id, ann.doc_id) AS doc_id,
      |         COALESCE(1.0 / (60 + bm25.rank), 0.0) +
      |         COALESCE(1.0 / (60 + ann.rank), 0.0) AS score
      |  FROM bm25 FULL OUTER JOIN ann USING (doc_id)),
      |boosted AS (
      |  SELECT pool.doc_id,
      |         CASE WHEN contains(lower(doc.lang), 'de')
      |              THEN pool.score * 2.0 ELSE pool.score END AS score,
      |         COALESCE(contains(lower(doc.lang), 'de'), false)
      |           AS subject_boosted
      |  FROM pool LEFT JOIN documents doc USING (doc_id))
      |SELECT doc_id, round(score, 9) AS rrf_score, subject_boosted
      |FROM boosted
      |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin

  // --- positional phrase search --------------------------------------------

  /** Phrase ("adjacent tokens") search — FTS5's `"a b"` syntax, which
    * token-AND matching cannot express. Containment runs as
    * `array_contains` over the COMPILED shingle expression (the distinct
    * set suffices for a boolean), so the corpus-wide filter stays a
    * per-row codegen'd scan; the occurrence count (a non-distinct
    * adjacency walk via zip_with bigrams) is computed only for the few
    * docs that matched — filter-then-project keeps the expensive
    * expression off the full corpus.
    */
  def ftsPhrase(s: SparkSession, dir: String): DataFrame = {
    val phrase = "table hash"
    val hits = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.rawTokens(col("text")).as("__toks"))
      .filter(array_contains(
        org.apache.spark.sql.graft.HashingExpressions.wordShingles(
          col("__toks"), 2), phrase))
    bucketOrdered(
      hits.select(col("doc_id"),
        size(filter(TextFunctions.bigrams(col("__toks")),
          x => x === lit(phrase))).cast("long").as("n_occurrences")),
      col("doc_id"))
  }

  val ftsPhraseSql: String =
    raw"""WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^\p{L}\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, list_transform(range(len(toks) - 1),
      |           i -> toks[i+1] || ' ' || toks[i+2]) AS big
      |  FROM tok)
      |SELECT doc_id,
      |       CAST(len(list_filter(big, g -> g = 'table hash')) AS BIGINT)
      |         AS n_occurrences
      |FROM b WHERE len(list_filter(big, g -> g = 'table hash')) > 0
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** FTS5 prefix-PHRASE search (`"table ha"*` — the form EVERY reference
    * search term compiles to, sqlite.go:1326-1333): adjacent in-order
    * tokens, last word a prefix. The filter is [[Fts.prefixPhraseMatch]]'s
    * codegen'd positional `exists`; matched docs then count their hit
    * positions. Closes the quoted-phrase+prefix interaction corner of the
    * FTS approximation contract — the oracle runs the identical positional
    * scan in DuckDB.
    */
  def ftsPrefixPhrase(s: SparkSession, dir: String): DataFrame = {
    val hits = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.rawTokens(col("text")).as("__toks"))
      .filter(graft.functions.Fts.prefixPhraseMatch(col("__toks"), "table ha"))
    bucketOrdered(
      hits.select(col("doc_id"),
        size(filter(sequence(lit(0), size(col("__toks")) - 2),
          i => element_at(col("__toks"), i + 1) === "table" &&
            element_at(col("__toks"), i + 2).startsWith("ha")))
          .cast("long").as("n_positions")),
      col("doc_id"))
  }

  val ftsPrefixPhraseSql: String =
    raw"""WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^\p{L}\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(range(len(toks) - 1),
      |           i -> toks[i+1] = 'table' AND starts_with(toks[i+2], 'ha')))
      |           AS BIGINT) AS n_positions
      |  FROM tok WHERE len(toks) >= 2)
      |SELECT doc_id, n_positions FROM p WHERE n_positions > 0
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "fts_prefix_search" -> (ftsPrefixSearch _, Some(ftsPrefixSearchSql)),
    "fts_indexed_search" -> (ftsIndexedSearch _, Some(ftsPrefixSearchSql)),
    "fts_phrase" -> (ftsPhrase _, Some(ftsPhraseSql)),
    "fts_prefix_phrase" -> (ftsPrefixPhrase _, Some(ftsPrefixPhraseSql)),
    "bm25_rank" -> (bm25Rank _, Some(bm25RankSql)),
    "bm25_rank_indexed" -> (bm25RankIndexed _, Some(bm25RankSql)),
    "hybrid_rrf" -> (hybridRrf _, Some(hybridRrfSql)),
    "hybrid_rrf_boosted" -> (hybridRrfBoosted _, Some(hybridRrfBoostedSql)))
}
