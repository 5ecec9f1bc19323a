package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions
import graft.operators.{BpeVocab, Dedup, IvfIndex, Multimodal, Similarity}
import graft.search.SearchParser
import graft.streaming.EventsStreaming

/** SURVEY §2.9-2.13 + LLM-pipeline operators instantiated over the
  * documents / embeddings / events tables. Approximate/sketch-based entries
  * are oracled against the EXACT computation they approximate (minhash vs
  * brute-force Jaccard, LSH-KNN vs brute-force cosine, HLL vs exact
  * distinct) — the gate then proves recall/tolerance, not just row counts.
  * The one rows-only entry (dedup_simhash) emits xxhash64 signatures no
  * oracle engine can replicate; its construction is proven through the
  * md5-twin entry and its throughput through the bench + specs.
  */
object DocQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --- §2.13 text analysis ------------------------------------------------

  def textTokenCount(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_measured")),
      col("doc_id"))

  val textTokenCountSql: String =
    s"""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |       CAST(length(text) AS BIGINT) AS n_chars_measured
      |FROM documents ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** GPT-2-style pretokenizer regex count — the "how many BPE-ish units
    * would the tokenizer see" estimate a data-mixing pipeline budgets
    * with (whitespace counting undercounts punctuation-dense text badly).
    * Pattern kept inside the RE2 ∩ java.util.regex common subset (no
    * lookahead — the canonical GPT-2 `\s+(?!\S)` branch is RE2-
    * inexpressible) so the oracle runs the IDENTICAL pattern: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * whitespace runs.
    */
  def textTokenCountBpe(s: SparkSession, dir: String): DataFrame = {
    // whitespace spelled as an EXPLICIT class, not \s: Java's \s
    // includes U+000B (vertical tab) where RE2's does not, so the two
    // engines would partition "$" differently (verified: Java 2
    // tokens, DuckDB 1). [ \t\n\f\r] means the same thing to both.
    val pat = "'(?:s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("long").as("n_bpe_tokens"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_ws_tokens")),
      col("doc_id"))
  }

  val textTokenCountBpeSql: String =
    raw"""SELECT doc_id,
      |       CAST(len(regexp_extract_all(text,
      |         '''(?:s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
      |         AS BIGINT) AS n_bpe_tokens,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
      |FROM documents ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  // one-pass TextStats scalar expression; counts are the same integers the
  // size/array_distinct/filter-isin walks produced
  def textQuality(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.textStats(col("text")).as("__st"))
        .select(col("doc_id"),
          col("__st.n_tokens").cast("long").as("n_tokens"),
          col("__st.n_distinct").cast("long").as("n_distinct"),
          col("__st.n_stopwords").cast("long").as("n_stopwords"),
          (col("__st.n_distinct").cast("double") /
            col("__st.n_tokens").cast("double")).as("distinct_ratio")),
      col("doc_id"))

  val textQualitySql: String =
    s"""SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |       len(list_filter(string_split(text, ' '),
      |           t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS n_stopwords,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
      |FROM documents ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp")),
      col("doc_id"))

  val textFingerprintSql: String =
    "SELECT doc_id, md5(lower(text)) AS fp FROM documents " +
      s"ORDER BY ${duckBucket("doc_id")}, doc_id ASC"

  /** Heuristic language ID — stopword-profile scoring with the greatest-
    * (hits, lang) tie-break; the oracle replicates the full heuristic
    * (tokenize → per-profile hit counts → max with lexicographic-last
    * tie-break). One pass via the LangId scalar expression over the raw
    * codegen'd split; spread across cores first (single-file scans
    * otherwise run it on one core).
    */
  def textLangId(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      Tables.spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred")),
      col("doc_id"))

  // `greatest(struct(hits, lang))` picks max hits, then max lang string —
  // hence the fr→es→en→de CASE order (reverse-lexicographic).
  // coalesce(text,'') keeps NULL text on the Spark path ('und': null hits
  // fail the > 0 gate) and the oracle path (empty toks → all-zero hits →
  // 'und') in agreement
  val textLangIdSql: String =
    raw"""WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(coalesce(text, '')),
      |           '[^\p{L}\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id,
      |    len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it'))) AS en,
      |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los','se'))) AS es,
      |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','ein','zu'))) AS de,
      |    len(list_filter(toks, t -> t IN ('le','la','et','les','des','est','une','dans'))) AS fr
      |  FROM tok)
      |SELECT doc_id,
      |  CASE WHEN GREATEST(en,es,de,fr) = 0 THEN 'und'
      |       WHEN fr = GREATEST(en,es,de,fr) THEN 'fr'
      |       WHEN es = GREATEST(en,es,de,fr) THEN 'es'
      |       WHEN en = GREATEST(en,es,de,fr) THEN 'en'
      |       ELSE 'de' END AS lang_pred
      |FROM hits ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  // --- §2.9 search over documents (SearchParser-compiled terms) -----------

  def searchDocs(s: SparkSession, dir: String): DataFrame = {
    val q = SearchParser.parse("spark \"window\"")
    val pred = q.textTerms
      .map(term => lower(col("text")).contains(term.toLowerCase))
      .reduce(_ && _) // AND across dimensions (reference sqlite.go:1466-1469)
    bucketOrdered(
      t(s, dir, "documents")
        .filter(pred)
        .select(col("doc_id"), col("lang"), col("source")),
      col("doc_id"))
  }

  val searchDocsSql: String =
    s"""SELECT doc_id, lang, source FROM documents
      |WHERE contains(lower(text), 'spark') AND contains(lower(text), 'window')
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  // --- §2.11 dedup ----------------------------------------------------------

  // member_ids serialized to a joined string at the result edge (scalar
  // output columns stay hashable downstream; reference serializes lists the
  // same way, duckdb.go:1897)
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    orderedAtTailExchanged(
      Dedup.exactGroups(t(s, dir, "documents"), col("doc_id"), col("text"))
        .withColumn("member_ids", array_join(col("member_ids"), ",")),
      col("content_hash").asc)

  val dedupExactSql: String =
    """SELECT sha256(text) AS content_hash, COUNT(*) AS dup_count,
      |       MIN(doc_id) AS winner_id,
      |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS member_ids
      |FROM documents WHERE text IS NOT NULL
      |GROUP BY sha256(text) HAVING COUNT(*) > 1
      |ORDER BY content_hash ASC""".stripMargin

  def dedupSurvivor(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      Dedup.survivorPairs(t(s, dir, "documents"), col("doc_id"),
        md5(col("text")), Nil),
      col("loser_id").asc)

  val dedupSurvivorSql: String =
    """SELECT doc_id AS loser_id, winner_id FROM (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS winner_id
      |  FROM documents)
      |WHERE doc_id != winner_id
      |ORDER BY loser_id ASC""".stripMargin

  /** Deterministic BOUNDED sub-corpus for the O(n²)-oracled near-dup
    * family (minhash pairs, clusters, cluster survivor, incremental):
    * the md5 draw keeps ~500 docs at ANY scale factor, so the oracle's
    * brute-force all-pairs Jaccard stays tractable at every SF the sweep
    * runs (at sf0.1 the full-corpus oracle exceeds 20 min — it was the
    * sweep's only skip list). mod = ceil(n/500): exactly 1 at sf0.001/
    * sf0.01 (≤500 docs — the full corpus, bit-identical to the unbounded
    * query), 10 at sf0.1. The ENGINE's full-corpus path stays witnessed
    * by the bench-only `dedup_minhash_full` entry; correctness of the
    * LSH construction is SF-independent, so certifying it on a
    * deterministic 500-doc draw is the same evidence the sf0.01 gate
    * always provided, now at every SF.
    */
  private[queries] def boundedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // the modulus is corpus-stable — memoize it per (session, dir,
    // fingerprint) like every derived artifact: the count() is cheap on
    // the cached table but costs a JOB SUBMISSION per run of every
    // near-dup query that opens the bounded draw (minhash, clusters,
    // survivor, incremental — 4 queries × a scheduler round-trip each)
    val mod = memoizedIndex[java.lang.Long](s, dir, "bounded_docs_mod") {
      java.lang.Long.valueOf(math.max(1L,
        math.ceil(docs.count() / 500.0).toLong))
    }.longValue
    if (mod <= 1L) docs
    else docs.filter(
      graft.operators.Sampling.hashBucket(col("doc_id"), mod) === 0)
  }

  /** The DuckDB half of [[boundedDocs]] — a `docs` CTE both near-dup
    * oracle chains open with (same 15-hex md5 draw as duckBucket).
    */
  private[queries] val boundedDocsCte: String =
    s"""docs AS (
      |  SELECT * FROM documents
      |  WHERE ${duckDraw("doc_id")} %
      |        (SELECT GREATEST(CAST(CEIL(COUNT(*) / 500.0) AS BIGINT), 1)
      |         FROM documents) = 0)""".stripMargin

  /** MinHash-LSH near-dup candidates + exact-Jaccard re-rank. The oracle
    * is the brute-force O(n²) exact Jaccard over the same shingle sets —
    * the gate certifies the LSH path found every true pair ≥ threshold on
    * this corpus. Banding matches the threshold: 32 bands × 2 rows puts
    * pair recall at s=0.5 at 1-(1-0.5²)³² ≈ 0.9999 (and ≈ 1-1e-23 at the
    * s≥0.9 the corpus's near-dups actually sit at); the default 16×4
    * banding would be ~0.64 at the midpoint and pass only by data luck.
    * Tiny result set: total order via a single-partition sort —
    * `orderBy` would add a range exchange whose partitioner SAMPLING
    * re-executes the upstream pipeline (measured +1.2s for ≤300 rows).
    * Runs over [[boundedDocs]] so the oracle is tractable at every SF.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(nearDupPairs05(s, dir), col("id_a").asc, col("id_b").asc)

  /** Full-corpus throughput witness (bench-only — no DuckDB oracle is
    * tractable above sf0.01; the construction is hash-gated through
    * `dedup_minhash` on the bounded draw). Memoized like the bounded
    * pair table: the bench measures the steady-state probe, matching the
    * production shape where the pair table is a per-snapshot artifact.
    */
  def dedupMinhashFull(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(memoizedIndex(s, dir, "neardup_pairs_0.5_b32_full") {
      val df = Dedup.nearDuplicates(t(s, dir, "documents"), col("doc_id"),
        col("text"), threshold = 0.5, bands = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }, col("id_a").asc, col("id_b").asc)

  /** Materialized near-dup pair set (threshold 0.5, 32×2 banding) shared
    * by the pair report, the cluster query, and the survivor query — the
    * production shape: a pipeline computes the verified pair table ONCE
    * per corpus snapshot and every consumer probes the artifact, exactly
    * as the FTS/IVF queries probe their persistent indexes (reference
    * keeps FTS5/vec0 persistent for the same reason).
    */
  private[queries] def nearDupPairs05(s: SparkSession, dir: String): DataFrame =
    memoizedIndex(s, dir, "neardup_pairs_0.5_b32_bounded") {
      val df = Dedup.nearDuplicates(boundedDocs(s, dir), col("doc_id"),
        col("text"), threshold = 0.5, bands = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize the build once
      df
    }

  val dedupMinhashSql: String =
    s"""WITH $boundedDocsCte,
      |tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^\\p{L}\\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM docs),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |              ELSE list_transform(range(len(toks) - 2),
      |                     i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s
      |  FROM tok
      |  WHERE len(toks) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |       CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |ORDER BY id_a ASC, id_b ASC""".stripMargin

  /** SimHash signatures — xxhash64-based, spec-tested. rawTokens keeps
    * the tokenize stage codegen'd (the expression skips empties itself).
    * Rows-only by necessity (DuckDB has no xxhash64); the construction
    * itself is oracled through [[dedupSimhashMd5]], its bit-for-bit twin
    * on an md5-derived hash both engines can compute.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      Dedup.simhashSignatures(t(s, dir, "documents"), col("doc_id"),
        TextFunctions.rawTokens(col("text"))),
      col("doc_id"))

  /** Oracle-expressible SimHash twin: token hash = first 60 bits of
    * md5(token) (15 hex chars — fits a signed long on both engines),
    * per-bit frequency-weighted majority vote, identical formulation in
    * the DuckDB oracle. A per-row scalar, so it runs as ONE expression
    * ([[org.apache.spark.sql.graft.SimHash60Md5]]) — the former explode →
    * shuffle → 60-aggregate encoding cost a full shuffle of every token.
    * Proves the simhash construction end-to-end; the xxhash64 entry above
    * is the throughput path.
    */
  def dedupSimhashMd5(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(simhashMd5Signatures(s, dir), col("doc_id"))

  /** (doc_id, simhash) over the md5 twin; docs with zero real tokens are
    * absent. The filter tests the text for a letter or digit (exactly
    * when rawTokens yields a non-empty token, i.e. when the expression
    * is non-NULL) rather than `simhash IS NOT NULL`: the optimizer
    * pushes a filter on the alias below the spread as a second signature
    * evaluation.
    */
  private def simhashMd5Signatures(s: SparkSession, dir: String): DataFrame =
    Tables.spread(t(s, dir, "documents"))
      .filter(lower(col("text")).rlike("[\\p{L}\\p{N}]"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions.simhash60Md5(
          TextFunctions.rawTokens(col("text"))).as("simhash"))

  /** The md5-simhash construction as a DuckDB CTE chain ending in
    * `s(doc_id, simhash)` — shared by the signature query and the
    * band-blocked pairs query so the two oracles cannot drift.
    */
  private val simhashMd5Cte: String = {
    val votes = (0 until 60).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(",\n    ")
    val sig = (0 until 60).map(j =>
      s"(CASE WHEN v$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END)").mkString(" |\n    ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
       |           '[^\\p{L}\\p{N}]+'), t -> len(t) > 0)) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM tok),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |s AS (
       |  SELECT doc_id,
       |    $sig AS simhash
       |  FROM v)""".stripMargin
  }

  val dedupSimhashMd5Sql: String =
    s"""$simhashMd5Cte
       |SELECT doc_id, simhash FROM s
       |ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** SimHash near-dup PAIRS: exact band blocking (4 × 15-bit bands ⇒
    * recall 1.0 for Hamming ≤ 3 by pigeonhole — see
    * [[Dedup.simhashPairs]]) + true-Hamming verify, over the md5
    * signatures both engines can compute. The oracle is the full O(n²)
    * Hamming self-join, so the gate proves the blocking dropped nothing —
    * and unlike the minhash gate this equivalence is a THEOREM, not a
    * per-dataset observation.
    */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(Dedup.simhashPairs(simhashMd5Signatures(s, dir),
      maxHamming = 3, sigBits = 60), col("id_a").asc, col("id_b").asc)

  val dedupSimhashPairsSql: String =
    s"""$simhashMd5Cte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a ASC, id_b ASC""".stripMargin

  /** Incremental near-dup: the "new shard vs indexed corpus" probe
    * ([[Dedup.incrementalProbe]]) at the 0.5 threshold with
    * recall-matched banding (32×2, as dedup_clusters). The oracle is the
    * exact cross-slice O(old×new) Jaccard join — so the gate certifies
    * the probe finds every cross-slice edge on this corpus while doing
    * none of the O(corpus²) work.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // bounded draw ([[boundedDocs]]): the oracle's frozen×fresh Jaccard
    // join is O(|idx|·|new|) in DuckDB and intractable at sf0.1 unbounded
    val docs = boundedDocs(s, dir)
    val indexed = docs.filter(col("doc_id") < 400)
    // the indexed side's band table is the materialized build artifact —
    // built once per corpus snapshot, probed per ingest batch
    val bIdx = memoizedIndex(s, dir, "neardup_bands_idx400_0.5_b32_bounded") {
      val b = Dedup.indexedBandTable(indexed, col("doc_id"), col("text"),
        bands = 32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }
    val fresh = docs.filter(col("doc_id") >= 400)
    // the probe plan reads the candidate set three times (verify spine +
    // two semi-joins): snapshot it so the MinHash pass over the fresh
    // slice and the candidate join run once
    val cand = Dedup.probeCandidates(bIdx,
      Dedup.bandRows(fresh, col("doc_id"), col("text"), bands = 32))
      .localCheckpoint(true)
    orderedAtTail(
      Dedup.incrementalProbe(cand, indexed, fresh, col("doc_id"), col("text"),
        threshold = 0.5),
      col("new_id").asc, col("indexed_id").asc)
  }

  val dedupIncrementalSql: String =
    s"""WITH $boundedDocsCte,
      |tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^\\p{L}\\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM docs),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |              ELSE list_transform(range(len(toks) - 2),
      |                     i -> array_to_string(toks[i+1:i+3], ' ')) END) AS s
      |  FROM tok WHERE len(toks) > 0)
      |SELECT n.doc_id AS new_id, i.doc_id AS indexed_id,
      |       CAST(len(list_intersect(n.s, i.s)) AS DOUBLE) /
      |       CAST(len(list_distinct(list_concat(n.s, i.s))) AS DOUBLE) AS jaccard
      |FROM sh n JOIN sh i ON n.doc_id >= 400 AND i.doc_id < 400
      |WHERE CAST(len(list_intersect(n.s, i.s)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(n.s, i.s))) AS DOUBLE) >= 0.5
      |ORDER BY new_id ASC, indexed_id ASC""".stripMargin

  /** Exact-substring dedup: winnowing fingerprints (k=4-gram hashes,
    * window w=5, ≥ 2 shared) — [[Dedup.winnowPairs]]. The oracle
    * recomputes the identical fingerprint selection in SQL and joins
    * every pair, so the gate proves the bucket-local plan loses nothing.
    */
  def dedupWinnow(s: SparkSession, dir: String): DataFrame =
    orderedAtTailExchanged(
      Dedup.winnowPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        k = 4, w = 5, minShared = 2),
      col("id_a").asc, col("id_b").asc)

  val dedupWinnowSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^\p{L}\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
      |           ELSE list_transform(range(len(toks) - 3),
      |                  i -> array_to_string(toks[i+1:i+4], ' ')) END AS grams
      |  FROM tok WHERE len(toks) > 0),
      |h AS (
      |  SELECT doc_id, list_transform(grams,
      |           s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      |  FROM g),
      |f AS (
      |  SELECT doc_id, CASE WHEN len(hs) <= 5 THEN [list_min(hs)]
      |           ELSE list_distinct(list_transform(range(len(hs) - 4),
      |                  i -> list_min(hs[i+1:i+5]))) END AS fps
      |  FROM h),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY id_a ASC, id_b ASC""".stripMargin

  /** Exact n-gram Jaccard on a deterministic pair set (adjacent doc ids) —
    * oracle-able twin of the LSH re-rank step.
    */
  def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // token sets projected per side BEFORE the join — inlining them into
    // the jaccard expression would re-run the interpreted tokenize twice
    // per side per row (intersect + union; no CSE for non-cheap HOFs)
    val docs = t(s, dir, "documents")
    val a = docs.select(col("doc_id").as("id_a"),
      array_distinct(TextFunctions.wsTokens(col("text"))).as("__sa"))
    val b = docs.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      array_distinct(TextFunctions.wsTokens(col("text"))).as("__sb"))
    bucketOrdered(
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
            size(array_union(col("__sa"), col("__sb"))).cast("double"))
            .as("jaccard")),
      col("id_a"))
  }

  val dedupJaccardPairsSql: String =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(len(list_intersect(list_distinct(string_split(a.text,' ')),
      |                               list_distinct(string_split(b.text,' ')))) AS DOUBLE) /
      |       CAST(len(list_distinct(list_concat(list_distinct(string_split(a.text,' ')),
      |                               list_distinct(string_split(b.text,' '))))) AS DOUBLE) AS jaccard
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY ${duckBucket("a.doc_id")}, id_a ASC""".stripMargin

  // --- §2.10 vector similarity ---------------------------------------------

  private[queries] def queryVector(s: SparkSession, dir: String): Seq[Float] =
    // a driver-side head() is a full job — fetch the standing query
    // vector once per snapshot, not once per query build
    memoizedIndex(s, dir, "query_vector_0") {
      t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head()
        .getAs[scala.collection.Seq[Float]](0).toSeq
    }

  def vectorKnnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceKnn(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), queryVector(s, dir), k = 10)

  // double-precision left-fold on both sides → bit-identical scores
  val vectorKnnBruteSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id, ${duckCos("embedding", "qv")} AS score
      |  FROM embeddings, q)
      |SELECT vec_id, score FROM scored
      |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Multi-table LSH ANN. The oracle is the brute-force exact top-k — the
    * gate asserts recall 1.0 at this tables×bits configuration (8×4,
    * Hamming-1 probes; candidate scores are exact cosines, so matching
    * ids ⇒ matching scores). Single-table recall on this corpus is ~0.1
    * (near-random embeddings, top cosine ≈ 0.37 — the LSH-hostile case);
    * table-compounding is what recovers it, the honest knob a 100 TB
    * deployment would tune.
    */
  def vectorKnnLsh(s: SparkSession, dir: String): DataFrame = {
    val q = queryVector(s, dir)
    // the signature table is the persistent LSH index (reference keeps
    // vec0 persistent the same way): built once per corpus, probed per
    // query — identical results to the inline-signature scan form
    val idx = memoizedIndex(s, dir, "lsh_multitable_4x8") {
      val i = Similarity.lshMultiTableIndex(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), dim = q.length)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      i.count()
      i
    }
    Similarity.lshKnnMultiTableIndexed(idx, q, k = 10)
  }

  /** IVF ANN (the density-adaptive complement of LSH): deterministic
    * hash-strided centroids, probe the 8 nearest of ~16 lists, exact
    * re-rank. Near-random embeddings cluster weakly — the true top-10
    * spreads across lists — so unlike the multi-table LSH entry this one
    * is gated the way ANN systems are actually evaluated: the query
    * measures recall@10 against the in-plan exact top-10 and the oracle
    * asserts the bound (measured 0.8 at 8/16 probes ⇒ asserted ≥ 0.7).
    * Everything is deterministic (seeded centroids, tie-broken sorts), so
    * the measurement is reproducible, not flaky.
    */
  def vectorKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qv = queryVector(s, dir)
    // IVF is build-once/probe-many (reference vec0 generations are
    // persistent); memoize the centroid assignment so a search pays
    // nProbe-list scan + re-rank, not a corpus re-cluster
    val idx = memoizedIndex(s, dir, "ivf16") {
      val i = IvfIndex.build(emb, col("vec_id"), col("embedding"), nList = 16)
      val a = i.assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      a.count()
      i.copy(assigned = a)
    }
    // nProbe=12 of 16: this corpus is near-random (ANN-hostile — top
    // cosine ≈ 0.37), so expected recall ≈ nProbe/nList and 8/16 fell to
    // 0.5 at sf0.1. Measured (BASELINE, IVF recall history): 12/16 gives
    // recall@10 of 1.0 / 0.9 / 1.0 at sf0.001/0.01/0.1 — the honest
    // probe budget for data with no cluster structure; real embedding
    // corpora cluster, which is what lets production IVF probe far fewer
    // lists at the same recall.
    val ivf = IvfIndex.search(idx, qv, k = 10, nProbe = 12)
      .select(col("vec_id"))
    val exact = Similarity.bruteForceKnn(emb, col("vec_id"),
      col("embedding"), qv, k = 10).select(col("vec_id"))
    ivf.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
      .select(lit(10L).as("k"),
        (col("__hits").cast("double") / 10.0 >= 0.7).as("recall_at_10_ok"))
  }

  val vectorKnnIvfSql: String =
    "SELECT CAST(10 AS BIGINT) AS k, true AS recall_at_10_ok"

  /** The fully-ROUTED IVF serving path: build-side assignment routed
    * (rProbe=2 of the 4 coarse groups — the nList ∝ corpus knee fix,
    * [[IvfIndex.build]]) AND query-side probe ranking routed
    * ([[IvfIndex.searchRouted]] — the ~1M-list driver-ranking
    * knee fix). Both approximations active at once, recall-gated vs
    * brute force like `vector_knn_ivf`. Measured (BASELINE history,
    * nProbe=14, searchRouted rProbe=3): recall@10 = 1.0 / 0.8 / 0.7 at
    * sf0.001/0.01/0.1 on this ANN-hostile near-random corpus — gate at
    * ≥ 0.6 for headroom against testdata regeneration; real clustered
    * embedding corpora sit far above it.
    */
  def vectorKnnIvfRouted(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qv = queryVector(s, dir)
    val idx = memoizedIndex(s, dir, "ivf16_routed") {
      val i = IvfIndex.build(emb, col("vec_id"), col("embedding"),
        nList = 16, rProbe = 2)
      val a = i.assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      a.count()
      i.copy(assigned = a)
    }
    val ivf = IvfIndex.searchRouted(idx, qv, k = 10, nProbe = 14, rProbe = 3)
      .select(col("vec_id"))
    val exact = Similarity.bruteForceKnn(emb, col("vec_id"),
      col("embedding"), qv, k = 10).select(col("vec_id"))
    ivf.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
      .select(lit(10L).as("k"),
        (col("__hits").cast("double") / 10.0 >= 0.6).as("recall_at_10_ok"))
  }

  val vectorKnnIvfRoutedSql: String =
    "SELECT CAST(10 AS BIGINT) AS k, true AS recall_at_10_ok"

  /** Raw-SQL vector search (§3.2 surface × §2.10 operator): the user's
    * SQL string runs over the registered views with the codegen'd
    * `cosine_similarity` injected as a first-class SQL function
    * (GraftExtensions) — and still hash-matches the brute-force oracle
    * bit-for-bit, proving the SQL path and the DataFrame path share one
    * arithmetic.
    */
  def sqlVectorSearch(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    org.apache.spark.sql.graft.GraftExtensions.register(s)
    s.sql(
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, cosine_similarity(embedding, qv) AS score
        |FROM embeddings, q
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin)
  }

  /** Embedding-cosine near-dup: exact twin on a deterministic pair set
    * (adjacent vec_ids, double-fold arithmetic mirrored in the oracle);
    * the LSH-bucketed scale variant is
    * [[Similarity.embeddingNearDupPairs]], spec-tested.
    */
  def dedupEmbeddingPairs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("__ea"))
    val b = e.select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
      col("embedding").as("__eb"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__ea"), col("__eb")).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a").asc)
      .limit(100)
  }

  val dedupEmbeddingPairsSql: String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ${duckCos("a.embedding", "b.embedding")} AS cosine
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |ORDER BY cosine DESC, id_a ASC LIMIT 100""".stripMargin

  /** SemDeDup over the embeddings corpus: 16 clusters, ε tuned to this
    * synthetic corpus's cosine mass (pairwise max ≈ 0.51, p999 ≈ 0.38 —
    * ε = 0.33 prunes ~17% at sf0.01). The oracle replays the WHOLE
    * pipeline in SQL — md5-stride centroid pick, argmax assignment with
    * the same (score, cid) tie-break, within-cluster pair threshold — and
    * hash-matches bit-for-bit, so the cluster structure, not just the
    * final ids, is what the gate proves.
    */
  // the cluster assignment is the build-once artifact (the k-means pass
  // of SemDeDup) — memoized+persisted like the LSH/IVF indexes; only the
  // per-snapshot stage on top varies: dedup_semantic runs the
  // within-cluster ε-ball pair report, knn_graph (EmbedQueries) the
  // within-cluster top-k neighbor ranking, off the SAME artifact
  private[queries] def semdedupAssigned(s: SparkSession, dir: String): DataFrame =
    memoizedIndex(s, dir, "semdedup_assign_16") {
      val a = Similarity.semanticAssign(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), nList = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      a.count()
      a
    }

  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      Similarity.semanticDupes(semdedupAssigned(s, dir), eps = 0.33,
        clusterHint = 16),
      col("dup_id"))

  val dedupSemanticSql: String =
    s"""WITH ${duckAssignedCtes("embeddings")},
      |pairs AS (
      |  SELECT b.vec_id AS dup_id, a.cluster, a.vec_id AS kept_id,
      |    ${duckCos("a.embedding", "b.embedding")} AS cosine
      |  FROM assigned a JOIN assigned b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      |SELECT dup_id, min(cluster) AS cluster, min(kept_id) AS kept_id,
      |       max(cosine) AS max_cosine
      |FROM pairs WHERE cosine > 0.33
      |GROUP BY dup_id
      |ORDER BY ${duckBucket("dup_id")}, dup_id ASC""".stripMargin

  /** SemDeDup over the ROUTED (two-level) assignment — the O(n·√nList)
    * scale path ([[Similarity.assign]] at rProbe = 2) the r11 100× probe
    * motivated (flat assignment kneed at ~25-30×/decade with nList ∝
    * corpus; routed runs the same leg 3.6× faster at 200k×2000 —
    * 17.4 → 4.84 s, decade ratio 7.1 vs 25.4, per the r13 re-measure
    * with honest forcing: r11's "22×/0.84 s" reading timed a
    * column-pruned no-op, see BASELINE Round 13).
    * rProbe = 2 of the ~4 coarse groups, so the APPROXIMATION path —
    * not the rProbe=all degenerate case that equals flat — is what the
    * hash certifies: the oracle replays the coarse stride, the member
    * routing, the per-vector top-2 group probe, and the within-groups
    * argmax bit-for-bit.
    */
  def dedupSemanticRouted(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    bucketOrdered(
      Similarity.semanticDupes(
        Similarity.assign(base, Similarity.strideCentroids(base, 16),
          rProbe = 2),
        eps = 0.33, clusterHint = 16),
      col("dup_id"))
  }

  val dedupSemanticRoutedSql: String =
    s"""WITH ${duckRoutedAssignedCtes("embeddings", rProbe = 2)},
      |pairs AS (
      |  SELECT b.vec_id AS dup_id, a.cluster, a.vec_id AS kept_id,
      |    ${duckCos("a.embedding", "b.embedding")} AS cosine
      |  FROM assigned a JOIN assigned b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
      |SELECT dup_id, min(cluster) AS cluster, min(kept_id) AS kept_id,
      |       max(cosine) AS max_cosine
      |FROM pairs WHERE cosine > 0.33
      |GROUP BY dup_id
      |ORDER BY ${duckBucket("dup_id")}, dup_id ASC""".stripMargin

  // --- §2.10 RRF fusion (on orders: price-rank × recency-rank) ------------

  /** Each signal extracts its top-100 with orderBy+limit FIRST — that
    * compiles to TakeOrderedAndProject (parallel per-partition top-k, no
    * shuffle of the corpus) — and only the 100-row page goes through the
    * single-partition ranking window. Ranking the full table through
    * `Window.orderBy` would move every row to one partition.
    */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def topRanked(signal: String): DataFrame = {
      val sort = Seq(col(signal).desc, col("o_orderkey").asc)
      orders.select(col("o_orderkey"), col(signal))
        .orderBy(sort: _*)
        .limit(100)
        .withColumn("rank", row_number().over(Window.orderBy(sort: _*)))
        .select(col("o_orderkey"), col("rank"))
    }
    val byPrice = topRanked("o_totalprice")
    val byDate = topRanked("o_orderdate")
    Similarity.rrfFuse(byPrice, byDate, "o_orderkey", "rank", k = 60, limit = 50)
  }

  val rrfFusionSql: String =
    """WITH by_price AS (
      |  SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS r
      |  FROM orders QUALIFY r <= 100),
      |by_date AS (
      |  SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderdate DESC, o_orderkey ASC) AS r
      |  FROM orders QUALIFY r <= 100)
      |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |       COALESCE(1.0 / (60 + a.r), 0.0) + COALESCE(1.0 / (60 + b.r), 0.0) AS rrf_score
      |FROM by_price a FULL OUTER JOIN by_date b USING (o_orderkey)
      |ORDER BY rrf_score DESC, o_orderkey ASC LIMIT 50""".stripMargin

  // --- §2.12 streaming (batch twins; true streaming spec-tested) ----------

  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(EventsStreaming.tumblingCounts(t(s, dir, "events")),
      col("bucket").asc, col("event_type").asc)

  val streamTumblingSql: String =
    """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS bucket,
      |       event_type, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket ASC, event_type ASC""".stripMargin

  /** Gap-based sessionization (30 min), lag + cumulative-sum construction —
    * identical formulation on both engines.
    */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns").asc)
    orderedAtTailExchanged(
      t(s, dir, "events")
        .withColumn("__prev_ns", lag(col("ts_ns"), 1).over(w))
        .withColumn("__new_session",
          when(col("__prev_ns").isNull ||
            col("ts_ns") - col("__prev_ns") > 30L * 60 * 1000000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("__new_session")).as("session_cnt"),
          count(lit(1)).as("event_cnt")),
      col("user_id").asc)
  }

  val streamSessionizeSql: String =
    """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS session_cnt,
      |       COUNT(*) AS event_cnt
      |FROM (
      |  SELECT user_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
      |                   > INTERVAL '30 minutes'
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id ASC""".stripMargin

  /** Sliding (overlapping) windows — each event lands in width/slide
    * buckets; the oracle reconstructs the same assignment with an offset
    * join (no native sliding windows in DuckDB).
    */
  def streamSliding(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("bucket"), col("cnt")),
      col("bucket").asc)

  val streamSlidingSql: String =
    """SELECT bucket, COUNT(*) AS cnt FROM (
      |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
      |           - INTERVAL (o.o * 30) MINUTE AS bucket,
      |         CAST(ts AS TIMESTAMP) AS tts
      |  FROM events, (SELECT unnest(range(2)) AS o) o)
      |WHERE tts >= bucket AND tts < bucket + INTERVAL '1 hour'
      |GROUP BY bucket ORDER BY bucket ASC""".stripMargin

  /** Composite quality score (C4/Gopher-style heuristics) — the one
    * text-analysis metric with full arithmetic mirrored in the oracle.
    */
  def textQualityScore(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality")),
      col("doc_id"))

  val textQualityScoreSql: String =
    s"""SELECT doc_id, $duckQualityScore AS quality
      |FROM documents ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Classifier-based quality filter (the fastText-style companion to the
    * heuristic `text_quality_score`): hashed token features → linear
    * weights → mean-pool → sigmoid, keep at score ≥ 0.5. The oracle
    * replays the full hash-bucket/weight/pool/sigmoid arithmetic, so the
    * feature map — not just the verdicts — is gated. Rounded to 6 dp like
    * the other score oracles (double fold order is engine-identical; the
    * round pins the textual boundary).
    *
    * Deployment shape: weights are read from a `(bucket, weight, dim)` parquet
    * via [[graft.functions.ClassifierWeights]] — the file holds the
    * placeholder ramp here (no trained model in the sandbox), so the
    * score is bit-identical to the inline arithmetic the oracle replays,
    * while the plumbing a real deployment swaps its trained weights into
    * (write → load → literal-lookup scoring) is the path actually gated.
    * Write+load runs once per session (memoized); scoring is one scan.
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    // weights through the SAME memo mechanism as every other snapshot
    // artifact (a parallel hand-rolled session map would dodge any future
    // fix to memoizedIndex's race/cleanup behavior)
    val weights = memoizedIndex(s, dir, "clf_weights") {
      // shutdown-hook cleanup: a long-lived JVM cycling sessions would
      // otherwise accrete one orphan weights dir per session forever
      val dirP = java.nio.file.Files.createTempDirectory("graft_clf_weights")
      sys.addShutdownHook {
        import java.nio.file._
        try {
          Files.walk(dirP).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      val path = dirP.resolve("w").toString
      graft.functions.ClassifierWeights.write(
        s, path, graft.functions.ClassifierWeights.placeholder())
      graft.functions.ClassifierWeights.load(s, path)
    }
    val score = round(graft.functions.ClassifierWeights.score(
      TextFunctions.wsTokens(col("text")), weights), 6)
    bucketOrdered(
      t(s, dir, "documents")
        .select(col("doc_id"), score.as("score"))
        .withColumn("keep", col("score") >= 0.5),
      col("doc_id"))
  }

  val qualityClassifierSql: String =
    s"""WITH s AS (
      |  SELECT doc_id, round(1.0 / (1.0 + exp(-(
      |    list_reduce(list_transform(string_split(text, ' '), t ->
      |      (CAST(CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
      |         % 1024 % 201 AS DOUBLE) - 100.0) / 100.0),
      |      (a, x) -> a + x) / CAST(len(string_split(text, ' ')) AS DOUBLE)))),
      |    6) AS score
      |  FROM documents)
      |SELECT doc_id, score, score >= 0.5 AS keep
      |FROM s ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Composed curation pipeline, deterministic core: quality gate + exact
    * dedup (min-id winner) + token accounting in one pass + one window
    * shuffle ([[graft.operators.Curation]]).
    */
  def pipelineCurate(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      graft.operators.Curation.curate(t(s, dir, "documents"),
        col("doc_id"), col("text"), minQuality = 0.5),
      col("doc_id").asc)

  val pipelineCurateSql: String =
    """WITH q AS (
      |  SELECT doc_id, text, round((
      |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) +
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) +
      |    least(CAST(len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) * 5.0, 1.0) +
      |    (1.0 - least(CAST(length(text) - length(regexp_replace(text, '\p{P}', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) * 4.0, 1.0))
      |  ) / 4.0, 6) AS quality FROM documents),
      |w AS (
      |  SELECT doc_id, text, quality,
      |         MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS winner
      |  FROM q WHERE quality >= 0.5)
      |SELECT doc_id, quality, len(string_split(text, ' ')) AS n_tokens
      |FROM w WHERE doc_id = winner
      |ORDER BY doc_id ASC""".stripMargin

  /** Symmetric int8 quantization over the embeddings table — per-vector
    * scale, codes, exact checksum, and quantization MSE, bit-matching
    * the oracle's double arithmetic ([[graft.operators.Embed]]).
    */
  def vectorQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      graft.operators.Embed.quantizeInt8(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"), round(col("scale"), 9).as("scale"),
          array_join(transform(col("codes"), _.cast("string")), ",")
            .as("codes_csv"),
          col("code_checksum"), round(col("mse"), 12).as("mse")),
      col("vec_id"))

  val vectorQuantizeInt8Sql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |      FROM e),
      |c AS (SELECT vec_id, v, scale,
      |        list_transform(v, x -> CAST(floor(x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5) AS BIGINT)) AS codes
      |      FROM s)
      |SELECT vec_id, round(scale, 9) AS scale, array_to_string(codes, ',') AS codes_csv,
      |       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_checksum,
      |       round(list_aggregate(list_transform(list_zip(v, codes),
      |             p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)), 'sum') / len(v), 12) AS mse
      |FROM c ORDER BY ${duckBucket("vec_id")}, vec_id ASC""".stripMargin

  /** Per-label embedding centroid — the class-prototype / cluster-seed
    * aggregation of a similarity pipeline. Element-wise mean via
    * posexplode → groupBy(label, pos) → EXACT fixed-point sums: each
    * float component scales by 2²⁰ (exact in double — power-of-two
    * multiply) and rounds to a long, so the per-position sum is integer
    * arithmetic with NO float-addition-order dependence; the single
    * double division at the end is deterministic on any engine. (A plain
    * AVG(double) would fold in partition order and hash-mismatch the
    * oracle run-to-run.) The map-side combine makes the shuffle
    * |labels| × dims rows regardless of corpus size.
    *
    * The centroid ships as CSV of fixed-point (2⁻²⁰-unit) longs, not an
    * array of doubles: the driver's pandas compare can't hash array
    * columns, and double→string formatting differs across engines while
    * integer formatting never does. round(s/n) is deterministic — s and
    * n are exact longs < 2⁵³, the division is a single correctly-rounded
    * double op, and both engines round half away from zero.
    */
  def embedCentroid(s: SparkSession, dir: String): DataFrame = {
    val fixed = sum(round(col("v").cast("double") * 1048576.0).cast("long"))
    orderedAtTail(
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(fixed.as("s"), count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
            x => round(x.getField("s").cast("double") /
              x.getField("n").cast("double")).cast("long").cast("string")),
            ",").as("centroid_fp_csv")),
      col("label").asc)
  }

  val embedCentroidSql: String =
    """WITH e AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(embedding) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT label, pos,
      |         SUM(CAST(round(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
      |         COUNT(*) AS n
      |  FROM e GROUP BY label, pos)
      |SELECT label, MAX(n) AS n_vecs,
      |       array_to_string(list(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT)
      |            ORDER BY pos), ',') AS centroid_fp_csv
      |FROM a GROUP BY label ORDER BY label ASC""".stripMargin

  /** Corpus-LM fluency score (the model-based quality signal of a
    * CCNet-style pipeline, next to the heuristic gates): train a bigram
    * model ON the corpus itself — B(w1,w2) bigram counts, U(w1) prefix
    * counts — and score each doc by its mean conditional bigram
    * probability, mean over B(w1,w2)/U(w1) in token order. Low scores
    * flag token salads; high scores, formulaic text.
    *
    * Determinism by construction: probabilities are single correctly-
    * rounded double divisions of exact longs, and the per-doc mean folds
    * the POSITION-SORTED probability array (collect → sort → left fold,
    * the [[graft.operators.Sampling.temperatureWeights]] trick), so no
    * float-addition-order or libm (`ln`) dependence exists — the oracle
    * hash-matches without rounding.
    *
    * Scale shape: counts are one groupBy over the exploded bigrams;
    * scoring joins the counts back on the bigram (AQE broadcasts them
    * while the vocabulary is small; at web scale one would prune the LM
    * to top-K n-grams first and broadcast the pruned table — noted, not
    * needed at this corpus).
    */
  def textBigramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bg = docs.select(col("doc_id"),
      posexplode(TextFunctions.bigrams(TextFunctions.wsTokens(col("text"))))
        .as(Seq("pos", "bg")))
    // fold U into the bigram table FIRST (a |vocab|²-row join) so the
    // exploded corpus is joined ONCE — joining b and u separately would
    // shuffle the full bigram stream twice. The folded LM table is a
    // trained MODEL artifact: built once per corpus snapshot and
    // memoized, like the FTS/IVF/pair-table artifacts — scoring probes
    // it, it does not re-train per query.
    val lm = memoizedIndex(s, dir, "bigram_lm") {
      val b = bg.groupBy(col("bg")).agg(count(lit(1)).as("b"))
      val u = bg.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(count(lit(1)).as("u"))
      val m = b.join(u, substring_index(col("bg"), " ", 1) === col("w1"))
        .select(col("bg"), (col("b").cast("double") / col("u").cast("double"))
          .as("p"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      m.count()
      m
    }
    val p = bg.join(lm, Seq("bg"))
      .select(col("doc_id"), col("pos"), col("p"))
    orderedAtTailExchanged(
      p.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (aggregate(
            array_sort(collect_list(struct(col("pos"), col("p")))),
            lit(0.0), (acc, x) => acc + x.getField("p")) /
            count(lit(1)).cast("double")).as("avg_bigram_prob")),
      col("doc_id").asc)
  }

  val textBigramLmSql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         unnest(range(len(toks) - 1)) AS pos,
      |         unnest(list_transform(range(len(toks) - 1),
      |           i -> toks[i+1] || ' ' || toks[i+2])) AS bg
      |  FROM tk WHERE len(toks) >= 2),
      |b AS (SELECT bg, COUNT(*) AS b FROM g GROUP BY bg),
      |u AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS u FROM g GROUP BY 1),
      |lm AS (
      |  SELECT bg, CAST(b.b AS DOUBLE) / CAST(u.u AS DOUBLE) AS p
      |  FROM b JOIN u ON split_part(b.bg, ' ', 1) = u.w1),
      |p AS (SELECT g.doc_id, g.pos, lm.p FROM g JOIN lm USING (bg))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       list_reduce(list(p ORDER BY pos), (a, x) -> a + x) / COUNT(*)
      |         AS avg_bigram_prob
      |FROM p GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin

  /** Corpus boilerplate report: top-50 5-grams by document frequency
    * (each doc counts once) — map-side-combined heavy-hitter scan + topk
    * ([[graft.operators.Curation.ngramDocFreq]]).
    */
  def ngramDocfreq(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.ngramDocFreq(t(s, dir, "documents"),
      col("doc_id"), col("text"), n = 5, topK = 50)

  val ngramDocfreqSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^\p{L}\p{N}]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(toks) - 4),
      |           i -> array_to_string(toks[i+1:i+5], ' '))) AS grams
      |  FROM tok WHERE len(toks) >= 5),
      |h AS (SELECT unnest(grams) AS ngram FROM g)
      |SELECT ngram, COUNT(*) AS doc_freq FROM h GROUP BY ngram
      |HAVING COUNT(*) >= 2
      |ORDER BY doc_freq DESC, ngram ASC LIMIT 50""".stripMargin

  // --- BPE vocabulary induction (tokenizer training) ------------------------

  private val BpeIters = 6

  /** The learned merge table is an INDEX artifact (train once, apply
    * everywhere — the same contract as `semdedup_assign_16` and the
    * int8 codes), memoized per (session, dir, corpus fingerprint): both
    * vocab queries and any future apply path share one training run.
    */
  private def learnedMerges(s: SparkSession,
      dir: String): Seq[(Long, String, Long)] =
    memoizedIndex(s, dir, s"bpe_merges_$BpeIters") {
      BpeVocab.learnMerges(t(s, dir, "documents"), col("text"), BpeIters)
        .orderBy(col("iteration").asc)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    }

  /** Learned merge table over the documents corpus
    * ([[graft.operators.BpeVocab.learnMerges]]): 6 iterations of
    * frequency-weighted pair-merge. The oracle replays the ENTIRE
    * training loop in SQL — word dictionary, per-iteration pair count,
    * (cnt DESC, pair ASC) argmax, double-delimiter literal rewrite —
    * so the gate certifies the algorithm, not just the output shape.
    */
  def vocabBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the memoized Seq is already iteration-ordered (collected under an
    // orderBy) and a LocalRelation preserves it — a plan-level orderBy
    // here would be the bare-unlimited-sort the package doc bans
    learnedMerges(s, dir).sortBy(_._1).toDF("iteration", "pair", "cnt")
  }

  /** One d(i-1) → (pair count → argmax → rewrite) → d(i) round per
    * iteration; the Spark side's driver-literal chain replays as chained
    * CTEs with scalar subqueries.
    */
  private def bpeCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH words AS (
        |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) s
        |  WHERE w <> '' GROUP BY w),
        |d0 AS MATERIALIZED (
        |  SELECT word,
        |         '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS seq,
        |         freq FROM words)""".stripMargin)
    // t/d MATERIALIZED: DuckDB inlines a CTE per reference, and d(i)
    // references t(i) twice and d(i-1) once — unmaterialized, the chain
    // expands exponentially in the iteration count (the unguarded first
    // cut planned fine at 2^k subtrees; one more t(i) reference tipped a
    // 2-row corpus into minutes of planning). Materializing pins each
    // level to one evaluation. Exhaustion guard: when t(i) is empty the
    // scalar subquery is NULL and replace(seq, NULL, NULL) would NULL
    // every seq — COALESCE to a chr(1) sentinel no [a-z ] sequence can
    // contain, making the rewrite a no-op, which is exactly the Spark
    // side's honest-prefix behavior.
    for (i <- 1 to iters) {
      sb.append(s""",
        |p$i AS (
        |  SELECT s.syms[u.i] || ' ' || s.syms[u.i+1] AS pair,
        |         CAST(SUM(s.freq) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(trim(seq), '  ') AS syms, freq
        |        FROM d${i - 1}) s,
        |       UNNEST(generate_series(1, len(s.syms)-1)) AS u(i)
        |  GROUP BY 1),
        |t$i AS MATERIALIZED (
        |  SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
        |d$i AS MATERIALIZED (
        |  SELECT word, replace(seq,
        |    ' ' || replace(COALESCE((SELECT pair FROM t$i), chr(1)), ' ', '  ') || ' ',
        |    ' ' || replace(COALESCE((SELECT pair FROM t$i), chr(1)), ' ', '') || ' ')
        |  AS seq, freq FROM d${i - 1})""".stripMargin)
    }
    sb.toString
  }

  val vocabBpeMergesSql: String =
    bpeCtes(BpeIters) + "\n" +
      (1 to BpeIters).map(i =>
        s"SELECT CAST($i AS BIGINT) AS iteration, pair, cnt FROM t$i")
        .mkString("", "\nUNION ALL\n", "\nORDER BY iteration ASC")

  /** The APPLY side ([[graft.operators.BpeVocab.applyMerges]]): tokenize
    * the full corpus with the learned merges, top-50 subwords by
    * occurrence. The Spark side counts per word OCCURRENCE (each word
    * of the corpus stream rewritten, memoized per task); the oracle
    * weights the rewritten DICTIONARY by frequency — the gate proves
    * the two formulations agree, which is exactly the train-on-dict /
    * apply-to-corpus contract.
    */
  def vocabBpeSubwords(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = learnedMerges(s, dir).map(_._2)
    BpeVocab.applyMerges(docs, col("doc_id"), col("text"), merges)
      .groupBy(col("subword")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("subword").asc)
      .limit(50)
  }

  val vocabBpeSubwordsSql: String =
    bpeCtes(BpeIters) + s""",
      |sw AS (SELECT unnest(string_split(trim(seq), '  ')) AS subword, freq
      |       FROM d$BpeIters)
      |SELECT subword, CAST(SUM(freq) AS BIGINT) AS cnt FROM sw
      |GROUP BY subword ORDER BY cnt DESC, subword ASC LIMIT 50""".stripMargin

  /** The end-to-end training-data pipeline as ONE declarative gated
    * plan: quality gate → subword-tokenize with the LEARNED vocabulary
    * (the memoized merge artifact) → concat-and-chunk packing at 512
    * subword tokens → pack-level rollup. Every stage is individually
    * oracled elsewhere (`text_quality_score`, `vocab_bpe_*`,
    * `pack_summary`); this entry gates their COMPOSITION — the quality
    * predicate applies pre-tokenize (both engines on the 6-dp ROUNDED
    * score `TextFunctions.qualityScore` produces — the round is part of
    * the contract, see [[duckQualityScore]]),
    * subword counts aggregate per word OCCURRENCE on the Spark side
    * (per-word rewrite) vs frequency-dictionary lookup in the oracle, and
    * the pack offsets
    * ride the two-level distributed scan vs the oracle's single window.
    */
  def pipelineTokenizePack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = learnedMerges(s, dir).map(_._2)
    val kept = docs.filter(TextFunctions.qualityScore(col("text")) >= 0.5)
    // snapshot the per-doc counts before packing: the two-level scan's
    // repartitionByRange SAMPLES its child, which would re-execute the
    // whole tokenize-aggregate subtree a second time just to pick
    // range bounds. The frame is two narrow columns (~16 B/doc — tens
    // of GB at a 10^9-doc corpus, executor-storage scale), so
    // materializing once is far cheaper than the double execution.
    val counts = BpeVocab.applyMerges(kept, col("doc_id"), col("text"), merges)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sub"))
      .localCheckpoint(true)
    bucketOrdered(
      graft.operators.Packing.packSummary(
        graft.operators.Packing.packPlacement(
          counts, col("doc_id"), col("n_sub"), seqLen = 512)),
      col("pack_id"))
  }

  val pipelineTokenizePackSql: String =
    bpeCtes(BpeIters) + raw""",
      |wc AS (SELECT word,
      |              CAST(len(string_split(trim(seq), '  ')) AS BIGINT)
      |                AS n_sub
      |       FROM d$BpeIters),
      |kept AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE $duckQualityScore >= 0.5),
      |docw AS (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM kept) s WHERE w <> ''),
      |cnt AS (
      |  SELECT doc_id, CAST(SUM(wc.n_sub) AS BIGINT) AS n_sub
      |  FROM docw JOIN wc ON wc.word = docw.w GROUP BY doc_id),
      |p AS (
      |  SELECT doc_id, n_sub,
      |         COALESCE(SUM(n_sub)
      |           OVER (ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |           0) AS tok_offset
      |  FROM cnt),
      |spans AS (
      |  SELECT doc_id,
      |         CAST(tok_offset // 512 AS BIGINT) AS pack_first,
      |         CAST(tok_offset % 512 AS BIGINT) AS start_in_pack,
      |         unnest(generate_series(CAST(tok_offset // 512 AS BIGINT),
      |           CAST((tok_offset + GREATEST(n_sub, 1) - 1) // 512
      |                AS BIGINT))) AS pack_id
      |  FROM p)
      |SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |       COALESCE(MAX(pack_id = pack_first AND start_in_pack > 0),
      |                false) AS has_boundary
      |FROM spans GROUP BY pack_id
      |ORDER BY ${duckBucket("pack_id")}, pack_id ASC""".stripMargin

  // --- multimodal plumbing -------------------------------------------------

  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      Multimodal.withFakeMedia(t(s, dir, "documents"))
        .select(col("doc_id"), col("mime"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.content_hash").as("content_hash")),
      col("doc_id"))

  val multimodalMetaSql: String =
    s"""SELECT doc_id,
      |       CASE CAST(doc_id % 3 AS INT)
      |         WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS mime,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       md5(text) AS content_hash
      |FROM documents ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Partition-wise media feature extraction (stubbed decode). The decoder
    * emits a normalized float32 byte-bucket histogram; the result edge
    * recovers the exact integer bucket counts (`round(f[b]·n)` is exact —
    * counts ≪ 2²³ so the float32 divide/multiply round-trips within ½ ulp)
    * so the oracle can recompute them byte-for-byte in SQL.
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Multimodal.withFakeMedia(t(s, dir, "documents"))
      .select(col("doc_id"), col("mime"), col("media"))
      .as[Multimodal.MediaRow]
    val counts = (0 until 8).map(b =>
      round(element_at(col("features"), b + 1) *
        greatest(col("n_bytes"), lit(1L))).cast("long").as(s"h$b"))
    bucketOrdered(
      Multimodal.extractFeatures(media).toDF()
        .select(Seq(col("doc_id"), col("mime"), col("n_bytes")) ++ counts: _*),
      col("doc_id"))
  }

  // the oracle re-derives the media bytes (hex-pair decode of the UTF-8
  // text, same fixture construction as withFakeMedia) and counts each
  // 32-wide bucket directly
  val multimodalFeaturesSql: String =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
      |           WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |         list_transform(regexp_extract_all(hex(encode(text)), '[0-9A-F][0-9A-F]'),
      |           p -> (strpos('0123456789ABCDEF', p[1])-1)*16
      |              + (strpos('0123456789ABCDEF', p[2])-1)) AS bytes
      |  FROM documents)
      |SELECT doc_id, mime, n_bytes,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 0)) AS BIGINT) AS h0,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 1)) AS BIGINT) AS h1,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 2)) AS BIGINT) AS h2,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 3)) AS BIGINT) AS h3,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 4)) AS BIGINT) AS h4,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 5)) AS BIGINT) AS h5,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 6)) AS BIGINT) AS h6,
      |       CAST(len(list_filter(bytes, x -> x // 32 = 7)) AS BIGINT) AS h7
      |FROM raw ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Video frame-sampling fan-out — generator plumbing; the oracle
    * recomputes each frame's byte length arithmetically (16-byte strides
    * over the media blob, truncated at the end).
    */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      Multimodal.sampleFrames(
        Multimodal.withFakeMedia(t(s, dir, "documents")), framesPerDoc = 4)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).as("n")),
      col("doc_id"), col("frame_idx").asc)

  val multimodalFramesSql: String =
    s"""SELECT doc_id, CAST(o.o AS INT) AS frame_idx,
      |       CAST(GREATEST(LEAST(octet_length(encode(text)) - o.o*16, 16), 0) AS INT) AS n
      |FROM documents, (SELECT unnest(range(4)) AS o) o
      |WHERE doc_id % 3 = 2
      |ORDER BY ${duckBucket("doc_id")}, doc_id ASC, frame_idx ASC""".stripMargin

  /** Sequence packing placement ([[graft.operators.Packing]]): every
    * document's global token offset and pack span under concat-and-
    * chunk at 512 tokens, documents ordered by doc_id. The oracle
    * replays the cumulative sum with a window — the two-level
    * distributed scan must agree with the single-node prefix sum
    * BIT-EXACTLY on every offset, which any partition-id/base-offset
    * bug cannot fake.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      graft.operators.Packing.packPlacement(
        t(s, dir, "documents"), col("doc_id"),
        TextFunctions.tokenCount(col("text")), seqLen = 512),
      col("doc_id"))

  val packSequencesSql: String =
    s"""WITH p AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
      |           OVER (ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |           0) AS BIGINT) AS tok_offset
      |  FROM documents)
      |SELECT doc_id, n_tokens, tok_offset,
      |       CAST(tok_offset // 512 AS BIGINT) AS pack_first,
      |       CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // 512 AS BIGINT)
      |         AS pack_last,
      |       CAST(tok_offset % 512 AS BIGINT) AS start_in_pack
      |FROM p ORDER BY ${duckBucket("doc_id")}, doc_id ASC""".stripMargin

  /** Pack-level rollup over the same placement (docs per pack, first /
    * last doc) — the packing-efficiency report. */
  def packSummary(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      graft.operators.Packing.packSummary(
        graft.operators.Packing.packPlacement(
          t(s, dir, "documents"), col("doc_id"),
          TextFunctions.tokenCount(col("text")), seqLen = 512)),
      col("pack_id"))

  val packSummarySql: String =
    s"""WITH p AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
      |           OVER (ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |           0) AS tok_offset
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id,
      |         CAST(tok_offset // 512 AS BIGINT) AS pack_first,
      |         CAST(tok_offset % 512 AS BIGINT) AS start_in_pack,
      |         unnest(generate_series(CAST(tok_offset // 512 AS BIGINT),
      |           CAST((tok_offset + GREATEST(n_tokens, 1) - 1) // 512
      |                AS BIGINT))) AS pack_id
      |  FROM p)
      |SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |       COALESCE(MAX(pack_id = pack_first AND start_in_pack > 0),
      |                false) AS has_boundary
      |FROM spans GROUP BY pack_id
      |ORDER BY ${duckBucket("pack_id")}, pack_id ASC""".stripMargin

  /** The WRITE side of packing ([[graft.operators.Packing.writePacks]]):
    * materialize the packed sequences + boundary masks through the
    * bucket-ordered sharded sink, read the shards back, and reduce each
    * pack to scalars the oracle can recompute from the source corpus —
    * token count, boundary-mask positions, and an md5 over the pack's
    * token stream in concat order. A placement bug, a mis-sorted pack, a
    * dropped/duplicated token at a shard edge, or a wrong mask position
    * all surface as value mismatches on the read-back, the same
    * write-then-prove contract as `export_roundtrip`.
    */
  def packWriteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = CoreQueries.etlTmpPath(s, dir, "graft_packs")
    graft.operators.Packing.writePacks(t(s, dir, "documents"),
      col("doc_id"), split(col("text"), " "), seqLen = 512, out)
    val back = s.read.parquet(out)
    bucketOrdered(
      back.select(col("pack_id"), col("n_tokens"),
        size(col("boundary_pos")).cast("long").as("n_bounds"),
        array_join(col("boundary_pos"), ",").as("bound_csv"),
        md5(concat_ws(" ", col("tokens"))).as("tok_md5")),
      col("pack_id"))
  }

  val packWriteRoundtripSql: String =
    s"""WITH p AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
      |           OVER (ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |           0) AS BIGINT) AS tok_offset
      |  FROM documents),
      |g AS (
      |  SELECT CAST((tok_offset + u.i - 1) // 512 AS BIGINT) AS pack_id,
      |         CAST((tok_offset + u.i - 1) % 512 AS BIGINT) AS off,
      |         toks[u.i] AS tok
      |  FROM p, UNNEST(generate_series(1, len(toks))) AS u(i)),
      |tk AS (
      |  SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |         md5(array_to_string(list(tok ORDER BY off), ' ')) AS tok_md5
      |  FROM g GROUP BY pack_id),
      |bl AS (
      |  SELECT CAST(tok_offset // 512 AS BIGINT) AS pack_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_bounds,
      |         array_to_string(list(tok_offset % 512
      |           ORDER BY tok_offset % 512), ',') AS bound_csv
      |  FROM p WHERE len(toks) > 0 AND tok_offset % 512 > 0
      |  GROUP BY 1)
      |SELECT tk.pack_id, tk.n_tokens,
      |       COALESCE(bl.n_bounds, 0) AS n_bounds,
      |       COALESCE(bl.bound_csv, '') AS bound_csv,
      |       tk.tok_md5
      |FROM tk LEFT JOIN bl ON bl.pack_id = tk.pack_id
      |ORDER BY ${duckBucket("tk.pack_id")}, tk.pack_id ASC""".stripMargin

  /** Streaming INCREMENTAL packing ([[graft.streaming.StreamPacking]]):
    * four contiguous doc_id-range shards delivered as four micro-batches
    * (mtime-ordered file stream, one file per trigger — the
    * `stream_compacted_read` fixture pattern), each placed at the
    * stream's running offset ledger. Because deliveries are contiguous
    * ascending ranges, the incremental placement must be BIT-IDENTICAL
    * to the batch operator over the whole corpus — the oracle is the
    * plain batch cumsum (`pack_sequences`' SQL verbatim), so any ledger
    * drift, base-offset bug, or replay double-count shows as a value
    * mismatch. The stream run is a built artifact (memoized like every
    * index); the query under measurement is the placement read-back.
    */
  def streamPackPlacement(s: SparkSession, dir: String): DataFrame = {
    val sink = memoizedIndex[String](s, dir, "stream_pack_sink") {
      buildStreamPackSink(s, dir)
    }
    bucketOrdered(
      s.read.parquet(sink).select(col("doc_id"), col("n_tokens"),
        col("tok_offset"), col("pack_first"), col("pack_last"),
        col("start_in_pack")),
      col("doc_id"))
  }

  private def buildStreamPackSink(s: SparkSession, dir: String): String = {
    // four CONTIGUOUS ascending id ranges (ntile over doc_id), delivered
    // so micro-batch k = range k — the arrival order under which
    // incremental == batch placement
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("__q", ntile(4).over(Window.orderBy(col("doc_id"))))
    val root = deliverShards("graft_spack",
      (1 to 4).map(k => docs.filter(col("__q") === k).drop("__q")))
    val sinkDir = root.resolve("sink").toString
    graft.streaming.StreamPacking.runPackAvailableNow(s,
      root.resolve("drop").toString, sinkDir, root.resolve("ckpt").toString,
      seqLen = 512, id = "doc_id", tokens = TextFunctions.tokenCount(col("text")))
    sinkDir
  }

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "pack_sequences" -> (packSequences _, Some(packSequencesSql)),
    "pack_summary" -> (packSummary _, Some(packSummarySql)),
    "pack_write_roundtrip" ->
      (packWriteRoundtrip _, Some(packWriteRoundtripSql)),
    "stream_pack_placement" ->
      (streamPackPlacement _, Some(packSequencesSql)),
    "multimodal_frames" -> (multimodalFrames _, Some(multimodalFramesSql)),
    "text_token_count" -> (textTokenCount _, Some(textTokenCountSql)),
    "text_token_count_bpe" -> (textTokenCountBpe _, Some(textTokenCountBpeSql)),
    "text_quality" -> (textQuality _, Some(textQualitySql)),
    "text_fingerprint" -> (textFingerprint _, Some(textFingerprintSql)),
    "text_lang_id" -> (textLangId _, Some(textLangIdSql)),
    "search_docs" -> (searchDocs _, Some(searchDocsSql)),
    "dedup_exact" -> (dedupExact _, Some(dedupExactSql)),
    "dedup_survivor" -> (dedupSurvivor _, Some(dedupSurvivorSql)),
    "dedup_minhash" -> (dedupMinhash _, Some(dedupMinhashSql)),
    "dedup_simhash" -> (dedupSimhash _, None),
    "dedup_minhash_full" -> (dedupMinhashFull _, None),
    "dedup_simhash_md5" -> (dedupSimhashMd5 _, Some(dedupSimhashMd5Sql)),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _, Some(dedupSimhashPairsSql)),
    "dedup_winnow" -> (dedupWinnow _, Some(dedupWinnowSql)),
    "dedup_incremental" -> (dedupIncremental _, Some(dedupIncrementalSql)),
    "embed_centroid" -> (embedCentroid _, Some(embedCentroidSql)),
    "dedup_jaccard_pairs" -> (dedupJaccardPairs _, Some(dedupJaccardPairsSql)),
    "dedup_embedding_pairs" -> (dedupEmbeddingPairs _, Some(dedupEmbeddingPairsSql)),
    "dedup_semantic" -> (dedupSemantic _, Some(dedupSemanticSql)),
    "dedup_semantic_routed" ->
      (dedupSemanticRouted _, Some(dedupSemanticRoutedSql)),
    "vector_knn_brute" -> (vectorKnnBrute _, Some(vectorKnnBruteSql)),
    "vector_knn_lsh" -> (vectorKnnLsh _, Some(vectorKnnBruteSql)),
    "vector_knn_ivf" -> (vectorKnnIvf _, Some(vectorKnnIvfSql)),
    "vector_knn_ivf_routed" ->
      (vectorKnnIvfRouted _, Some(vectorKnnIvfRoutedSql)),
    "sql_vector_search" -> (sqlVectorSearch _, Some(vectorKnnBruteSql)),
    "rrf_fusion" -> (rrfFusion _, Some(rrfFusionSql)),
    "stream_tumbling" -> (streamTumbling _, Some(streamTumblingSql)),
    "stream_sliding" -> (streamSliding _, Some(streamSlidingSql)),
    "stream_sessionize" -> (streamSessionize _, Some(streamSessionizeSql)),
    "text_quality_score" -> (textQualityScore _, Some(textQualityScoreSql)),
    "quality_classifier" -> (qualityClassifier _, Some(qualityClassifierSql)),
    "pipeline_curate" -> (pipelineCurate _, Some(pipelineCurateSql)),
    "multimodal_meta" -> (multimodalMeta _, Some(multimodalMetaSql)),
    "multimodal_features" -> (multimodalFeatures _, Some(multimodalFeaturesSql)),
    "vector_quantize_int8" -> (vectorQuantizeInt8 _, Some(vectorQuantizeInt8Sql)),
    "ngram_docfreq" -> (ngramDocfreq _, Some(ngramDocfreqSql)),
    "vocab_bpe_merges" -> (vocabBpeMerges _, Some(vocabBpeMergesSql)),
    "vocab_bpe_subwords" -> (vocabBpeSubwords _, Some(vocabBpeSubwordsSql)),
    "pipeline_tokenize_pack" ->
      (pipelineTokenizePack _, Some(pipelineTokenizePackSql)),
    "text_bigram_lm" -> (textBigramLm _, Some(textBigramLmSql)))
}
