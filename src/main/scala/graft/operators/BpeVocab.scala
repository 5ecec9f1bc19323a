package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — the tokenizer-TRAINING
  * primitive a data pipeline runs before any `text_token_count_bpe`-style
  * budgeting makes sense. The reference has no analogue (its text stack
  * consumes tokenizers, never learns them — internal/textutil); this is
  * one of the beyond-the-reference training-pipeline operators alongside
  * packing and decontamination.
  *
  * Algorithm (classic corpus-dictionary BPE, Sennrich et al. 2016,
  * arXiv:1508.07909 §3.2 "learn BPE operations"):
  *
  *   1. reduce the corpus to a word-frequency dictionary (merge counts
  *      are frequency-weighted per word TYPE, not per occurrence scan);
  *   2. represent each word as a symbol sequence (initially characters);
  *   3. per iteration: count all adjacent symbol pairs (overlapping, as
  *      the canonical counter does), take the most frequent — ties
  *      broken lexicographically for cross-engine determinism — and
  *      merge every non-overlapping left-to-right occurrence;
  *   4. emit the learned merge table (iteration, pair, count).
  *
  * Representation: a word's symbols are joined with DOUBLE spaces and
  * the sequence is double-space delimited at both ends
  * (`'  l  o  w  '`). A merge of pair (a, b) is then the LITERAL string
  * replacement of `' a  b '` with `' ab '`: the single leading/trailing
  * space consumes one half of each boundary's double delimiter, so the
  * invariant survives the rewrite AND consecutive occurrences of the
  * pair merge exactly like the canonical greedy scanner — with
  * single-space delimiters, `a a a a` would yield `aa a a` because the
  * first match consumes the shared middle delimiter; with double
  * delimiters it yields `aa aa` (pinned by spec). Both Spark's
  * `replace` and the DuckDB oracle's scan left-to-right without
  * re-examining replaced output, so the two engines rewrite
  * identically.
  *
  * Scale shape: everything after step 1 operates on the |vocab|-bounded
  * dictionary, never the corpus — at 100 TB the dictionary is the
  * 10⁷-10⁸-row word-type table, not the 10¹¹-row token stream. Per
  * ROUND: one narrow shuffle (pair count over exploded adjacent pairs,
  * map-side combined) plus one bounded driver collect (the top-`batchK`
  * candidate pairs — the same bounded scalar-per-step contract as the
  * k-means centroid draws, Similarity.scala). Two mechanisms keep a
  * production-size vocabulary (10³-10⁵ merges) tractable where the
  * naive loop is not:
  *
  *   - '''batched rounds''' (`batchK`): each round greedily accepts up
  *     to `batchK` pairs from the round's ranking in rank order,
  *     SKIPPING any candidate that conflicts with an earlier acceptance
  *     — (c, d) is compatible only while neither c nor d equals any
  *     accepted pair's left, right, or minted symbol. Compatibility
  *     makes every accepted pair's round-start count EXACT at its own
  *     apply time (an earlier batch merge can only destroy an
  *     occurrence of (c, d) by sharing a symbol, and can only create
  *     one through its minted symbol — both excluded). Divergences from
  *     strict sequential BPE are the standard frequency-batched ones: a
  *     skipped (conflicting) pair is deferred to the next round's
  *     recount while lower-ranked compatible pairs land first, and a
  *     pair CREATED mid-round (involving a freshly minted symbol) can
  *     out-count a later batch member unseen. The round's top-1 is
  *     always compatible (the used-set starts empty), so every round
  *     makes progress. `batchK = 1` (the default, and what every
  *     oracle entry runs) is EXACTLY strict sequential.
  *   - '''bounded plan depth''': each accepted merge appends one literal
  *     `replace` projection to the dictionary plan; after
  *     [[SnapshotEvery]] accumulated replaces the dictionary is
  *     re-materialized (`localCheckpoint(true)`) and the
  *     chain resets. Plan depth and per-round recompute are both bounded
  *     by [[SnapshotEvery]] narrow projections over the vocab-bounded
  *     dictionary — without this, iteration k replays all k-1 prior
  *     replaces from d0 (O(k²) total projection work) and a 10³-deep
  *     expression chain blows codegen/analysis budgets (the failure
  *     class TopCentroids hit at nList=160).
  *
  * Degenerate corpora: when no adjacent pair remains (every word fully
  * merged), iteration stops early and the merge table is short —
  * callers requesting more iterations than the corpus supports get the
  * honest prefix.
  */
object BpeVocab {

  /** Replace-projection chain length at which [[learnMerges]] re-snapshots
    * the working dictionary. 24 keeps analysis/codegen comfortably inside
    * budget (each link is one three-literal `replace` call) while paying
    * one localCheckpoint per ~24 merges — at 32k merges that is ~1.3k
    * snapshots of a vocab-bounded two-column frame.
    */
  private[operators] val SnapshotEvery = 24

  /** Word-frequency dictionary: lowercased [a-z]+ word types with corpus
    * frequencies. One corpus pass, one hash shuffle.
    */
  def wordDict(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(lower(text), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Learn `iterations` BPE merges over the corpus. Returns
    * (iteration, pair, cnt): 1-based iteration, the merged pair as
    * "a b", and its frequency-weighted adjacent-pair count at merge
    * time.
    *
    * `batchK` > 1 accepts up to that many symbol-compatible merges per
    * counting round (see class doc for the exactness contract); the
    * default 1 is strict sequential BPE and is what the DuckDB oracles
    * replay. Driver round-trips shrink from `iterations` to
    * ~`iterations / batchK` — the lever that takes a 32k-merge
    * production vocabulary from 32k sequential Spark jobs to ~500.
    */
  def learnMerges(docs: DataFrame, text: Column, iterations: Int,
      batchK: Int = 1): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    val spark = docs.sparkSession
    import spark.implicits._
    // '  l  o  w  ': char → "c  " via regexp_replace, double-space prefix
    val d0 = wordDict(docs, text)
      .select(concat(lit("  "),
        regexp_replace(col("word"), "(.)", "$1  ")).as("seq"), col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var d: DataFrame = d0
      var chainLen = 0 // replace projections since the last materialization
      val merges = Seq.newBuilder[(Long, String, Long)]
      var done = 0
      var exhausted = false
      while (done < iterations && !exhausted) {
        val syms = split(trim(col("seq")), "  ")
        val pairs = zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => concat(a, lit(" "), b))
        val want = math.min(batchK, iterations - done)
        // bounded collect: 4× headroom over `want` so skipped
        // (conflicting) candidates don't starve the batch — still
        // O(batchK) rows, never the pair table
        val top = d.select(explode(pairs).as("pair"), col("freq"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(if (want == 1) 1 else want * 4).collect()
        if (top.isEmpty) exhausted = true
        else {
          // greedy compatible set in rank order: skip any candidate
          // sharing a symbol with (or equal to the mint of) an earlier
          // acceptance — its round-start count is already invalidated;
          // it gets recounted next round
          val used = scala.collection.mutable.HashSet.empty[String]
          val accepted = top.iterator.map { r =>
            (r.getString(0), r.getLong(1))
          }.filter { case (pair, _) =>
            val Array(a, b) = pair.split(" ", 2)
            val ok = !used(a) && !used(b)
            if (ok) { used += a; used += b; used += (a + b) }
            ok
          }.take(want).toSeq
          for ((pair, cnt) <- accepted) {
            done += 1
            merges += ((done.toLong, pair, cnt))
            d = d.withColumn("seq", call_function("replace", col("seq"),
              lit(" " + pair.replace(" ", "  ") + " "),
              lit(" " + pair.replace(" ", "") + " ")))
            // checked PER MERGE, not per round: a batchK above
            // SnapshotEvery would otherwise stack a batchK-deep replace
            // chain before the round boundary — the exact blow-up the
            // bound exists to prevent
            chainLen += 1
            if (chainLen >= SnapshotEvery && done < iterations) {
              d = d.localCheckpoint(true)
              chainLen = 0
            }
          }
        }
      }
      merges.result().toDF("iteration", "pair", "cnt")
    } finally { d0.unpersist(); () }
  }

  /** Exact per-word replay of the learned replace chain, as ONE compiled
    * pass instead of `merges.size` stacked `replace` projections: for
    * each merge (a, b) in learned order, IF both symbols are present in
    * the word's current symbol set, run one left-to-right
    * non-overlapping merge pass — bit-identical to the double-delimiter
    * literal `replace` (the LTR scan never re-examines replaced output),
    * and a skipped merge is exactly the replace chain's no-op. Cost per
    * word: two O(1) set probes per SKIPPED merge and one O(len) pass +
    * set rebuild per APPLIED merge (applied merges per word are bounded
    * by its length), so a 32k-entry merge table costs ~64k hash probes
    * per word TYPE — flat in table size where the expression chain was
    * linear in plan depth and blew codegen far earlier.
    */
  def tokenizeWord(w: String,
      merges: Array[(String, String)]): Seq[String] = {
    var syms: Array[String] = w.map(_.toString).toArray
    val present = scala.collection.mutable.HashSet.empty[String]
    present ++= syms
    var m = 0
    while (m < merges.length && syms.length > 1) {
      val (a, b) = merges(m)
      if (present(a) && present(b)) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        var applied = false
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); applied = true; i += 2
          } else { out += syms(i); i += 1 }
        }
        if (applied) {
          syms = out.toArray
          present.clear(); present ++= syms
        }
      }
      m += 1
    }
    syms.toIndexedSeq
  }

  /** Tokenize a corpus WITH a learned merge table — the apply side of
    * [[learnMerges]] (train on a sample, apply to the full corpus): each
    * document's words are rewritten through the merges in learned order
    * and the resulting subword symbols are returned per document.
    *
    * Shape: ONE narrow pass — split → explode words →
    * explode(`bpe_subwords(word)`), no shuffle, no join, no
    * materialization barrier. The expression
    * ([[org.apache.spark.sql.graft.BpeSubwords]]) runs [[tokenizeWord]]
    * (flat in merge-table size, where the former per-merge `replace`
    * projection chain was linear in plan depth and hit codegen/analysis
    * budgets near ~10² merges) once per distinct word per task and
    * serves every later occurrence from a task-local memo, so the
    * rewrite cost still follows the vocabulary, not the token stream.
    */
  def applyMerges(docs: DataFrame, id: Column, text: Column,
      merges: Seq[String]): DataFrame = {
    val table = merges.map { p =>
      val Array(a, b) = p.split(" ", 2); (a, b)
    }
    docs.select(id.as("doc_id"),
        explode(split(lower(text), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), explode(org.apache.spark.sql.graft
        .TextExpressions.bpeSubwords(col("word"), table)).as("subword"))
  }
}
