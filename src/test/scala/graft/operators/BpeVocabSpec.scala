package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** BPE vocabulary induction: hand-computed merges on a toy corpus, the
  * double-delimiter rewrite's canonical-greedy semantics, apply-side
  * train/apply agreement, and early exhaustion.
  */
class BpeVocabSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "low low low lower lower newest"),
    (2L, "newest newest newest wider"))
    .toDF("doc_id", "text")

  test("learnMerges: frequency-weighted argmax with lexicographic tie-break") {
    // word freqs: low 3, lower 2, newest 4, wider 1
    // pair counts round 1: (w,e)=2+4=6 wins over (l,o)=(o,w)=5
    // round 2: (l,o)=5
    // round 3: four-way tie at 4 — (e,we),(n,e),(s,t),(we,s) — pair ASC
    //          picks "e we"
    val m = BpeVocab.learnMerges(corpus, col("text"), 3)
      .orderBy("iteration").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(m == Seq((1L, "w e", 6L), (2L, "l o", 5L), (3L, "e we", 4L)))
  }

  test("double-delimiter rewrite merges consecutive pair runs canonically") {
    // 'a a a a' must become 'aa aa' (single-space delimiters would give
    // 'aa a a' — the first match would consume the shared delimiter);
    // 'a a a' becomes 'aa a' (greedy left-to-right)
    val d = Seq("  a  a  a  a  ", "  a  a  a  ").toDF("seq")
      .withColumn("out", call_function("replace", col("seq"),
        lit(" a  a "), lit(" aa ")))
      .collect().map(_.getString(1)).toSeq
    assert(d == Seq("  aa  aa  ", "  aa  a  "))
  }

  test("applyMerges agrees with the dictionary the merges were learned on") {
    val merges = BpeVocab.learnMerges(corpus, col("text"), 3)
      .orderBy("iteration").collect().map(_.getString(1)).toSeq
    val sub = BpeVocab.applyMerges(corpus, col("doc_id"), col("text"), merges)
      .groupBy("subword").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // after (w,e),(l,o),(e,we): low → [lo, w] ×3; lower → [lo, we, r] ×2;
    // newest → [n, ewe, s, t] ×4; wider → [w, i, d, e, r] ×1
    assert(sub("lo") == 5 && sub("we") == 2 && sub("ewe") == 4)
    assert(sub("w") == 4) // 3 from low + 1 from wider
    assert(sub("r") == 3) // 2 from lower + 1 from wider
    assert(!sub.contains("o")) // fully merged away
  }

  test("exhaustion stops early with the honest prefix") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // one word type 'ab': round 1 merges (a,b); no pair remains
    val m = BpeVocab.learnMerges(tiny, col("text"), 5)
      .orderBy("iteration").collect()
    assert(m.length == 1)
    assert(m(0).getString(1) == "a b")
  }

  test("batched learning accepts the greedy compatible set per round") {
    // round-1 ranking: (w,e)=6; the 5-tie (l,o)/(o,w) pair-ASC; then the
    // 4-tie "e s","e w","n e","s t". batchK=3 accepts (w,e), (l,o),
    // SKIPS (o,w)/(e,s)/(e,w)/(n,e) on symbol conflicts, and lands on
    // (s,t) — one round, counts exact for each acceptance. Sequential
    // would instead have found "e we" (a pair involving the minted `we`)
    // at its third step: the documented batched divergence.
    val bat = BpeVocab.learnMerges(corpus, col("text"), 3, batchK = 3)
      .orderBy("iteration").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(bat == Seq((1L, "w e", 6L), (2L, "l o", 5L), (3L, "s t", 4L)))
    // batchK=1 remains exactly the strict sequential table
    val seq = BpeVocab.learnMerges(corpus, col("text"), 3, batchK = 1)
      .orderBy("iteration").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(seq == Seq((1L, "w e", 6L), (2L, "l o", 5L), (3L, "e we", 4L)))
  }

  test("tokenizeWord replays the replace chain exactly") {
    // greedy LTR non-overlap on runs: a a a a -> aa aa; a a a -> aa a
    assert(BpeVocab.tokenizeWord("aaaa", Array(("a", "a"))) ==
      Seq("aa", "aa"))
    assert(BpeVocab.tokenizeWord("aaa", Array(("a", "a"))) ==
      Seq("aa", "a"))
    // chained merges consume each other's output in order
    assert(BpeVocab.tokenizeWord("xab",
      Array(("a", "b"), ("x", "ab"))) == Seq("xab"))
    // SEQUENTIAL pin: merge 1 ("x","ab") sees no "ab" symbol yet and is
    // a no-op, merge 2 then creates it — a rank-based tokenizer that
    // re-checks earlier merges would wrongly produce ["xab"]. This is
    // the exact divergence mode string-colliding symbols admit.
    assert(BpeVocab.tokenizeWord("xab",
      Array(("x", "ab"), ("a", "b"))) == Seq("x", "ab"))
    // single-char and unmergeable words pass through
    assert(BpeVocab.tokenizeWord("q", Array(("a", "b"))) == Seq("q"))
  }

  test("plan-depth snapshots across SnapshotEvery merges stay correct") {
    // one 26-char word type: every round has a unique next merge until
    // the whole word folds into one symbol after 25 merges — crossing
    // the SnapshotEvery=24 re-materialization boundary
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val one = Seq((1L, alpha)).toDF("doc_id", "text")
    val m = BpeVocab.learnMerges(one, col("text"), 30)
      .orderBy("iteration").collect()
    assert(m.length == 25)
    assert(m.last.getString(1).replace(" ", "") == alpha)
    val merges = m.map(_.getString(1)).toSeq
    val sub = BpeVocab.applyMerges(one, col("doc_id"), col("text"), merges)
      .collect().map(_.getString(1)).toSeq
    assert(sub == Seq(alpha))
  }

  test("batched learning across 8 SnapshotEvery boundaries: exact counts, apply = tokenizeWord") {
    // 24 base-26 words per doc id (all-letter, so wordDict keeps them):
    // tens of thousands of word types, pair diversity no toy corpus has
    val docs = (0L until 2000L).map { n =>
      n -> (0 until 24).map { i =>
        var v = n * 31 + i * 7919
        val sb = new StringBuilder
        while (sb.length < 6) { sb.append(('a' + (v % 26)).toChar); v /= 26 }
        sb.toString
      }.mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val target = 8 * BpeVocab.SnapshotEvery
    val m = BpeVocab.learnMerges(df, col("text"), target, batchK = 16)
      .orderBy("iteration").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val table = m.map { case (_, p, _) => val Array(a, b) = p.split(" ", 2); (a, b) }.toArray
    val freq = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    // short only when every word is fully merged
    assert(m.size == target ||
      freq.keys.forall(w => BpeVocab.tokenizeWord(w, table).size == 1))
    assert(m.map(_._1) == (1L to m.size.toLong))

    // replay one merge at a time: each learned count is the pair's
    // adjacent-occurrence count after the merges before it (a batch's
    // pairs share no symbol, so their round-start counts stay exact)
    def adjacent(syms: IndexedSeq[String], a: String, b: String): Int =
      (0 until syms.length - 1).count(j => syms(j) == a && syms(j + 1) == b)
    def merge(syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
      val out = IndexedSeq.newBuilder[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
          out += a + b; j += 2
        } else { out += syms(j); j += 1 }
      }
      out.result()
    }
    var words = freq.toSeq.map { case (w, f) => (w.map(_.toString): IndexedSeq[String], f) }
    table.zip(m).foreach { case ((a, b), (i, _, cnt)) =>
      assert(words.map { case (syms, f) => f * adjacent(syms, a, b) }.sum == cnt,
        s"merge $i ($a $b)")
      words = words.map { case (syms, f) => (merge(syms, a, b), f) }
    }

    val got = BpeVocab.applyMerges(df, col("doc_id"), col("text"), m.map(_._2))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = docs.flatMap { case (id, text) =>
      text.split(" ").toSeq.flatMap(w => BpeVocab.tokenizeWord(w, table).map(id -> _))
    }
    assert(got == want)
  }
}
