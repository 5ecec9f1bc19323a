package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup}
import graft.sources.Tables

/** Dev tool: 100× growth probe for the linear-claim dedup/text family
  * (minhash near-dup, simhash pairs, winnow, boilerplate n-gram docfreq,
  * bigram-LM) — the five operators whose BASELINE rows extrapolate from
  * 10×/20× measurements. 100× of sf0.1 documents ≈ 500k docs.
  *
  * Replication transform: copy i renames every token with an `_i`
  * suffix — a per-copy BIJECTIVE token renaming, so each copy's n-gram
  * equality structure is EXACTLY the original corpus's (its own
  * near-dups stay near-dups) while cross-copy n-gram overlap is zero.
  * Duplicate pressure stays constant per decade — the honest web-corpus
  * growth axis. Two rejected transforms, both fixture artifacts: a
  * prefix marker (MakeScale's) grows Ω(factor²) true pairs (clique
  * explosion); an INTERLEAVED marker (`t1 k<i> t2 k<i>`) halves n-gram
  * specificity — a 4-token winnow fingerprint degrades to 2 real
  * tokens, which blew winnow pairs from 280 to 45.7M at 10× in this
  * probe's first run.
  *
  * Usage: runMain graft.tools.Probe100 [sfDir] [maxFactor] [op,op,…]
  * (third arg filters to the named legs — a new operator's leg runs
  * alone without re-paying the multi-minute dedup family).
  * Prints one line per (op, factor) plus per-decade growth ratios.
  */
object Probe100 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxFactor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.Session.oracle("spark.driver.maxResultSize" -> "4g")
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n1 = docs1.count()

    def replicate(factor: Int): DataFrame =
      if (factor == 1) docs1
      else spark.range(factor).crossJoin(docs1)
        .select(
          (col("id") * n1 * 10 + col("doc_id")).as("doc_id"),
          // suffix must be tokenizer-proof: rawTokens splits on
          // [^\p{L}\p{N}]+, so an underscore would detach the copy id
          // into its own marker token shared by every doc of the copy —
          // exactly the n-gram dilution the class doc rejects. "x<i>"
          // stays inside the token.
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("x"), col("id").cast("string"))), " ")
            .as("text"))

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    def sigsOf(d: DataFrame) = d.select(col("doc_id"),
      org.apache.spark.sql.graft.TextExpressions.simhash60Md5(
        TextFunctions.rawTokens(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)

    def bigramLm(d: DataFrame): Long = {
      val bg = d.select(col("doc_id"),
        posexplode(TextFunctions.bigrams(TextFunctions.wsTokens(col("text"))))
          .as(Seq("pos", "bg")))
      val b = bg.groupBy(col("bg")).agg(count(lit(1)).as("b"))
      val u = bg.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(count(lit(1)).as("u"))
      val lm = b.join(u, substring_index(col("bg"), " ", 1) === col("w1"))
        .select(col("bg"), (col("b").cast("double") / col("u")).as("p"))
      bg.join(lm, Seq("bg")).groupBy(col("doc_id"))
        .agg(avg(col("p"))).count()
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      ("minhash_neardup", d => Dedup.nearDuplicates(d, col("doc_id"),
        col("text"), threshold = 0.5, bands = 32).count()),
      ("simhash_pairs", d => Dedup.simhashPairs(sigsOf(d)).count()),
      ("winnow_pairs", d => Dedup.winnowPairs(d, col("doc_id"), col("text"),
        k = 4, w = 5, minShared = 2).count()),
      ("boilerplate_docfreq", d => Curation.ngramDocFreq(d, col("doc_id"),
        col("text"), n = 5, topK = 50).count()),
      ("bigram_lm", bigramLm),
      // two-level distributed scan (r14): forced through sum(pack_last)
      // so the offset arithmetic actually evaluates (a bare count would
      // let Catalyst prune the placement columns — the r13 probe lesson)
      ("pack_placement", d => {
        val row = graft.operators.Packing.packPlacement(d, col("doc_id"),
          TextFunctions.tokenCount(col("text")), seqLen = 2048)
          .agg(count(lit(1)).as("n"), sum(col("pack_last")).as("s")).head()
        row.getLong(0)
      }),
      // BPE training (r14): the x<i> copy suffix carries DIGITS, which
      // the [a-z]+ word tokenizer would split off — collapsing every
      // copy's vocabulary onto one "wordx" form and flattening the
      // growth axis. Translating digits to letters makes the renaming
      // bijective for THIS tokenizer too: the word dictionary grows
      // ×factor, which is exactly the claim under test (one linear
      // corpus pass builds the dict; the 6 merge iterations touch only
      // the |vocab|-bounded dict).
      ("bpe_learn", d => {
        val dd = d.select(col("doc_id"),
          translate(col("text"), "0123456789", "abcdefghij").as("text"))
        graft.operators.BpeVocab.learnMerges(dd, col("text"), 6).count()
      }),
      // full composed pipeline (quality gate → subword tokenize with
      // freshly learned merges → packing rollup) — certifies the
      // composition's growth, not just each stage's: the vocabulary
      // grows ×factor (alphabetic renaming), the corpus word stream
      // ×factor, and the two-level pack scan stays two shuffles.
      ("pipeline_pack", d => {
        import graft.operators.{BpeVocab, Packing}
        val dd = d.select(col("doc_id"),
          translate(col("text"), "0123456789", "abcdefghij").as("text"))
        val merges = BpeVocab.learnMerges(dd, col("text"), 6)
          .orderBy(col("iteration")).collect().map(_.getString(1)).toSeq
        val kept = dd.filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        val counts = BpeVocab.applyMerges(kept, col("doc_id"), col("text"), merges)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sub"))
          .localCheckpoint(true)
        Packing.packSummary(Packing.packPlacement(
          counts, col("doc_id"), col("n_sub"), seqLen = 2048)).count()
      }))

    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(ops)(names => ops.filter(o => names(o._1)))
    require(selected.nonEmpty,
      s"no matching legs in '${args.lift(2).getOrElse("")}' — valid: " +
        ops.map(_._1).mkString(", "))

    val factors = Seq(1, 10, 100).filter(_ <= maxFactor)
    // warm once (codegen + catalog) on 1x
    selected.foreach { case (_, f) => f(docs1) }

    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    factors.foreach { factor =>
      val d = replicate(factor)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = d.count()
      println(s"[probe100] factor=$factor rows=$n")
      selected.foreach { case (name, f) =>
        val (sec, rows) = time(f(d))
        results((name, factor)) = sec
        println(f"[probe100] $name%-22s ${factor}%4dx ${sec}%8.2f s  (rows=$rows)")
      }
      if (factor > 1) d.unpersist()
    }
    selected.foreach { case (name, _) =>
      val decades = factors.sliding(2).collect {
        case Seq(a, b) if results.contains((name, b)) =>
          f"${b}x/${a}x=${results((name, b)) / results((name, a))}%.1f"
      }.mkString("  ")
      println(s"[probe100] growth $name: $decades  (linear decade = ~10)")
    }
    spark.stop()
  }
}
