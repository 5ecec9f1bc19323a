package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.BpeVocab
import graft.sources.Tables

/** Dev tool: BPE merge learning at PRODUCTION vocabulary size — the scale
  * axis the 6-merge oracle can't exercise. Learns `merges` merges (default
  * 1024) with `batchK`-batched rounds (default 64) over the documents
  * corpus, then applies the learned table to the full corpus through the
  * single-pass tokenizer. What it certifies:
  *
  *   - the round loop's plan depth stays bounded (the SnapshotEvery
  *     re-materializations hold; a replace chain in the 10³s would abort
  *     with a codegen/analysis error long before finishing);
  *   - driver round-trips scale as merges/batchK, not merges (printed);
  *   - apply cost is flat in merge-table size (timed at the full table
  *     and at its 64-merge prefix for comparison).
  *
  * Usage: runMain graft.tools.BpeScaleProbe [sfDir] [merges] [batchK]
  */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val target = args.lift(1).map(_.toInt).getOrElse(1024)
    val batchK = args.lift(2).map(_.toInt).getOrElse(64)
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("ERROR")

    // The synthetic documents table carries only ~31 [a-z]+ word types —
    // BPE exhausts it under 100 merges. Enrich each doc with 24 base-26
    // id-derived words (all-letter, so wordDict keeps them): ~10k word
    // types at sf0.01, enough pair diversity for a 4-digit merge budget.
    // Same fixture spirit as MakeScale's copy renaming: the probe's
    // subject is the OPERATOR's scale axis, not the tiny test corpus.
    val b26 = udf { (n: Long) =>
      (0 until 24).map { i =>
        var v = n * 31 + i * 7919
        val sb = new StringBuilder
        while (sb.length < 6) { sb.append(('a' + (v % 26)).toChar); v /= 26 }
        sb.toString
      }.mkString(" ")
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" "), b26(col("doc_id"))).as("text"))
      .persist()
    val nDocs = docs.count()
    val nTypes = BpeVocab.wordDict(docs, col("text")).count()
    println(s"[bpe-scale] corpus=$sfDir docs=$nDocs wordTypes=$nTypes " +
      s"target=$target batchK=$batchK")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bpe-scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val merges = time(s"learn $target merges (batchK=$batchK)") {
      BpeVocab.learnMerges(docs, col("text"), target, batchK)
        .orderBy(col("iteration").asc)
        .collect().map(_.getString(1)).toSeq
    }
    println(s"[bpe-scale] learned=${merges.size}" +
      (if (merges.size < target)
        " (corpus exhausted: every word fully merged)" else ""))

    def applyCount(table: Seq[String], label: String): Unit = {
      val c = time(label) {
        BpeVocab.applyMerges(docs, col("doc_id"), col("text"), table)
          .groupBy(col("subword")).agg(count(lit(1)).as("cnt")).count()
      }
      println(s"[bpe-scale]   -> distinct subwords: $c")
    }
    // warm (tables/codegen), then the flat-in-table-size comparison
    applyCount(merges.take(64), "apply warmup (64-merge prefix)")
    applyCount(merges.take(64), s"apply 64-merge prefix")
    applyCount(merges, s"apply full ${merges.size}-merge table")
    spark.stop()
  }
}
