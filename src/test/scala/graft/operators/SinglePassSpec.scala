package graft.operators

import graft.SparkTestBase
import graft.functions.TextFunctions.rawTokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashingExpressions.{distinctJaccard, wordShingles}
import org.apache.spark.sql.graft.TextExpressions.bpeSubwords

/** The single-pass curation operators against the formulations they
  * replaced: `distinct_jaccard` vs `size(array_intersect)/size(array_union)`,
  * `bpe_subwords` vs [[BpeVocab.tokenizeWord]], `band_hashes` vs the
  * `transform` lambda, the letter-or-digit / token prefilters vs the
  * signature's NULL (minhash, simhash, md5 simhash; winnow's explode of
  * NULL), and [[Dedup.nearDuplicates]]
  * / [[BpeVocab.applyMerges]] vs the multi-pass plans (semi-joined
  * shingle sides; snapshot + distinct vocab map + join-back), inlined
  * here as they were. Doubles are compared bit for bit.
  */
class SinglePassSpec extends SparkTestBase {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("distinct_jaccard ≡ size(array_intersect)/size(array_union) on shingle sets") {
    val pairs = Seq(
      ("a b c d e f", "a b c d e f"), // identical
      ("a b c d e f", "u v w x y z"), // disjoint
      ("a b c d e f g", "a b c d x f g"), // partly overlapping
      ("a b c d e f", "c d e f g h i j"), // different sizes
      ("x", "x"), // singleton, equal
      ("x", "y"), // singleton, disjoint
      ("a a a a a", "a a a b"), // repeated shingles collapse to distinct sets
      ("  ", "a b c"), // zero tokens → NULL shingles
      (null, "a b c"))
      .toDF("ta", "tb")
      .select(wordShingles(rawTokens(col("ta")), 3).as("a"),
        wordShingles(rawTokens(col("tb")), 3).as("b"))
    val rows = pairs.select(distinctJaccard(col("a"), col("b")),
      distinctJaccard(col("b"), col("a")),
      size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double"))
      .collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(2), s"null mismatch: $r")
      assert(r.isNullAt(0) == r.isNullAt(1), s"asymmetric null: $r")
      if (!r.isNullAt(0)) {
        assert(bits(r.getDouble(0)) == bits(r.getDouble(2)), s"value mismatch: $r")
        assert(bits(r.getDouble(1)) == bits(r.getDouble(2)), s"asymmetric: $r")
      }
    }
    assert(rows.count(_.isNullAt(0)) == 2)
  }

  test("distinct_jaccard: null elements count once, empty pair is null") {
    val r = Seq((Seq("a", null, "b"), Seq(null, "b", "c"), Seq.empty[String]))
      .toDF("a", "b", "e")
      .select(distinctJaccard(col("a"), col("b")),
        size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double"),
        distinctJaccard(col("e"), col("e")))
      .head()
    assert(bits(r.getDouble(0)) == bits(r.getDouble(1)))
    assert(r.getDouble(0) == 0.5) // {null, b} of {a, null, b, c}
    assert(r.isNullAt(2))
  }

  private val merges = Array(("w", "e"), ("l", "o"), ("e", "we"), ("n", "e"),
    ("lo", "w"), ("s", "t"))

  test("bpe_subwords ≡ tokenizeWord, repeated words served from the memo") {
    val vocab = Seq("low", "lower", "newest", "wider", "a", "aaaa", "newer",
      "lowest", "stew", "west", "x")
    // one partition, every word many times and interleaved, so later
    // occurrences hit the memo after the row buffer has been reused
    val words = (0 until 2000).map(i => vocab((i * 7 + i / 13) % vocab.size))
    for (table <- Seq(merges, Array.empty[(String, String)])) {
      val got = words.toDF("word").coalesce(1)
        .select(col("word"), bpeSubwords(col("word"), table.toSeq).as("subs"))
        .collect()
      assert(got.length == words.size)
      got.foreach { r =>
        val w = r.getString(0)
        assert(r.getSeq[String](1) == BpeVocab.tokenizeWord(w, table),
          s"$w under ${table.length} merges")
      }
    }
    val nulls = Seq[String](null, "low").toDF("word")
      .select(bpeSubwords(col("word"), merges.toSeq)).collect()
    assert(nulls(0).isNullAt(0) && nulls(1).getSeq[String](0) == Seq("low"))
  }

  /** Fixture: exact duplicates, near duplicates, zero-token docs, and an
    * exact-copy family of 6 that overflows `maxBucket = 4` in every band.
    */
  private lazy val corpus: DataFrame = {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val other = "spark plans columnar scans over parquet files with pushed filters"
    val big = "an identical template repeated across many mailing list digests"
    (Seq(
      (1L, s"$base today"), (2L, s"$base tonight"), (3L, s"$base today"),
      (4L, s"$base today and tomorrow"), (5L, other),
      (6L, s"$other and pruned columns"), (7L, other),
      (8L, ""), (9L, "   !!! "), (10L, null), (11L, "short"), (12L, "short"))
      ++ (20L until 26L).map(i => (i, big)))
      .toDF("doc_id", "text")
  }

  test("minhashSignatures keeps exactly the docs whose signature is non-null") {
    // the letter-or-digit prefilter must drop the same docs the
    // expression's NULL did, across scripts, symbols and case mappings
    val texts = Seq("", "   !!! ", null, "_", "— … ·", "😀", "x😀", "Ⓐ ⓐ",
      "ǅ", "١٢٣", "İ", "Ⅻ", "ſ", "ﬁ", "́", "a", "2024", "Ωmega")
    val weird = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val want = weird.filter(org.apache.spark.sql.graft.HashingExpressions
        .minhashSignature(rawTokens(col("text")), 64, 3).isNotNull)
      .collect().map(_.getLong(0)).toSet
    val got = Dedup.minhashSignatures(weird, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(want.size == 10 && !want.contains(0L) && !want.contains(5L))
  }

  // empty, whitespace-only, punctuation-only and null texts, plus a few
  // of the script / case-mapping edge cases above
  private lazy val tokenless = Seq("real tokens here", "", "   ", "\t\n",
    "!!! ... ---", null, "_", "— … ·", "😀", "x😀", "İ", "ǅ", "١٢٣", "́",
    "a", "2024")
    .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def sigSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("simhashSignatures ≡ evaluate-then-drop-NULL on token-less texts") {
    import org.apache.spark.sql.graft.HashingExpressions.simhash64
    val toks = Seq(rawTokens(col("text")),
      graft.functions.TextFunctions.tokens(col("text")), split(col("text"), " "))
    for (t <- toks) {
      val want = sigSet(tokenless.select(col("doc_id"), simhash64(t).as("s"))
        .filter(col("s").isNotNull))
      // a raw space split keeps "\t\n" and punctuation as real tokens
      assert(want.map(_._1).contains(0L) &&
        !want.map(_._1).exists(Set(1L, 2L, 5L)))
      assert(sigSet(Dedup.simhashSignatures(tokenless, col("doc_id"), t)) == want,
        s"tokens: $t")
    }
  }

  test("md5 simhash signatures ≡ evaluate-then-drop-NULL on token-less texts") {
    import org.apache.spark.sql.graft.TextExpressions.simhash60Md5
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_md5").toString
    tokenless.withColumn("lang", lit("en"))
      .write.parquet(s"$dir/documents.parquet")
    val want = sigSet(tokenless
      .select(col("doc_id"), simhash60Md5(rawTokens(col("text"))).as("s"))
      .filter(col("s").isNotNull))
    assert(want.map(_._1).contains(0L) &&
      !want.map(_._1).exists(Set(1L, 2L, 3L, 4L, 5L)))
    assert(sigSet(graft.queries.DocQueries.dedupSimhashMd5(spark, dir)) == want)
  }

  test("winnow fingerprints: explode without the NULL filter emits the same rows") {
    import org.apache.spark.sql.graft.TextExpressions.winnowFingerprints
    val fps = tokenless.select(col("doc_id"),
      winnowFingerprints(rawTokens(col("text")), 4, 5).as("fps"))
    def rows(df: DataFrame) = sigSet(df.select(col("doc_id"), explode(col("fps"))))
    assert(rows(fps).nonEmpty)
    assert(rows(fps) == rows(fps.filter(col("fps").isNotNull)))
  }

  test("band_hashes ≡ transform(sequence, xxhash64(b, slice(sig)))") {
    val sigs = Dedup.minhashSignatures(corpus, col("doc_id"), col("text"))
    for ((bands, rows) <- Seq((16, 4), (32, 2), (1, 64))) {
      val got = sigs.select(col("doc_id"),
        org.apache.spark.sql.graft.HashingExpressions
          .bandHashes(col("sig"), bands, rows).as("fast"),
        transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(b, slice(col("sig"), b * lit(rows) + lit(1), lit(rows))))
          .as("hof"))
        .collect()
      assert(got.length == 15)
      got.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)} at $bands×$rows"))
    }
  }

  test("nearDuplicates ≡ the semi-joined three-pass verify") {
    val (threshold, shingleSize, maxBucket) = (0.5, 3, 4)
    val docs = corpus.select(col("doc_id"), col("text").as("doc_text"))
    val banded = Dedup.bandRows(corpus, col("doc_id"), col("text"))
    val cand = Dedup.candidatesFromBands(banded, maxBucket).distinct()
    val candIds = cand.select(explode(array(col("id_a"), col("id_b")))
      .as("doc_id"))
    val shingled = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        wordShingles(rawTokens(col("doc_text")), shingleSize).as("__sh"))
    val parent = cand
      .join(shingled.as("A"), col("id_a") === col("A.doc_id"))
      .join(shingled.as("B"), col("id_b") === col("B.doc_id"))
      .withColumn("jaccard",
        size(array_intersect(col("A.__sh"), col("B.__sh"))).cast("double") /
          size(array_union(col("A.__sh"), col("B.__sh"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)))).sorted.toSeq
    val want = rows(parent)
    val got = rows(Dedup.nearDuplicates(corpus, col("doc_id"), col("text"),
      threshold, shingleSize = shingleSize, maxBucket = maxBucket))
    assert(got == want)
    // the fixture exercises what it claims: exact and near pairs verify,
    // the over-full bucket is dropped, zero-token docs never pair
    val ids = got.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 3L)) && ids.contains((5L, 7L)))
    assert(got.exists(p => p._3 != bits(1.0)))
    assert(!got.exists(p => p._1 >= 20L))
    assert(!got.exists(p => Set(8L, 9L, 10L).contains(p._1) ||
      Set(8L, 9L, 10L).contains(p._2)))
  }

  test("applyMerges ≡ the snapshot + distinct vocab map + join-back plan") {
    val table = merges.toSeq.map { case (a, b) => s"$a $b" }
    def parent(docs: DataFrame, ms: Seq[String]): DataFrame = {
      val words = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(col("word") =!= "")
        .localCheckpoint(true)
      val pairs = ms.map { p => val Array(a, b) = p.split(" ", 2); (a, b) }.toArray
      val bc = spark.sparkContext.broadcast(pairs)
      val vocabMap = words.select(col("word")).distinct().as[String]
        .mapPartitions(it => it.map(w => (w, BpeVocab.tokenizeWord(w, bc.value))))
        .toDF("__w", "__subs")
      words.join(vocabMap, col("word") === col("__w"))
        .select(col("doc_id"), explode(col("__subs")).as("subword"))
    }
    def bag(df: DataFrame) = df.groupBy("doc_id", "subword").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val docs = corpus.union(Seq((30L, "Lower NEWEST, low-low; wider!")).toDF())
    for (ms <- Seq(table, Seq.empty[String])) {
      val want = bag(parent(docs, ms))
      assert(want.nonEmpty)
      assert(bag(BpeVocab.applyMerges(docs, col("doc_id"), col("text"), ms)) == want,
        s"${ms.size} merges")
    }
  }
}
