package graft.operators

import graft.SparkTestBase
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

/** Property-based equivalence for the bucket-local pair generators: on
  * random corpora, the distributed plans must emit EXACTLY the pairs the
  * O(n²) definition does (expression outputs collected once per corpus,
  * brute force computed in plain Scala). The oracle gate proves this for
  * the driver corpus; these properties cover corpora the fixtures don't —
  * dup-heavy, near-empty, single-word, skewed vocabularies.
  *
  * Few iterations (Spark jobs per case are ~100 ms), many rows per case.
  */
class DedupPropSpec extends SparkTestBase {
  import spark.implicits._

  private def check(p: Prop, n: Int): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(n).withMaxSize(25), p)
    assert(res.passed, res.status.toString)
  }

  // skewed tiny vocabulary → heavy dup/near-dup structure by construction
  private val word: Gen[String] =
    Gen.frequency(5 -> Gen.const("alpha"), 5 -> Gen.const("beta"),
      3 -> Gen.const("gamma"), 2 -> Gen.const("delta"),
      1 -> Gen.identifier.map(_.take(6)))
  private val doc: Gen[String] = Gen.chooseNum(0, 30)
    .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val corpus: Gen[Seq[(Long, String)]] = Gen.chooseNum(2, 25)
    .flatMap(n => Gen.listOfN(n, doc)).map(_.zipWithIndex
      .map { case (t, i) => (i.toLong, t) })

  test("simhashPairs == O(n²) Hamming join on random corpora") {
    check(Prop.forAll(corpus) { rows =>
      val df = rows.toDF("doc_id", "text")
      val sigs = df.select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions.simhash60Md5(
          TextFunctions.rawTokens(col("text"))).as("simhash"))
        .filter(col("simhash").isNotNull)
      val got = Dedup.simhashPairs(sigs, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val s = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = (for {
        (a, sa) <- s; (b, sb) <- s if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (a, b, h.toLong)).toSet
      got == want
    }, n = 12)
  }

  test("winnowPairs == O(n²) shared-fingerprint join on random corpora") {
    check(Prop.forAll(corpus) { rows =>
      val df = rows.toDF("doc_id", "text")
      val fps = df.select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions.winnowFingerprints(
          TextFunctions.rawTokens(col("text")), 4, 5).as("fps"))
        .filter(col("fps").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      val got = Dedup.winnowPairs(df, col("doc_id"), col("text"),
        k = 4, w = 5, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (a, fa) <- fps; (b, fb) <- fps if a < b
        shared = (fa intersect fb).size if shared >= 1
      } yield (a, b, shared.toLong)).toSet
      got == want
    }, n = 12)
  }

  // (key, id) rows: few keys so buckets straddle the cap, ids repeat
  // across keys the way one doc sits in several LSH bands
  private val keyed: Gen[(Seq[(Int, Long)], Int)] = for {
    n <- Gen.chooseNum(0, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 15L)))
    cap <- Gen.chooseNum(1, 6)
  } yield (rows, cap)

  test("bucketPairs == brute-force same-key pair join after the bucket cap") {
    check(Prop.forAll(keyed) { case (rows, cap) =>
      val got = Dedup.bucketPairs(rows.toDF("k", "id"), Seq(col("k")),
        col("id"), identity, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = rows.groupBy(_._1).values.map(_.map(_._2))
        .filter(m => m.size > 1 && m.size <= cap)
        .flatMap(m => for (a <- m; b <- m if a < b) yield (a, b))
        .toSeq.sorted
      got == want
    }, n = 20)
  }

  test("bucketPairs keeps a bucket of exactly maxBucket, drops maxBucket + 1 and singletons") {
    val rows = Seq((1, 1L), (1, 2L), (1, 3L), // exactly maxBucket = 3
      (2, 4L), (2, 5L), (2, 6L), (2, 7L),     // maxBucket + 1
      (3, 8L))                                // singleton
      .toDF("k", "id")
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 2L), (1L, 3L), (2L, 3L))
    assert(pairs(Dedup.bucketPairs(rows, Seq(col("k")), col("id"), identity,
      maxBucket = 3)) == want)
    // a struct member pairs on its id and carries its payload through
    val structs = Dedup.bucketPairs(rows.withColumn("p", col("id") * 10),
      Seq(col("k")), struct(col("id"), col("p")), _("id"), maxBucket = 3)
    assert(pairs(structs.select(col("id_a.id"), col("id_b.id"))) == want)
    assert(structs.filter(col("id_a.p") =!= col("id_a.id") * 10).isEmpty)
  }

  /** `collect_list` order depends on the physical layout; the pair set a
    * bucket-blocked generator emits must not.
    */
  test("pair generators are layout-invariant: shuffle partitions 1/8 × input partitions 1/7") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    val base = (0 until 12).map(_ => Seq.fill(30)(vocab(rnd.nextInt(60))))
    // each base doc plus two copies with one and two words replaced
    val texts = base.zipWithIndex.flatMap { case (ws, i) =>
      Seq(ws, ws.updated(i, "x"), ws.updated(i, "x").updated(20, "y"))
    }.map(_.mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val emb = (0 until 30).map { i =>
      val b = i / 3
      (i.toLong, Seq.tabulate(8)(d =>
        if (d == b % 8) 1.0f + 0.001f * (i % 3) else 0.01f * ((b + d) % 5)))
    }.toDF("vec_id", "embedding")
    val gens: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "minhashCandidates" -> ((d, _) =>
        Dedup.minhashCandidates(d, col("doc_id"), col("text"))),
      "nearDuplicates" -> ((d, _) =>
        Dedup.nearDuplicates(d, col("doc_id"), col("text"), threshold = 0.5)),
      "simhashPairs" -> ((d, _) =>
        Dedup.simhashPairs(Dedup.simhashSignatures(d, col("doc_id"),
          TextFunctions.rawTokens(col("text"))), maxHamming = 7, sigBits = 64)),
      "winnowPairs" -> ((d, _) =>
        Dedup.winnowPairs(d, col("doc_id"), col("text"))),
      "embeddingNearDupPairs" -> ((_, e) =>
        Similarity.embeddingNearDupPairs(e, col("vec_id"), col("embedding"),
          threshold = 0.9, nBits = 4)))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      val layouts = for (shuffle <- Seq(1, 8); input <- Seq(1, 7)) yield {
        spark.conf.set(key, shuffle.toString)
        val (d, e) = (docs.repartition(input), emb.repartition(input))
        s"shuffle=$shuffle input=$input" -> gens.map { case (name, g) =>
          name -> g(d, e).collect().map(_.toSeq.mkString(",")).sorted.toSeq
        }.toMap
      }
      val (_, first) = layouts.head
      gens.foreach { case (name, _) =>
        assert(first(name).nonEmpty, s"$name: fixture yields no pairs")
      }
      layouts.tail.foreach { case (layout, got) =>
        gens.foreach { case (name, _) =>
          assert(got(name) == first(name), s"$name differs under $layout")
        }
      }
    } finally spark.conf.set(key, saved)
  }
}
