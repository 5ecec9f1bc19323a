package graft.tools

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.SparkTestBase

/** `MakeScale`: the key-overflow check, the argument parser, and the
  * corpus both modes write from sf0.001 at factor 3. */
class MakeScaleSpec extends SparkTestBase {

  test("a 32-bit key whose 10th copy stays under Int.MaxValue fits") {
    // sf0.1-shaped: max 600 000, offset 1 000 000, 10 copies → 9 600 000
    assert(MakeScale.shiftFits(IntegerType, 600000L, 10, 1000000L))
  }

  test("a 32-bit key whose shifted max passes Int.MaxValue does not fit") {
    // 999 999 + 2 999 × 1 000 000 = 2 999 999 999 > 2 147 483 647
    assert(!MakeScale.shiftFits(IntegerType, 999999L, 3000, 1000000L))
    assert(MakeScale.shiftFits(LongType, 999999L, 3000, 1000000L))
  }

  test("the boundary is inclusive, and Long arithmetic cannot wrap") {
    assert(MakeScale.shiftFits(IntegerType, Int.MaxValue - 10L, 2, 10L))
    assert(!MakeScale.shiftFits(IntegerType, Int.MaxValue - 10L, 2, 11L))
    assert(!MakeScale.shiftFits(LongType, Long.MaxValue - 1L, 3, Long.MaxValue))
  }

  test("factor 1 is the identity and always fits an integral key") {
    assert(MakeScale.shiftFits(IntegerType, Int.MaxValue.toLong, 1, 1000L))
  }

  test("a non-integral key cannot carry a shift") {
    assert(!MakeScale.shiftFits(DoubleType, 10L, 2, 100L))
  }

  // ---- argument parser ----

  private def rejects(args: String*): String =
    intercept[IllegalArgumentException](MakeScale.parse(args)).getMessage

  test("parse: near is the default mode, disjoint is named") {
    assert(MakeScale.parse(Seq("in", "out", "10")) ==
      MakeScale.Args("in", "out", 10, MakeScale.Near))
    assert(MakeScale.parse(Seq("in", "out", "1", "disjoint")).mode ==
      MakeScale.Disjoint)
  }

  test("parse: a factor below 1 is rejected") {
    assert(rejects("in", "out", "0").contains("factor must be ≥ 1"))
    assert(rejects("in", "out", "-3").contains("factor must be ≥ 1"))
    assert(rejects("in", "out", "ten").contains("not an integer"))
  }

  test("parse: a dst that normalizes to src is rejected") {
    assert(rejects("data/sf", "data/../data/sf/", "2").contains("source directory"))
    assert(rejects("data/sf", new java.io.File("data/sf").getAbsolutePath, "2")
      .contains("source directory"))
  }

  test("parse: an unknown mode and a wrong arity are rejected") {
    assert(rejects("in", "out", "2", "far").contains("unknown mode 'far'"))
    assert(rejects("in", "out").contains("usage"))
    assert(rejects("in", "out", "2", "near", "extra").contains("usage"))
  }

  // ---- the corpus, factor 3 from sf0.001 ----

  private val src = "/root/testdata/sf0.001"
  private val factor = 3
  private val tmp = Files.createTempDirectory("graft_makescale")

  private lazy val out: Map[MakeScale.Mode, String] = MakeScale.Modes.map { m =>
    val dst = tmp.resolve(m.name).toString
    MakeScale.run(spark, src, dst, factor, m)
    m -> dst
  }.toMap

  override def afterAll(): Unit = {
    if (Files.exists(tmp))
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    super.afterAll()
  }

  private def read(dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  /** Each replicated table with the key that orders its copies. */
  private val replicated = Seq(
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  private def maxKey(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast(LongType))).head().getLong(0)

  MakeScale.Modes.foreach { m =>
    test(s"${m.name}: replicated tables hold 3× the rows, dims 1×, schemas unchanged") {
      replicated.map(_._1).foreach { t =>
        val (s, d) = (read(src, t), read(out(m), t))
        assert(d.count() == factor * s.count(), t)
        assert(d.schema == s.schema, t)
      }
      Seq("region", "nation").foreach { t =>
        assert(read(out(m), t).count() == read(src, t).count(), t)
      }
    }

    test(s"${m.name}: keys are unique and every foreign key resolves") {
      def unique(t: String, keys: String*): Unit = {
        val d = read(out(m), t)
        assert(d.select(keys.map(col): _*).distinct().count() == d.count(), t)
      }
      unique("customer", "c_custkey"); unique("supplier", "s_suppkey")
      unique("part", "p_partkey"); unique("orders", "o_orderkey")
      // the generated lineitem repeats (l_orderkey, l_linenumber), so
      // its check is that no two copies collide
      val li = Seq(col("l_orderkey"), col("l_linenumber"))
      assert(read(out(m), "lineitem").select(li: _*).distinct().count() ==
        factor * read(src, "lineitem").select(li: _*).distinct().count())
      unique("events", "event_id"); unique("documents", "doc_id")
      unique("embeddings", "vec_id")
      unique("nation", "n_nationkey"); unique("region", "r_regionkey")
      Seq(
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey")
      ).foreach { case (t, fk, ref, pk) =>
        val dangling = read(out(m), t)
          .join(read(out(m), ref), col(fk) === col(pk), "left_anti").count()
        assert(dangling == 0, s"$t.$fk → $ref.$pk")
      }
    }

    test(s"${m.name}: copy 0 equals the source row for row") {
      (replicated ++ Seq("region" -> "r_regionkey", "nation" -> "n_nationkey"))
        .foreach { case (t, key) =>
          val s = read(src, t)
          val copy0 = read(out(m), t).filter(col(key) <= maxKey(s, key))
          assert(copy0.count() == s.count(), t)
          assert(copy0.exceptAll(s).isEmpty && s.exceptAll(copy0).isEmpty, t)
        }
    }

    test(s"${m.name}: n_chars follows the renamed text") {
      val d = read(out(m), "documents")
      assert(d.filter(col("n_chars") =!= length(col("text"))).isEmpty)
    }
  }

  // ---- disjoint: structure kept within a copy, nothing shared across ----

  /** id → payload of every row, keyed by copy (0 until factor). */
  private def byCopy[A](t: String, key: String,
      payload: org.apache.spark.sql.Row => A): IndexedSeq[Map[Long, A]] = {
    val off = MakeScale.offsetAbove(maxKey(read(src, t), key))
    val rows = read(out(MakeScale.Disjoint), t).collect()
      .map(r => r.getAs[Long](key) -> payload(r))
    (0 until factor).map(c => rows.collect {
      case (id, p) if id / off == c => (id - c * off) -> p
    }.toMap)
  }

  private val rnd = new scala.util.Random(11)
  private def samplePairs(ids: Seq[Long]): Seq[(Long, Long)] =
    Seq.fill(40)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
      .filter { case (a, b) => a != b }

  test("disjoint: within-copy cosines are bit-equal to the source pair's") {
    val vecs = byCopy("embeddings", "vec_id",
      _.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
    def cos(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var dot, na, nb = 0.0
      a.indices.foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      dot / math.sqrt(na * nb)
    }
    val pairs = samplePairs(vecs(0).keys.toSeq.sorted)
    assert(pairs.size > 20)
    (1 until factor).foreach { c =>
      assert(vecs(c).keySet == vecs(0).keySet)
      pairs.foreach { case (a, b) =>
        assert(cos(vecs(c)(a), vecs(c)(b)) == cos(vecs(0)(a), vecs(0)(b)),
          s"copy $c pair ($a, $b)")
      }
      // the flip is real: a copy is not its source vector
      assert(vecs(0).keys.exists(id => vecs(c)(id) != vecs(0)(id)))
    }
  }

  /** The three tokenizers the text operators use. */
  private val tokenizers: Seq[(String, String => Set[String])] = Seq(
    "whitespace" -> (s => s.split(" ").toSet),
    "rawTokens" -> (s => s.toLowerCase.split("[^\\p{L}\\p{N}]+")
      .filter(_.nonEmpty).toSet),
    "bpe [a-z]+" -> (s => s.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toSet))

  test("disjoint: within-copy token-set Jaccard equals the source pair's; copies share no token") {
    val docs = byCopy("documents", "doc_id", _.getAs[String]("text"))
    val pairs = samplePairs(docs(0).keys.toSeq.sorted)
    assert(pairs.size > 20)
    tokenizers.foreach { case (name, tok) =>
      def overlap(c: Int, a: Long, b: Long): (Int, Int) = {
        val (x, y) = (tok(docs(c)(a)), tok(docs(c)(b)))
        ((x & y).size, (x | y).size)
      }
      (1 until factor).foreach { c =>
        pairs.foreach { case (a, b) =>
          assert(overlap(c, a, b) == overlap(0, a, b), s"$name copy $c ($a, $b)")
        }
      }
      val vocab = docs.map(_.values.flatMap(tok).toSet)
      for (c <- 0 until factor; d <- c + 1 until factor)
        assert((vocab(c) & vocab(d)).isEmpty, s"$name: copies $c and $d")
    }
  }
}
