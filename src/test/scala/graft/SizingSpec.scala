package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every sizing site's count, pinned without a SparkSession. The corpus
  * rows are the committed corpora (sf0.001, sf0.01, sf0.1 and the 10×
  * `MakeScale near` copy of sf0.1) at 1-32 cores; their expected counts
  * are those of the per-site formulas that [[Sizing]] replaced (last
  * inline in fe021f3). The edge rows pin [[Sizing.count]]'s ceiling:
  * exactly one unit of volume is one count.
  */
class SizingSpec extends AnyFunSuite {
  import Sizing._

  private val Cores = Seq(1, 2, 4, 8, 32)

  /** Fails once, naming every row whose count differs. */
  private def check[A](rows: Seq[(String, A, A)]): Unit = {
    val bad = rows.collect { case (row, got, want) if got != want =>
      s"$row: got $got, want $want" }
    assert(bad.isEmpty, bad.mkString("; "))
  }

  /** One row per core count of [[Cores]]. */
  private def perCores[A](row: String, want: Seq[A])(got: Int => A) =
    Cores.zip(want).map { case (c, w) => (s"$row cores=$c", got(c), w) }

  test("count: ceiling of volume over the unit, clamped to [floor, cap]") {
    check(Seq(
      ("0", count(0L, 10L, 1, 5), 1),
      ("1", count(1L, 10L, 1, 5), 1),
      ("exactly one unit", count(10L, 10L, 1, 5), 1),
      ("one unit + 1", count(11L, 10L, 1, 5), 2),
      ("at the cap", count(50L, 10L, 1, 5), 5),
      ("past the cap", count(51L, 10L, 1, 5), 5),
      ("Long.MaxValue", count(Long.MaxValue, 10L, 1, 5), 5),
      ("a floor above the cap wins", count(1L, 10L, 3, 2), 3)))
  }

  // (table, rows, count at 1, 2, 4, 8 and 32 cores)
  private val cacheCorpus = Seq(
    ("documents", 500L, Seq(1, 1, 1, 2, 8)),
    ("documents", 5000L, Seq(1, 2, 4, 8, 8)),
    ("documents", 50000L, Seq(1, 2, 4, 8, 32)),
    ("embeddings", 500L, Seq(1, 1, 1, 1, 1)),
    ("embeddings", 2000L, Seq(1, 1, 1, 1, 1)),
    ("embeddings", 20000L, Seq(1, 2, 4, 4, 4)),
    ("lineitem", 6000L, Seq(1, 1, 1, 2, 8)),
    ("lineitem", 60000L, Seq(1, 1, 1, 2, 8)),
    ("lineitem", 600000L, Seq(1, 1, 1, 2, 8)),
    ("lineitem", 6000000L, Seq(1, 1, 1, 2, 8)),
    ("orders", 1500L, Seq(1, 1, 1, 2, 8)),
    ("orders", 15000L, Seq(1, 1, 1, 2, 8)),
    ("orders", 150000L, Seq(1, 1, 1, 2, 8)),
    ("orders", 1500000L, Seq(1, 1, 1, 2, 8)),
    ("events", 1000L, Seq(1, 1, 1, 2, 8)),
    ("events", 10000L, Seq(1, 1, 1, 2, 8)),
    ("events", 100000L, Seq(1, 1, 1, 2, 8)),
    ("events", 1000000L, Seq(1, 1, 1, 2, 8)),
    ("customer", 150L, Seq(1, 1, 1, 1, 1)),
    ("customer", 1500L, Seq(1, 1, 1, 1, 1)),
    ("customer", 15000L, Seq(1, 1, 1, 1, 1)),
    ("customer", 150000L, Seq(1, 1, 2, 2, 2)),
    ("part", 200L, Seq(1, 1, 1, 1, 1)),
    ("part", 2000L, Seq(1, 1, 1, 1, 1)),
    ("part", 20000L, Seq(1, 1, 1, 1, 1)),
    ("part", 200000L, Seq(1, 1, 2, 2, 2)),
    ("supplier", 10L, Seq(1, 1, 1, 1, 1)),
    ("supplier", 100L, Seq(1, 1, 1, 1, 1)),
    ("supplier", 1000L, Seq(1, 1, 1, 1, 1)),
    ("supplier", 10000L, Seq(1, 1, 1, 1, 1)),
    ("nation", 25L, Seq(1, 1, 1, 1, 1)),
    ("region", 5L, Seq(1, 1, 1, 1, 1)))

  test("cacheParts: every committed corpus table keeps its count") {
    check(cacheCorpus.flatMap { case (t, rows, want) =>
      perCores(s"$t rows=$rows", want)(cacheParts(t, rows, _)) })
  }

  test("cacheParts: fact tables take cores/4 without counting their rows") {
    for (t <- Seq("lineitem", "orders", "events"); c <- Cores)
      assert(cacheParts(t, fail(s"$t rows counted"), c) == math.max(1, c / 4))
  }

  test("cacheParts edges: 0, 1, one unit, one unit + 1 and the cap") {
    check(Seq("documents" -> 625L, "embeddings" -> 5000L, "customer" -> 100000L)
      .flatMap { case (t, u) => Seq(
        (s"$t 0", cacheParts(t, 0L, 2), 1),
        (s"$t 1", cacheParts(t, 1L, 2), 1),
        (s"$t one unit", cacheParts(t, u, 4), 1),
        (s"$t one unit + 1", cacheParts(t, u + 1L, 4), 2),
        (s"$t cap", cacheParts(t, Long.MaxValue, 32),
          if (t == "customer") 16 else 32)) } ++ Seq(
      ("documents floor", cacheParts("documents", 1L, 32), 8),
      ("dims at 1 core", cacheParts("customer", Long.MaxValue, 1), 1)))
  }

  test("spreadTo: one-file sf tables spread to the cores, the 10x 4-file scan does not") {
    // every sf table is one file; MakeScale at 4 cores writes 4 files
    check(perCores("1 file", Seq(None, Some(2), Some(4), Some(8), Some(32)))(
      spreadTo(1, _)) ++
      perCores("4 files", Seq.fill(5)(Option.empty[Int]))(spreadTo(4, _)) ++
      perCores("no files", Seq.fill(5)(Option.empty[Int]))(spreadTo(0, _)) ++
      perCores("3 files", Seq(None, None, Some(4), Some(8), Some(32)))(
        spreadTo(3, _)))
  }

  test("clusterSalt: no hint is unsalted; the queries' and perfbench's hint of 16") {
    check(perCores("hint 0", Seq(1, 1, 1, 1, 1))(clusterSalt(0, _)) ++
      perCores("hint 16", Seq(1, 1, 1, 1, 4))(clusterSalt(16, _)) ++
      perCores("hint 1", Seq(2, 4, 8, 16, 32))(clusterSalt(1, _)) ++ Seq(
        ("hint 2c at c cores is one unit", clusterSalt(64, 32), 1),
        ("hint 2c - 1", clusterSalt(63, 32), 2),
        ("cap", clusterSalt(1, 1024), 32)))
  }

  test("clusterSalt: ClusterTopKSpec's clusterHint = 1 cases are salted, its default cases are not") {
    // SparkTestBase runs local[4]
    for (c <- Cores :+ 4) {
      assert(clusterSalt(1, c) > 1, s"cores=$c")
      assert(clusterSalt(0, c) == 1, s"cores=$c")
    }
  }

  test("mboxShards: one shard per 50k messages, capped by the caller") {
    val cap = graft.operators.Export.MaxShards
    val full = cap.toLong * 50000L
    // export rows ≤ the corpus's documents (one message per document)
    check(Seq(500L, 5000L, 50000L).map(r =>
      (s"corpus $r", mboxShards(r, cap), 1)) ++ Seq(
      ("0", mboxShards(0L, cap), 1),
      ("1", mboxShards(1L, cap), 1),
      ("one unit", mboxShards(50000L, cap), 1),
      ("one unit + 1", mboxShards(50001L, cap), 2),
      ("two units", mboxShards(100000L, cap), 2),
      ("cap", mboxShards(full, cap), cap),
      ("cap + 1", mboxShards(full + 1L, cap), cap),
      ("Long.MaxValue", mboxShards(Long.MaxValue, cap), cap)))
  }

  test("packShards: one shard per 4M tokens, capped at 4096") {
    // documents' space-split token totals; perfbench packs at most 3
    // copies of sf0.1 plus a prefix token per copied document
    check(Seq(27939L, 27165L, 270704L, 2752040L, 822112L).map(t =>
      (s"corpus $t", packShards(t), 1)) ++ Seq(
      ("0", packShards(0L), 1),
      ("1", packShards(1L), 1),
      ("one unit", packShards(4000000L), 1),
      ("one unit + 1", packShards(4000001L), 2),
      ("cap", packShards(4096L * 4000000L), 4096),
      ("cap + 1", packShards(4096L * 4000000L + 1L), 4096),
      ("Long.MaxValue", packShards(Long.MaxValue), 4096)))
  }

  test("streamPackFiles: one file per 500k tokens, capped at the cores") {
    // stream_pack_placement's four micro-batches at each corpus
    val one = Seq(6784L, 7176L, 7127L, 6852L, 6333L, 7132L, 6968L, 6732L,
      66545L, 68469L, 67661L, 68029L)
    check(one.flatMap(t =>
        perCores(s"corpus $t", Seq(1, 1, 1, 1, 1))(streamPackFiles(t, _))) ++
      Seq(683922L, 689598L, 688922L, 689598L).flatMap(t =>
        perCores(s"10x $t", Seq(1, 2, 2, 2, 2))(streamPackFiles(t, _))) ++ Seq(
      ("0", streamPackFiles(0L, 8), 1),
      ("1", streamPackFiles(1L, 8), 1),
      ("one unit", streamPackFiles(500000L, 8), 1),
      ("one unit + 1", streamPackFiles(500001L, 8), 2),
      ("cap", streamPackFiles(Long.MaxValue, 8), 8)))
  }

  test("manifestFiles: one file per 250k members, capped at the cores") {
    // deletion candidates ≤ the corpus's documents
    check(Seq(500L, 5000L, 50000L).flatMap(n =>
        perCores(s"corpus $n", Seq(1, 1, 1, 1, 1))(manifestFiles(n, _))) ++ Seq(
      ("0", manifestFiles(0L, 8), 1),
      ("1", manifestFiles(1L, 8), 1),
      ("one unit", manifestFiles(250000L, 8), 1),
      ("one unit + 1", manifestFiles(250001L, 8), 2),
      ("cap", manifestFiles(Long.MaxValue, 8), 8)))
  }

  test("compactFiles: one file per 128 MiB of source bytes, at most 32") {
    val mib = 1L << 20
    // the sink-compaction query folds 3 of 4 documents batches: at most
    // the whole documents file at every corpus
    check(Seq(65515L, 65049L, 594568L, 5915082L).map(b =>
      (s"corpus $b", compactFiles(b), 1)) ++ Seq(
      ("0", compactFiles(0L), 1),
      ("1", compactFiles(1L), 1),
      ("one unit", compactFiles(128L * mib), 1),
      ("one unit + 1", compactFiles(128L * mib + 1L), 2),
      ("cap", compactFiles(32L * 128L * mib), 32),
      ("cap + 1", compactFiles(32L * 128L * mib + 1L), 32)))
  }
}
