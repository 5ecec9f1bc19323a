package graft.tools

import java.nio.file.Paths
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev tool, and the repo's one corpus generator: build a LARGER
  * synthetic SF by replicating an existing SF directory `factor`× with
  * consistent key shifts — the measurement target VERDICT r15 #4 asks for
  * (sf0.1 is scheduler-floor bound: 8-core scaling ratios ≈ 1 across the
  * suite, so per-query signal needs more data). NOT an oracle corpus: the
  * correctness gate stays at sf0.01; this exists purely so
  * optimization A/Bs and growth runs measure compute, not the local-mode
  * job floor. Growth runs time the generated corpus with [[Profile]]:
  *
  * {{{
  * runMain graft.tools.MakeScale <sf0.1 dir> <out dir> 10 disjoint
  * runMain graft.tools.Profile <out dir> dedup_minhash knn_graph ...
  * }}}
  *
  * Replication contract (copy 0 is the identity, so every literal-id
  * point lookup in the suite still hits):
  *  - each table's join keys shift by copy × a power of 10 above the
  *    source max, the SAME offset on every referencing table, so FK
  *    relationships hold and per-key cardinalities stay flat (10× users,
  *    10× orders — not 10× rows per user);
  *  - dims `region`/`nation` stay 1× (low-cardinality lookup tables);
  *  - `documents.text` and `embeddings.embedding` of copies ≥ 1 are
  *    perturbed by the [[Mode]] ([[Near]] by default, [[Disjoint]] for
  *    growth runs);
  *  - column dtypes are cast back to the source schema so a consumer
  *    sees the exact same relation shape — and every shifted key is
  *    checked to FIT that dtype before anything is written
  *    ([[shiftFits]]): a non-ANSI cast would otherwise wrap a 32-bit
  *    key silently into a colliding, wrong corpus.
  *
  * Usage: runMain graft.tools.MakeScale <src> <dst> <factor> [near|disjoint]
  */
object MakeScale {

  /** How copy `c` (a long column, ≥ 1 where it matters) perturbs the
    * payload columns. Copy 0 comes out unchanged in every mode. */
  sealed abstract class Mode(val name: String) {
    /** Rewritten `documents` columns, by name. */
    def documents(c: Column): Map[String, Column]
    /** Rewritten `embeddings.embedding`. */
    def embedding(c: Column): Column
  }

  /** Copies are NEAR-dups of the original: realistic dedup pressure
    * instead of a degenerate exact-dup multiset. Text gains a "copyN "
    * prefix (`n_chars` grows by its length); vectors a small copy-keyed
    * additive offset
    * (±0.05·sin((i+1)·copy)), so copies of one vector are near- (not
    * exact-) neighbors. Cross-copy pairs grow Ω(factor²) — the recipe of
    * the committed sf1 bands and of perfbench's curation corpus. */
  case object Near extends Mode("near") {
    def documents(c: Column): Map[String, Column] = {
      val prefixed = when(c === 0, col("text"))
        .otherwise(concat(lit("copy"), c.cast("string"), lit(" "), col("text")))
      Map("text" -> prefixed,
        "n_chars" -> (col("n_chars") + length(prefixed) - length(col("text"))))
    }

    def embedding(c: Column): Column =
      when(c === 0, col("embedding"))
        .otherwise(zip_with(col("embedding"),
          sequence(lit(1), size(col("embedding"))),
          (x, i) => (x.cast("double") +
            sin(i.cast("double") * c.cast("double")) * 0.05).cast("float")))
  }

  /** Copies keep the source's structure and share nothing across copies,
    * so duplicate and cluster pressure per copy stays constant — the
    * honest growth axis for dedup, clustering and search:
    *  - text: every maximal letter/digit run gains the all-letter suffix
    *    [[tokenSuffix]] — a per-copy bijective token renaming under
    *    whitespace splits, `rawTokens` and the `[a-z]+` BPE word
    *    tokenizer (each keeps the suffix inside the token; for `[a-z]+`
    *    that holds whenever a run ends in a lowercase letter, as every
    *    word of the generated corpus does). Within-copy n-gram and
    *    token-set structure is exactly the source's, cross-copy overlap
    *    is zero, and `n_chars` grows by the characters added;
    *  - vectors: a per-(copy, dimension) sign flip (murmur3 parity) — a
    *    diagonal orthogonal map, so every within-copy cosine is
    *    bit-equal to the source pair's while cross-copy cosines scramble
    *    toward 0. */
  case object Disjoint extends Mode("disjoint") {
    def documents(c: Column): Map[String, Column] = {
      val renamed = when(c === 0, col("text")).otherwise(regexp_replace(
        col("text"), lit("([\\p{L}\\p{N}]+)"), concat(lit("$1"), tokenSuffix(c))))
      Map("text" -> renamed,
        "n_chars" -> (col("n_chars") + length(renamed) - length(col("text"))))
    }

    def embedding(c: Column): Column =
      when(c === 0, col("embedding"))
        .otherwise(transform(col("embedding"),
          (x, j) => when(pmod(hash(c, j), lit(2)) === 0, x).otherwise(-x)))
  }

  val Modes: Seq[Mode] = Seq(Near, Disjoint)

  /** "x" + the copy number with digits spelled a-j (copy 12 → "xbc"):
    * letters only, and no suffix contains a second "x", so the last "x"
    * of a renamed token marks where its suffix starts — distinct copies
    * never produce the same token. */
  private def tokenSuffix(c: Column): Column =
    concat(lit("x"), translate(c.cast("string"), "0123456789", "abcdefghij"))

  final case class Args(src: String, dst: String, factor: Int, mode: Mode)

  val Usage = "usage: MakeScale <src> <dst> <factor> [near|disjoint]"

  /** Parses and checks the command line, before a session starts or a
    * file is read: factor ≥ 1 (0 would write empty fact tables beside
    * full dims), a `dst` that is not `src` (the overwrite would destroy
    * the input), and a known mode. */
  def parse(args: Seq[String]): Args = {
    require(args.length == 3 || args.length == 4, Usage)
    val Seq(src, dst, f) = args.take(3)
    val factor = f.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"factor '$f' is not an integer"))
    require(factor >= 1, s"factor must be ≥ 1, got $factor")
    def norm(p: String) = Paths.get(p).toAbsolutePath.normalize
    require(norm(src) != norm(dst), s"dst '$dst' is the source directory")
    val mode = args.lift(3).fold[Mode](Near)(m => Modes.find(_.name == m)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown mode '$m' — valid: ${Modes.map(_.name).mkString(", ")}")))
    Args(src, dst, factor, mode)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a.src, a.dst, a.factor, a.mode)
    finally spark.stop()
  }

  /** Writes `factor` copies of every table under `src` to `dst`; the
    * arguments are the ones [[parse]] accepts. */
  def run(spark: SparkSession, src: String, dst: String, factor: Int,
      mode: Mode): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // one shared offset per key FAMILY (power of 10 above the source
    // max) so every referencing table shifts identically
    def offsetOf(name: String, key: String): Long =
      offsetAbove(read(name).agg(max(col(key).cast(LongType))).head().getLong(0))
    val offs = Map(
      "cust" -> offsetOf("customer", "c_custkey"),
      "supp" -> offsetOf("supplier", "s_suppkey"),
      "part" -> offsetOf("part", "p_partkey"),
      "order" -> offsetOf("orders", "o_orderkey"),
      "event" -> offsetOf("events", "event_id"),
      "user" -> offsetOf("events", "user_id"),
      "doc" -> offsetOf("documents", "doc_id"),
      "vec" -> offsetOf("embeddings", "vec_id"))
    println(s"[make-scale] mode=${mode.name} offsets: $offs")

    /** One replicated table: factor copies with the named keys shifted
      * (dtypes restored) and the named columns mutated per copy. */
    case class Copy(name: String, shifts: Map[String, Long],
        outFiles: Int, mutate: Map[String, Column] = Map.empty)

    /** Fails, naming the key, when a shifted key outgrows its dtype. */
    def check(c: Copy): Unit = if (c.shifts.nonEmpty) {
      val base = read(c.name)
      val keys = c.shifts.keys.toSeq
      val row = base.agg(max(col(keys.head).cast(LongType)),
        keys.tail.map(k => max(col(k).cast(LongType))): _*).head()
      keys.zipWithIndex.foreach { case (k, i) =>
        val dtype = base.schema(k).dataType
        val mx = if (row.isNullAt(i)) 0L else row.getLong(i)
        require(shiftFits(dtype, mx, factor, c.shifts(k)),
          s"${c.name}.$k: max $mx + ${factor - 1} × ${c.shifts(k)} " +
            s"overflows $dtype — lower the factor")
      }
    }

    def write(c: Copy): Unit = {
      val base = read(c.name)
      val copies = spark.range(factor).withColumnRenamed("id", "__copy")
        .crossJoin(base)
      // one select, so every rewrite reads the source columns
      val out = copies.select(base.schema.fields.map { f =>
        val k = f.name
        c.shifts.get(k) match {
          case Some(off) =>
            (col(k).cast(LongType) + col("__copy") * lit(off))
              .cast(f.dataType).as(k)
          case None => c.mutate.getOrElse(k, col(k)).as(k)
        }
      }.toSeq: _*)
      out.repartition(c.outFiles)
        .write.mode("overwrite").parquet(s"$dst/${c.name}.parquet")
      println(s"[make-scale] ${c.name} done")
    }

    val copy = col("__copy")
    val tables = Seq(
      Copy("customer", Map("c_custkey" -> offs("cust")), outFiles = 2),
      Copy("supplier", Map("s_suppkey" -> offs("supp")), outFiles = 1),
      Copy("part", Map("p_partkey" -> offs("part")), outFiles = 1),
      Copy("orders",
        Map("o_orderkey" -> offs("order"), "o_custkey" -> offs("cust")),
        outFiles = 4),
      Copy("lineitem",
        Map("l_orderkey" -> offs("order"), "l_partkey" -> offs("part"),
          "l_suppkey" -> offs("supp")),
        outFiles = 8),
      Copy("events",
        Map("event_id" -> offs("event"), "user_id" -> offs("user")),
        outFiles = 4),
      Copy("documents", Map("doc_id" -> offs("doc")), outFiles = 4,
        mutate = mode.documents(copy)),
      Copy("embeddings", Map("vec_id" -> offs("vec")), outFiles = 2,
        mutate = Map("embedding" -> mode.embedding(copy))))
    // every key is checked before the first file is written: a failed
    // check leaves no half-written corpus behind
    tables.foreach(check)

    // 1× dims, copied as-is
    Seq("region", "nation").foreach { n =>
      read(n).repartition(1).write.mode("overwrite")
        .parquet(s"$dst/$n.parquet")
      println(s"[make-scale] $n copied 1x")
    }
    tables.foreach(write)
    println(s"[make-scale] wrote ${factor}x ${mode.name} of $src to $dst")
  }

  /** The key shift between consecutive copies: the least power of 10
    * above the source's largest key. */
  def offsetAbove(maxKey: Long): Long = {
    var p = 10L
    while (p <= maxKey) p *= 10
    p
  }

  /** True when every shifted value `maxKey + (factor-1)·offset` fits
    * `dtype` — the largest key the last copy writes. Only integral
    * dtypes can carry a shifted key. */
  def shiftFits(dtype: DataType, maxKey: Long, factor: Int,
      offset: Long): Boolean = {
    val top = BigInt(maxKey) + BigInt(factor - 1) * BigInt(offset)
    dtype match {
      case ByteType => top <= Byte.MaxValue
      case ShortType => top <= Short.MaxValue
      case IntegerType => top <= Int.MaxValue
      case LongType => top <= Long.MaxValue
      case _ => false
    }
  }
}
