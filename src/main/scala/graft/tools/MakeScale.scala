package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dev tool: build a LARGER synthetic SF by replicating an existing SF
  * directory `factor`× with consistent key shifts — the measurement
  * target VERDICT r15 #4 asks for (sf0.1 is scheduler-floor bound:
  * 8-core scaling ratios ≈ 1 across the suite, so per-query signal needs
  * more data). NOT an oracle corpus: the driver's correctness gate stays
  * at sf0.01; this exists purely so optimization A/Bs measure compute,
  * not the local-mode job floor.
  *
  * Replication contract (copy 0 is the identity, so every literal-id
  * point lookup in the suite still hits):
  *  - each table's join keys shift by copy × a power of 10 above the
  *    source max, the SAME offset on every referencing table, so FK
  *    relationships hold and per-key cardinalities stay flat (10× users,
  *    10× orders — not 10× rows per user);
  *  - dims `region`/`nation` stay 1× (low-cardinality lookup tables);
  *  - `documents.text` gains a "copyN " prefix for copies ≥ 1:
  *    copies are NEAR-dups of the original —
  *    realistic dedup pressure instead of a degenerate 10-deep
  *    exact-dup multiset;
  *  - `embeddings.embedding` gains a small copy-keyed additive offset
  *    (±0.05·sin((i+1)·copy), identity at copy 0): cosine structure is
  *    preserved per copy, copies of one vector are near- (not exact-)
  *    neighbors, so cluster/pair volumes grow the way a real 10× corpus
  *    grows rather than collapsing into exact-duplicate stacks;
  *  - column dtypes are cast back to the source schema so a consumer
  *    sees the exact same relation shape — and every shifted key is
  *    checked to FIT that dtype before anything is written
  *    ([[shiftFits]]): a non-ANSI cast would otherwise wrap a 32-bit
  *    key silently into a colliding, wrong corpus.
  *
  * Usage: runMain graft.tools.MakeScale [srcDir] [dstDir] [factor]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // one shared offset per key FAMILY (power of 10 above the source
    // max) so every referencing table shifts identically
    def offsetOf(name: String, key: String): Long = {
      val mx = read(name).agg(max(col(key).cast(LongType))).head().getLong(0)
      var p = 10L
      while (p <= mx) p *= 10
      p
    }
    val offs = Map(
      "cust" -> offsetOf("customer", "c_custkey"),
      "supp" -> offsetOf("supplier", "s_suppkey"),
      "part" -> offsetOf("part", "p_partkey"),
      "order" -> offsetOf("orders", "o_orderkey"),
      "event" -> offsetOf("events", "event_id"),
      "user" -> offsetOf("events", "user_id"),
      "doc" -> offsetOf("documents", "doc_id"),
      "vec" -> offsetOf("embeddings", "vec_id"))
    println(s"[make-scale] offsets: $offs")

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
      val types = base.schema.fields.map(f => f.name -> f.dataType).toMap
      val copies = spark.range(factor).withColumnRenamed("id", "__copy")
        .crossJoin(base)
      val out = base.columns.foldLeft(copies) { (df, k) =>
        val shifted = c.shifts.get(k) match {
          case Some(off) =>
            (col(k).cast(LongType) + col("__copy") * lit(off))
              .cast(types(k))
          case None => c.mutate.getOrElse(k, col(k))
        }
        df.withColumn(k, shifted)
      }.select(base.columns.map(col): _*)
      out.repartition(c.outFiles)
        .write.mode("overwrite").parquet(s"$dst/${c.name}.parquet")
      println(s"[make-scale] ${c.name} done")
    }

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
        mutate = Map("text" -> when(col("__copy") === 0, col("text"))
          .otherwise(concat(lit("copy"), col("__copy").cast("string"),
            lit(" "), col("text"))))),
      Copy("embeddings", Map("vec_id" -> offs("vec")), outFiles = 2,
        mutate = Map("embedding" ->
          when(col("__copy") === 0, col("embedding"))
            .otherwise(zip_with(col("embedding"),
              sequence(lit(1), size(col("embedding"))),
              (x, i) => (x.cast("double") +
                sin(i.cast("double") * col("__copy").cast("double")) * 0.05)
                .cast("float"))))))
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
    println(s"[make-scale] wrote ${factor}x of $src to $dst")
    spark.stop()
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
