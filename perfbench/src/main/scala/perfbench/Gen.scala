package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.MsgVault

/** Seeded input generator for every workload. Everything is a pure
  * function of (seed, row key) and, for the document/vector corpus, of
  * the committed base under `data/`, so the same seed gives
  * byte-identical inputs on any layout, and the program under test only
  * ever sees the generated frames.
  *
  * The archive follows the reference benchmark's shape: 500 participants
  * over 50 domains, 10 labels, 20 % of messages with attachments, dates
  * 2020-2025, Zipf-skewed senders and subject words.
  */
object Gen {
  val Participants = 500
  val Domains = 50
  val LabelNames: Seq[String] = Seq("INBOX", "SENT", "IMPORTANT", "WORK",
    "PERSONAL", "TRAVEL", "FINANCE", "UPDATES", "SOCIAL", "PROMOTIONS")

  /** 300 pronounceable subject words. */
  val Vocab: IndexedSeq[String] = {
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s",
      "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val co = Seq("n", "r", "s", "x")
    (for (a <- on; b <- nu; c <- co) yield a + b + c + "o").take(300).toIndexedSeq
  }

  val Epoch2020: Long = 1577836800L // 2020-01-01T00:00:00Z
  val Epoch2026: Long = 1767225600L // 2026-01-01T00:00:00Z

  private val TwoTo53 = (1L << 53).toDouble

  /** Uniform [0, 1) keyed by (seed, salt, keys). */
  def uni(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: keys: _*), lit(1L << 53))
      .cast(DoubleType) / lit(TwoTo53)

  /** Cumulative Zipf(s) weights of ranks 0 until n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** The rank a uniform draw `u` lands on, by inverse CDF. */
  def zipfRank(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** Zipf(s) rank in [0, n) of a uniform [0, 1) column. */
  def zipf(n: Int, s: Double): UserDefinedFunction = {
    val cdf = zipfCdf(n, s)
    udf((u: Double) => zipfRank(cdf, u))
  }
  private val zipfSender = zipf(Participants, 1.0)
  private val zipfWord = zipf(Vocab.size, 1.0)
  private val zipfLabel = zipf(LabelNames.size, 0.8)

  def email(p: Long): String = s"user$p@d${p % Domains}.example.com"

  /** Messages with ids in [lo, hi), dated uniformly in [t0, t1) epoch
    * seconds. */
  def messages(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      t0: Long, t1: Long): DataFrame = {
    val id = col("id")
    def word(salt: Int) =
      element_at(typedLit(Vocab), zipfWord(uni(seed, salt, id)) + 1)
    val hasAtt = uni(seed, 7, id) < 0.2
    spark.range(lo, hi).select(
      id,
      lit(1L).as("source_id"),
      (floor((id - 1) / 4) + 1).cast(LongType).as("conversation_id"),
      (zipfSender(uni(seed, 1, id)) + 1).cast(LongType).as("sender_id"),
      concat(lit("m"), id.cast(StringType)).as("source_message_id"),
      concat(lit("<m"), id.cast(StringType), lit("@archive>"))
        .as("rfc822_message_id"),
      lit("email").as("message_type"),
      concat_ws(" ", (1 to 4).map(word): _*).as("subject"),
      concat_ws(" ", (10 to 17).map(word): _*).as("snippet"),
      timestamp_seconds(lit(t0) +
        floor(uni(seed, 2, id) * (t1 - t0)).cast(LongType)).as("sent_at"),
      (lit(1000L) + floor(uni(seed, 3, id) * 100000)).cast(LongType)
        .as("size_estimate"),
      hasAtt.as("has_attachments"),
      when(hasAtt, lit(1) + floor(uni(seed, 8, id) * 2).cast(IntegerType))
        .otherwise(lit(0)).as("attachment_count"),
      lit(null).cast(TimestampType).as("deleted_at"),
      lit(null).cast(TimestampType).as("deleted_from_source_at"),
      lit(false).as("is_from_me"),
      lit(null).cast(TimestampType).as("archived_at"))
  }

  /** from/to/cc rows of `msgs`: one sender, 1-3 distinct recipients, a
    * cc on 30 % of messages. */
  def recipients(seed: Long, msgs: DataFrame): DataFrame = {
    val m = msgs.select(col("id").as("message_id"), col("sender_id"))
    def other(off: Column) =
      (pmod(col("sender_id") - 1 + off, lit(Participants.toLong)) + 1)
        .cast(LongType)
    val from = m.select(col("message_id"), col("sender_id").as("participant_id"),
      lit("from").as("recipient_type"))
    val to = m.select(col("message_id"), col("sender_id"),
        explode(sequence(lit(1),
          lit(1) + floor(uni(seed, 20, col("message_id")) * 3)
            .cast(IntegerType))).as("j"))
      .select(col("message_id"), other(col("j") * 37).as("participant_id"),
        lit("to").as("recipient_type"))
    val cc = m.filter(uni(seed, 21, col("message_id")) < 0.3)
      .select(col("message_id"), other(lit(211)).as("participant_id"),
        lit("cc").as("recipient_type"))
    from.unionByName(to).unionByName(cc)
      .withColumn("display_name", lit(null).cast(StringType))
  }

  /** 1-3 distinct Zipf-drawn labels per message. */
  def messageLabels(seed: Long, msgs: DataFrame): DataFrame = {
    val id = col("id")
    val draws = array((30 to 32).map(s =>
      (zipfLabel(uni(seed, s, id)) + 1).cast(LongType)): _*)
    val n = lit(1) + floor(uni(seed, 33, id) * 3).cast(IntegerType)
    msgs.select(id.as("message_id"),
      explode(array_distinct(slice(draws, lit(1), n))).as("label_id"))
  }

  def attachments(seed: Long, msgs: DataFrame): DataFrame =
    msgs.filter(col("has_attachments"))
      .select(col("id").as("message_id"),
        explode(sequence(lit(1), col("attachment_count"))).as("j"))
      .select((col("message_id") * 4 + col("j")).as("id"), col("message_id"),
        concat(lit("file"), col("message_id").cast(StringType), lit("_"),
          col("j").cast(StringType), lit(".pdf")).as("filename"),
        lit("application/pdf").as("mime_type"),
        (lit(1000L) + floor(uni(seed, 40, col("message_id"), col("j")) *
          1000000)).cast(LongType).as("size"),
        sha2(concat_ws(":", lit(seed.toString), col("message_id").cast(StringType),
          col("j").cast(StringType)), 256).as("content_hash"))

  def participants(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (1 to Participants).map { p =>
      (p.toLong, email(p), s"User $p", s"d${p % Domains}.example.com")
    }.toDF("id", "email_address", "display_name", "domain")
      .withColumn("phone_number", lit(null).cast(StringType))
  }

  def labels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    LabelNames.zipWithIndex.map { case (n, i) => (i + 1L, n) }.toDF("id", "name")
  }

  def conversations(spark: SparkSession, maxMessageId: Long): DataFrame =
    spark.range(1, (maxMessageId - 1) / 4 + 2).select(col("id"),
      concat(lit("t"), col("id").cast(StringType)).as("source_conversation_id"),
      lit(null).cast(StringType).as("title"),
      lit("email_thread").as("conversation_type"))

  def sources(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "archive@example.com", "gmail", "Archive"))
      .toDF("id", "identifier", "source_type", "display_name")
  }

  /** The normalized input a cache build reads, for messages 1..maxId. */
  def vault(spark: SparkSession, msgs: DataFrame, rcpt: DataFrame,
      mlabels: DataFrame, atts: DataFrame, maxId: Long): MsgVault =
    MsgVault.fromFrames(spark, msgs, rcpt, participants(spark), labels(spark),
      mlabels, atts, conversations(spark, maxId), sources(spark))

  // ------------------------------------------------------------ corpus

  /** The corpus base, committed under `data/`: the 5000 documents and
    * 2000 dim-64 unit vectors of the repository's sf0.1 test corpus. */
  val BaseDocs = "documents.parquet"
  val BaseVecs = "embeddings.parquet"
  val Copies = 3
  /** Key shift per copy: the power of ten above every base key. */
  val KeyShift = 10000L

  private def copies(spark: SparkSession, base: DataFrame): DataFrame =
    spark.range(Copies).withColumnRenamed("id", "__copy").crossJoin(base)

  /** MakeScale's recipe: keys shift by KeyShift per copy and copy c > 0
    * is a near-duplicate of the base. Here the seed picks the
    * perturbation: the copy's text prefix is `copy<k> ` with k drawn from
    * (seed, c), where MakeScale writes `copy<c> `. */
  def scaledDocs(spark: SparkSession, seed: Long, data: String): DataFrame = {
    val c = col("__copy")
    val tag = pmod(xxhash64(lit(seed), lit(70), c), lit(1000000L))
    copies(spark, spark.read.parquet(s"$data/$BaseDocs"))
      .select((col("doc_id") + c * KeyShift).as("doc_id"),
        when(c === 0, col("text")).otherwise(concat(lit("copy"),
          tag.cast(StringType), lit(" "), col("text"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** Copy c > 0 adds 0.05 sin(i c + phase) to vector component i (MakeScale
    * adds 0.05 sin(i c)); the seed draws the phase. */
  def scaledVecs(spark: SparkSession, seed: Long, data: String): DataFrame = {
    val phase = new java.util.Random(seed ^ 0x5deece66dL).nextDouble() * 2 * math.Pi
    val c = col("__copy")
    copies(spark, spark.read.parquet(s"$data/$BaseVecs"))
      .select((col("vec_id") + c * KeyShift).as("vec_id"),
        when(c === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(1), size(col("embedding"))),
            (x, i) => (x.cast(DoubleType) + sin(i.cast(DoubleType) *
              c.cast(DoubleType) + lit(phase)) * 0.05)
              .cast(FloatType))).as("embedding"),
        col("label"))
  }

  // ------------------------------------------------------------ digest

  /** Order-independent digest of a frame: row count and the XOR of every
    * row's 64-bit hash. */
  def digest(df: DataFrame): String = digestAll(Seq(df))

  /** [[digest]] of several frames in one job, combined. */
  def digestAll(dfs: Seq[DataFrame]): String = {
    val rows = dfs.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("t"), xxhash64(df.columns.map(col): _*).as("h"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)))
      .collect().sortBy(_.getInt(0))
    combine(rows.map(r => f"${r.getLong(1)}:${r.getLong(2)}%016x").toSeq)
  }

  def combine(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(parts.mkString("\n").getBytes("UTF-8")).take(12)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)
}
