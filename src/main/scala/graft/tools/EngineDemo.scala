package graft.tools

import graft.engine.{MsgEngine, MsgVault}
import graft.model._

/** CLI smoke-drive of the message engine through its public surface:
  * builds a tiny archive, writes the Parquet star (hive-partitioned like the
  * reference ETL), re-opens it with MsgVault.open, and runs the main engine
  * entry points. Usage: runMain graft.tools.EngineDemo [outDir]
  */
object EngineDemo {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_engine_demo")
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // --- build + write a small star (the ETL shape: messages partitioned
    // by year, zstd) -------------------------------------------------------
    val ts = java.sql.Timestamp.valueOf(_: String)
    val messages = Seq(
      (1L, 1L, 1L, Option.empty[Long], "s1", "<m1@x>", "email", "Budget 2024",
        "numbers inside", ts("2024-01-05 09:00:00"), 1200L, true, 1,
        Option.empty[java.sql.Timestamp], Option.empty[java.sql.Timestamp]),
      (2L, 1L, 1L, Option.empty[Long], "s2", "<m2@x>", "email", "Re: Budget 2024",
        "more numbers", ts("2024-02-06 09:00:00"), 800L, false, 0, None, None),
      (3L, 1L, 2L, Some(2L), "s3", "<m3@x>", "imessage", "",
        "see you at 8", ts("2025-03-07 09:00:00"), 64L, false, 0, None, None))
      .toDF("id", "source_id", "conversation_id", "sender_id",
        "source_message_id", "rfc822_message_id", "message_type", "subject",
        "snippet", "sent_at", "size_estimate", "has_attachments",
        "attachment_count", "deleted_at", "deleted_from_source_at")
    val recipients = Seq((1L, 1L, "from", None: Option[String]), (1L, 2L, "to", None),
      (2L, 2L, "from", None), (2L, 1L, "to", None))
      .toDF("message_id", "participant_id", "recipient_type", "display_name")
    val participants = Seq(
      (1L, Some("ana@corp.com"), Some("Ana"), None: Option[String], Some("corp.com")),
      (2L, Some("bo@home.net"), None: Option[String], Some("+15550100"), Some("home.net")))
      .toDF("id", "email_address", "display_name", "phone_number", "domain")
    val labels = Seq((1L, "INBOX")).toDF("id", "name")
    val messageLabels = Seq((1L, 1L), (2L, 1L)).toDF("message_id", "label_id")
    val attachments = Seq((1L, 1L, "x.pdf", "application/pdf", 9000L, "h"))
      .toDF("id", "message_id", "filename", "mime_type", "size", "content_hash")
    val conversations = Seq(
      (1L, "c1", Option.empty[String], Option.empty[String]),
      (2L, "c2", Some("pair chat"), Some("dm")))
      .toDF("id", "source_conversation_id", "title", "conversation_type")
    val sources = Seq((1L, "me@corp.com", Some("gmail")))
      .toDF("id", "identifier", "source_type")

    import org.apache.spark.sql.functions.year
    messages.withColumn("year", year($"sent_at"))
      .write.mode("overwrite").partitionBy("year")
      .option("compression", "zstd").parquet(s"$out/messages")
    Seq("message_recipients" -> recipients, "participants" -> participants,
      "labels" -> labels, "message_labels" -> messageLabels,
      "attachments" -> attachments, "conversations" -> conversations,
      "sources" -> sources).foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$out/$n")
    }

    // --- reopen from disk and drive the engine ----------------------------
    val vault = MsgVault.open(spark, out)
    val engine = new MsgEngine(vault)

    println("== aggregate(Senders) ==")
    engine.aggregate(ViewType.Senders).show(false)
    println("== aggregate(Time, year) ==")
    engine.aggregate(ViewType.Time, granularity = TimeGranularity.Year).show(false)
    println("== listMessages(limit 10) ==")
    engine.listMessages(MessageFilter(pagination = Pagination(limit = 10))).show(false)
    println("== searchFast(\"budget from:ana@corp.com\") ==")
    engine.searchFast("budget from:ana@corp.com").show(false)
    println("== totalStats ==")
    engine.totalStats().show(false)
    println("== raw SQL over v_messages ==")
    vault.registerViews()
    spark.sql("SELECT id, from_email, from_name, labels FROM v_messages ORDER BY id").show(false)

    spark.stop()
  }
}
