package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Message/attachment export surface — the reference's "get my data back
  * out of the archive" commands re-expressed as distributed sinks:
  *
  *  - eml export of raw MIME (reference cmd/export_eml.go:24-133): a
  *    single message's stored MIME → .eml; at archive scale the Spark
  *    form is a MANIFEST (filename, size, sha256) plus mbox shard files,
  *    not millions of tiny per-message files.
  *  - mbox shards: the bulk-export framing absent from the reference CLI
  *    but implied by its mbox IMPORT path (internal/mbox/) — mboxrd
  *    framing ("From " envelope line, ">"-quoting of From-lines, blank
  *    separator), one shard per order bucket so export is written by 32
  *    parallel tasks and the shard set concatenates to one valid mbox in
  *    bucket order.
  *  - attachment zip manifest (internal/export/attachments.go:53-187):
  *    content-hash validation (64 lowercase hex — ValidateContentHash,
  *    attachments.go:27-40), filename sanitization (SanitizeFilename,
  *    attachments.go:189-201) and the used-names de-collision rule
  *    (resolveUniqueFilename, attachments.go:169-187) as pure column
  *    logic; the zip write itself is a driver-side finishing step over
  *    the manifest, which IS the distributed artifact.
  *
  * Scale shape: framing/validation are per-row expressions; the only
  * shuffles are the order-bucket exchange of the framed records and a
  * per-filename window for the de-collision rank (keyed on the sanitized
  * name — cardinality ≤ distinct filenames).
  */
object Export {

  // --- mboxrd framing -------------------------------------------------------

  /** One mboxrd record: envelope line + ">"-quoted payload + an explicit
    * terminating newline, so that text-sink rows (which append one more
    * '\n' each) concatenate into a valid mbox with a blank separator
    * line after every message. Quoting is mboxrd ("From " AND already-
    * quoted ">*From " lines gain one '>'), which makes [[readMbox]] an
    * exact inverse — including payloads that end in newlines.
    */
  def mboxRecord(envelopeId: Column, sentAt: Column, mime: Column): Column =
    concat(
      // whitespace inside an envelope id would truncate it at parse time
      // (the id ends at the first space per mbox convention) — fold any
      // run of whitespace to '_' like the eml filename sanitizer does
      lit("From "), regexp_replace(envelopeId, "\\s+", "_"), lit(" "),
      // a message with an unparseable Date (null sent_at) must still
      // export — concat is null-propagating and a null record would
      // crash the text sink's write task; epoch is mbox's customary
      // unknown-date envelope value
      coalesce(date_format(sentAt, "EEE MMM d HH:mm:ss yyyy"),
        lit("Thu Jan 1 00:00:00 1970")), lit("\n"),
      // (?d) = UNIX_LINES: without it MULTILINE '^' also fires after a
      // bare '\r' (and U+0085/U+2028/U+2029), quoting a mid-line "From "
      // that the '\n'-framed parser can never see as a line start — the
      // writer must share the parser's line model exactly or quoting is
      // not invertible
      regexp_replace(mime, "(?md)^(>*From )", ">$1"), lit("\n"))

  /** Write a framed message set as mbox shard files: one shard per order
    * bucket (md5 of the id — deterministic membership on any engine),
    * messages sorted by id within a shard. `shards`-way parallel write;
    * the filename-ordered concatenation of shards is itself a valid mbox
    * in (bucket, id) order.
    *
    * Size `shards` for the READER: [[readMbox]]'s fast path holds one
    * whole shard per task, and even its split-safe path wants shards
    * that parallelize well — up to [[MaxShards]], which the fixed-width
    * [[normalizeShardNames]] pass (not Spark's own `part-%05d`, whose
    * lexicographic order breaks past 100k) makes safely concatenable.
    *
    * `shards = 0` (the default) derives the count from the export's row
    * volume ([[graft.Sizing.mboxShards]], one cheap column-pruned count()
    * over the unframed input), so file layout follows data size. The
    * count is not capped at the core count: it is a file-size/reader
    * choice, and the bucket exchange parallelizes regardless. Callers
    * with a target layout pass an explicit count, honored verbatim.
    */
  def writeMbox(messages: DataFrame, id: Column, record: Column,
      outDir: String, shards: Int = 0): Unit = {
    require(shards >= 0 && shards <= MaxShards,
      s"shards must be in [0, $MaxShards], got $shards")
    val n = if (shards >= 1) shards
      else graft.Sizing.mboxShards(messages.count(), MaxShards)
    graft.queries.bucketOrderedN(
      messages.select(id.as("__id"), record.as("value")), col("__id"), n)
      // a null record (null id or null/corrupt mime) would abort the
      // whole write task inside the text sink — skip such rows; callers
      // account for corrupt blobs explicitly via ArchiveVerify.auditRaw
      // rather than by crashing a bulk export
      .filter(col("value").isNotNull)
      .select(col("value"))
      .write.mode("overwrite").text(outDir)
    normalizeShardNames(messages.sparkSession, outDir)
  }

  /** [[normalizeShardNames]]'s `shard-%09d` naming is good to 10^9. */
  val MaxShards: Int = 999999999

  /** Rename the text sink's `part-NNNNN-<uuid>` files to fixed-width
    * `shard-%09d.mbox` in task order, making filename-ordered
    * concatenation valid at ANY shard count: Spark's own part index is
    * padded to 5 digits, so at 100001+ partitions it grows a digit and
    * "part-100000" sorts lexicographically BEFORE "part-10001" —
    * silently interleaving buckets in a concatenated export. Runs after
    * the committer finished (every file is final), so the rename pass is
    * pure metadata. Empty buckets write no file; ranks are dense over
    * the files that exist, which preserves order (the contract is the
    * ORDER of shards, not their count).
    *
    * Renames are distributed (one task per ~10k files) so a million-
    * shard export does not serialize 10^6 metadata round-trips through
    * the driver. Returns the number of files renamed. Idempotent AND
    * crash-resumable: rank order equals part-index order, so after a
    * partial pass (driver crash mid-loop, or some distributed rename
    * tasks done and others not) the surviving `shard-k` files pin rank k
    * and the remaining parts — sorted by part index — fill exactly the
    * FREE ranks in ascending order, reproducing the original assignment.
    * Restarting ranks at 0 instead would rename onto an existing
    * shard-000000000.mbox, which local-FS rename silently overwrites.
    */
  /** The recorded part→shard assignment, published atomically BEFORE the
    * first rename. Underscore-prefixed so Spark's file index ignores it
    * like _SUCCESS. Resume replays the record; the record is the ONLY
    * state that can distinguish a crashed pass (replayable) from a
    * completed pass plus a SECOND export's part files (positional refill
    * would silently interleave the two exports' buckets — refused).
    */
  private val RenamePlanName = "_rename_plan"

  def normalizeShardNames(spark: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val partName = "^part-(\\d+)".r.unanchored
    val shardName = "^shard-(\\d{9})\\.mbox$".r
    val planPath = new org.apache.hadoop.fs.Path(root, RenamePlanName)
    val files = fs.listStatus(root).toSeq.filter(_.isFile).map(_.getPath.getName)
    val parts = files
      .flatMap {
        case n @ partName(idx) => Some((idx.toLong, n))
        case _ => None
      }
      .sortBy(_._1)
    if (parts.isEmpty) {
      // a pass that crashed between its last rename and the plan retire
      // leaves a stale plan over a fully-renamed dir — retire it now
      fs.delete(planPath, false)
      return 0
    }
    val taken = files.collect { case shardName(k) => k.toLong }
    val pairs: Seq[(String, String)] = graft.ControlFile.read(planPath) match {
      case Some(text) =>
        // RESUME: replay the recorded assignment for surviving parts.
        // The first line is the ENTRY COUNT — on stores where rename is
        // copy-based (S3A) a truncated plan is reachable, and a plan cut
        // at a line boundary would otherwise parse cleanly and resume
        // with an incomplete record; the count makes truncation loud.
        val lines = text.linesIterator.filter(_.nonEmpty).toList
        require(lines.nonEmpty && lines.head.forall(_.isDigit),
          s"$dir/$RenamePlanName is corrupt (no count header); " +
            "clear the dir and re-export")
        require(lines.tail.size == lines.head.toInt,
          s"$dir/$RenamePlanName is truncated " +
            s"(${lines.tail.size} of ${lines.head} entries); " +
            "clear the dir and re-export")
        val plan = lines.tail.map { l =>
          val i = l.indexOf('\t')
          require(i > 0,
            s"$dir/$RenamePlanName is corrupt (malformed line '$l'); " +
              "clear the dir and re-export")
          (l.substring(0, i), l.substring(i + 1))
        }.toMap
        val unknown = parts.filterNot(p => plan.contains(p._2))
        require(unknown.isEmpty,
          s"$dir holds part files absent from its rename plan " +
            s"(${unknown.take(3).map(_._2).mkString(", ")}…) — a second " +
            "export wrote into this dir; clear it and re-export")
        parts.map(p => (p._2, plan(p._2)))
      case None =>
        // no plan on disk: only a FRESH pass is assignable — shard files
        // next to plan-less parts cannot be proven to be a crashed
        // single pass rather than a completed pass + a second export
        require(taken.isEmpty,
          s"$dir holds ${taken.size} shard files next to ${parts.size} " +
            "part files with no rename plan — not a resumable state " +
            "(double export?); clear the dir and re-export")
        val ps = parts.map(_._2).zipWithIndex
          .map { case (name, i) => (name, f"shard-$i%09d.mbox") }
        // publish the plan atomically (tmp + rename) BEFORE any rename:
        // a crash leaves either no plan and no renames, or a replayable
        // record — never an ambiguous partial state
        graft.ControlFile.publish(planPath, (s"${ps.size}\n" +
          ps.map { case (s0, d0) => s"$s0\t$d0" }.mkString("", "\n", "\n"))
          .getBytes("UTF-8"))
        ps
      }
    if (pairs.size <= 1000) {
      // small export: driver-side loop beats a job round-trip
      pairs.foreach { case (src, dst) =>
        val dstPath = new org.apache.hadoop.fs.Path(root, dst)
        // local-FS rename onto an existing file silently overwrites
        // (POSIX), HDFS returns false — make both fail loudly instead
        if (fs.exists(dstPath)) throw new IllegalStateException(
          s"shard rename target already exists: $dir/$dst")
        if (!fs.rename(new org.apache.hadoop.fs.Path(root, src), dstPath))
          throw new IllegalStateException(
            s"shard rename failed: $dir/$src -> $dst")
      }
    } else {
      // full Hadoop conf shipped to tasks (fs credentials and impls ride
      // in it); Spark's own SerializableConfiguration is private[spark]
      val confB = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      val dirStr = dir
      spark.sparkContext
        .parallelize(pairs, math.max(1, pairs.size / 10000))
        .foreachPartition { it =>
          val r = new org.apache.hadoop.fs.Path(dirStr)
          val f = r.getFileSystem(confB.value.value)
          it.foreach { case (src, dst) =>
            val dstPath = new org.apache.hadoop.fs.Path(r, dst)
            if (f.exists(dstPath)) throw new IllegalStateException(
              s"shard rename target already exists: $dirStr/$dst")
            if (!f.rename(new org.apache.hadoop.fs.Path(r, src), dstPath))
              throw new IllegalStateException(
                s"shard rename failed: $dirStr/$src -> $dst")
          }
        }
    }
    // every rename landed — retire the plan so the dir reads as complete
    fs.delete(planPath, false)
    pairs.size
  }

  /** Exact inverse of [[writeMbox]]: read the shard files and recover
    * (envelope_id, mime) per message. Records are delimited by unquoted
    * "From " line starts — unambiguous because payload From-lines are
    * always quoted.
    *
    * Two physical paths, same parse ([[parseMboxText]] both ways):
    *
    *  - FAST (every shard ≤ `maxInTaskShardBytes`): `wholetext`, one
    *    shard per task, zero shuffles. Memory per task = one shard.
    *  - SPLIT-SAFE (any shard larger): [[readMboxReassemble]] — plain
    *    line reading over Hadoop splits, records reassembled across
    *    split boundaries with one line shuffle. Memory per task = one
    *    RECORD (max message size), never a whole shard — so a foreign
    *    mbox that arrived as one 50 GB file still reads.
    *
    * The dispatch is per-listing, not per-file, so one oversized shard
    * routes the whole read through the split-safe path (mixing paths
    * would read fast files twice or complicate the union for no win —
    * the reassemble path is correct for small files too, just one
    * shuffle slower).
    */
  def readMbox(spark: SparkSession, dir: String,
      maxInTaskShardBytes: Long = 256L << 20): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val maxFile =
      if (!fs.exists(root)) 0L
      else fs.listStatus(root).toSeq.filter(_.isFile).map(_.getLen)
        .foldLeft(0L)(math.max)
    if (maxFile > maxInTaskShardBytes) readMboxReassemble(spark, dir)
    else {
      import spark.implicits._
      spark.read.option("wholetext", "true").text(dir).as[String]
        .flatMap(parseMboxText)
        .toDF("envelope_id", "mime")
    }
  }

  /** Split-safe mbox read: lines are read with ordinary Hadoop text
    * splits (a task never holds more than a split's lines), then
    * reassembled into records across split boundaries:
    *
    *  1. one cheap counting pass per split collects (lineCount,
    *     envelopeCount) — two longs per split to the driver;
    *  2. prefix sums give every split its global line offset and its
    *     global record offset, so a second pass labels each line with
    *     (recordId, globalLineIdx) with NO cross-task communication —
    *     a split that starts mid-record labels its leading lines with
    *     the PREVIOUS split's last record id (envOffset - 1);
    *  3. one shuffle groups each record's lines, sorts them by global
    *     index, and hands the reassembled text to [[parseMboxText]] —
    *     the same parser the fast path runs, so the two paths cannot
    *     drift.
    *
    * Correctness rides on two invariants: payload From-lines are always
    * quoted (so an unquoted "From " line start IS a record boundary),
    * and a file's splits occupy consecutive RDD partitions in offset
    * order (FileInputFormat generates them that way). Records never
    * span FILES — every shard starts with an envelope line — so file
    * interleaving in the listing is harmless.
    *
    * `splitMaxBytes` > 0 forces smaller splits (spec hook; production
    * leaves the Hadoop default block-size splitting).
    */
  def readMboxReassemble(spark: SparkSession, dir: String,
      splitMaxBytes: Long = 0L): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sessionState.newHadoopConf())
    // exact-LF line model: Hadoop's DEFAULT line reader also treats bare
    // '\r' (and swallows '\r' in "\r\n") as a terminator, which would
    // silently strip the '\r's of CRLF mime — the wholetext parser and
    // the writer's (?d) quoting regex both split on '\n' alone, and the
    // two read paths must share one line model exactly
    conf.set("textinputformat.record.delimiter", "\n")
    if (splitMaxBytes > 0)
      conf.setLong("mapreduce.input.fileinputformat.split.maxsize",
        splitMaxBytes)
    val lines = spark.sparkContext.newAPIHadoopFile(
      dir, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
      conf).map(_._2.toString)

    // pass 1: per-split line/envelope counts (two longs per split)
    val perSplit = lines.mapPartitionsWithIndex { (pi, it) =>
      var n = 0L; var e = 0L
      it.foreach { l => n += 1; if (l.startsWith("From ")) e += 1 }
      Iterator.single((pi, n, e))
    }.collect().sortBy(_._1)
    val lineOff = perSplit.scanLeft(0L)(_ + _._2).dropRight(1)
    val envOff = perSplit.scanLeft(0L)(_ + _._3).dropRight(1)

    // pass 2: label lines (recordId, globalIdx, line); a line before the
    // split's first envelope belongs to the previous split's last record
    val labeled = lines.mapPartitionsWithIndex { (pi, it) =>
      var gidx = lineOff(pi) - 1
      var rid = envOff(pi) - 1
      it.map { l =>
        gidx += 1
        if (l.startsWith("From ")) rid += 1
        (rid, gidx, l)
      }
    }.filter(_._1 >= 0) // defensively drop junk before any envelope

    // pass 3: group, order, reassemble, parse — same parser as fast path.
    // The line reader STRIPS terminators, so the reassembled text gets
    // its final '\n' restored: every source line was '\n'-terminated
    // (and for an unterminated foreign final line, appending one is
    // equivalent under the line model) — without it parseMboxText's
    // file-final-artifact drop would eat a real payload line of any
    // mime ending in a newline.
    import spark.implicits._
    labeled.toDF("rid", "gidx", "line")
      .groupBy(col("rid"))
      .agg(concat(array_join(
        transform(
          array_sort(collect_list(struct(col("gidx"), col("line")))),
          x => x.getField("line")),
        "\n"), lit("\n")).as("rec"))
      .select(col("rec")).as[String]
      .flatMap(parseMboxText)
      .toDF("envelope_id", "mime")
  }

  /** Pure mboxrd parser for one shard's text — also the spec surface. */
  private[operators] def parseMboxText(txt: String): Seq[(String, String)] = {
    if (txt.isEmpty) return Nil
    val all = txt.split("\n", -1)
    // the file-final '\n' produces one trailing empty element
    val lines = if (all.nonEmpty && all.last.isEmpty) all.dropRight(1) else all
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var env: String = null
    var payload = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit = if (env != null) {
      // drop exactly the ONE separator blank line the record appended
      val p = if (payload.nonEmpty && payload.last.isEmpty) payload.dropRight(1)
              else payload
      val unquoted = p.map { l =>
        // prefix test, NOT a full-line regex match: raw MIME is
        // canonically CRLF, and a full match (`.matches`) would refuse
        // to consume the trailing '\r' ('.' excludes line terminators),
        // leaving quoted From-lines quoted and breaking exactness
        val depth = l.segmentLength(_ == '>')
        if (depth > 0 && l.startsWith("From ", depth)) l.substring(1) else l
      }
      val sp = env.indexOf(' ', 5)
      val id = if (sp < 0) env.substring(5) else env.substring(5, sp)
      out += ((id, unquoted.mkString("\n")))
    }
    lines.foreach { l =>
      if (l.startsWith("From ")) {
        flush(); env = l; payload = scala.collection.mutable.ArrayBuffer.empty
      } else if (env != null) payload += l
    }
    flush()
    out.toSeq
  }

  // --- eml manifest ---------------------------------------------------------

  /** eml filename from a source message id — the sanitize semantics of
    * cmd/export_eml.go:70-85: '/', '\' and NUL → '_', then the basename
    * (guards IMAP mailbox names with separators / traversal sequences),
    * empty or "." falls back to "message", then + ".eml".
    */
  def emlFilename(sourceMessageId: Column): Column = {
    val replaced = translate(sourceMessageId, "/\\\u0000", "___")
    // filepath.Base after the replacement is a no-op (no separators can
    // remain), so only the "" and "." results take the fallback — ".."
    // deliberately does NOT (export_eml.go:70-85 checks exactly those two)
    val base = when(replaced.isNull || replaced === "" || replaced === ".",
      lit("message")).otherwise(replaced)
    concat(base, lit(".eml"))
  }

  // --- attachment manifest --------------------------------------------------

  /** ValidateContentHash (attachments.go:27-40): exactly 64 hex chars.
    * The reference lowercases before validating elsewhere
    * (store_attachment.go:34); this predicate accepts both cases like
    * Go's hex.DecodeString does.
    */
  def isValidSha256Hex(hash: Column): Column =
    hash.isNotNull && hash.rlike("^[0-9a-fA-F]{64}$")

  /** SanitizeFilename (attachments.go:189-201): the invalid set → '_'. */
  def sanitizeFilename(filename: Column): Column =
    translate(filename, "/\\:*?\"<>|\n\r\t", "____________")

  /** The zip-entry naming of Attachments export (attachments.go:143-187)
    * as one distributed pass: invalid content hashes are excluded from
    * the zip (they never consume a name — reference `continue`s before
    * resolveUniqueFilename), valid entries get the sanitized basename,
    * empty/"." fall back to the content hash, and name collisions get
    * `base_N<ext>` suffixes in id order (N = 2, 3, … — the reference's
    * usedNames counter emits count+1 starting from the second use).
    *
    * Output: every input row, with `zip_name` NULL where hash_valid is
    * false. The only shuffle is the per-name window, keyed on sanitized
    * names.
    */
  def attachmentZipManifest(attachments: DataFrame, id: Column,
      filename: Column, contentHash: Column, size: Column): DataFrame = {
    val base = attachments.select(id.as("attachment_id"),
      filename.as("__fn"), contentHash.as("content_hash"),
      size.as("n_bytes"))
      .withColumn("hash_valid", isValidSha256Hex(col("content_hash")))
    val sanitized = {
      // filepath.Base FIRST, sanitize second — the reference's order
      // (attachments.go:170: SanitizeFilename(filepath.Base(original))),
      // so "dir/file.pdf" exports as "file.pdf", not "dir_file.pdf".
      // Base: drop trailing slashes, keep the last path segment — with
      // Go's all-separators corner (r13 audit): Base("///") is "/", so
      // a slashes-only filename sanitizes to "_" rather than falling
      // back to the content hash.
      val baseName = when(col("__fn").rlike("^/+$"), lit("/"))
        .otherwise(
          regexp_replace(regexp_replace(col("__fn"), "/+$", ""), "^.*/", ""))
      val s = sanitizeFilename(baseName)
      when(s.isNull || s === "" || s === ".", col("content_hash")).otherwise(s)
    }
    val valid = base.filter(col("hash_valid"))
      .withColumn("__name", sanitized)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__name")).orderBy(col("attachment_id").asc)))
    val ext = regexp_extract(col("__name"), "(\\.[^.]*)$", 1)
    val stem = regexp_replace(col("__name"), "(\\.[^.]*)$", "")
    val named = valid.withColumn("zip_name",
      when(col("__rn") === 1, col("__name"))
        .otherwise(concat(stem, lit("_"), col("__rn").cast("string"), ext)))
      .select(col("attachment_id"), col("content_hash"), col("n_bytes"),
        col("hash_valid"), col("zip_name"))
    val invalid = base.filter(!col("hash_valid"))
      .select(col("attachment_id"), col("content_hash"), col("n_bytes"),
        col("hash_valid"), lit(null).cast("string").as("zip_name"))
    named.unionByName(invalid)
  }

  /** Hadoop `Configuration` is not `Serializable`; this is the standard
    * write/readFields envelope so tasks receive the driver's full fs
    * config (credentials, scheme impls) rather than a bare `new
    * Configuration()`.
    */
  private final class SerializableHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  // --- output path guard ----------------------------------------------------

  /** ValidateOutputPath (attachments.go:204-366 region): reject absolute,
    * rooted, drive/UNC-prefixed and parent-traversing output paths —
    * email-supplied filenames must not escape the working directory.
    * Pure function (driver-side guard before any sink call).
    */
  def validateOutputPath(path: String): Either[String, String] = {
    val cleaned = java.nio.file.Paths.get(path).normalize().toString
    if (path.isEmpty) Left("output path is empty")
    else if (cleaned.startsWith("/") || cleaned.startsWith("\\"))
      Left(s"output path '$path' is rooted; use a relative path")
    else if (cleaned.matches("^[A-Za-z]:.*") || path.startsWith("\\\\"))
      Left(s"output path '$path' contains a drive or UNC prefix")
    else if (cleaned == ".." || cleaned.startsWith("../") ||
      cleaned.startsWith("..\\"))
      Left(s"output path '$path' escapes the working directory")
    else Right(cleaned)
  }
}
