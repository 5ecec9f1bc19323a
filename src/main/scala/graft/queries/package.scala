package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Query registries (Core/Doc/Search) consumed by [[graft.SparkEntry]].
  *
  * Result-edge ordering discipline: every query ends in a deterministic
  * total order (reference is explicit about tie-breaks,
  * internal/vector/hybrid/rrf.go:64-75), but a bare un-limited `orderBy`
  * compiles to a range exchange whose partitioner SAMPLING JOB executes
  * the child plan a second time — for a map-only pipeline that doubles
  * the query's real work just to sort a few thousand result rows
  * (`orderBy(...).limit(k)` is exempt: it compiles to
  * TakeOrderedAndProject, no sampling). Small final results therefore
  * sort on a single partition:
  */
package object queries {

  import org.apache.spark.sql.functions._

  /** Number of order buckets for [[bucketOrdered]]. 32 matches the local
    * test rig; at cluster scale size it so corpus/nBuckets fits one
    * task's sort budget (the construction works for any n — the oracle
    * side only needs the same modulus in its ORDER BY).
    */
  private[graft] val OrderBuckets = 32

  /** Fixed points of Spark's hash partitioner: label(i) is the smallest
    * non-negative int with `pmod(murmur3(label(i), seed=42), n) == i`, so
    * `repartition(n, labelCol)` places rows labeled `label(i)` in
    * partition i EXACTLY — hash partitioning steered to behave like
    * direct partition indexing. Murmur3_x86_32.hashInt with seed 42 is
    * precisely what HashPartitioning evaluates for an int column; the
    * equivalence is asserted by spec (BucketOrderSpec), so a Spark
    * upgrade that changed the hash would fail loudly, not scramble row
    * order silently.
    */
  private[graft] def hashFixedPoints(n: Int): Array[Int] = {
    val labels = Array.fill(n)(-1)
    var cand = 0
    var found = 0
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(cand, 42)
      val p = ((h % n) + n) % n
      if (labels(p) < 0) { labels(p) = cand; found += 1 }
      cand += 1
    }
    labels
  }

  /** label tables memoized per bucket count — the oracle contract pins
    * [[OrderBuckets]], but scale-sized sinks (mbox shards) pick their own
    */
  private val labelCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Int]]()
  private def orderLabels(n: Int): Array[Int] =
    labelCache.computeIfAbsent(n, hashFixedPoints(_))

  /** Total order for an O(input)-row ("per-doc") result WITHOUT a
    * single-partition exchange. The old result edge here was
    * `repartition(1)+sort` — invisible at sf0.1, but at 100× it funnels
    * the whole corpus through ONE task. A bare `orderBy` is no better: a
    * range exchange's partitioner sampling job re-executes the child —
    * 2× the real work for a map-heavy pipeline.
    *
    * Instead the total-order CONTRACT becomes (bucket, id), where
    * bucket = md5-draw of the unique id modulo [[OrderBuckets]] — an
    * expression any engine can replay. Rows are hash-repartitioned on a
    * [[hashFixedPoints]] label so partition i holds exactly bucket i,
    * then sorted in place: one n-way-parallel shuffle of already-computed
    * rows, nothing re-executes, no partition ever holds more than
    * ~input/n rows. Because partition index == bucket, the concatenation
    * of partitions in order (what a parquet write + filename-ordered
    * read, or a coalesce(1), produces) IS the total order
    * `ORDER BY md5bucket(id), id` — which is exactly what the DuckDB
    * oracles declare via [[duckBucket]]. The bucket column is internal;
    * the visible schema is unchanged.
    *
    * `id` must be UNIQUE and NON-NULL (any total-order contract needs
    * that anyway): a null id would bucket as null, and Spark sorts nulls
    * first where DuckDB's ORDER BY puts them last.
    */
  private[graft] def bucketOrdered(df: DataFrame, id: Column,
      tail: Column*): DataFrame =
    bucketOrderedN(df, id, OrderBuckets, tail: _*)

  /** [[bucketOrdered]] with a caller-chosen bucket count — for sinks
    * whose consumers bound memory by corpus/n (mbox shards): the QUERY
    * contract stays pinned to [[OrderBuckets]] (the oracles' modulus),
    * but an export sized for a 100 TB corpus picks n so one bucket fits
    * a reader task.
    */
  private[graft] def bucketOrderedN(df: DataFrame, id: Column, n: Int,
      tail: Column*): DataFrame = {
    require(n > 0, s"bucket count must be positive, got $n")
    // THE cross-engine stable draw (Sampling.hashBucket — 15 hex chars =
    // 60 bits, so buckets never cap at 2^16): one definition, never an
    // inline copy — a draw-recipe fix applied to the samplers but not
    // here would silently desynchronize bucketOrdered from duckBucket
    val bkt = graft.operators.Sampling.hashBucket(id, n.toLong)
    val labelArr = array(orderLabels(n).map(lit(_)).toIndexedSeq: _*)
    df.withColumn("__obkt", bkt)
      .withColumn("__olabel", element_at(labelArr, col("__obkt").cast("int") + 1))
      .repartition(n, col("__olabel"))
      .sortWithinPartitions((col("__obkt").asc +: id.asc +: tail): _*)
      .drop("__obkt", "__olabel")
  }

  /** The DuckDB half of [[bucketOrdered]]'s contract: the ORDER BY
    * prefix expression for the same id. Compose as
    * `ORDER BY ${duckBucket("doc_id")}, doc_id ASC`.
    */
  /** THE cross-engine 60-bit md5 draw, DuckDB side (Spark side:
    * [[graft.operators.Sampling.hashBucket]]). ONE definition — both
    * [[duckBucket]] and the bounded-corpus CTE compose it; an inline
    * second copy is the drift mode the centroid CTEs hit once already.
    */
  private[graft] def duckDraw(id: String): String =
    s"CAST(concat('0x', substr(md5(CAST($id AS VARCHAR)), 1, 15)) AS BIGINT)"

  private[graft] def duckBucket(id: String): String =
    s"${duckDraw(id)} % $OrderBuckets"

  /** THE quality-score formula, DuckDB side (Spark side:
    * [[graft.functions.TextFunctions.qualityScore]], which rounds to
    * 6 dp — the round is part of the contract and must ride along into
    * any predicate built on the score). ONE definition composed by
    * every oracle that scores or gates on quality; an inline copy is
    * the drift mode that already bit once (a copy in a new pipeline
    * oracle silently dropped the round, shifting a boundary doc's
    * keep/drop verdict between engines).
    */
  private[queries] val duckQualityScore: String =
    """round((
      |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) +
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) +
      |  least(CAST(len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) * 5.0, 1.0) +
      |  (1.0 - least(CAST(length(text) - length(regexp_replace(text, '\p{P}', '', 'g')) AS DOUBLE)
      |    / CAST(length(text) AS DOUBLE) * 4.0, 1.0))
      |) / 4.0, 6)""".stripMargin

  /** Total order for a small result ABOVE a shuffle (agg/join/window):
    * coalesce the reduce side to one task and sort in place — no extra
    * exchange at all. Only for results small enough that a single-task
    * reduce is free (≤ ~100k narrow rows).
    */
  private[queries] def orderedAtTail(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** [[orderedAtTail]] for results whose PRE-tail stage does real work —
    * a rank window or dedup aggregate over a large intermediate.
    * `coalesce(1)` is NARROW: it does not just single-task the final
    * sort, it collapses the ENTIRE post-shuffle stage (everything since
    * the last exchange) into one task — knn_graph_routed's pair-dedup +
    * rank-window stage ran 1.31 s on a single task under it (r15
    * graft.tools.Profile). An explicit single-partition exchange here keeps
    * that stage at shuffle parallelism and moves only the BOUNDED
    * result (top-k / per-group rows) into the one sort task — the same
    * single sink any engine pays for a declared total order. Use when
    * the tail's input stage is heavy; [[orderedAtTail]] stays right for
    * plain aggregate tails, where the extra exchange is pure overhead.
    */
  private[queries] def orderedAtTailExchanged(df: DataFrame,
      cols: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Scaffolding shared by the synthetic message stars
    * (MessageDedupQueries.star, FacadeQueries.star): the sent_at epoch
    * and the residue→label membership recipe. ONE definition — each
    * star's oracle CTE replays these literally, and a recipe edit that
    * reaches only one copy is exactly the drift mode the centroid CTEs
    * hit once already.
    */
  private[queries] object StarFixture {
    val epochUs: Long = 1700000000000000L

    /** doc_id % residue == 0 → label_id membership. */
    val labelResidues: Seq[(Long, Long)] =
      Seq(5L -> 1L, 3L -> 2L, 7L -> 3L, 2L -> 4L)

    def messageLabels(docs: DataFrame, d: Column): DataFrame =
      labelResidues.map { case (m, lbl) =>
        docs.filter(d % m === 0)
          .select(d.as("message_id"),
            org.apache.spark.sql.functions.lit(lbl).as("label_id"))
      }.reduce(_ unionByName _)
  }

  /** DuckDB twins of [[graft.operators.Similarity.dot]]/`cosine` — the
    * same index-order double folds, composed into larger oracle strings.
    */
  private[queries] def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p,q) -> p+q)"

  private[queries] def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** Shared oracle fragment (`n` + `cents` CTEs): replays
    * [[graft.operators.Similarity.strideCentroids]] — md5-stride pick,
    * nList 16 — over `src`. ONE definition for every oracle that probes
    * the shared assignment artifact: three hand-maintained copies of
    * this block already drifted once (the md5-stride fix touched each
    * separately).
    */
  private[queries] def duckCentsCtes(src: String): String =
    s"""n AS (SELECT count(*) AS cnt FROM $src),
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
       |  FROM $src, n
       |  WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % greatest(1, cnt // 16) = 0
       |  ORDER BY vec_id LIMIT 16)""".stripMargin

  /** [[duckCentsCtes]] + the argmax assignment replay of
    * [[graft.operators.Similarity.semanticAssign]] (ties → higher cid,
    * matching [[graft.operators.Similarity.assign]]), ending in an
    * `assigned` CTE.
    */
  private[queries] def duckAssignedCtes(src: String): String =
    s"""${duckCentsCtes(src)},
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.cid,
       |    ${duckCos("e.embedding", "c.cvec")} AS s
       |  FROM $src e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cluster
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                  ORDER BY s DESC, cid DESC) AS rn FROM scored)
       |  WHERE rn = 1)""".stripMargin

  /** [[duckCentsCtes]] + the TWO-LEVEL assignment replay of
    * [[graft.operators.Similarity.assign]] at `0 < rProbe < ⌈√m⌉`,
    * ending in an `assigned` CTE: coarse = every ⌈m/⌈√m⌉⌉-th centroid of
    * the cid order (first ⌈√m⌉ of them), each centroid routed to its nearest
    * coarse row (ties → higher gid — the expression's exact rule), each
    * vector probing its top-`rProbe` coarse groups and argmaxing only
    * their members (ties → higher cid). Every level replays the Scala
    * side bit-for-bit, so the hash gate certifies the APPROXIMATION
    * path itself, not just its verified outputs.
    *
    * `p` (default 1) replays [[graft.operators.Similarity.assign]]'s `p`:
    * the `assigned` CTE keeps each vector's top-p probed-member centroids
    * instead of the argmax — and, like the expression's truncated output,
    * naturally yields FEWER than p rows when the probed groups hold
    * fewer members.
    */
  private[queries] def duckRoutedAssignedCtes(src: String,
      rProbe: Int, p: Int = 1): String =
    s"""${duckCentsCtes(src)},
       |cc AS (SELECT count(*) AS m,
       |       CAST(ceil(sqrt(count(*))) AS BIGINT) AS ncoarse FROM cents),
       |coarse AS (
       |  SELECT row_number() OVER (ORDER BY cid) - 1 AS gid, cvec AS gvec
       |  FROM cents, cc
       |  WHERE cid % greatest(1, m // ncoarse) = 0
       |  QUALIFY row_number() OVER (ORDER BY cid) <= ncoarse),
       |routedm AS (
       |  SELECT cid, cvec, gid FROM (
       |    SELECT c.cid, c.cvec, g.gid,
       |      row_number() OVER (PARTITION BY c.cid
       |        ORDER BY ${duckCos("c.cvec", "g.gvec")} DESC, g.gid DESC)
       |        AS rn
       |    FROM cents c CROSS JOIN coarse g)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id, gid FROM (
       |    SELECT e.vec_id, g.gid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "g.gvec")} DESC, g.gid DESC)
       |        AS rn
       |    FROM $src e CROSS JOIN coarse g)
       |  WHERE rn <= $rProbe),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, r.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "r.cvec")} DESC, r.cid DESC)
       |        AS rn
       |    FROM $src e
       |    JOIN probes p ON p.vec_id = e.vec_id
       |    JOIN routedm r ON r.gid = p.gid)
       |  WHERE rn <= $p)""".stripMargin

  // Each entry carries its OWNING session: (a) identityHashCode is not
  // unique, so a hash collision with a dead session's key must be caught
  // by reference comparison instead of serving that session's frames to
  // a new one; (b) a JVM that churns SparkSessions (notebook server,
  // long-lived test harness) would otherwise pin every stopped session's
  // artifacts in this map forever — stopped-context entries are swept on
  // the build (miss) path.
  private final case class MemoEntry(session: SparkSession, value: AnyRef)
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String, String), MemoEntry]()

  /** Corpus fingerprint for [[memoizedIndex]]: md5 over the sorted
    * recursive (path, length, mtime) listing of the corpus dir — the
    * same change-detection recipe [[graft.operators.VectorIndex]]
    * generations use. One listing per memo lookup: on a local SF dir
    * that is a handful of stat calls; against a remote store it is the
    * same metadata round-trip planning any read of the corpus already
    * pays, and it is what makes a long-lived session safe over a corpus
    * that gets rewritten in place.
    */
  private[graft] def corpusFingerprint(s: SparkSession, dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  // Eviction vs in-flight queries: releasing a superseded artifact frees
  // blocks a query STILL RUNNING on another thread may be reading — and
  // for localCheckpointed frames there is no lineage to recompute from,
  // so that query fails irrecoverably rather than degrading. Default
  // (grace 0) releases immediately: the CLI/verify engines are
  // single-threaded per corpus, and an in-place corpus rewrite
  // concurrent with a query is already undefined at the storage layer.
  // A concurrent server sets spark.graft.memo.releaseGraceMs > 0:
  // superseded artifacts are RETIRED to this queue and released only
  // `grace` ms later (drained on subsequent memo activity), letting
  // in-flight queries on the old artifact finish. Queries longer than
  // the grace remain exposed by design — documented, bounded staleness.
  // grace/deadline semantics live in graft.RetireQueue; the release
  // thunk re-checks the owner session at drain time — blocks of a
  // stopped session are gone
  private val retired = new graft.RetireQueue[(SparkSession, AnyRef)]({
    case (owner, v) => if (!owner.sparkContext.isStopped) release(v)
  })

  private def retireOrRelease(s: SparkSession, owner: SparkSession,
      v: AnyRef): Unit = {
    if (owner.sparkContext.isStopped) return // blocks already gone
    // the OWNER's grace, not the evicting caller's: a collision-eviction
    // can come from a different session whose grace=0 default must not
    // override the owner's opt-in
    val grace =
      try owner.conf.get("spark.graft.memo.releaseGraceMs", "0").toLong
      catch { case _: NumberFormatException => 0L }
    retired.retireOrRelease(grace, (owner, v))
  }

  private def drainRetired(): Unit = retired.drain()

  /** Build-once/search-many memo for derived index structures (inverted
    * index postings, IVF centroid assignment). The reference's FTS5 and
    * vec0 indexes are PERSISTENT — built at ingest, reused by every
    * search — so a search query's cost should be probe + hydrate, not a
    * per-query corpus re-index. Keyed per (session, sfDir, corpus
    * fingerprint): a corpus rewritten in place under the same path mints
    * a new fingerprint, so a long-lived session rebuilds rather than
    * serving stale postings/centroids/pair tables; the stale artifact's
    * persisted frames are released when the fresh one lands — immediately
    * by default, or after spark.graft.memo.releaseGraceMs for concurrent
    * engines (see [[retireOrRelease]]).
    */
  private[queries] def memoizedIndex[T <: AnyRef](s: SparkSession, dir: String,
      key: String)(build: => T): T = {
    drainRetired()
    val fp = corpusFingerprint(s, dir)
    val k = (System.identityHashCode(s), dir, key, fp)
    val hit = memo.get(k)
    if (hit != null && (hit.session eq s)) hit.value.asInstanceOf[T]
    else {
      if (hit != null) {
        // identity-hash COLLISION with another session's entry: evict it
        // rather than serve frames bound to a different (likely dead)
        // session; release (or retire, under a grace) only if its
        // context still runs
        memo.remove(k, hit)
        retireOrRelease(s, hit.session, hit.value)
      }
      // sweep stopped sessions' entries — off the hot path (a miss builds
      // anyway), keeps the map bounded under session churn. No release():
      // a stopped context's blocks are already gone and unpersist on it
      // throws.
      val sweep = memo.entrySet().iterator()
      while (sweep.hasNext) {
        if (sweep.next().getValue.session.sparkContext.isStopped)
          sweep.remove()
      }
      // The build runs OUTSIDE computeIfAbsent on purpose: builds nest
      // (cluster labels build from the memoized pair table), and a nested
      // computeIfAbsent on the SAME map throws "Recursive update" whenever
      // the inner entry happens to land in the outer entry's bin — a
      // hash-layout-dependent landmine that only fires when unrelated
      // keys shift the table. The cost is a possible duplicate build under
      // a concurrent race (builds are idempotent; putIfAbsent keeps the
      // first winner) — correct, where the locked form is crash-prone.
      val v = build
      val prev = memo.putIfAbsent(k, MemoEntry(s, v))
      if (prev != null) {
        // race loser: release its persisted blocks before discarding —
        // builds typically persist+count, and a dropped-but-persisted
        // DataFrame would pin executor memory for the session's lifetime.
        release(v)
        prev.value.asInstanceOf[T]
      } else {
        // winner: evict this (session, dir, key)'s entries under OTHER
        // fingerprints — the corpus was rewritten, and the superseded
        // artifact would otherwise pin its persisted frames for the
        // session's lifetime
        val it = memo.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val ek = e.getKey
          if (ek._1 == k._1 && ek._2 == k._2 && ek._3 == k._3 && ek._4 != fp &&
            (e.getValue.session eq s)) {
            it.remove()
            retireOrRelease(s, e.getValue.session, e.getValue.value)
          }
        }
        v.asInstanceOf[T]
      }
    }
  }

  /** A streaming fixture's temp root (deleted at JVM exit) whose `drop`
    * dir holds each of `shards` as ONE parquet file, mtimes strictly
    * ascending in order: the file stream source orders by modification
    * time, so a one-file-per-batch drain turns shard k into micro-batch
    * k, the mapping the fixtures' oracles replay.
    */
  private[queries] def deliverShards(prefix: String,
      shards: Seq[DataFrame]): java.nio.file.Path = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      try {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val drop = Files.createDirectories(root.resolve("drop"))
    val base = System.currentTimeMillis() - 60000
    shards.zipWithIndex.foreach { case (shard, k) =>
      val tmp = root.resolve(s"shard$k")
      shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally listing.close()
      val dst = drop.resolve(s"shard-$k.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(base + k * 1000L)
    }
    root
  }

  /** Drops every memo entry session `s` owns, each released through the
    * eviction path (after the owner's grace, when it set one), and
    * returns how many it dropped: the next lookup rebuilds. A profiler
    * calls it so a timed run builds the artifact instead of probing it.
    */
  private[graft] def dropMemo(s: SparkSession): Int = {
    var dropped = 0
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.session eq s) {
        it.remove()
        dropped += 1
        retireOrRelease(s, s, e.getValue.value)
      }
    }
    dropped
  }

  /** Unpersist any DataFrames held (one Product wrapper deep) by a
    * discarded memo artifact. Composite artifacts (IvfIndex.Index,
    * tuples of frames) hold their persisted frames one wrapper deep, so
    * walk Products — but NOT collections: scala List is itself a Product
    * (`::`), so element-wise recursion over a long memoized list
    * (centroid seqs, weight tables) would take one stack frame per
    * element and can StackOverflowError right here. Collections in
    * artifacts carry plain data, never persisted frames; only
    * tuple/case-class wrappers are walked.
    */
  /** Release a frame's cached state INCLUDING checkpoint blocks:
    * localCheckpointed frames cache at the RDD level, OUTSIDE the
    * CacheManager, so Dataset.unpersist alone misses them — the
    * checkpoint RDDs are unpersisted off the plan's LogicalRDD leaves.
    * THE one definition of this walk (memo release and
    * MsgEngine.releaseCaches both call it — an inline second copy is a
    * drift hazard for a recipe this non-obvious).
    */
  /** ROOT-only: a checkpointed frame's analyzed plan IS a bare
    * LogicalRDD, so the root match frees exactly the artifact this
    * release owns. Walking the whole tree would also unpersist any
    * localCheckpointed frame the artifact was DERIVED from (an engine's
    * star tables — no lineage, irrecoverable), the collateral-damage
    * bug the r11 concurrent-engines soak caught.
    */
  private[graft] def unpersistWithCheckpointLeaves(df: DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }
  }

  private def release(x: Any): Unit = x match {
    case df: DataFrame =>
      unpersistWithCheckpointLeaves(df)
    // the facade engine pins state a DataFrame walk can't see (persisted
    // search match sets, localCheckpointed star RDD blocks) — it exposes
    // its own release hook
    case e: graft.engine.MsgEngine => e.releaseCaches()
    case _: Iterable[_] => ()
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}
