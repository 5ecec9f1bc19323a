package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{floor, lit}

/** Table loaders for the driver-generated TPC-H-ish star at
  * /root/testdata/sf*. Mirrors the reference's per-table Parquet scan +
  * canonical-schema normalization (reference: internal/query/duckdb.go:262-417,
  * internal/query/views.go:80-319) — each table is read once, projected to a
  * canonical column set, and registered as a temp view so both the DataFrame
  * API and `spark.sql` raw queries see the same relations.
  *
  * Scale notes: scans are plain `spark.read.parquet` so Catalyst's
  * predicate pushdown / column pruning reach the Parquet reader; nothing is
  * cached here — callers decide what to persist (the reference's
  * materialize-once search cache is the only persist site, duckdb.go:2190).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val cached =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val hit = cached.get((System.identityHashCode(spark), sfDir, name))
    if (hit != null) hit
    else if (name == "events") loadEvents(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Persist every table in memory (deserialized columnar cache) so
    * repeated queries skip the parquet scan — the analogue of the
    * reference benchmarking against a warm in-memory DuckDB
    * (BASELINE.md methodology). Returns after materializing each cache.
    * Bench-only: ad-hoc sessions keep the plain scans (and their
    * pushdown/pruning, see PlanAuditSpec).
    *
    * The cache is REPARTITIONED first: the sf testdata ships one row
    * group per table, so the raw scan is one partition — and an
    * InMemoryRelation keeps its child's partitioning, which would pin the
    * map side of every downstream stage to a single core. On real
    * multi-file data `maxPartitionBytes` splitting delivers parallelism
    * natively; here [[graft.Sizing.cacheParts]] sizes the count to the
    * work: `documents` feeds per-row-heavy text pipelines and gets full
    * parallelism, and small dimensions stay single-partition (local-mode
    * task launch costs ~5 ms each — 32 tasks over 15 k rows is pure
    * overhead).
    */
  /** Cache clustering keys — the in-memory analogue of the `bucketBy`
    * write path (PlanAuditSpec "bucketed tables join shuffle-free"): facts
    * hash-partitioned on their join/grouping key make the pre-agg-below-
    * join and co-located joins exchange-free, because HashPartitioning on
    * the key satisfies the downstream ClusteredDistribution. lineitem and
    * orders share the order key at the SAME partition count, so their
    * join is co-located end-to-end.
    */
  private val clusterKey = Map(
    "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey",
    "events" -> "user_id")

  /** Per-table fault isolation: one unreadable table must not abort the
    * loop and leave the REMAINING tables uncached — that failure mode is
    * silent (queries still run, just 2-5× slower on cold single-partition
    * scans) and poisoned a whole bench round. Failures are logged loudly
    * to stderr and the table falls back to its plain scan.
    */
  def cacheAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      try cacheOne(spark, sfDir, n)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] cacheAll: table '$n' failed to cache ($e); " +
              "queries against it will run uncached")
      }
    }

  private def cacheOne(spark: SparkSession, sfDir: String, n: String): Unit = {
    val key = (System.identityHashCode(spark), sfDir, n)
    if (!cached.containsKey(key)) {
      val raw = load(spark, sfDir, n)
      val parts = graft.Sizing.cacheParts(n, raw.count(),
        graft.Sizing.cores(spark))
      val df = clusterKey.get(n) match {
        case Some(k) =>
          raw.repartition(parts, org.apache.spark.sql.functions.col(k))
        case None => raw.repartition(parts)
      }
      val persisted = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      persisted.count()
      cached.put(key, persisted)
    }
  }

  /** `events.ts` arrives in either of two physical encodings depending on
    * the testdata generation (the driver has shipped both), so the loader
    * probes the footer schema and branches. Both branches expose the same
    * canonical pair:
    *   - `ts`    TimestampType at microsecond precision (for buckets /
    *     dates / streaming windows), and
    *   - `ts_ns` LongType in nanosecond units (for total ordering and
    *     exact integer arithmetic — long comparisons have none of the
    *     double/timestamp equality subtleties).
    *
    * Encodings:
    *   1. TIMESTAMP(µs) (isAdjustedToUTC=false → Spark reads
    *      TIMESTAMP_NTZ): cast to TimestampType (lossless — the session
    *      timezone is pinned to UTC in build.sbt / Bench / tests) and
    *      derive `ts_ns = unix_micros(ts) * 1000` — µs-precision scaled
    *      to ns units so every downstream `ts_ns div 1000` and the DuckDB
    *      `epoch_us(ts)` oracles agree exactly.
    *   2. TIMESTAMP(NANOS), which Spark's reader rejects outright: re-read
    *      with the legacy nanos-as-long conf — SCOPED, see below — keep
    *      exact nanos in `ts_ns`, truncate to µs for `ts`.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val path = s"$sfDir/events.parquet"
    val raw =
      try {
        val df = spark.read.parquet(path)
        df.schema // footer schema resolves → supported encoding
        df
      } catch {
        case scala.util.control.NonFatal(_) => legacyNanosRead(spark, path)
      }
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long file
        raw.withColumn("ts_ns", col("ts").cast("long"))
          .withColumn("ts", timestamp_micros(nsToMicros(col("ts"))))
      case _: TimestampType | _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other in $path")
    }
  }

  private val legacyNanos =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()

  /** Read a TIMESTAMP(NANOS) parquet under the legacy nanos-as-long conf
    * WITHOUT leaking the conf into the session. The conf is consulted at
    * two points — driver-side schema inference AND reader construction at
    * first execution (ParquetFileFormat propagates
    * `spark.sql.legacy.parquet.nanosAsLong` into the scan's hadoopConf
    * lazily, and there is no per-read DataFrameReader option for it) — so
    * a plain set→read→restore would blow up at action time. Instead the
    * frame is EAGERLY materialized (`localCheckpoint`) while the conf is
    * set ([[withNanosConf]]), severing the plan from the conf-dependent
    * scan, and the conf is restored at the scope's exit. Memoized per
    * (session, path): the checkpoint job must run once, not per `load`
    * call.
    *
    * The eager read is a deliberate compatibility-shim cost: the legacy
    * NANOS encoding only appears in driver-regenerated testdata, never on
    * the scale path (µs-encoded events keep the plain lazy scan with full
    * pushdown). Any OTHER nanos parquet in the session reads exactly as
    * before — the session conf is provably restored (TestdataSchemaSpec).
    */
  private def legacyNanosRead(spark: SparkSession, path: String): DataFrame = {
    val key = (System.identityHashCode(spark), path)
    val hit = legacyNanos.get(key)
    if (hit != null) return hit
    val df =
      withNanosConf(spark)(spark.read.parquet(path).localCheckpoint(true))
    val prev = legacyNanos.putIfAbsent(key, df)
    if (prev != null) prev else df
  }

  /** Run `f` with the legacy-nanos parquet conf set, restoring the prior
    * value at the scope's exit: a session-wide leak would silently change
    * how every LATER TIMESTAMP(NANOS) read in the session behaves. The
    * one owner of `spark.sql.legacy.parquet.nanosAsLong` — the batch
    * loader ([[legacyNanosRead]]) and the streaming drains
    * ([[graft.streaming.EventsStreaming]]) both scope it here.
    */
  // Reentrancy/concurrency guard: two overlapping scopes in one session
  // (two drains, or a drain overlapping a legacy batch load) must not
  // clobber each other's restore — a naive save/set/restore pair entered
  // twice captures prev="true" on the inner entry and leaves the legacy
  // flag set for every later read in the session. A per-session refcount
  // makes the scope reentrant: only the OUTERMOST entry captures the
  // prior value, only the LAST exit restores it. A concurrent UNRELATED
  // parquet read in the same session still observes the flipped conf
  // while a scope holds it (the conf is session-global by nature) — a
  // caller needing full isolation runs on spark.newSession(), which
  // shares the context but not the SQLConf.
  // keyed by SESSION REFERENCE (IdentityHashMap), never by
  // identityHashCode alone: two live sessions can share an identity
  // hash, and a shared scope entry would skip setting the flag on the
  // second session (its read fails) and restore the wrong session's
  // prior value. Entries are removed at the last exit, so the strong
  // key reference does not pin stopped sessions.
  private val nanosScopes =
    new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]()

  private[graft] def withNanosConf[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    nanosScopes.synchronized {
      val cur = nanosScopes.get(spark)
      if (cur == null) {
        nanosScopes.put(spark, (1, spark.conf.getOption(key)))
        spark.conf.set(key, "true")
      } else nanosScopes.put(spark, (cur._1 + 1, cur._2))
    }
    try f finally nanosScopes.synchronized {
      val (n, prev) = nanosScopes.get(spark)
      if (n <= 1) {
        nanosScopes.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else nanosScopes.put(spark, (n - 1, prev))
    }
  }

  /** EXACT epoch-ns → epoch-µs for long columns: decimal FLOOR division,
    * not floor(double/1000) — an epoch-ns value needs ~61 bits and a
    * double carries 53, so the double path rounds to the nearest ~256 ns
    * and floors into the ADJACENT microsecond for values within ~128 ns
    * of a boundary. Floor (not truncate-toward-zero like SQL `div`) is
    * the timestamp-correct choice: for a pre-1970 value −1500 ns the
    * containing microsecond is −2, not −1; on non-negative epochs the
    * two agree. Shared by the batch loader and the streaming source so
    * the conversion cannot drift between them.
    */
  private[graft] def nsToMicros(c: Column): Column =
    floor(c.cast("long").cast("decimal(20,0)") / lit(1000)).cast("long")

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()

  /** Register every table as a temp view named after the table — the
    * analogue of the reference's RegisterViews (views.go:129-145).
    * Idempotent AND memoized per (session, dir): re-registration would
    * re-read ten parquet footers per call for identical views. The
    * memo is recorded only AFTER all views register: marking up-front
    * would turn a mid-loop failure into a permanent silent no-op (later
    * calls would skip registration and queries would fail with
    * missing-view errors that mask the real cause).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val key = (System.identityHashCode(spark), sfDir)
    if (!registered.contains(key)) {
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      registered.add(key)
    }
  }

  /** Spread a DataFrame across the cluster's cores when its current
    * partitioning would serialize compute-heavy downstream work — the case
    * for a small single-file Parquet scan (one row group → one partition →
    * one core runs the whole tokenize/shingle/hash stage). The round-robin
    * shuffle only moves the narrow input rows, which is cheap exactly when
    * it matters (few partitions ⇒ small data). At scale the input already
    * has ≥ parallelism partitions and this is an identity — no shuffle is
    * ever added to a large scan.
    */
  def spread(df: DataFrame): DataFrame =
    // a cached df was already repartitioned by cacheAll — its inputFiles
    // still name the original single parquet file, so check storage first
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else {
      // metadata-only probe: `df.rdd.getNumPartitions` would be exact but
      // forces a second full physical planning of the query on the driver
      // (measurable per-query latency); the file count is free and the
      // single-file case is precisely the one that needs spreading. A
      // non-file DataFrame reports zero files — provenance unknown, so
      // leave its partitioning alone (repartitioning an already-wide
      // in-memory relation would add a gratuitous shuffle).
      val nFiles =
        try df.inputFiles.length
        catch { case scala.util.control.NonFatal(_) => 0 }
      graft.Sizing.spreadTo(nFiles, graft.Sizing.cores(df.sparkSession))
        .fold(df)(n => df.repartition(n))
    }

  /** Schema probe — reference probes cache Parquet with
    * `DESCRIBE SELECT * FROM read_parquet(...)` (views.go:26-56) to discover
    * which optional columns exist. Spark equivalent: the footer-only schema
    * read; no data scan.
    */
  def probeSchema(spark: SparkSession, sfDir: String, name: String) =
    load(spark, sfDir, name).schema
}
