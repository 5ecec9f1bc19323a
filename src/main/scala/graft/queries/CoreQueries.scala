package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Core relational operators from SURVEY.md §2.1-2.8, instantiated over the
  * driver testdata star. Each method is one `SparkEntry.queries` entry with a
  * DuckDB oracle twin in [[graft.SparkEntry.oracleSql]].
  *
  * Numeric discipline (oracle hash-match): money sums accumulate exact
  * integer cents as longs ([[dsum]]) and scale to DOUBLE once at the end;
  * the oracle aggregates in DECIMAL(18,2) and casts to DOUBLE — both are
  * the nearest double to the exact sum, so the values match bit-for-bit
  * regardless of partial-aggregation order. Every query ends in a total
  * ORDER BY with a unique tie-break key (reference is explicit about
  * deterministic tie-breaks: internal/vector/hybrid/rrf.go:64-75).
  *
  * Scale notes: aggregates are groupBy (map-side partial agg automatic);
  * small dimensions are broadcast; rollups are aggregated *below* the join
  * to prevent fan-out (reference duckdb.go:396-402); top-k compiles to
  * TakeOrderedAndProject (no full sort).
  */
object CoreQueries {
  /** Session+snapshot-scoped temp sink path for the ETL roundtrip
    * queries — concurrent gates/benches on one host must not overwrite
    * each other's sink mid-read. The pid component is what actually
    * de-races concurrent JVMs: identityHashCode only disambiguates
    * sessions WITHIN one JVM, and two gate/bench processes on the same
    * host can easily mint the same identity hash. ONE definition —
    * ExportQueries' sinks share it so the de-racing recipe cannot
    * drift between the two sink families.
    */
  private[queries] def etlTmpPath(s: SparkSession, dir: String,
      name: String): String = {
    tmpCleanupInstalled
    // the pid rides behind a fixed '_p' anchor so the sweep regex can
    // never mistake another digit field for it, whatever `name` becomes;
    // toHexString (not math.abs, which is negative for Int.MinValue)
    // keeps the dir-hash field shape-stable
    val p = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/${name}_" +
      s"p${ProcessHandle.current().pid()}_" +
      s"${System.identityHashCode(s)}_${Integer.toHexString(dir.hashCode)}"
    tmpRoots.add(p)
    p
  }

  /** The pid-scoping that de-races concurrent JVMs also means every
    * gate/bench/sweep run mints fresh corpus-sized sink dirs that no
    * later run's overwrite reclaims — so this JVM (a) deletes its own
    * roots at exit and (b) sweeps roots whose minting pid is no longer
    * alive (a kill -9'd run can't honor its own hook; the NEXT run
    * cleans up after it). Liveness comes from the pid embedded in the
    * dirname, so only genuinely orphaned roots are touched.
    */
  private val tmpRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val tmpCleanupInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpRoots.forEach(p => rmTreeQuiet(java.nio.file.Paths.get(p)))
    }, "graft-etl-tmp-cleanup"))
    val tmp = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    // pid anchored by the '_p' prefix etlTmpPath mints — positional
    // capture would liveness-check the wrong field if a future name
    // ended in digits. The second pattern sweeps dirs minted by the
    // pre-anchor format (pid positional, abs-hash tail); those names all
    // came from older builds where field 1 WAS the pid, so the capture
    // is safe against dirs that actually exist — drop it once bench
    // hosts have cycled.
    val stale = "^graft_.*_p(\\d+)_\\d+_[0-9a-f]+$".r
    val staleLegacy = "^graft_.*_(\\d+)_\\d+_\\d+$".r
    val self = ProcessHandle.current().pid()
    scala.util.Try(java.nio.file.Files.list(tmp)).foreach { listing =>
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.foreach { p =>
          p.getFileName.toString match {
            case stale(pid) if pid.toLong != self &&
                !ProcessHandle.of(pid.toLong).isPresent =>
              rmTreeQuiet(p)
            case staleLegacy(pid) if pid.toLong != self &&
                !ProcessHandle.of(pid.toLong).isPresent =>
              rmTreeQuiet(p)
            case _ => ()
          }
        }
      } finally listing.close()
    }
  }
  private def rmTreeQuiet(root: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact-money sum at integer-add speed: accumulate cents as longs
    * (2-decimal money ⇒ round(x·100) is the exact integer cent count;
    * long sums are associative/exact up to 2⁶³, so partial-agg order
    * can't perturb the result), divide once at the end. The final value
    * is the nearest double to the exact sum — bit-identical to the
    * oracle's `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`, at ~2×
    * the throughput of a decimal aggregate (decimal adds are object ops;
    * long adds vectorize in whole-stage codegen).
    */
  private[queries] def dsum(c: Column): Column =
    sum(round(c.cast("double") * 100).cast("long")).cast("double") / 100.0

  // --- §2.4 core aggregate view (flagship; reference duckdb.go:773-807) ---
  // Shape: groupBy key → COUNT(*), SUM(size), rollup LEFT JOIN, COUNT(*)
  // OVER () total_unique, ORDER BY count DESC LIMIT 100.
  // Mapping: customer≈sender, orders≈messages, lineitem≈attachments.
  def aggCore(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    // pre-aggregate below the join: prevents fan-out double count
    val li = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_extendedprice")).as("att_size"),
        count(lit(1)).as("att_count"))
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("c_name").as("key"))
      .agg(
        count(lit(1)).as("msg_count"),
        dsum(col("o_totalprice")).as("total_size"),
        dsum(col("att_size")).as("attachment_size"),
        sum(col("att_count")).as("attachment_count"))
      .withColumn("total_unique", count(lit(1)).over(Window.partitionBy()))
      .orderBy(col("msg_count").desc, col("key").asc)
      .limit(100)
  }

  val aggCoreSql: String =
    """WITH att AS (
      |  SELECT l_orderkey,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS att_size,
      |         COUNT(*) AS att_count
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT c_name AS key,
      |       COUNT(*) AS msg_count,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_size,
      |       CAST(SUM(CAST(att_size AS DECIMAL(18,2))) AS DOUBLE) AS attachment_size,
      |       CAST(SUM(att_count) AS BIGINT) AS attachment_count,
      |       COUNT(*) OVER () AS total_unique
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN att ON o_orderkey = att.l_orderkey
      |GROUP BY c_name
      |ORDER BY msg_count DESC, key ASC
      |LIMIT 100""".stripMargin

  // --- §2.2 time-period buckets (reference duckdb.go:681-691) ---
  def aggTime(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("period"))
        .agg(count(lit(1)).as("msg_count"),
          dsum(col("o_totalprice")).as("total_size")),
      col("period").asc)

  val aggTimeSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS period,
      |       COUNT(*) AS msg_count,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_size
      |FROM orders GROUP BY 1 ORDER BY period ASC""".stripMargin

  // --- §2.4 GetTotalStats (reference duckdb.go:1101-1179) ---
  def totalStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("message_count"),
      dsum(col("o_totalprice")).as("total_size"),
      countDistinct(col("o_custkey")).as("distinct_sources"),
      min(col("o_orderdate")).cast("date").as("first_date"),
      max(col("o_orderdate")).cast("date").as("last_date"))

  val totalStatsSql: String =
    """SELECT COUNT(*) AS message_count,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_size,
      |       COUNT(DISTINCT o_custkey) AS distinct_sources,
      |       CAST(MIN(o_orderdate) AS DATE) AS first_date,
      |       CAST(MAX(o_orderdate) AS DATE) AS last_date
      |FROM orders""".stripMargin

  // --- §2.2 filters: time range + type isin + projection pushdown ---
  def filterTimeRange(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp") &&
        col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_day"))
      .orderBy(col("o_orderkey").asc)
      .limit(500)

  val filterTimeRangeSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |       CAST(o_orderdate AS DATE) AS o_day
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |  AND o_orderstatus IN ('O','F')
      |ORDER BY o_orderkey ASC LIMIT 500""".stripMargin

  // --- §2.2 ILIKE substring, case-insensitive, literal (duckdb.go:447-467) ---
  def filterIlike(s: SparkSession, dir: String): DataFrame =
    bucketOrdered(
      t(s, dir, "part")
        .filter(lower(col("p_name")).contains("re"))
        .select(col("p_partkey"), col("p_name"), col("p_brand")),
      col("p_partkey"))

  val filterIlikeSql: String =
    s"""SELECT p_partkey, p_name, p_brand FROM part
      |WHERE contains(lower(p_name), 're')
      |ORDER BY ${duckBucket("p_partkey")}, p_partkey ASC""".stripMargin

  // --- §2.3 semi-join (EXISTS; reference duckdb.go:844-846) ---
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
    bucketOrdered(
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      col("c_custkey"))
  }

  val joinSemiSql: String =
    s"""SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY ${duckBucket("c_custkey")}, c_custkey ASC""".stripMargin

  // --- §2.3 anti-join (NOT EXISTS; empty-bucket drilldowns duckdb.go:888) ---
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    bucketOrdered(
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      col("c_custkey"))
  }

  val joinAntiSql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY ${duckBucket("c_custkey")}, c_custkey ASC""".stripMargin

  // --- §2.3 dual-path resolution via COALESCE of two left joins
  // (reference sender resolution duckdb.go:1254-1296) ---
  def joinCoalesce(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
      .join(n, col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"),
        coalesce(nullif(trim(col("n_name")), lit("")), lit("unknown")).as("resolved_nation"),
        coalesce(nullif(trim(col("c_mktsegment")), lit("")), lit("unknown")).as("segment"))
    orderedAtTail(
      cust.groupBy(col("resolved_nation"), col("segment"))
        .agg(count(lit(1)).as("cnt")),
      col("resolved_nation").asc, col("segment").asc)
  }

  val joinCoalesceSql: String =
    """SELECT COALESCE(NULLIF(TRIM(n_name), ''), 'unknown') AS resolved_nation,
      |       COALESCE(NULLIF(TRIM(c_mktsegment), ''), 'unknown') AS segment,
      |       COUNT(*) AS cnt
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2
      |ORDER BY resolved_nation ASC, segment ASC""".stripMargin

  // --- §2.5 ROW_NUMBER ranking (reference sqlitevec/fused.go:152) ---
  def windowRowNumber(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orderedAtTailExchanged(
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn")),
      col("o_custkey").asc, col("rn").asc)
  }

  val windowRowNumberSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey ASC, rn ASC""".stripMargin

  // --- §2.5 COUNT(*) OVER () total (reference duckdb.go:794) ---
  def windowTotalCount(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("key"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("total_unique", count(lit(1)).over(Window.partitionBy())),
      col("key").asc)

  val windowTotalCountSql: String =
    """SELECT l_returnflag AS key, COUNT(*) AS cnt, COUNT(*) OVER () AS total_unique
      |FROM lineitem GROUP BY l_returnflag ORDER BY key ASC""".stripMargin

  // --- §2.6 top-k (TakeOrderedAndProject; reference duckdb.go:810-827) ---
  def topK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  val topKSql: String =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  // --- §2.6 pagination LIMIT/OFFSET (reference duckdb.go:1252) ---
  def pagination(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc)
      .offset(100)
      .limit(50)

  val paginationSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_orderkey ASC LIMIT 50 OFFSET 100""".stripMargin

  // --- §2.6 paginate-before-join (reference duckdb.go:1241-1299): page the
  // fact table FIRST, then enrich the page with joins. ---
  def paginateThenJoin(s: SparkSession, dir: String): DataFrame = {
    val page = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
    // page-scoped rollup: semi-join lineitem to the page ids BEFORE
    // aggregating — rolling up the whole table for a 20-row page would
    // defeat the point of paginating first
    val li = t(s, dir, "lineitem")
      .join(page.select(col("o_orderkey").as("__pg_ok")),
        col("l_orderkey") === col("__pg_ok"), "left_semi")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("item_count"))
    orderedAtTailExchanged(page
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"), "left")
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"),
        coalesce(col("item_count"), lit(0L)).as("item_count")),
      col("o_totalprice").desc, col("o_orderkey").asc)
  }

  val paginateThenJoinSql: String =
    """WITH page AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20),
      |li AS (SELECT l_orderkey, COUNT(*) AS item_count FROM lineitem GROUP BY 1)
      |SELECT o_orderkey, o_totalprice, c_name,
      |       COALESCE(item_count, 0) AS item_count
      |FROM page
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN li ON o_orderkey = li.l_orderkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin

  // --- §2.7 UNION ALL (reference benchmark_test.go:128-162) ---
  def setUnion(s: SparkSession, dir: String): DataFrame = {
    val buyers = t(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"), lit("customer").as("role"))
    val supps = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"), lit("supplier").as("role"))
    orderedAtTail(
      buyers.unionByName(supps)
        .groupBy(col("nationkey"), col("role"))
        .agg(count(lit(1)).as("cnt")),
      col("nationkey").asc, col("role").asc)
  }

  val setUnionSql: String =
    """SELECT nationkey, role, COUNT(*) AS cnt FROM (
      |  SELECT c_nationkey AS nationkey, 'customer' AS role FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey, 'supplier' AS role FROM supplier)
      |GROUP BY nationkey, role
      |ORDER BY nationkey ASC, role ASC""".stripMargin

  // --- §2.7 set difference (reference dedup.go:502-513 "not matched") ---
  def setExcept(s: SparkSession, dir: String): DataFrame = {
    // EXCEPT = distinct ∖ distinct. Deduplicate the big probe side FIRST:
    // map-side partial aggregation collapses the fact rows to their key
    // domain before any exchange, so the anti join moves distinct keys,
    // not raw rows — `.except` would shuffle every fact row into the
    // sort-merge anti join. The shape scales: the key domain is orders of
    // magnitude smaller than the row count, and the join strategy (bcast
    // vs SMJ) stays the planner's call.
    val used = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p_partkey")).distinct()
    orderedAtTail(
      t(s, dir, "part").select(col("p_partkey")).distinct()
        .join(used, Seq("p_partkey"), "left_anti"),
      col("p_partkey").asc)
  }

  val setExceptSql: String =
    """SELECT p_partkey FROM part
      |EXCEPT
      |SELECT l_partkey AS p_partkey FROM lineitem
      |ORDER BY p_partkey ASC""".stripMargin

  // --- §2.8 date/string scalar functions (buckets duckdb.go:687-689) ---
  def scalarDateString(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        concat(year(col("o_orderdate")).cast("string"), lit("-"),
          lpad(month(col("o_orderdate")).cast("string"), 2, "0")).as("month_key"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day_key"))
      .orderBy(col("o_orderkey").asc)
      .limit(1000)

  val scalarDateStringSql: String =
    """SELECT o_orderkey,
      |       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
      |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
      |       CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) || '-' ||
      |         LPAD(CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR), 2, '0') AS month_key,
      |       strftime(o_orderdate, '%Y-%m-%d') AS day_key
      |FROM orders ORDER BY o_orderkey ASC LIMIT 1000""".stripMargin

  // --- §2.8 JSON extraction (reference metadata JSON schema.sql:159) ---
  def scalarJson(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt")),
      col("k").asc)

  val scalarJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS cnt
      |FROM events GROUP BY k ORDER BY k ASC NULLS FIRST""".stripMargin

  // --- §2.8 sha256 content hashing (reference dedup.go:755-758) ---
  def scalarSha256(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), sha2(col("c_name"), 256).as("name_hash"))
      .orderBy(col("c_custkey").asc)
      .limit(500)

  val scalarSha256Sql: String =
    """SELECT c_custkey, sha256(c_name) AS name_hash FROM customer
      |ORDER BY c_custkey ASC LIMIT 500""".stripMargin

  // --- §2.4 collect_list sorted (labels per message, duckdb.go:1856-1861) ---
  // The list is built as an array (collect_list + array_sort, the reference's
  // LIST(name ORDER BY name)) and serialized to a joined string at the result
  // edge — the reference does the same (list → JSON string, duckdb.go:1897),
  // and scalar output columns keep the result hashable by any downstream
  // consumer.
  def aggCollectList(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("nation_count"))
      .orderBy(col("region").asc)

  val aggCollectListSql: String =
    """SELECT r_name AS region,
      |       array_to_string(list(n_name ORDER BY n_name), ',') AS nations,
      |       COUNT(*) AS nation_count
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY region ASC""".stripMargin

  // --- §2.4 grouped stats w/ deterministic last-row pick
  // (conversation stats; reference duckdb_text.go:129-158) ---
  def aggGroupStats(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // single scan: the deterministic last-row pick is max_by over the
    // exact-ns (ts_ns, event_id) struct — same row the oracle's
    // ROW_NUMBER() OVER (ORDER BY ts DESC, event_id DESC) selects, without
    // a second scan + window + join branch
    // exchanged tail, not coalesce(1): the cached events table is
    // already clustered on user_id, so the aggregate is EXCHANGE-FREE
    // — a narrow coalesce(1) here collapsed scan+aggregate+sort into
    // ONE task (r15, graft.tools.Profile: 1 job/1 stage/1 task/0.36 s).
    // repartition(1) moves only the |users| result rows to the sort.
    orderedAtTailExchanged(ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("event_count"),
        countDistinct(col("event_type")).as("distinct_types"),
        dsum(col("value")).as("total_value"),
        max(col("ts")).cast("date").as("last_day"),
        max_by(col("event_type"),
          struct(col("ts_ns"), col("event_id"))).as("last_type")),
      col("user_id").asc)
  }

  val aggGroupStatsSql: String =
    """WITH last AS (
      |  SELECT user_id, event_type AS last_type FROM (
      |    SELECT user_id, event_type,
      |           ROW_NUMBER() OVER (PARTITION BY user_id
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT e.user_id, COUNT(*) AS event_count,
      |       COUNT(DISTINCT event_type) AS distinct_types,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       CAST(MAX(ts) AS DATE) AS last_day,
      |       ANY_VALUE(last_type) AS last_type
      |FROM events e JOIN last ON e.user_id = last.user_id
      |GROUP BY e.user_id
      |ORDER BY e.user_id ASC""".stripMargin

  // --- behavioral funnel (sequential-pattern aggregation) ---

  /** Ordered conversion funnel signup → click → purchase: per user, each
    * step's FIRST occurrence strictly after the previous step's first
    * occurrence — the sequential-pattern aggregation of product
    * analytics, which plain per-type counts cannot express (a purchase
    * before the signup must not convert).
    *
    * Three conditional-min aggregations, each keyed on user_id: every
    * groupBy and join shares the one hash partitioning, so after the
    * first exchange the chain is co-located end-to-end (and the cached
    * events table is already clustered on user_id — see Tables).
    * Step comparisons use the exact-nanosecond `ts_ns` long, so strict
    * "after" agrees with the oracle's TIMESTAMP_NS comparison at full
    * precision.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts_ns"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts_ns"))).as("t1"))
    val s2 = ev.join(s1, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "click" &&
        col("ts_ns") > col("t1"), col("ts_ns"))).as("t2"))
    val s3 = ev.join(s2, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts_ns") > col("t2"), col("ts_ns"))).as("t3"))
    s1.join(s2, Seq("user_id")).join(s3, Seq("user_id"))
      .agg(count(lit(1)).as("n_users"),
        count(col("t1")).as("n_signup"),
        count(col("t2")).as("n_click_after"),
        count(col("t3")).as("n_purchase_after"))
  }

  val eventsFunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1
      |  FROM events GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id,
      |         MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id,
      |         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |       CAST(COUNT(s1.t1) AS BIGINT) AS n_signup,
      |       CAST(COUNT(s2.t2) AS BIGINT) AS n_click_after,
      |       CAST(COUNT(s3.t3) AS BIGINT) AS n_purchase_after
      |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""".stripMargin

  /** Table profiling (the data-quality monitor of an ingest pipeline):
    * per-column row/null/distinct counts and min/max, one result row per
    * column. Shape: a UNION of per-column aggregates, each scanning ONLY
    * its column — on columnar storage k pruned scans read the same total
    * bytes as one k-column scan, so "one pass with a multi-distinct
    * Expand" is a row-store instinct that loses here: the Expand
    * formulation multiplies every row ×(k+1) before aggregating
    * (measured 0.89 s vs ~0.2 s for this union at sf0.1). min/max are
    * computed on the NATIVE type and cast to string for display
    * (string-min of a numeric column would be lexicographic — wrong).
    */
  def profileColumns(s: SparkSession, dir: String): DataFrame = {
    // Column profiling via a TWO-LEVEL aggregate per column: groupBy the
    // value (map-side combine → |distinct| pre-aggregated rows cross the
    // wire), then one tiny rollup recovers every metric — n_rows as
    // Σcount, n_nulls from the null group, n_distinct as the non-null
    // group count, min/max over the group keys (native type; the string
    // cast happens after). Measured at sf0.1 (warm cache, best-of-4):
    // 0.25 s vs 0.39 s for one countDistinct scan per column and 0.54 s
    // / 0.70 s for 2-group / 1-group countDistinct forms — the
    // countDistinct Expand replicates the corpus per distinct aggregate,
    // while this shape never materializes more than one row per distinct
    // value. Same story at 100 TB: column-pruned scans, no Expand, the
    // only shuffle is the pre-aggregated distinct-value table.
    val cols: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("l_linenumber", col("l_linenumber")),
      ("l_linestatus", col("l_linestatus")),
      ("l_suppkey", col("l_suppkey")),
      ("l_returnflag", col("l_returnflag")),
      ("l_shipdate", col("l_shipdate").cast("date")))
    orderedAtTail(cols.map { case (n, c) =>
      t(s, dir, "lineitem")
        .groupBy(c.as("__v")).agg(count(lit(1)).as("__cnt"))
        .agg(
          lit(n).as("column_name"),
          sum(col("__cnt")).as("n_rows"),
          coalesce(sum(when(col("__v").isNull, col("__cnt"))), lit(0L))
            .as("n_nulls"),
          count(when(col("__v").isNotNull, 1L)).as("n_distinct"),
          min(col("__v")).cast("string").as("min_value"),
          max(col("__v")).cast("string").as("max_value"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_.unionAll(_)), col("column_name").asc)
  }

  val profileColumnsSql: String = {
    def sel(n: String, c: String) =
      s"""SELECT '$n' AS column_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value FROM lineitem""".stripMargin
    Seq(sel("l_linenumber", "l_linenumber"),
      sel("l_linestatus", "l_linestatus"),
      sel("l_suppkey", "l_suppkey"),
      sel("l_returnflag", "l_returnflag"),
      sel("l_shipdate", "CAST(l_shipdate AS DATE)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name ASC")
  }

  /** Weekly cohort retention: users bucketed by the week of their FIRST
    * event, then counted per (cohort, week-offset) of later activity —
    * the second classic sequential-behavior aggregate next to
    * [[eventsFunnel]]. Same partitioning story: first-event agg, distinct
    * activity, and the join all key on user_id, so one exchange serves
    * the chain; the final (cohort, offset) rollup is |weeks|² rows.
    * Week arithmetic sticks to date_trunc/datediff, which both engines
    * define identically (ISO Monday weeks), and the offset division is
    * exact (Monday−Monday is always a multiple of 7).
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
    val u = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val a = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("wk")).distinct()
    // exchanged tail (see aggGroupStats): coalesce(1) would run the
    // final distinct-count aggregate over the expanded (cohort,
    // offset, user) stream on one task; only |weeks|^2 result rows
    // need the single sort partition
    orderedAtTailExchanged(a.join(u, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active")),
      col("cohort_week").asc, col("week_offset").asc)
  }

  val eventsRetentionSql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events)
      |SELECT u.cohort_week,
      |       CAST(date_diff('day', u.cohort_week, a.wk) // 7 AS BIGINT) AS week_offset,
      |       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
      |FROM a JOIN u USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week ASC, week_offset ASC""".stripMargin

  // --- §2.1 partitioned parquet sink roundtrip (ETL; build_cache.go:284-315)
  // Writes orders hive-partitioned by year with zstd, reads back, verifies
  // per-partition counts — the driver oracle recomputes them from the source.
  def etlSinkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // keyed per (session, sfDir) like every other artifact: a fixed
    // global path races across concurrent gates/benches on one host —
    // run A's lazy read-back would aggregate run B's overwrite
    val out = etlTmpPath(s, dir, "graft_etl_orders")
    t(s, dir, "orders")
      .withColumn("year", year(col("o_orderdate")))
      // co-locate rows with their output partition before the write:
      // without this every task writes a file into every year= dir —
      // tasks × years small files, the classic large-scale sink mistake.
      // The low-cardinality salt bounds files-per-dir at 4 while keeping
      // the write parallel — repartition(year) alone caps writer tasks at
      // the year count (7 tasks on 32 cores here; one giant file per
      // partition at 100 TB), the opposite sink failure mode
      .repartition(col("year"), pmod(col("o_orderkey"), lit(4)))
      .write.mode("overwrite")
      .partitionBy("year")
      .option("compression", "zstd")
      // level 1: an analytics-cache sink is write-often/scan-often, and
      // zstd-1 keeps ~95% of level-3's parquet ratio at ~2/3 the CPU
      .option("parquet.compression.codec.zstd.level", "1")
      .parquet(out)
    val back = s.read.parquet(out) // hive partition discovery is native
    orderedAtTail(
      back.groupBy(col("year").cast("int").as("year"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total_size")),
      col("year").asc)
  }

  val etlSinkRoundtripSql: String =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS year,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_size
      |FROM orders GROUP BY 1 ORDER BY year ASC""".stripMargin

  /** JSONL (gzip) sink + source roundtrip — the interchange format
    * training corpora actually ship in (CommonCrawl-style .json.gz
    * shards). Scale shape: gzip JSONL is NOT splittable, so the shard
    * count written IS the read parallelism — repartition before the
    * write to pick it (the parquet twin's year-partition lesson, in
    * file-count form). Read-back is schema-enforced PERMISSIVE: corrupt
    * lines become nulls instead of failing a 100 TB ingest, the only
    * sane contract for web-scale JSONL.
    */
  def etlJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = etlTmpPath(s, dir, "graft_etl_docs_jsonl") // see etlSinkRoundtrip
    t(s, dir, "documents")
      .repartition(8)
      .write.mode("overwrite")
      .option("compression", "gzip")
      .json(out)
    val back = s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("mode", "PERMISSIVE")
      .json(out)
    orderedAtTail(
      back.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(length(col("text"))).as("text_chars")),
      col("lang").asc)
  }

  val etlJsonlRoundtripSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |       CAST(SUM(length(text)) AS BIGINT) AS text_chars
      |FROM documents GROUP BY 1 ORDER BY lang ASC""".stripMargin

  // --- keyset (cursor) pagination — the scale path for deep paging
  // (SURVEY §7 hard-item 4): the cursor is a range predicate pushed to the
  // scan, vs OFFSET's sort-everything. Cursor literal = last row of an
  // imagined previous page.
  def paginationKeyset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-06-01").cast("timestamp") ||
        (col("o_orderdate") === lit("1995-06-01").cast("timestamp") &&
          col("o_orderkey") < 100000L))
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_day"),
        col("o_totalprice"))
      .orderBy(col("o_day").desc, col("o_orderkey").desc)
      .limit(50)

  val paginationKeysetSql: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_day, o_totalprice
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '1995-06-01'
      |   OR (o_orderdate = TIMESTAMP '1995-06-01' AND o_orderkey < 100000)
      |ORDER BY o_day DESC, o_orderkey DESC LIMIT 50""".stripMargin

  // --- approximate distinct (HLL) — the estimation pass a petabyte dedup
  // job runs before choosing a strategy. HLL sketches are engine-specific,
  // so the estimate itself can't hash-match an oracle; instead the query
  // emits the exact count plus a WITHIN-TOLERANCE boolean, and the oracle
  // asserts `true` — the gate then verifies the HLL estimate is within
  // 2.5×rsd of DuckDB's exact answer. Approx and exact run as separate
  // single-row aggregates (one agg with both would push every row through
  // an Expand, doubling scan volume) cross-joined at the end.
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // ONE scan: pre-aggregate to (key, count) — map-side combine shrinks
    // the shuffle to the distinct keys — then exact = COUNT of keys,
    // total = SUM of counts, and the HLL runs over the distinct keys
    // (duplicate-insensitive, so the estimate is identical to running it
    // over the raw rows). Folding countDistinct into a flat agg instead
    // would make Catalyst insert an Expand (measured 5× slower).
    val byKey = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("__n"))
    byKey.agg(
      // COUNT(*) semantics include a NULL-key group's rows; the distinct
      // counts (exact and HLL alike) exclude it — count(col) skips the
      // null key, matching COUNT(DISTINCT). Empty table → 0, not NULL.
      coalesce(sum(col("__n")), lit(0L)).as("total_rows"),
      count(col("l_orderkey")).as("exact_orders"),
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"))
      .select(
        col("total_rows"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double") <=
          col("exact_orders").cast("double") * 0.05).as("approx_within_5pct"))
  }

  val aggApproxDistinctSql: String =
    """SELECT COUNT(*) AS total_rows,
      |       COUNT(DISTINCT l_orderkey) AS exact_orders,
      |       true AS approx_within_5pct
      |FROM lineitem""".stripMargin

  // --- skew-mitigation: two-phase salted aggregation over a 3-key
  // (maximally skewed) grouping — identical result to the direct groupBy,
  // but a hot key spreads over 16 reducers in stage 1.
  def aggSalted(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    orderedAtTail(Skew.saltedAgg(t(s, dir, "lineitem"), col("l_returnflag"), salts = 16,
      aggs = scala.collection.immutable.ListMap(
        "cnt" -> (count(lit(1)), (c: Column) => sum(c)),
        // cents-long partials (exact; see dsum) merged then scaled once
        "sum_qty" -> (sum(round(col("l_quantity").cast("double") * 100).cast("long")),
          (c: Column) => sum(c).cast("double") / 100.0))),
      col("key").asc)
  }

  val aggSaltedSql: String =
    """SELECT l_returnflag AS key, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY key ASC""".stripMargin

  // --- §3.2 raw SQL surface (reference QuerySQL duckdb.go:188-224): the
  // user's SQL string runs verbatim over the registered views — Catalyst
  // does the whole parse→analyze→optimize→execute pipeline. The oracle runs
  // the IDENTICAL string, proving the views present the same relations.
  val sqlPassthroughSql: String =
    """SELECT n_name, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY cnt DESC, n_name ASC LIMIT 10""".stripMargin

  def sqlPassthrough(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(sqlPassthroughSql)
  }

  // --- §2.4 multidimensional aggregates -----------------------------------

  /** ROLLUP over (returnflag, linestatus): detail rows + per-flag
    * subtotals + grand total in ONE pass. Spark plans grouping sets via
    * Expand (each input row is replicated once per grouping set BEFORE
    * the shuffle, ×3 here) — still one shuffle with map-side partial
    * aggregation, vs three separate scan+shuffle passes for the naive
    * union formulation. grouping_id disambiguates NULL-as-subtotal from
    * NULL data and gives the sort a total order.
    */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("total_price")),
      col("gid").asc, col("l_returnflag").asc_nulls_first,
      col("l_linestatus").asc_nulls_first)

  val aggRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       GROUPING(l_returnflag, l_linestatus) AS gid, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
      |         l_linestatus ASC NULLS FIRST""".stripMargin

  /** PIVOT: order counts, priority rows × status columns. The status
    * values are pinned (`Seq("F","O","P")`) so Spark skips the extra
    * distinct-values job a dynamic pivot needs and the plan is a single
    * conditional aggregation — same shape the oracle spells with FILTER.
    */
  def aggPivot(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
      col("o_orderpriority").asc)

  val aggPivotSql: String =
    """SELECT o_orderpriority,
      |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority ASC""".stripMargin

  /** Quantiles per group: exact interpolated percentiles (match DuckDB's
    * quantile_cont bit-for-bit — quantity is integer-valued and quartile
    * interpolation weights are exact binary fractions, so both engines'
    * arithmetic is exact) plus the sketch path gated against them:
    * percentile_approx (mergeable bounded-memory sketch — the 100 TB
    * path; exact percentile buffers per-group values and only suits
    * bounded-cardinality columns) must land within 1% of exact, emitted
    * as `approx_ok` and asserted by the oracle's literal TRUE.
    */
  def aggQuantiles(s: SparkSession, dir: String): DataFrame =
    orderedAtTail(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("q25"),
          percentile(col("l_quantity"), lit(0.5)).as("q50"),
          percentile(col("l_quantity"), lit(0.75)).as("q75"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .as("__approx"))
        .withColumn("approx_ok",
          abs(col("__approx") - col("q50")) / col("q50") <= 0.01)
        .drop("__approx"),
      col("l_returnflag").asc)

  val aggQuantilesSql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.25) AS q25,
      |       quantile_cont(l_quantity, 0.5) AS q50,
      |       quantile_cont(l_quantity, 0.75) AS q75,
      |       TRUE AS approx_ok
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag ASC""".stripMargin

  /** Registry consumed by [[graft.SparkEntry]]. */
  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "agg_rollup" -> (aggRollup _, Some(aggRollupSql)),
    "agg_pivot" -> (aggPivot _, Some(aggPivotSql)),
    "agg_quantiles" -> (aggQuantiles _, Some(aggQuantilesSql)),
    "sql_passthrough" -> (sqlPassthrough _, Some(sqlPassthroughSql)),
    "agg_salted" -> (aggSalted _, Some(aggSaltedSql)),
    "pagination_keyset" -> (paginationKeyset _, Some(paginationKeysetSql)),
    "agg_approx_distinct" -> (aggApproxDistinct _, Some(aggApproxDistinctSql)),
    "agg_core" -> (aggCore _, Some(aggCoreSql)),
    "agg_time_buckets" -> (aggTime _, Some(aggTimeSql)),
    "agg_total_stats" -> (totalStats _, Some(totalStatsSql)),
    "agg_collect_list" -> (aggCollectList _, Some(aggCollectListSql)),
    "agg_group_stats" -> (aggGroupStats _, Some(aggGroupStatsSql)),
    "filter_time_range" -> (filterTimeRange _, Some(filterTimeRangeSql)),
    "filter_ilike" -> (filterIlike _, Some(filterIlikeSql)),
    "join_semi" -> (joinSemi _, Some(joinSemiSql)),
    "join_anti" -> (joinAnti _, Some(joinAntiSql)),
    "join_coalesce_dualpath" -> (joinCoalesce _, Some(joinCoalesceSql)),
    "window_row_number" -> (windowRowNumber _, Some(windowRowNumberSql)),
    "window_total_count" -> (windowTotalCount _, Some(windowTotalCountSql)),
    "topk" -> (topK _, Some(topKSql)),
    "pagination_offset" -> (pagination _, Some(paginationSql)),
    "paginate_then_join" -> (paginateThenJoin _, Some(paginateThenJoinSql)),
    "set_union_all" -> (setUnion _, Some(setUnionSql)),
    "set_except" -> (setExcept _, Some(setExceptSql)),
    "scalar_date_string" -> (scalarDateString _, Some(scalarDateStringSql)),
    "scalar_json" -> (scalarJson _, Some(scalarJsonSql)),
    "scalar_sha256" -> (scalarSha256 _, Some(scalarSha256Sql)),
    "etl_sink_roundtrip" -> (etlSinkRoundtrip _, Some(etlSinkRoundtripSql)),
    "etl_jsonl_roundtrip" -> (etlJsonlRoundtrip _, Some(etlJsonlRoundtripSql)),
    "events_funnel" -> (eventsFunnel _, Some(eventsFunnelSql)),
    "events_retention" -> (eventsRetention _, Some(eventsRetentionSql)),
    "profile_columns" -> (profileColumns _, Some(profileColumnsSql)))
}
