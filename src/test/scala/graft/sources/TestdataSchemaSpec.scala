package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.types._

/** Schema-drift canary for the driver-generated testdata. The round-5
  * failure mode was an out-of-band regeneration of `events.parquet` that
  * changed `ts` from TIMESTAMP(NANOS) to TIMESTAMP(µs) and broke every
  * events query at the GATE instead of at test time. This spec pins the
  * canonical column set and types every query assumes, per table, so the
  * next drift fails here with a message naming the table and column.
  *
  * Timestamp columns read straight off parquet are pinned to the datetime
  * FAMILY (TimestampType | TimestampNTZType) rather than one member: the
  * physical annotation (isAdjustedToUTC) is the driver's choice and both
  * members behave identically under the UTC session timezone — the drift
  * this canary exists to catch is a change of family (e.g. µs→ns falling
  * back to raw longs), which silently breaks arithmetic and windowing.
  * `events` is the exception: its loader NORMALIZES, so its output
  * contract is exact (`ts` TimestampType, `ts_ns` LongType).
  */
class TestdataSchemaSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private sealed trait Want { def ok(dt: DataType): Boolean; def show: String }
  private case class Exact(dt: DataType) extends Want {
    def ok(x: DataType): Boolean = x == dt
    def show: String = dt.simpleString
  }
  private case object AnyTimestamp extends Want {
    def ok(x: DataType): Boolean =
      x == TimestampType || x == TimestampNTZType
    def show: String = "timestamp|timestamp_ntz"
  }

  private def check(table: String, want: Seq[(String, Want)]): Unit = {
    val schema = Tables.load(spark, sf, table).schema
    val got = schema.fields.map(f => f.name -> f.dataType).toMap
    want.foreach { case (col, w) =>
      assert(got.contains(col),
        s"testdata drift: $table is missing column '$col' " +
          s"(has: ${schema.fieldNames.mkString(", ")})")
      assert(w.ok(got(col)),
        s"testdata drift: $table.$col is ${got(col).simpleString}, " +
          s"queries assume ${w.show}")
    }
  }

  test("region / nation dims keep their canonical schema") {
    check("region", Seq(
      "r_regionkey" -> Exact(IntegerType), "r_name" -> Exact(StringType)))
    check("nation", Seq(
      "n_nationkey" -> Exact(IntegerType), "n_name" -> Exact(StringType),
      "n_regionkey" -> Exact(IntegerType)))
  }

  test("customer / supplier / part keep their canonical schema") {
    check("customer", Seq(
      "c_custkey" -> Exact(LongType), "c_name" -> Exact(StringType),
      "c_nationkey" -> Exact(IntegerType), "c_acctbal" -> Exact(DoubleType),
      "c_mktsegment" -> Exact(StringType)))
    check("supplier", Seq(
      "s_suppkey" -> Exact(LongType), "s_nationkey" -> Exact(IntegerType),
      "s_acctbal" -> Exact(DoubleType)))
    check("part", Seq(
      "p_partkey" -> Exact(LongType), "p_brand" -> Exact(StringType),
      "p_size" -> Exact(IntegerType), "p_retailprice" -> Exact(DoubleType)))
  }

  test("orders / lineitem facts keep their canonical schema") {
    check("orders", Seq(
      "o_orderkey" -> Exact(LongType), "o_custkey" -> Exact(LongType),
      "o_orderstatus" -> Exact(StringType),
      "o_totalprice" -> Exact(DoubleType),
      "o_orderdate" -> AnyTimestamp, "o_orderpriority" -> Exact(StringType)))
    check("lineitem", Seq(
      "l_orderkey" -> Exact(LongType), "l_partkey" -> Exact(LongType),
      "l_suppkey" -> Exact(LongType), "l_linenumber" -> Exact(IntegerType),
      "l_quantity" -> Exact(DoubleType),
      "l_extendedprice" -> Exact(DoubleType),
      "l_discount" -> Exact(DoubleType), "l_tax" -> Exact(DoubleType),
      "l_returnflag" -> Exact(StringType),
      "l_linestatus" -> Exact(StringType), "l_shipdate" -> AnyTimestamp))
  }

  test("events loader normalizes to the exact canonical contract") {
    check("events", Seq(
      "event_id" -> Exact(LongType),
      "ts" -> Exact(TimestampType), // post-normalization: ALWAYS ltz µs
      "ts_ns" -> Exact(LongType), // ns-unit long for exact ordering
      "user_id" -> Exact(LongType), "event_type" -> Exact(StringType),
      "value" -> Exact(DoubleType), "props" -> Exact(StringType)))
  }

  test("legacy TIMESTAMP(NANOS) events load through the fallback branch exactly") {
    import org.apache.spark.sql.functions._
    // a REAL nanos parquet fixture (src/test/resources/events_nanos) —
    // the driver has shipped this encoding before; the values sit within
    // 128 ns of microsecond boundaries, the double-division failure class
    val dir = new java.io.File("src/test/resources/events_nanos").getAbsolutePath
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(df.schema("ts_ns").dataType.typeName == "long")
    val m = df.select(col("event_id"), col("ts_ns"),
      unix_micros(col("ts")).as("us")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m(1L) == ((1723622400000000999L, 1723622400000000L)))
    assert(m(2L) == ((1723622400000000001L, 1723622400000000L)))
    assert(m(3L) == ((1723622401999999999L, 1723622401999999L)))
    assert(m(4L) == ((1700000000123456789L, 1700000000123456L)))
    assert(m(5L) == ((1600000000000000000L, 1600000000000000L)))
  }

  test("legacy nanos load does NOT leak the nanosAsLong conf into the session") {
    import org.apache.spark.sql.functions._
    val dir = new java.io.File("src/test/resources/events_nanos").getAbsolutePath
    // force the legacy branch (idempotent — memoized per session+path)
    Tables.load(spark, dir, "events").count()
    // 1. the session conf is restored: not set (or explicitly false)
    val leaked = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong")
    assert(!leaked.contains("true"),
      s"nanosAsLong leaked into the session after a legacy load: $leaked")
    // 2. a µs-encoded parquet read AFTER the legacy load is unaffected —
    // normal timestamp family, values intact
    val micro = spark.read.parquet(s"$sf/events.parquet")
    val tsType = micro.schema("ts").dataType
    assert(tsType == TimestampType || tsType == TimestampNTZType,
      s"µs events read after legacy load got $tsType")
    assert(micro.agg(count(lit(1))).head().getLong(0) > 0)
    // 3. the PROOF the conf is truly off: a direct read of the nanos file
    // without the loader must fail again, exactly as before the load
    intercept[Exception] {
      spark.read.parquet(s"$dir/events.parquet").collect()
    }
    // 4. and the memoized legacy frame still serves reads (severed from
    // the conf-dependent scan by the eager checkpoint)
    assert(Tables.load(spark, dir, "events").count() == 5L)
  }

  test("a legacy load inside an open nanos scope keeps the scope's value; the scope's exit restores the original") {
    // a FRESH path: the legacy frame is memoized per (session, path), and
    // a memo hit would never touch the conf
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("src/test/resources/events_nanos/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    Tables.withNanosConf(spark) {
      assert(Tables.load(spark, dir, "events").count() == 5L)
      // the load's own scope nests inside this one: its exit must not
      // restore "false" under a scope that still holds the conf
      assert(spark.conf.get(key) == "true")
    }
    assert(spark.conf.get(key) == "false")
    spark.conf.unset(key)
  }

  test("nsToMicros is exact past double precision (61-bit epoch nanos)") {
    import org.apache.spark.sql.functions._
    // 1723622400000000999 ns: the double path rounds 1723622400000000.999
    // up to ...001.0 and floors into the WRONG microsecond; the decimal
    // path must truncate to ...000 exactly
    val out = spark.range(1).select(
      Tables.nsToMicros(lit(1723622400000000999L)).as("us"),
      Tables.nsToMicros(lit(1723622400000000001L)).as("us2"),
      Tables.nsToMicros(lit(999L)).as("us3")).head()
    assert(out.getLong(0) == 1723622400000000L)
    assert(out.getLong(1) == 1723622400000000L)
    assert(out.getLong(2) == 0L)
  }

  test("documents / embeddings keep their canonical schema") {
    check("documents", Seq(
      "doc_id" -> Exact(LongType), "text" -> Exact(StringType),
      "lang" -> Exact(StringType), "source" -> Exact(StringType),
      "n_chars" -> Exact(LongType)))
    check("embeddings", Seq(
      "vec_id" -> Exact(LongType),
      "embedding" -> Exact(ArrayType(FloatType)),
      "label" -> Exact(IntegerType)))
  }

  test("registerAll retries after a mid-loop failure instead of memoizing it") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // fresh session: temp views and the registerAll memo are per-session,
    // so this can't perturb the shared suite session's view catalog
    val s2 = spark.newSession()
    val dir = Files.createTempDirectory("graft_reg_retry")
    def put(n: String): Unit =
      Files.copy(Paths.get(s"$sf/$n.parquet"), dir.resolve(s"$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    Tables.names.filterNot(_ == "embeddings").foreach(put)
    intercept[Exception](Tables.registerAll(s2, dir.toString))
    assert(!s2.catalog.tableExists("embeddings"),
      "view registered despite its parquet being absent")
    // the failed call must NOT have been memoized as success: completing
    // the directory and retrying has to register the remaining views
    put("embeddings")
    Tables.registerAll(s2, dir.toString)
    Tables.names.foreach(n => assert(s2.catalog.tableExists(n),
      s"view '$n' missing after retry"))
  }

  test("events ts values are sane (epoch range, ns scale consistent)") {
    import org.apache.spark.sql.functions._
    val row = Tables.load(spark, sf, "events")
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"),
        // loader contract: ts is ts_ns truncated to µs — so the residue
        // sits in [0, 1000) ns. A µs-encoded file gives exactly 0; a
        // legacy TIMESTAMP(NANOS) file keeps its sub-µs nanos in ts_ns
        // (deliberately — exact total ordering), which is in-contract.
        min(col("ts_ns") - unix_micros(col("ts")) * 1000L).as("lo_drift"),
        max(col("ts_ns") - unix_micros(col("ts")) * 1000L).as("hi_drift"))
      .head()
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    val (loDrift, hiDrift) = (row.getLong(2), row.getLong(3))
    // events span plausible recent epochs (2000..2100) — a unit mixup
    // (s vs ms vs µs) lands orders of magnitude outside this window
    assert(lo > 946684800000000L && hi < 4102444800000000L,
      s"events.ts outside plausible epoch-µs range: [$lo, $hi]")
    assert(loDrift >= 0L && hiDrift < 1000L,
      s"ts_ns disagrees with ts beyond sub-µs residue: [$loDrift, $hiDrift] ns")
  }
}
