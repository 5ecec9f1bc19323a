package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[graft.queries.memoizedIndex]] invalidation on corpus change — the
  * reference's persistent indexes (FTS5, vec0) are rebuilt when the
  * store content changes (vector backend.go fingerprints its input);
  * a memo keyed only by (session, dir) would serve stale postings or
  * centroids to a long-lived session after the corpus under the same
  * path is rewritten in place.
  */
class MemoInvalidationSpec extends SparkTestBase {

  test("memoizedIndex rebuilds when the corpus dir content changes") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_memo_fp").toString
    Files.write(Paths.get(dir, "t.parquet"), "v1-bytes".getBytes("UTF-8"))

    var builds = 0
    def lookup(): DataFrame =
      memoizedIndex[DataFrame](spark, dir, "spec_artifact") {
        builds += 1
        val df = spark.range(builds).toDF("n").persist(StorageLevel.MEMORY_ONLY)
        df.count()
        df
      }

    val first = lookup()
    assert(builds == 1)
    // unchanged listing → memo hit, no rebuild
    assert(lookup() eq first)
    assert(builds == 1)

    // rewrite in place (different length so the (path, size, mtime)
    // fingerprint changes even within one mtime tick)
    Files.write(Paths.get(dir, "t.parquet"), "v2-bytes-longer".getBytes("UTF-8"))
    val second = lookup()
    assert(builds == 2, "a rewritten corpus must mint a fresh artifact")
    assert(second ne first)
    // the superseded artifact must not pin its persisted frames for the
    // session's lifetime
    assert(first.storageLevel == StorageLevel.NONE,
      "stale artifact's persisted frames must be released on eviction")
    assert(second.storageLevel != StorageLevel.NONE)

    // a NEW file is a change too (ingest appended a shard)
    Files.write(Paths.get(dir, "t2.parquet"), "extra".getBytes("UTF-8"))
    lookup()
    assert(builds == 3)
  }

  test("memo eviction releases ONLY the artifact, never nested localCheckpoint bases") {
    // the r11 concurrent-engines soak bug: a release that walked the
    // evicted artifact's whole analyzed plan unpersisted every
    // LogicalRDD in it — including localCheckpointed frames the artifact
    // was BUILT ON, which have no lineage to recompute from. One eviction
    // then killed every later query over the base
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_memo_root").toString
    Files.write(Paths.get(dir, "t.parquet"), "v1".getBytes("UTF-8"))
    val base = spark.range(20).toDF("n").localCheckpoint(true)

    var builds = 0
    def lookup(): DataFrame =
      memoizedIndex[DataFrame](spark, dir, "spec_root_only") {
        builds += 1
        // distinct plan per build (see the grace test): no CacheManager
        // key collision between the evicted and the fresh artifact
        val df = base.filter(lit(builds) === lit(builds)).limit(2 + builds)
          .persist(StorageLevel.MEMORY_ONLY)
        df.count()
        df
      }

    val first = lookup()
    Files.write(Paths.get(dir, "t.parquet"), "v2-longer".getBytes("UTF-8"))
    val second = lookup()
    assert(second ne first)
    assert(first.storageLevel == StorageLevel.NONE,
      "the evicted artifact itself must be released")
    assert(base.count() === 20,
      "nested localCheckpoint base must survive a memo eviction")
    second.unpersist()
    base.unpersist()
  }

  test("evicting a memoized engine releases its checkpoint blocks and search cache") {
    // The facade engine pins state a DataFrame walk can't see:
    // localCheckpointed star frames (RDD-level blocks, outside the
    // CacheManager) and persisted search match sets. Eviction must go
    // through MsgEngine.releaseCaches or those blocks stay pinned for
    // the session's lifetime.
    import java.nio.file.{Files, Paths}
    import graft.engine.{Fixtures, MsgEngine}
    import graft.model.MessageFilter
    val dir = Files.createTempDirectory("graft_memo_eng").toString
    Files.write(Paths.get(dir, "t.parquet"), "v1".getBytes("UTF-8"))

    def build(): MsgEngine = {
      val v = Fixtures.vault(spark,
        messages = Seq(Fixtures.msg(1, "hello world", "2024-01-15 10:00:00")),
        recipients = Seq(Fixtures.MrRow(1, 1, "from", None)),
        participants = Seq(Fixtures.PRow(1, Some("a@x.com"), None, None, Some("x.com"))))
      new MsgEngine(v.copy(messages = v.messages.localCheckpoint(true)))
    }
    def lookup(): MsgEngine =
      memoizedIndex[MsgEngine](spark, dir, "spec_engine")(build())

    val eng1 = lookup()
    val matches = eng1.searchFastWithStats("hello", MessageFilter()).matches
    assert(matches.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val ckptIds = eng1.vault.messages.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(ckptIds.nonEmpty)
    assert(ckptIds.forall(spark.sparkContext.getPersistentRDDs.contains))

    Files.write(Paths.get(dir, "t.parquet"), "v2-longer".getBytes("UTF-8"))
    val eng2 = lookup()
    assert(eng2 ne eng1)
    assert(matches.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "superseded engine's search cache must be unpersisted on eviction")
    assert(!ckptIds.exists(spark.sparkContext.getPersistentRDDs.contains),
      "superseded engine's checkpoint blocks must be released on eviction")
    eng2.releaseCaches() // cleanup for other suites
  }

  test("releaseGraceMs defers eviction release for in-flight readers") {
    // With a grace window, a superseded artifact's blocks must SURVIVE
    // the eviction (an in-flight query may still be reading them) and be
    // released only once the grace elapses and the memo sees activity.
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_memo_grace").toString
    Files.write(Paths.get(dir, "t.parquet"), "v1".getBytes("UTF-8"))

    // distinct plan per build: the CacheManager keys caches by logical
    // plan, so two identical range(5) builds would share ONE cache entry
    // and releasing the first would evict the second (a fixture artifact
    // — real rebuilds read a changed corpus and never plan-collide)
    var builds = 0
    def lookup(): DataFrame =
      memoizedIndex[DataFrame](spark, dir, "spec_grace") {
        builds += 1
        val df = spark.range(5 + builds).toDF("n")
          .persist(StorageLevel.MEMORY_ONLY)
        df.count()
        df
      }

    try {
      spark.conf.set("spark.graft.memo.releaseGraceMs", "400")
      val first = lookup()
      Files.write(Paths.get(dir, "t.parquet"), "v2-longer".getBytes("UTF-8"))
      val second = lookup()
      assert(second ne first)
      assert(first.storageLevel != StorageLevel.NONE,
        "inside the grace the superseded artifact must stay readable")
      Thread.sleep(600)
      lookup() // any memo activity drains the retire queue
      assert(first.storageLevel == StorageLevel.NONE,
        "after the grace the superseded artifact must be released")
      assert(second.storageLevel != StorageLevel.NONE)
    } finally spark.conf.unset("spark.graft.memo.releaseGraceMs")
  }

  test("dropMemo releases only its session's entries, and the next lookup rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_drop").toString
    val other = spark.newSession()
    var builds = 0
    def lookup(s: org.apache.spark.sql.SparkSession): DataFrame =
      memoizedIndex[DataFrame](s, dir, "spec_drop") {
        builds += 1
        val df = s.range(20 + builds).toDF("n").persist(StorageLevel.MEMORY_ONLY)
        df.count()
        df
      }
    val first = lookup(other)
    val kept = lookup(spark)
    assert(builds == 2)
    assert(dropMemo(other) == 1)
    assert(first.storageLevel == StorageLevel.NONE,
      "a dropped artifact's persisted frames must be released")
    assert(kept.storageLevel != StorageLevel.NONE)
    assert(lookup(other) ne first)
    assert(builds == 3)
    assert(lookup(spark) eq kept)
    assert(dropMemo(other) == 1)
    kept.unpersist()
  }

  test("indexed FTS search returns fresh results after an in-place corpus rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_fts").toString
    def doc(i: Long, text: String) = (i, text, "en")
    val v1 = Seq(
      doc(1L, "spark window functions"),
      doc(2L, "sparse wines"),
      doc(3L, "nothing relevant"),
      doc(4L, "sparring winners"))
      .toDF("doc_id", "text", "lang")
    v1.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def run(): Set[Long] =
      graft.queries.SearchQueries.ftsIndexedSearch(spark, dir)
        .select("doc_id").as[Long].collect().toSet

    assert(run() == Set(1L, 2L, 4L)) // prefix AND of "spar" + "win"
    // corpus rewritten under the SAME path: doc 4 gone, doc 5 new
    Seq(doc(1L, "spark window functions"), doc(5L, "sparkly winter"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(run() == Set(1L, 5L),
      "a rewritten corpus must not be served from the stale inverted index")
  }
}
