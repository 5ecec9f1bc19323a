package graft

import graft.queries.CoreQueries
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition

/** Physical-plan regression tests: the properties that keep queries fast at
  * 100 TB — predicate pushdown into the Parquet scan, column pruning,
  * broadcast of small dimensions, shuffle counts — asserted on the actual
  * executed plans so a refactor that silently loses them fails CI, not the
  * cluster.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectWithSubqueries { case s: FileSourceScanExec => s }

  test("filter on lineitem pushes the predicate into the Parquet scan") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_shipdate") >= "1995-01-01" && col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = scans(executed(df)).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_shipdate"), s"no shipdate pushdown in: $pushed")
    assert(pushed.contains("l_quantity"), s"no quantity pushdown in: $pushed")
  }

  test("projection prunes the scan schema to selected columns") {
    val df = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val scan = scans(executed(df)).head
    val readSchema = scan.metadata.getOrElse("ReadSchema", "")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    // a 2-column projection must not read the 16-column table
    assert(!readSchema.contains("l_comment"), s"l_comment not pruned: $readSchema")
    assert(!readSchema.contains("l_shipdate"), s"l_shipdate not pruned: $readSchema")
  }

  test("small dimension joins broadcast (no shuffle of the fact table)") {
    val li = Tables.load(spark, sf, "lineitem")
    val supp = Tables.load(spark, sf, "supplier")
    val joined = li.join(supp, li("l_suppkey") === supp("s_suppkey"))
      .groupBy(supp("s_nationkey")).agg(count(lit(1)).as("cnt"))
    // match on the rendered plan: AQE wraps finished stages in leaf
    // QueryStageExec nodes that collect* does not descend into
    val plan = executed(joined).toString
    assert(plan.contains("BroadcastHashJoin"), s"supplier join did not broadcast:\n$plan")
  }

  test("pre-aggregated top-k compiles to TakeOrderedAndProject (no global sort)") {
    val df = CoreQueries.topK(spark, sf)
    val plan = executed(df)
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"), s"orderBy+limit not top-k:\n$s")
  }

  test("aggregate over one table needs exactly one shuffle") {
    val df = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"))
    val plan = executed(df).toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"expected 1 shuffle (partial→final agg), got $shuffles:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side partial agg:\n$plan")
  }

  test("set difference dedups the probe side below the anti join") {
    // asserted on the optimized logical plan: at tiny SF the runtime
    // result is empty and AQE elides the join entirely
    val plan = CoreQueries.setExcept(spark, sf).queryExecution.optimizedPlan
    val antiJoins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType.sql == "LEFT ANTI" => j
    }
    assert(antiJoins.nonEmpty, s"no anti join:\n$plan")
    val probeDeduped = antiJoins.head.right.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(probeDeduped.nonEmpty,
      s"probe side not deduplicated below the anti join:\n$plan")
  }

  test("bucketed tables join shuffle-free (co-located SMJ)") {
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    ord.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = executed(joined.select(col("l_quantity"), col("o_totalprice"))).toString
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
  }

  test("bucketed star: message↔junction joins run shuffle-free and match the directory star") {
    import graft.engine.{CacheBuilder, Fixtures, MsgEngine, MsgVault}
    import Fixtures._
    import graft.model._
    val vlt = Fixtures.vault(spark,
      messages = (1 to 12).map(i =>
        msg(i.toLong, s"s$i", f"2024-${i % 6 + 1}%02d-10 10:00:00",
          hasAtt = i == 1, attCount = if (i == 1) 1 else 0)),
      recipients = (1 to 12).map(i => MrRow(i.toLong, (i % 2 + 1).toLong, "from", None)),
      participants = Seq(
        PRow(1, Some("a@x.com"), Some("A"), None, Some("x.com")),
        PRow(2, Some("b@y.org"), Some("B"), None, Some("y.org"))),
      attachments = Seq(AttRow(1, 1, "f.bin", "application/octet-stream", 10, "h")))
    CacheBuilder.buildBucketed(spark, vlt, db = "graft_star_test", buckets = 4)
    val bucketed = CacheBuilder.openBucketed(spark, "graft_star_test")

    // co-located SMJ: neither the fact nor the junction shuffles
    val joined = bucketed.messages.select(col("id"), col("size_estimate"))
      .join(bucketed.recipients.hint("merge"),
        col("id") === col("message_id"))
    val plan = executed(joined).toString
    assert(!plan.contains("Exchange"),
      s"bucketed message-recipients join still shuffles:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")

    // the bucketed star answers engine queries identically to fromFrames
    val viaBucketed = new MsgEngine(bucketed)
      .aggregate(ViewType.Senders).orderBy(col("key")).collect().map(_.toSeq).toSeq
    val viaFrames = new MsgEngine(vlt)
      .aggregate(ViewType.Senders).orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(viaBucketed == viaFrames)
  }

  test("salted aggregation produces the exact unsalted result") {
    import graft.operators.Skew
    import org.apache.spark.sql.Column
    val li = Tables.load(spark, sf, "lineitem")
    val salted = Skew.saltedAgg(li, col("l_returnflag"), salts = 8,
      aggs = scala.collection.immutable.ListMap(
        "cnt" -> (count(lit(1)), (c: Column) => sum(c)),
        "q" -> (sum(col("l_quantity").cast("decimal(18,2)")),
          (c: Column) => sum(c).cast("double"))))
      .orderBy(col("key")).collect()
    val direct = li.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("q"))
      .orderBy(col("key")).collect()
    assert(salted.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
  }

  test("salted join equals plain join on a skewed key") {
    import graft.operators.Skew
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plainCount = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    val salted = Skew.saltedJoin(li, ord, col("l_orderkey"), col("o_orderkey"), 8)
    assert(salted.count() == plainCount)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The runtime backstop behind the manual salting operators: when a
    // key hot enough to dwarf its siblings reaches a sort-merge join,
    // AQE's OptimizeSkewedJoin must split that partition instead of
    // letting one task process it alone — the library ships with AQE on
    // (MsgVault defaults), so this asserts the conf actually engages on
    // a skewed shape, not just that the flag is set. Thresholds are
    // lowered to make test-scale bytes qualify; the SHAPE under test
    // (median-vs-hot partition imbalance) is the production one.
    import spark.implicits._
    val pad = "x" * 200
    val skewed = spark.range(200000)
      .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id"))
        .as("k"), concat(lit(pad), col("id")).as("payload"))
    val right = spark.range(50000)
      .select(col("id").as("k"), lit("r").as("rv"))
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = skewed.join(right, Seq("k"))
      val n = joined.count()
      // hot key 0: 198000 (id%100!=0) + id=0 itself; cold keys are the
      // non-zero multiples of 100 under 50000: 499 — all matched 1:1
      assert(n == 198001 + 499)
      val plan = executed(joined).toString
      assert(plan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the SMJ (skew=true); plan:\n" +
          plan.linesIterator.take(25).mkString("\n"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("disk-backed inverted index: prefix lookup pushes down to the scan") {
    import graft.operators.InvertedIndex
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, sf, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft_fts_idx").toString
    InvertedIndex.write(InvertedIndex.build(docs, col("doc_id"),
      TextFunctions.wsTokens(col("text"))), out)
    val idx = InvertedIndex.read(spark, out)
    val ids = InvertedIndex.matchingIds(idx, Seq("spar", "win"), prefix = true)
    // the scan sits inside a finished AQE query stage (a leaf collect*
    // does not descend into) — assert on the rendered plan instead
    val plan = executed(ids).toString
    assert(plan.contains("StringStartsWith(token,spar)"),
      s"prefix predicate not pushed to parquet:\n$plan")
    // disk-backed lookup answers the same ids as the scan-path predicate
    val scanPath = docs.filter(graft.functions.Fts.prefixMatch(
      TextFunctions.wsTokens(col("text")), Seq("spar", "win")))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.collect().map(_.getLong(0)).toSet == scanPath)
  }

  test("IVF lists written partitionBy(cluster) prune to the probed lists") {
    import graft.operators.{IvfIndex, Similarity}
    val emb = Tables.load(spark, sf, "embeddings")
    val idx = IvfIndex.build(emb, col("vec_id"), col("embedding"), nList = 8)
    val out = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.writeLists(idx, out)
    val lists = spark.read.parquet(out)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getAs[scala.collection.Seq[Float]](0).toSeq
    val probed = IvfIndex.searchAssigned(lists, idx.centroids, qv, k = 5, nProbe = 2)
    val scan = scans(executed(probed)).head
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("cluster"),
      s"cluster probe not a partition filter: ${scan.metadata}")
    // probe result must agree with the in-memory index search
    val direct = IvfIndex.search(idx, qv, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaLists = probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaLists == direct)
  }

  test("year-partitioned message star prunes partitions on year filter") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    import graft.engine.{CacheBuilder, Fixtures, MsgVault}
    import Fixtures._
    val vlt = Fixtures.vault(spark,
      messages = Seq(
        msg(1, "a", "2023-06-01 10:00:00"), msg(2, "b", "2024-06-01 10:00:00"),
        msg(3, "c", "2025-06-01 10:00:00")),
      recipients = Seq(MrRow(1, 1, "from", None)),
      participants = Seq(PRow(1, Some("a@x.com"), None, None, Some("x.com"))))
    CacheBuilder.build(spark, vlt, out)
    val cached = MsgVault.open(spark, out)
    val filtered = cached.messages.filter(col("year") === 2024)
    val scan = scans(executed(filtered.select(col("id")))).head
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("year"),
      s"year filter not a partition filter: ${scan.metadata}")
    assert(filtered.count() == 1)
  }

  test("facade star through CacheBuilder.build: a one-year scan reads fewer files than the full scan") {
    import graft.engine.{CacheBuilder, MsgVault}
    import graft.queries.FacadeQueries
    // sent_at is epoch + doc_id minutes: ids 50 000 apart put about ten
    // messages in each of six years
    val star = FacadeQueries.starFromDocs(spark,
      spark.range(60).select((col("id") * 50000L).as("doc_id")))
    val out = java.nio.file.Files.createTempDirectory("graft_star_prune").toString
    CacheBuilder.build(spark, star, out)
    val messages = MsgVault.open(spark, out).messages

    /** (files the scan reads, sorted (id, year) rows). The count comes
      * off the scan's FileScanRDD partitions: its `numFiles` metric
      * reads 0 on this path. */
    def scanFiles(df: DataFrame): (Int, Seq[(Long, Int)]) = {
      val q = df.select(col("id"), col("year"))
      val rows = q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
      val files = scans(executed(q)).head.inputRDDs().head.partitions.map {
        case p: FilePartition => p.files.length
      }.sum
      (files, rows)
    }
    val (allFiles, all) = scanFiles(messages)
    val years = all.map(_._2).distinct
    assert(years.size >= 3, s"star spans too few years: $years")
    val year = years(years.size / 2)
    val (oneFiles, one) = scanFiles(messages.filter(col("year") === year))
    assert(oneFiles < allFiles, s"year $year read $oneFiles of $allFiles files")
    assert(one.nonEmpty && one == all.filter(_._2 == year))
  }

  test("binned range join plans as an equi-join, not a nested loop") {
    import spark.implicits._
    val points = (0 until 500).map(i => (i.toLong, i * 0.9)).toDF("pid", "v")
    val iv = (0 until 20).map(i => (i.toLong, i * 20.0, i * 20.0 + 35.0))
      .toDF("band", "lo", "hi")
    val naive = points.join(iv, col("v") >= col("lo") && col("v") < col("hi"))
    assert(executed(naive).toString.contains("BroadcastNestedLoopJoin"),
      "naive range predicate should nested-loop — premise of the rewrite")
    val binned = graft.operators.TemporalJoins
      .binnedRangeJoin(points, "v", iv, "lo", "hi", 25.0)
    val plan = executed(binned).toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"binned range join fell back to a nested loop:\n$plan")
    assert(plan.contains("Join"), s"no join in binned plan:\n$plan")
  }

  test("shufflePositions: corpus shuffles only on the bucket, offsets broadcast") {
    import spark.implicits._
    val df = (0L until 500L).toDF("id")
    val out = graft.operators.Sampling.shufflePositions(df, col("id"))
    val plan = executed(out).toString
    // every corpus-wide exchange keys on the 4,096-way bucket — a
    // hashpartitioning on anything else (or a range exchange) would mean
    // the global sort crept back in
    val keys = "Exchange hashpartitioning\\(([^,#]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_ == "__b"),
      s"corpus exchange not on bucket: $keys\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global range sort in shuffle-positions plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets did not broadcast:\n$plan")
  }

  test("events funnel reuses one user_id partitioning across all stages") {
    val df = CoreQueries.eventsFunnel(spark, sf)
    val plan = executed(df).toString
    val keys = "Exchange hashpartitioning\\(([^,#]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // nonEmpty guards against a plan-rendering change silently matching
    // nothing and hollowing the forall out to a vacuous pass
    assert(keys.nonEmpty && keys.forall(_ == "user_id"),
      s"funnel re-partitioned on a non-user key: $keys\n$plan")
  }

  test("quality quartiles walks the corpus exactly once (histogram reuse)") {
    val df = graft.queries.PipelineQueries.qualityQuartiles(spark, sf)
    val plan = executed(df).toString
    // the regex-heavy score feeds a (score, freq) histogram whose exchange
    // both the percentile subtree and the bucket rollup reuse — a second
    // FileScan means the corpus is being re-walked for the thresholds
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans == 1, s"expected 1 corpus scan, got $nScans:\n$plan")
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
      || plan.contains("TableCacheQueryStage"),
      s"histogram not reused across subtrees:\n$plan")
  }

  test("winnowPairs scans the corpus exactly once") {
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.operators.Dedup.winnowPairs(docs, col("doc_id"), col("text"))
    // AQE buries finished stages in QueryStageExec leaves collect* does
    // not descend into — count scans on the rendered tree
    val plan = executed(df).toString
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans == 1, s"winnow should be one corpus scan, got $nScans:\n$plan")
  }

  test("simhash and winnow signatures are evaluated once per executed plan") {
    // a filter on the signature's alias (`simhash IS NOT NULL`) is
    // pushed below the spread as a SECOND evaluation of the expression
    val docs = Tables.load(spark, sf, "documents")
    Seq(
      "simhash64(" -> queries.DocQueries.dedupSimhash(spark, sf),
      "simhash60_md5(" -> queries.DocQueries.dedupSimhashMd5(spark, sf),
      "simhash60_md5(" -> queries.DocQueries.dedupSimhashPairs(spark, sf),
      "winnow_fingerprints(" -> graft.operators.Dedup.winnowPairs(docs,
        col("doc_id"), col("text")))
      .foreach { case (fn, df) =>
        val plan = executed(df).toString
        val n = java.util.regex.Pattern.quote(fn).r.findAllIn(plan).size
        assert(n == 1, s"$fn evaluated $n times:\n$plan")
      }
  }

  test("simhashPairs: one corpus scan, no join — sigs ride the band shuffle") {
    val docs = Tables.load(spark, sf, "documents")
    val sigs = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TextExpressions.simhash60Md5(
        graft.functions.TextFunctions.rawTokens(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)
    val df = graft.operators.Dedup.simhashPairs(sigs)
    val plan = executed(df).toString
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans == 1, s"expected 1 corpus scan, got $nScans:\n$plan")
    // the signature rides the shuffle — a Join or BroadcastExchange here
    // would mean the O(corpus)-memory join-back formulation crept back
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      s"simhash verify should be inline, not a join:\n$plan")
  }

  test("semantic dedup: hash shuffles only — no range exchange, no window") {
    val emb = Tables.load(spark, sf, "embeddings")
    import graft.operators.Similarity
    val df = Similarity.semanticDupes(Similarity.semanticAssign(emb,
      col("vec_id"), col("embedding"), nList = 8), eps = 0.33,
      clusterHint = 8)
    val plan = executed(df).toString
    // assignment is a pure projection and the pair stage keys on cluster;
    // a range exchange or window here would mean a global-order stage
    // crept into what must stay an embarrassingly-parallel pipeline
    assert(!plan.contains("Exchange rangepartitioning"),
      s"semantic dedup must not range-partition:\n$plan")
    assert(!plan.contains("Window"),
      s"semantic dedup must not use a window:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 3,
      s"expected <=3 hash shuffles (join sides + final agg), got $shuffles:\n$plan")
  }

  test("approx-distinct is ONE corpus scan (exact+total+HLL off the key pre-agg)") {
    val df = CoreQueries.aggApproxDistinct(spark, sf)
    val plan = executed(df).toString
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans == 1, s"expected 1 lineitem scan, got $nScans:\n$plan")
    // the flat-agg formulation would surface as an Expand (row ×(k+1))
    assert(!plan.contains("Expand"), s"Expand crept back:\n$plan")
  }

  test("agg_group_stats is ONE events scan (max_by last-pick, no window branch)") {
    val df = CoreQueries.aggGroupStats(spark, sf)
    val plan = executed(df).toString
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans == 1, s"expected 1 events scan, got $nScans:\n$plan")
    // the row_number formulation would re-surface as a Window + self-join
    assert(!plan.contains("Window"), s"window branch crept back:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"self-join crept back:\n$plan")
  }

  test("boilerplate coverage: flagged set broadcasts, corpus never hash-shuffled") {
    val df = graft.queries.PipelineQueries.boilerplateNgrams(spark, sf)
    val plan = executed(df).toString
    // the flagged set is bounded by avg_doc_len/threshold regardless of
    // corpus size — it must reach the occurrence stream as a broadcast,
    // not drag the exploded corpus through a sort-merge join
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate set did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"exploded corpus shuffled into an SMJ:\n$plan")
  }

  test("embed_outliers: centroids broadcast, corpus aggregated on one key") {
    val df = graft.queries.EmbedQueries.embedOutliers(spark, sf)
    val plan = executed(df).toString
    // |labels| centroid arrays join back by broadcast at any corpus size
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled into the centroid join:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a global sort crept into the outlier report:\n$plan")
  }

  test("knn_graph: WindowGroupLimit prunes the pair stream before the rank window") {
    val df = graft.queries.EmbedQueries.knnGraph(spark, sf)
    val plan = executed(df).toString
    // without the group-limit pushdown, the window exchange would carry
    // the full quadratic within-cluster pair stream instead of ≤ k·n rows
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed below the window:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a global sort crept into the graph build:\n$plan")
  }

  test("vector_knn_adc: re-rank is a pushed-down IN point lookup, no join, no shuffle") {
    val df = graft.queries.EmbedQueries.vectorKnnAdc(spark, sf)
    val exec = executed(df)
    val plan = exec.toString
    // the candidate ids re-enter the float scan as a pushed-down IN
    // filter — true point lookups; a broadcast-join re-rank would stream
    // the ENTIRE wide corpus past the probe and forfeit the bandwidth
    // the codes scan saved
    val pushed = scans(exec).map(_.metadata.getOrElse("PushedFilters", ""))
    assert(pushed.exists(_.contains("In(vec_id")),
      s"candidate ids not pushed into the scan: $pushed\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"re-rank not a top-k stage:\n$plan")
    assert(!plan.contains("Join"), s"ADC re-rank must not join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"ADC search must not shuffle the corpus:\n$plan")
  }

  test("sample_importance: ratio table broadcasts, exploded corpus never does") {
    val df = graft.queries.PipelineQueries.sampleImportance(spark, sf)
    val plan = executed(df).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio table did not broadcast:\n$plan")
    // AQE's test-scale stats would happily broadcast the exploded token
    // stream (Generate side) — right locally, impossible at 100 TB; the
    // build side must stay the vocab-sized ratio table
    val broadcastSubtrees = executed(df).collectWithSubqueries {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcastSubtrees.forall(b =>
      b.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty),
      s"exploded corpus landed on the broadcast side:\n$plan")
  }

  test("as-of join is one shuffle per side + one window, no join operator") {
    import spark.implicits._
    val l = (0 until 100).map(i => (i.toLong % 7, i.toLong, s"e$i"))
      .toDF("k", "t", "tag")
    val r = (0 until 50).map(i => (i.toLong % 7, i * 2L, i * 0.5))
      .toDF("k", "rt", "v")
    val df = graft.operators.TemporalJoins
      .asofJoinBackward(l, r, "k", "t", "rt", Seq("v"))
    val plan = executed(df).toString
    // the merge formulation must not degenerate into an actual join
    assert(!plan.contains("Join"), s"as-of should be union+window:\n$plan")
    assert(plan.contains("Window"), s"no window in as-of plan:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"as-of shuffled more than the two inputs:\n$plan")
  }

  test("per-doc query results carry NO single-partition exchange (100× gate)") {
    // The old result edge (`repartition(1)+sort`) funneled every
    // O(corpus)-row output through ONE task — invisible at sf0.1, the
    // plan you wouldn't want at 100×. These queries now end in the
    // bucketOrdered contract (32-way hash repartition steered by
    // fixed-point labels + in-partition sort; see BucketOrderSpec), so
    // their executed plans must contain neither a SinglePartition
    // exchange nor a 1-way coalesce.
    val perDoc: Seq[(String, DataFrame)] = Seq(
      "text_token_count" -> queries.DocQueries.textTokenCount(spark, sf),
      "text_quality" -> queries.DocQueries.textQuality(spark, sf),
      "text_lang_id" -> queries.DocQueries.textLangId(spark, sf),
      "dedup_simhash_md5" -> queries.DocQueries.dedupSimhashMd5(spark, sf),
      "vector_quantize_int8" -> queries.DocQueries.vectorQuantizeInt8(spark, sf),
      "multimodal_meta" -> queries.DocQueries.multimodalMeta(spark, sf),
      "quality_classifier" -> queries.DocQueries.qualityClassifier(spark, sf),
      "text_pii_redact" -> queries.PipelineQueries.textPiiRedact(spark, sf),
      "join_semi" -> CoreQueries.joinSemi(spark, sf),
      "join_asof" -> queries.TemporalQueries.joinAsof(spark, sf),
      "msg_dedup_scan" -> queries.MessageDedupQueries.dedupScan(spark, sf))
    perDoc.foreach { case (name, df) =>
      val plan = executed(df).toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name funnels its per-doc output through one task:\n$plan")
      assert(!"Coalesce 1\\b".r.findFirstIn(plan).isDefined,
        s"$name coalesces its per-doc output to one partition:\n$plan")
      assert(df.rdd.getNumPartitions > 1,
        s"$name result is single-partition")
    }
    // sample_shuffle is the one per-doc query with a LEGITIMATE
    // SinglePartition exchange: its offsets branch windows a 4,096-row
    // bucket-count aggregate (bounded by construction — see the
    // shufflePositions plan test above). Its RESULT edge must still be
    // bucket-parallel:
    val ss = queries.PipelineQueries.sampleShuffle(spark, sf)
    ss.collect()
    assert(ss.rdd.getNumPartitions > 1, "sample_shuffle result edge is single-partition")
  }

  test("deletion-staging member lookup prunes to one manifest partition") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_plan_del").toString
    def cand(n: Int) = (1 to n).map(i => (s"g-$i", i.toLong % 2, "gmail",
      100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("gmail_id", "source_id", "source_type", "size_estimate", "sent_at")
    graft.operators.DeletionStaging.stage(spark, base, "m1", "a", cand(5))
    graft.operators.DeletionStaging.stage(spark, base, "m2", "b", cand(7))
    val df = graft.operators.DeletionStaging.members(spark, base, "m1")
    val scan = scans(executed(df)).head
    // partition filter on manifest_id → only m1's files are read
    assert(scan.relation.location.inputFiles
      .forall(_.contains("manifest_id=m1")) ||
      scan.metadata.getOrElse("PartitionFilters", "").contains("manifest_id"),
      s"member read not partition-pruned: ${scan.metadata}")
    assert(df.count() == 5)
  }

  test("facade page enrichment broadcasts the page-id set into the junction semi-joins") {
    // The paginate-before-join contract's physical half: a LIMIT-bounded
    // page must probe the recipients/labels junctions via BROADCAST
    // semi-joins — the checkpointed page carries no size statistics, so
    // without the explicit broadcast() the planner's default ("huge")
    // would silently shuffle the full junction tables per page fetch,
    // making page latency scale with archive size instead of page size.
    // AQE off for the audit: completed stages print as leaf
    // QueryStageExec references, hiding the joins this test pins
    val aqe = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(aqe)
    try {
      spark.conf.set(aqe, "false")
      val df = SparkEntry.queries("search_fast")(spark, sf)
      val plan = executed(df)
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val semis = plan.collectWithSubqueries {
        case j: BroadcastHashJoinExec if j.joinType.toString == "LeftSemi" => j
      }
      assert(semis.size >= 2,
        s"expected >=2 broadcast semi-joins (recipients, labels), got " +
          s"${semis.size}:\n$plan")
      val rendered = plan.toString
      assert(!rendered.contains("SortMergeJoin"),
        s"a page-sized enrichment must not sort-merge anything:\n$rendered")
    } finally spark.conf.set(aqe, prior)
  }

  test("attachment zip manifest shuffles only on the filename window") {
    import spark.implicits._
    val h = "d" * 64
    val att = (1 to 200).map(i => (i.toLong, s"f${i % 9}.pdf", h, 10L))
      .toDF("id", "fn", "hash", "sz")
    val df = graft.operators.Export.attachmentZipManifest(att, col("id"),
      col("fn"), col("hash"), col("sz"))
    val plan = executed(df).toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"expected exactly the per-name window shuffle, got $shuffles:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"), s"single-task stage:\n$plan")
  }

  test("pack assembly: corpus shuffles only on the doc_id join and pack_id") {
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.operators.Packing.packFrame(docs, col("doc_id"),
      split(col("text"), " "), seqLen = 512)
    val plan = executed(df).toString
    // the placement's internal range partition sits BEHIND its snapshot
    // (LogicalRDD) — the assembly itself must add no global-order stage
    // and no single-task funnel at any corpus size
    assert(!plan.contains("Exchange rangepartitioning"),
      s"range exchange in pack assembly:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-task stage in pack assembly:\n$plan")
    val keys = "Exchange hashpartitioning\\(([^,#]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("doc_id", "pack_id")),
      s"unexpected shuffle keys $keys:\n$plan")
    assert(keys.contains("pack_id"),
      s"pack aggregate did not shuffle on pack_id: $keys\n$plan")
  }

  test("nearDuplicates runs the MinHash pass once: one signature, one pair distinct") {
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.operators.Dedup.nearDuplicates(docs, col("doc_id"),
      col("text"))
    val plan = executed(df).toString
    // the candidate set is referenced once (the verify spine); the two
    // shingle sides read the corpus without it, so neither the MinHash
    // pass nor the pair distinct behind it may be planned again
    val sigs = "minhash_signature\\(".r.findAllIn(plan).size
    assert(sigs == 1, s"expected one MinHash pass, got $sigs:\n$plan")
    val pairDistincts = "Exchange hashpartitioning\\(id_a#\\d+L?, id_b#".r
      .findAllIn(plan).size
    assert(pairDistincts <= 1,
      s"expected at most one pair-distinct exchange, got $pairDistincts:\n$plan")
  }

  test("BPE apply is one narrow pass: no exchange, join or checkpoint") {
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.operators.BpeVocab.applyMerges(docs, col("doc_id"),
      col("text"), Seq("e s", "t h"))
    val plan = executed(df).toString
    // split → explode → explode(bpe_subwords): any exchange, join or
    // snapshot (an RDD scan of a localCheckpoint) means the distinct
    // vocab map and its join-back crept back in
    assert(!plan.contains("Exchange"), s"exchange in BPE apply:\n$plan")
    assert(!plan.contains("Join"), s"join in BPE apply:\n$plan")
    assert(!plan.contains("ExistingRDD") && !plan.contains("LogicalRDD"),
      s"materialized snapshot in BPE apply:\n$plan")
    assert(plan.contains("bpe_subwords("), s"no compiled rewrite:\n$plan")
  }
}
