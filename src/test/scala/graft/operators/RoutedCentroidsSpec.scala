package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopCentroids

/** The two-level (routed) centroid assignment — the O(n·√nList) scale
  * path added after the r11 100× probe measured the flat assignment's
  * ~30×/decade knee (nList ∝ corpus ⇒ O(n²/b) overall) — and the whole
  * p × rProbe matrix of [[Similarity.assign]].
  */
class RoutedCentroidsSpec extends SparkTestBase {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  private def flatAssign(nList: Int) =
    Similarity.semanticAssign(emb, col("vec_id"), col("embedding"), nList)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def routed(nList: Int, rProbe: Int) =
    Similarity.assign(emb, Similarity.strideCentroids(emb, nList),
      rProbe = rProbe)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The ROUTED kernel at an explicit probe budget, in assign's output
    * form — including rProbe = nCoarse, which assign itself never routes.
    */
  private def routedKernel(nList: Int, p: Int, rProbe: Int): DataFrame = {
    val cents = Similarity.strideCentroids(emb, nList)
    val rs = Similarity.routedStructure(cents)
    emb.select(col("vec_id"), explode(TopCentroids(col("embedding"), cents,
      p, Some(TopCentroids.Routing(rs.coarse, rs.members, rProbe))))
      .as("cluster"))
  }

  test("rProbe = nCoarse reproduces the flat argmax bit-for-bit") {
    // probing every coarse group covers every member centroid, and the
    // ranking rule is the same (score desc, index desc) at both levels —
    // the proof that lets assign run the cheaper flat kernel there
    val nList = 20
    val nCoarse = math.ceil(math.sqrt(nList.toDouble)).toInt
    assert(routedKernel(nList, 1, nCoarse).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == flatAssign(nList))
    assert(routed(nList, rProbe = nCoarse) == flatAssign(nList))
  }

  test("rProbe = 4 agrees with the flat argmax on nearly every real vector") {
    // the standard IVF recall trade: only boundary vectors can route
    // away from their true cluster; on real embeddings that is a thin
    // shell (cost = a missed ε-ball pair, never a wrong pair)
    val nList = 20
    val flat = flatAssign(nList)
    val rt = routed(nList, rProbe = 4)
    assert(rt.keySet == flat.keySet)
    val agree = flat.count { case (id, c) => rt(id) == c }
    val rate = agree.toDouble / flat.size
    assert(rate >= 0.9, f"routed agreement $rate%.3f below 0.9")
  }

  test("routing is deterministic across evaluations") {
    val a = routed(20, 4)
    val b = routed(20, 4)
    assert(a == b)
  }

  test("assignRoutedMulti: rProbe = nCoarse, p = 2 bit-matches semanticAssignMulti; p = 1 matches assignRouted") {
    val nList = 20
    val nCoarse = math.ceil(math.sqrt(nList.toDouble)).toInt
    def pairs(df: DataFrame) =
      df.select(col("vec_id"), col("cluster"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val cents = Similarity.strideCentroids(emb, nList)
    val flat2 = pairs(Similarity.assign(emb, cents, p = 2))
    val rt2 = pairs(routedKernel(nList, p = 2, rProbe = nCoarse))
    assert(rt2 == flat2) // full probe covers every member; same tie rules
    // p = 1 through the same router ≡ the single-assignment routed path
    val rt1 = pairs(Similarity.assign(emb, cents, p = 1, rProbe = 4))
    assert(rt1 == routed(nList, 4).toSet)
  }

  test("IvfIndex.build(rProbe = nCoarse) reproduces the flat index; routed search matches flat at full probe") {
    val nList = 16
    val nCoarse = math.ceil(math.sqrt(nList.toDouble)).toInt
    val flatIdx = IvfIndex.build(emb, col("vec_id"), col("embedding"), nList)
    val rtIdx = IvfIndex.build(emb, col("vec_id"), col("embedding"), nList,
      rProbe = nCoarse)
    assert(rtIdx.centroids == flatIdx.centroids) // same xxhash64 draw
    def amap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(amap(rtIdx.assigned) == amap(flatIdx.assigned))
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getAs[scala.collection.Seq[Float]](0).toSeq
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flatHits = hits(IvfIndex.search(flatIdx, q, k = 10, nProbe = 12))
    assert(hits(IvfIndex.searchRouted(rtIdx, q, k = 10, nProbe = 12,
      rProbe = nCoarse)) == flatHits)
    // small rProbe probes a SUBSET of lists: every surfaced (id, score)
    // is still an exact cosine the flat search also surfaces or ranks
    val flatWide = hits(IvfIndex.search(flatIdx, q, k = 1000, nProbe = 16))
      .toMap
    val approx = hits(IvfIndex.searchRouted(flatIdx, q, k = 10, nProbe = 12,
      rProbe = 2))
    assert(approx.length <= 10)
    approx.foreach { case (id, s) => assert(flatWide(id) == s) }
  }

  test("routed expression: unfilled slots truncate; an empty probe set yields null cluster, not a sentinel") {
    import spark.implicits._
    val coarse = Array(Array(1f, 0f), Array(0f, 1f))
    val cents = coarse.map(_.toSeq).toSeq
    def routedTop(members: Array[Array[Int]], p: Int) =
      TopCentroids(col("v"), cents, p,
        Some(TopCentroids.Routing(coarse, members, 1)))
    val df = Seq(Tuple1(Seq(1f, 0.1f))).toDF("v") // nearest coarse = g0
    // synthetic empty group 0 (the expression must be safe on any
    // routing): rProbe=1 probes g0 → no candidates → EMPTY array, and
    // get() turns that into a null cluster, never a sentinel
    val empty0 = Array(Array.empty[Int], Array(0, 1))
    val r1 = df.select(routedTop(empty0, 1).as("a"),
      get(routedTop(empty0, 1), lit(0)).as("c")).collect()(0)
    assert(r1.getAs[scala.collection.Seq[Int]]("a").isEmpty)
    assert(r1.isNullAt(1))
    // in assign's output form (explode) the unassignable row is DROPPED,
    // matching the SQL replay's inner-join cardinality — it never
    // reaches a consumer as a NULL cluster
    assert(df.select(explode(routedTop(empty0, 1))).count() == 0)
    // p = 2 with only ONE member in the probed group → 1-element result
    // (no Int.MinValue sentinel for a downstream explode/join to eat)
    val oneEach = Array(Array(0), Array(1))
    val r2 = df.select(routedTop(oneEach, 2).as("a")).collect()(0)
    assert(r2.getAs[scala.collection.Seq[Int]]("a").toSeq == Seq(0))
    assert(df.select(explode(routedTop(oneEach, 2))).count() == 1)
  }

  test("semanticDupes over a routed assignment: verified pairs, bounded recall loss") {
    // recall-path sanity: every reported pair still carries an exact
    // cosine above eps (the ε-ball verify is unchanged — routing can
    // only MISS pairs or find different-but-real ones, never fabricate),
    // and the routed report keeps most of the flat one's volume
    val nList = 20
    val eps = 0.33 // the dedup_semantic oracle's threshold on this data
    val flatCount = Similarity.semanticDupes(
      Similarity.semanticAssign(emb, col("vec_id"), col("embedding"), nList),
      eps).count()
    assert(flatCount > 0, "fixture must produce pairs for the test to bite")
    val rtRows = Similarity.semanticDupes(
      Similarity.assign(emb, Similarity.strideCentroids(emb, nList),
        rProbe = 4),
      eps).collect() // once: every assertion reads the local array
    rtRows.foreach(r => assert(r.getAs[Double]("max_cosine") > eps))
    assert(rtRows.length >= (flatCount * 7) / 10,
      s"routed recall collapsed: ${rtRows.length} vs flat $flatCount")
  }

  /** (row count, first 16 hex of the MD5 over the sorted "vec_id:cluster"
    * lines) — a cell's whole relation in one comparable literal.
    */
  private def digest(rows: Seq[(Long, Int)]): (Int, String) = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.sorted.map { case (v, c) => s"$v:$c" }.mkString("\n")
        .getBytes("UTF-8"))
    (rows.length, md5.map(b => f"$b%02x").mkString.take(16))
  }

  test("assign over p × rProbe equals the retired per-cell functions; rProbe ≤ 0 or ≥ nCoarse is flat") {
    val nList = 20
    val nCoarse = math.ceil(math.sqrt(nList.toDouble)).toInt // 5
    val cents = Similarity.strideCentroids(emb, nList)
    def rows(p: Int, rProbe: Int): Seq[(Long, Int)] =
      Similarity.assign(emb, cents, p, rProbe)
        .select(col("vec_id"), col("cluster")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    // the retired functions' outputs on this corpus, one literal per
    // cell: p = 1 flat was IvfIndex.assign, p = 1 routed assignRouted,
    // p > 1 flat semanticAssignMulti, p > 1 routed assignRoutedMulti
    // (clamped rProbe ≥ nCoarse probed every group). (3, 1) is short of
    // 1500 rows: some single probed groups hold fewer than 3 members.
    val retired = Map(
      (1, 0) -> ((500, "3a2c54ca7d0b3baa")),
      (1, 1) -> ((500, "eeb91d0f671743ed")),
      (1, 2) -> ((500, "4e5337072213d4e5")),
      (1, 5) -> ((500, "3a2c54ca7d0b3baa")),
      (1, 10) -> ((500, "3a2c54ca7d0b3baa")),
      (2, 0) -> ((1000, "0eb9142301608da2")),
      (2, 1) -> ((1000, "4957fe6256402e52")),
      (2, 2) -> ((1000, "9d3240f9bcf824b4")),
      (2, 5) -> ((1000, "0eb9142301608da2")),
      (2, 10) -> ((1000, "0eb9142301608da2")),
      (3, 0) -> ((1500, "fe86525f6e2654b3")),
      (3, 1) -> ((1401, "6c0e6b83b9016012")),
      (3, 2) -> ((1500, "3bd0d9c8dbe0deb0")),
      (3, 5) -> ((1500, "fe86525f6e2654b3")),
      (3, 10) -> ((1500, "fe86525f6e2654b3")))
    // driver-side flat reference: every centroid ranked by (cosine desc,
    // index desc), the top p kept
    val vecs = emb.collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    def flatRef(p: Int): Seq[(Long, Int)] = vecs.toSeq.flatMap { case (id, v) =>
      cents.indices.sortBy(i => (-Similarity.cosineLocal(v, cents(i)), -i))
        .take(p).map(id -> _)
    }.sorted
    for (p <- 1 to 3) {
      val flat = rows(p, 0)
      assert(flat == flatRef(p), s"p=$p flat vs driver reference")
      for (rProbe <- Seq(0, 1, 2, nCoarse, nCoarse + 5)) {
        val got = if (rProbe == 0) flat else rows(p, rProbe)
        assert(digest(got) == retired((p, rProbe)), s"cell p=$p rProbe=$rProbe")
        if (rProbe <= 0 || rProbe >= nCoarse)
          assert(got == flat, s"p=$p rProbe=$rProbe must run flat")
      }
    }
    // a negative budget is a flat request too
    assert(rows(2, -1) == rows(2, 0))
  }

  test("a null embedding gets no cluster in any cell: nList 1 and 16, flat and routed") {
    // one rule for every cell: a kept row with a NULL cluster would land
    // in a cluster=__HIVE_DEFAULT_PARTITION__ list of a streamed drain,
    // and nList = 1 must not make it a member of cluster 0 either
    val withNull = emb.unionByName(spark.range(1).select(
      lit(-1L).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding")))
    val n = emb.count()
    for (nList <- Seq(1, 16); rProbe <- Seq(0, 2); p <- Seq(1, 2)
        if p <= nList) {
      val ids = Similarity.assign(withNull,
        Similarity.strideCentroids(emb, nList), p, rProbe)
        .select(col("vec_id")).collect().map(_.getLong(0))
      val cell = s"nList=$nList rProbe=$rProbe p=$p"
      assert(!ids.contains(-1L), s"$cell: null embedding was assigned")
      assert(ids.length == n * p, s"$cell: every real vector assigned p times")
    }
  }
}
