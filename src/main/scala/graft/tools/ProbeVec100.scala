package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Embed, IvfIndex, Similarity}
import graft.sources.Tables

/** Dev tool: 100× growth probe for the VECTOR family — the four operators
  * whose BASELINE scale rows extrapolated from 10×/20× measurements
  * through r10 (semantic assignment + dupes, knn_graph, IVF build+search,
  * int8 ADC). 100× of sf0.1 embeddings = 200k × 64-dim float ≈ 51 MB.
  *
  * Replication transform: copy i applies a per-(copy, dimension) SIGN
  * FLIP (murmur3(copy, dim) parity) — a diagonal orthogonal matrix, so
  * every within-copy inner product (hence every cosine, cluster, dup
  * pair, neighbor rank) is EXACTLY the 1× corpus's, while cross-copy
  * cosines scramble toward 0. Duplicate/cluster pressure per decade is
  * constant — the same honest growth axis as Probe100's bijective token
  * renaming, in vector space.
  *
  * The interesting knob is nList ∝ corpus (mean cluster size held at
  * ~[[clusterBudget]]): the SemDeDup/knn_graph pair stages are quadratic
  * within a cluster, so holding the mean size flat is the documented
  * contract — but it makes flat ASSIGNMENT cost O(n·nList) = O(n²/b),
  * which is exactly the kind of knee this probe exists to measure (the
  * 10×/20× legs were overhead-bound and could not see it).
  *
  * Usage: runMain graft.tools.ProbeVec100 [sfDir] [maxFactor]
  * Prints one line per (op, factor) plus per-decade growth ratios.
  */
object ProbeVec100 {
  private val clusterBudget = 100 // target mean cluster size (n / nList)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxFactor = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.Session.oracle("spark.driver.maxResultSize" -> "4g")
    spark.sparkContext.setLogLevel("ERROR")

    val emb1 = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n1 = emb1.count()
    val query: Seq[Float] = emb1.orderBy(col("vec_id").asc).limit(1)
      .collect()(0).getAs[scala.collection.Seq[Float]]("embedding").toSeq

    def replicate(factor: Int): DataFrame =
      if (factor == 1) emb1
      else spark.range(factor).crossJoin(emb1)
        .select(
          (col("id") * n1 * 10 + col("vec_id")).as("vec_id"),
          transform(col("embedding"),
            (x, j) => when(pmod(hash(col("id"), j), lit(2)) === 0, x)
              .otherwise(-x)).as("embedding"))

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val factors = Seq(1, 10, 100).filter(_ <= maxFactor)
    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    def record(name: String, factor: Int, sec: Double, note: String): Unit = {
      results((name, factor)) = sec
      println(f"[probevec100] $name%-18s ${factor}%4dx ${sec}%8.2f s  ($note)")
    }

    // warm once at 1× (codegen + catalog + JIT)
    {
      val a = Similarity.semanticAssign(emb1, col("vec_id"),
        col("embedding"), math.max(16, (n1 / clusterBudget).toInt))
      a.count(); Similarity.semanticDupes(a, 0.95).count()
      Similarity.knnGraph(a, 10).count()
      val idx = IvfIndex.build(emb1, col("vec_id"), col("embedding"), 16)
      IvfIndex.search(idx, query, 10, 1).count()
      val codes = Embed.quantizeInt8(emb1, col("vec_id"), col("embedding"))
        .select(col("id").as("vec_id"),
          transform(col("codes"), _.cast("byte")).as("codes"))
      Similarity.adcKnn(codes, emb1, col("vec_id"), col("embedding"),
        query, 10, 200).count()
    }

    factors.foreach { factor =>
      val d = replicate(factor)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = d.count()
      val nList = math.max(16, (n / clusterBudget).toInt)
      println(s"[probevec100] factor=$factor rows=$n nList=$nList")

      // -- semantic assignment (the SemDeDup/knn build half; nList ∝ n)
      val (tAssign, assigned) = time {
        val a = Similarity.semanticAssign(d, col("vec_id"),
          col("embedding"), nList)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        a.count()
        a
      }
      record("semantic_assign", factor, tAssign, s"nList=$nList")

      // -- routed (two-level) assignment — the O(n·√nList) fix for the
      //    flat path's measured 34×/decade knee.
      //    FORCING NOTE (r13): these comparison legs must aggregate over
      //    the cluster column — a bare count() lets Catalyst prune the
      //    assignment expression away entirely (the r12-written legs
      //    timed a no-op: ivf_build_flat read 0.21 s at 100× while the
      //    materialized flat assignment read 18.1 s for the same work).
      def forceAssigned(df: DataFrame): Long =
        df.agg(count(col("cluster"))).head().getLong(0)
      val (tRouted, nRouted) = time {
        forceAssigned(Similarity.semanticAssignHierarchical(d, col("vec_id"),
          col("embedding"), nList))
      }
      record("semantic_assign_rt", factor, tRouted, s"routed rProbe=4, n=$nRouted")

      // -- within-cluster ε-ball dup report (quadratic within a list)
      val (tDupes, nDupes) =
        time(Similarity.semanticDupes(assigned, 0.95).count())
      record("semantic_dupes", factor, tDupes, s"dups=$nDupes")

      // -- knn graph (same pair stage + WindowGroupLimit top-k)
      val (tKnn, nKnn) = time(Similarity.knnGraph(assigned, 10).count())
      record("knn_graph", factor, tKnn, s"edges=$nKnn")

      // -- IVF build (xxhash64 centroid stride + assignment)
      val (tBuild, idx) =
        time(IvfIndex.build(d, col("vec_id"), col("embedding"), nList))
      val na = idx.assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .count()
      record("ivf_build", factor, tBuild, s"assigned=$na (lazy half)")

      // -- r12 rollout legs: the routed fix applied to the BUILD path.
      //    Apples-to-apples full builds (centroid draw + materialized
      //    assignment); flat is the O(n·nList) knee ProbeVec100 found at
      //    r11, routed is the O(n·rProbe·√nList) replacement.
      val (tBuildFlat, _) = time {
        forceAssigned(
          IvfIndex.build(d, col("vec_id"), col("embedding"), nList).assigned)
      }
      record("ivf_build_flat", factor, tBuildFlat, "flat draw+assign")
      val (tBuildRt, _) = time {
        forceAssigned(IvfIndex.build(d, col("vec_id"), col("embedding"),
          nList, rProbe = 4).assigned)
      }
      record("ivf_build_rt", factor, tBuildRt, "routed rProbe=4 draw+assign")

      // -- knnGraph's build side: top-p multi-assignment, flat vs routed
      val (tMulti, nMulti) = time(Similarity.semanticAssignMulti(
        d, col("vec_id"), col("embedding"), nList, p = 2).count())
      record("assign_multi_p2", factor, tMulti, s"rows=$nMulti")
      val (tMultiRt, nMultiRt) = time(Similarity.semanticAssignMultiRouted(
        d, col("vec_id"), col("embedding"), nList, p = 2, rProbe = 4).count())
      record("assign_multi_p2_rt", factor, tMultiRt, s"rows=$nMultiRt")

      // -- IVF search: probed fraction held at nProbe/nList = 1/16, so
      //    probed ROWS grow linearly — 8 queries for a measurable read
      val nProbe = math.max(1, nList / 16)
      val (tSearch, _) = time {
        (0 until 8).foreach { i =>
          val q = query.updated(0, query.head + i * 0.001f)
          IvfIndex.search(idx, q, 10, nProbe).count()
        }
      }
      record("ivf_search_x8", factor, tSearch, s"nProbe=$nProbe")
      idx.assigned.unpersist()

      // -- int8 quantize (linear scan) + ADC search (codes scan + k-page)
      val (tQuant, codes) = time {
        val c = Embed.quantizeInt8(d, col("vec_id"), col("embedding"))
          .select(col("id").as("vec_id"),
            transform(col("codes"), _.cast("byte")).as("codes"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.count()
        c
      }
      record("quantize_int8", factor, tQuant, "codes built")
      val (tAdc, _) = time(Similarity.adcKnn(codes, d, col("vec_id"),
        col("embedding"), query, 10, 200).count())
      record("adc_knn", factor, tAdc, "cand=200")
      codes.unpersist()

      assigned.unpersist()
      if (factor > 1) d.unpersist()
    }

    // -- ivf_search's OTHER knee: driver-side probe RANKING is O(nList)
    //    cosines per query (fine at 2k lists, ~1M is the wall). Pure
    //    driver microbench, flat vs routed-with-PREPARED-structure
    //    (Index.routing builds once per index) — the data behind the
    //    BASELINE crossover note. Arg 3 "nocross" skips (~12 min, all
    //    driver-side — no reason to re-pay it when only the Spark legs
    //    changed).
    if (!args.lift(2).contains("nocross")) {
      val rnd = new scala.util.Random(7)
      val dim = 64
      for (nl <- Seq(2000, 20000, 200000)) {
        val cents: Seq[Seq[Float]] =
          Seq.fill(nl)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
        val q: Seq[Float] = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
        val reps = 20
        val (tFlat, _) = time {
          var i = 0
          while (i < reps) {
            cents.zipWithIndex
              .sortBy { case (c, j) => (-Similarity.cosineLocal(c, q), -j) }
              .take(16)
            i += 1
          }
        }
        val (tPrep, rs) = time(Similarity.routedStructure(cents))
        val (tRouted, _) = time {
          var i = 0
          while (i < reps) {
            val groups = rs.coarse.indices
              .sortBy(g =>
                (-Similarity.cosineLocal(rs.coarse(g).toSeq, q), -g))
              .take(rs.clampProbe(8))
            groups.flatMap(g => rs.members(g))
              .sortBy(c =>
                (-Similarity.cosineLocal(rs.cents(c).toSeq, q), -c))
              .take(16)
            i += 1
          }
        }
        println(f"[probevec100] rank_crossover nList=$nl%7d " +
          f"flat=${tFlat / reps * 1000}%8.2f ms/q  " +
          f"routed(rP=8)=${tRouted / reps * 1000}%8.2f ms/q  " +
          f"prep_once=${tPrep}%6.2f s")
      }
    }

    val ops = Seq("semantic_assign", "semantic_assign_rt", "semantic_dupes",
      "knn_graph", "ivf_build", "ivf_build_flat", "ivf_build_rt",
      "assign_multi_p2", "assign_multi_p2_rt",
      "ivf_search_x8", "quantize_int8", "adc_knn")
    ops.foreach { name =>
      val decades = factors.sliding(2).collect {
        case Seq(a, b) if results.contains((name, b)) =>
          f"${b}x/${a}x=${results((name, b)) / results((name, a))}%.1f"
      }.mkString("  ")
      println(s"[probevec100] growth $name: $decades  (linear decade = ~10)")
    }
    spark.stop()
  }
}
