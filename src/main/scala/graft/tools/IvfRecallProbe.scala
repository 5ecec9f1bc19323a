package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Similarity}
import graft.sources.Tables

/** Dev tool: measured IVF recall@10 per (sfDir, nProbe) — the data for
  * choosing nProbe so the `vector_knn_ivf` recall gate holds at every
  * testdata scale factor. The corpus is near-random (ANN-hostile), so
  * expected recall ≈ nProbe/nList; this prints the actuals.
  * Usage: runMain graft.tools.IvfRecallProbe
  */
object IvfRecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val emb = Tables.load(spark, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head()
        .getAs[scala.collection.Seq[Float]](0).toSeq
      val exact = Similarity.bruteForceKnn(emb, col("vec_id"),
        col("embedding"), qv, k = 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      val idx = IvfIndex.build(emb, col("vec_id"), col("embedding"), nList = 16)
      for (np <- Seq(8, 10, 12, 14, 16)) {
        val got = IvfIndex.search(idx, qv, k = 10, nProbe = np)
          .collect().map(_.getAs[Long]("vec_id")).toSet
        println(f"[ivf] $dir nProbe=$np%2d recall@10=${(got & exact).size / 10.0}%.1f")
      }
      // routed build (assignment approximation) × routed probe ranking —
      // the data behind vector_knn_ivf_routed's parameter/gate choice
      val rIdx = IvfIndex.build(emb, col("vec_id"), col("embedding"),
        nList = 16, rProbe = 2)
      for (np <- Seq(12, 14, 16)) {
        val flatGot = IvfIndex.search(rIdx, qv, k = 10, nProbe = np)
          .collect().map(_.getAs[Long]("vec_id")).toSet
        println(f"[ivf-rb] $dir build(rProbe=2) flat-search nProbe=$np%2d " +
          f"recall@10=${(flatGot & exact).size / 10.0}%.1f")
        for (rp <- Seq(2, 3, 4)) {
          val got = IvfIndex.searchRouted(rIdx, qv, k = 10, nProbe = np,
              rProbe = rp)
            .collect().map(_.getAs[Long]("vec_id")).toSet
          println(f"[ivf-rr] $dir build(rProbe=2) routed-search rP=$rp " +
            f"nProbe=$np%2d recall@10=${(got & exact).size / 10.0}%.1f")
        }
      }
    }
    spark.stop()
  }
}
