package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: decompose `pack_write_roundtrip`'s wall into its phases —
  * pack assembly (packFrame through the noop sink), the sharded write
  * (writePacks), and the read-back reduction — under the exact Bench
  * config. Best-of-3 after one warm pass per phase.
  * Usage: runMain graft.tools.PackProbe <sfDir>
  */
object PackProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.timing()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.cacheAll(spark, sfDir)
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft_packs_probe")
      .resolve("packs").toString

    def time(label: String)(body: => Unit): Unit = {
      body // warm
      val best = Seq.fill(3)({
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }).min
      println(f"[pack] $label%-28s $best%8.3f s")
    }

    time("placement (noop)") {
      graft.operators.Packing.packPlacement(
        docs, col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")), 512)
        .write.format("noop").mode("overwrite").save()
    }
    time("assembly packFrame (noop)") {
      graft.operators.Packing.packFrame(
        docs, col("doc_id"), split(col("text"), " "), 512)
        .write.format("noop").mode("overwrite").save()
    }
    time("writePacks (parquet)") {
      graft.operators.Packing.writePacks(
        docs, col("doc_id"), split(col("text"), " "), 512, out)
    }
    time("assembly via slices (noop)") {
      import org.apache.spark.sql.DataFrame
      val base = docs.select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .localCheckpoint(true)
      val placement = graft.operators.Packing.packPlacement(
        base, col("doc_id"), size(col("__toks")), 512)
      val seqLen = 512L
      val spans = base
        .join(placement, "doc_id")
        .filter(col("n_tokens") > 0)
        .select(col("tok_offset"), col("__toks"), col("n_tokens"),
          explode(sequence(col("pack_first"), col("pack_last"))).as("pack_id"))
        .select(col("pack_id"),
          greatest(col("pack_id") * seqLen, col("tok_offset")).as("__s"),
          least((col("pack_id") + 1) * seqLen,
            col("tok_offset") + col("n_tokens")).as("__e"),
          col("tok_offset"), col("__toks"))
        .select(col("pack_id"),
          pmod(col("__s"), lit(seqLen)).as("off0"),
          slice(col("__toks"), (col("__s") - col("tok_offset") + 1).cast("int"),
            (col("__e") - col("__s")).cast("int")).as("piece"),
          (col("pack_id") * seqLen === col("tok_offset") - pmod(col("tok_offset"), lit(seqLen)) &&
            pmod(col("tok_offset"), lit(seqLen)) > 0 &&
            col("pack_id") === floor(col("tok_offset") / seqLen).cast("long"))
            .as("is_bound"))
      val packs = spans.groupBy(col("pack_id")).agg(
        sum(size(col("piece"))).cast("long").as("n_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("off0"), col("piece")))),
          x => x.getField("piece"))).as("tokens"),
        array_sort(collect_list(when(col("is_bound"), col("off0"))))
          .as("boundary_pos"))
      packs.write.format("noop").mode("overwrite").save()

      // equivalence audit vs packFrame (row-for-row, order-insensitive)
      val ref = graft.operators.Packing.packFrame(
        docs, col("doc_id"), split(col("text"), " "), 512)
      def canon(df: DataFrame) = df.select(col("pack_id"), col("n_tokens"),
        md5(concat_ws(" ", col("tokens"))).as("tmd5"),
        array_join(col("boundary_pos"), ",").as("bp"))
      val diff = canon(packs).exceptAll(canon(ref))
        .unionAll(canon(ref).exceptAll(canon(packs))).count()
      println(s"[pack] slice-vs-frame diff rows: $diff (must be 0); " +
        s"packs=${packs.count()} ref=${ref.count()}")
    }
    time("read-back reduce (noop)") {
      val back = spark.read.parquet(out)
      graft.queries.bucketOrdered(
        back.select(col("pack_id"), col("n_tokens"),
          size(col("boundary_pos")).cast("long").as("n_bounds"),
          array_join(col("boundary_pos"), ",").as("bound_csv"),
          md5(concat_ws(" ", col("tokens"))).as("tok_md5")),
        col("pack_id"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
