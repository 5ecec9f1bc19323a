package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two session layouts and keeps [[Session]] the only builder. */
class SessionSpec extends AnyFunSuite {

  test("oracle layout: the conf Verify has always run") {
    assert(Session.oracleConf(8).toMap == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("timing layout: the conf Bench has always run, env defaults") {
    assert(Session.timingConf(8).toMap == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.ui.enabled" -> "false"))
  }

  test("extras may not override a layout key") {
    val e = intercept[IllegalArgumentException](Session.start(
      Session.oracleConf(4), Seq("spark.sql.shuffle.partitions" -> "64")))
    assert(e.getMessage.contains("spark.sql.shuffle.partitions"))
  }

  private val mainRoot = Paths.get("src/main/scala")
  private lazy val mainSources: Seq[Path] = {
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scan found too few sources under $mainRoot")
    files
  }

  test("graft/Session.scala is the only SparkSession.builder in src/main") {
    val builders = mainSources.filter(p =>
      Files.readString(p).contains("SparkSession.builder"))
      .map(p => mainRoot.relativize(p).toString)
    assert(builders == Seq("graft/Session.scala"))
  }

  test("MakeScale is the only corpus replicator in src/main") {
    // a replicator is spark.range(n) cross-joined with a table
    val replicate = "(?s)spark\\.range\\(.{0,200}?\\.crossJoin\\(".r
    val replicators = mainSources.filter(p =>
      replicate.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => mainRoot.relativize(p).toString).sorted
    assert(replicators == Seq("graft/tools/MakeScale.scala"))
  }

  test("the only mains in src/main are Verify, Bench and the four tools") {
    val mains = mainSources.filter(p =>
      Files.readString(p).contains("def main("))
      .map(p => mainRoot.relativize(p).toString).sorted
    assert(mains == Seq("graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/MakeScale.scala", "graft/tools/Profile.scala",
      "graft/tools/Sql.scala", "graft/tools/Sweep.scala"))
  }

  test("Profile holds the only addSparkListener in src/main") {
    val calls = mainSources.flatMap(p =>
      Seq.fill("addSparkListener\\(".r
        .findAllIn(Files.readString(p)).size)(mainRoot.relativize(p).toString))
    assert(calls == Seq("graft/tools/Profile.scala"))
  }

  test(".defaultParallelism is read in src/main only by graft/Sizing.scala") {
    val readers = mainSources.filter(p =>
      Files.readString(p).contains(".defaultParallelism"))
      .map(p => mainRoot.relativize(p).toString)
    assert(readers == Seq("graft/Sizing.scala"))
  }

  test("only graft/ControlFile.scala reads or publishes control files") {
    // the retired recipes: in-place truncating writes, java.nio slurps,
    // java.nio atomic moves and the streaming sinks' own reader
    val recipes = Seq("TRUNCATE_EXISTING", "Files.readAllBytes",
      "ATOMIC_MOVE", "HadoopIo")
    val users = mainSources.filter(p =>
      recipes.exists(Files.readString(p).contains))
      .map(p => mainRoot.relativize(p).toString).sorted
    assert(users.isEmpty)
    val publishers = mainSources.filter(p =>
      Files.readString(p).contains("Options.Rename.OVERWRITE"))
      .map(p => mainRoot.relativize(p).toString)
    assert(publishers == Seq("graft/ControlFile.scala"))
  }

  test("Similarity.assign is the one centroid-assignment path in src/main") {
    // the retired per-cell functions, the routed expression twin and the
    // dense-id centroid pick switch
    val retired = Seq("RoutedCentroids", "assignTo", "assignRouted",
      "semanticAssignMulti", "semanticAssignHierarchical", "hashStride")
    val users = mainSources.filter(p =>
      retired.exists(Files.readString(p).contains))
      .map(p => mainRoot.relativize(p).toString).sorted
    assert(users.isEmpty)
    val definition = "org/apache/spark/sql/graft/TopCentroids.scala"
    val constructors = mainSources.filter(p =>
      Files.readString(p).contains("TopCentroids("))
      .map(p => mainRoot.relativize(p).toString)
      .filter(_ != definition)
    assert(constructors == Seq("graft/operators/Similarity.scala"))
  }

  test("graft/streaming/Drain.scala is the only file-stream drain in src/main") {
    // the drain loop, the stream-identity marker and the batch-tag format
    val marks = Seq("foreachBatch", "graft_stream_id", "-b$")
    val drains = mainSources.filter(p =>
      marks.exists(Files.readString(p).contains))
      .map(p => mainRoot.relativize(p).toString).sorted
    assert(drains == Seq("graft/streaming/Drain.scala"))
  }

  test("spark.graft.memo.releaseGraceMs is the only spark.graft.* key in src/main") {
    // a new key must update this set AND the README's runtime
    // configuration table
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val keys = mainSources.flatMap(p =>
      literal.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    assert(keys == Set("spark.graft.memo.releaseGraceMs"))
  }

  test("only operators/Dedup.scala holds the bucket pair fan-out in src/main") {
    val marks = Seq("explode(col(\"members\"))", "size(col(\"members\")) > 1")
    val fanOuts = mainSources.filter(p =>
      marks.exists(Files.readString(p).contains))
      .map(p => mainRoot.relativize(p).toString)
    assert(fanOuts == Seq("graft/operators/Dedup.scala"))
  }

  test("query tails take their total order from orderedAtTail*") {
    // a single-partition sort written inline instead of through
    // queries/package.scala's orderedAtTail / orderedAtTailExchanged
    val inline = "(coalesce|repartition)\\(1\\)\\s*\\.sortWithinPartitions".r
    val queries = mainRoot.resolve("graft/queries")
    val tails = mainSources.filter(p => p.startsWith(queries) &&
        inline.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => mainRoot.relativize(p).toString)
    assert(tails == Seq("graft/queries/package.scala"))
  }
}
