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
    assert(Session.timingConf(8, _ => None).toMap == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.ui.enabled" -> "false"))
  }

  test("timing layout reads SPARK_GRAFT_SHUFFLE and SPARK_GRAFT_AQE") {
    val env = Map("SPARK_GRAFT_SHUFFLE" -> "32", "SPARK_GRAFT_AQE" -> "true")
    val conf = Session.timingConf(4, env.get).toMap
    assert(conf("spark.sql.shuffle.partitions") == "32")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.master") == "local[4]")
  }

  test("extras may not override a layout key") {
    val e = intercept[IllegalArgumentException](Session.start(
      Session.oracleConf(4), Seq("spark.sql.shuffle.partitions" -> "64")))
    assert(e.getMessage.contains("spark.sql.shuffle.partitions"))
  }

  test("graft/Session.scala is the only SparkSession.builder in src/main") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scan found too few sources under $root")
    val builders = files.filter(p =>
      Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("graft/Session.scala"))
  }
}
