package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per JVM; sbt forks once). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // keep session for the next suite
}

object SparkTestBase {
  /** The oracle layout pinned at 4 cores, whatever the host has. */
  lazy val session: SparkSession = Session.start(Session.oracleConf(4), Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> java.nio.file.Files
      .createTempDirectory("graft_warehouse").toString))
}
