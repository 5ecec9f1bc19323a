package graft.tools

import graft.model.QueryResult

/** One-shot raw-SQL runner over a testdata star — the analogue of the
  * reference's `msgvault query --sql` CLI path (cmd/query.go:161-263):
  * register the star views + the graft SQL functions, run the statement,
  * print through the same QueryResult formats the reference offers.
  *
  * Usage: runMain graft.tools.Sql "<sql>" [sfDir] [table|json|csv]
  *   e.g. runMain graft.tools.Sql
  *     "SELECT lang, count(*) FROM documents GROUP BY lang ORDER BY lang"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Sql \"<sql>\" [sfDir] [table|json|csv]")
    val sql = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val fmt = args.lift(2).getOrElse("table")
    val spark = graft.Session.oracle()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.registerAll(spark, dir)
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    // bound the driver-side materialization like the reference's page caps
    val qr = QueryResult.fromDataFrame(spark.sql(sql).limit(1000))
    println(fmt match {
      case "json" => qr.toJson
      case "csv" => qr.toCsv
      case _ => qr.toTable
    })
    spark.stop()
  }
}
