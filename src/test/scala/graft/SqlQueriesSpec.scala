package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every Spark-SQL-dialect formulation must produce exactly the rows of its
  * DataFrame-API twin (SURVEY §7.8: each relational operator also runs via
  * spark.sql).
  */
class SqlQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val dir = "/root/testdata/sf0.001"

  test("spark.sql text == DataFrame plan for every §2.A query") {
    for (name <- SqlQueries.sql.keys.toSeq.sorted) {
      val viaSql = SqlQueries.run(spark, dir, name)
        .collect().map(_.toString).sorted
      val viaDf = Queries.all(name)(spark, dir)
        .collect().map(_.toString).sorted
      assert(viaSql.length == viaDf.length, s"$name: row count")
      val bad = viaSql.zip(viaDf).indexWhere { case (a, b) => a != b }
      assert(bad == -1,
        s"$name row $bad differs:\n  sql=${viaSql.lift(bad)}\n  df =${viaDf.lift(bad)}")
    }
  }
}
