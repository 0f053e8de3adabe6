package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(8)

  val sfDir = "/root/testdata/sf0.001"
}
