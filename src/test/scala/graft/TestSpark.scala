package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM — the product
  * session every entry point builds, at 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sfDir = "/root/testdata/sf0.001"
}
