package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object SparkTestSession {
  val SF = "/root/testdata/sf0.001"
  val SF01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = GraftSession.local(8)
}
