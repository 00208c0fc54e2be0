package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session every harness main (Bench, Verify,
  * Profile, Explain, GenScale, MetaScale) and the test suites start:
  * graft's Catalyst extensions, `cpus` cores and as many shuffle
  * partitions, UTC session time, AQE on, no UI.
  */
object GraftSession {
  /** Core count of the harness mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int, logLevel: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    logLevel.foreach(spark.sparkContext.setLogLevel)
    spark
  }
}
