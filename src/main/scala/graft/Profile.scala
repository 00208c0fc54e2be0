package graft

/** Per-query profiling tool: runs the named queries (all if none
  * given) `SPARK_GRAFT_REPS` times each (default 3) under the same
  * session config as Bench and prints per-run wall seconds — separates
  * first-run setup (scratch writes, codegen, JIT) from steady-state
  * plan cost when chasing Bench outliers.
  *
  * Usage: runMain graft.Profile <sfDir> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.envCpus, Some("ERROR"))
    // same untimed fixture phase as Bench, so reps measure the query
    SparkEntry.modules.foreach(m =>
      try m.prepare(spark, sfDir) catch { case _: Throwable => () })
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s ${times.map(t => f"$t%6.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
