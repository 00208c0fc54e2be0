package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (dev loop);
    // the driver always invokes with two args = full dump
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.envCpus, Some("WARN"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.modules.foreach { m =>
      try m.prepare(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] prepare failed: ${e.getMessage}")
      }
    }
    // Completeness ledger: a query that throws is recorded here and
    // written to _errors.json — r03 lost 29 queries silently because
    // the catch-and-continue below was the ONLY trace of a failure.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop blocks the query pinned (localCheckpoint/cache) so they
      // don't starve later queries of executor memory
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty {} when clean) so the absence of the file
    // itself signals an aborted run, not a clean one.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] INCOMPLETE: ${errors.size} queries failed: " +
          errors.keys.mkString(", "))
    spark.stop()
  }
}
