package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract conformance: every declared query runs, oracle
  * keys align, flagship smoke passes, results are deterministic.
  */
class ContractSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("query names are unique across modules") {
    val all = SparkEntry.modules.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs on sf0.001") {
      val df = fn(spark, SF)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("every spark.sql conf the code sets exists in the running Spark") {
    // Version-drift gate: r03 lost 29 queries because the code set
    // `spark.sql.legacy.parquet.nanosAsLong`, a conf Spark 4.1.2 had
    // removed — the set was silently ignored and every reader of its
    // effect broke. Scan the source tree for conf-set sites and assert
    // each spark.sql.* key is still registered in SQLConf, so the next
    // conf removal turns the suite red instead of sailing through.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val setSite = """(?:\.config|conf\.set|\.set)\("(spark\.sql\.[A-Za-z0-9_.]+)"""".r
    val keys = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap(p => setSite.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    assert(keys.nonEmpty, "conf scan found no set-sites — regex rotted?")
    // spark.sql.catalog.<name> keys are CATALOG PLUGIN bindings —
    // resolved dynamically by CatalogManager, never registered in
    // SQLConf, so they are exempt from the registry check (their
    // drift surfaces loudly: an unresolvable catalog class throws on
    // first `graft.`-qualified reference, which CatalogSpec exercises)
    val unknown = keys
      .filterNot(_.startsWith("spark.sql.catalog."))
      .filterNot(org.apache.spark.sql.graftbridge.Bridge.isKnownSqlConf)
    assert(unknown.isEmpty,
      s"confs set by code but unknown to this Spark (version drift): $unknown")
  }

  test("SparkSession.builder() appears in src/main only inside GraftSession") {
    // One session factory: a main that hand-builds its own session
    // drifts from the configuration every other entry point and the
    // test suites run (extensions, shuffle partitions, time zone,
    // AQE). Scan the main tree for builder call sites outside doc
    // comments and line comments.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sites = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder()") &&
              !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
            s"${p.getFileName}:${i + 1}"
        }
      }.toSeq
    assert(sites.nonEmpty, "builder scan found no site — GraftSession moved?")
    assert(sites.forall(_.startsWith("GraftSession.scala:")),
      s"SparkSession built outside GraftSession: $sites")
  }

  for (name <- Seq("scan_reads", "llm_knn", "stream_session", "win_rank",
    "join_asof_native", "llm_dedup_clusters", "sink_nested", "agg_pivot")) {
    test(s"query $name is deterministic across runs") {
      val a = SparkEntry.queries(name)(spark, SF).collect().toSeq
      val b = SparkEntry.queries(name)(spark, SF).collect().toSeq
      assert(a == b)
    }
  }
}
