package graft

/** Benchmark harness: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query and
  * total wall seconds. Each query executes its FULL plan through the
  * noop sink (all columns materialized, nothing collected to the
  * driver) — `count()` alone would let Catalyst prune the payload
  * columns and undercount the real work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus, Some("ERROR"))
    // JVM/codegen warm-up on the smallest sf so per-query times
    // measure the engine, not first-call class loading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Input-fixture builds (sharded/csv/json/gzip copies, clustered +
    // zone-indexed tables, bucketed catalog tables) run OUTSIDE the
    // timed region: they are test-input creation, not operator work —
    // a deployment reads inputs that already exist. Reported
    // separately so the cost stays visible.
    val prep0 = System.nanoTime()
    SparkEntry.modules.foreach { m =>
      try m.prepare(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] prepare failed: ${e.getMessage}")
      }
    }
    val prepSec = (System.nanoTime() - prep0) / 1e9
    // CALIBRATION PROBE: a fixed CPU-bound Spark job (no IO, no data
    // dependence) whose wall time moves only with the machine. Rounds
    // 5-6 measured a ±35% whole-machine drift band on identical code;
    // dividing per-query deltas by calib_sec separates real
    // regressions from co-tenant noise. Min-of-3, same estimator as
    // the queries.
    def calibProbe(): Double = {
      val t0 = System.nanoTime()
      // modulo keeps the ANSI sum far from Long overflow; the work
      // is the 400M xxhash64 evaluations
      spark.range(0, 400000000L, 1, cpus)
        .selectExpr("sum(xxhash64(id, id * 7919) % 1000000) as h")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val calibSec = (1 to 3).map(_ => calibProbe()).min
    // INTERLEAVED calibration (round-9 lesson: a start-of-run probe
    // cannot see co-tenant load that arrives mid-board — the r9 board
    // read 1.23x r8 raw and needed an hour of manual A/B re-runs to
    // prove it was machine noise). One single-shot probe every
    // `calibEvery` queries, per pass, emitted as `calib_series`;
    // tools/board_diff.py normalizes each query by its nearest probe
    // so cross-round deltas are adjudicable from the artifacts alone.
    // ~16 probes x ~0.3 s per pass: <2% of board wall time.
    // <= 0 disables interleaved probes (start-of-run calib_sec only)
    val calibEvery =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_EVERY", "20").toInt
    val calibSeries =
      scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
    // Repeat-min protocol (BASELINE.md): each query runs `passes`
    // times and reports the per-query MINIMUM. Local-machine noise is
    // one-sided — GC pauses, JIT recompilation, and co-tenant
    // contention only ever inflate a run — so min-of-k is the standard
    // low-variance estimator of the query's actual cost, and it
    // shrinks the observed ±10% run-to-run band that was drowning
    // cross-round comparisons. Pass count is explicit in the JSON so
    // rounds compare like-for-like.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 times a subset; the driver
    // never sets it, so official rounds always run the full board
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A failed query is NOT a fast query: track names so the JSON line
    // carries an explicit "failed" list — in r03 the 29 events-family
    // failures read as 0.05 s timings and the board looked green.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def runAll(pass: Int): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .zipWithIndex.map { case ((name, fn), idx) =>
        if (calibEvery > 0 && idx % calibEvery == 0)
          calibSeries += ((pass, idx, calibProbe()))
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Release blocks the query pinned (localCheckpoint/cache): once
        // its noop sink ran they are dead weight, and letting them
        // accumulate steals executor memory from every later query —
        // measured multi-second GC drag on the late-alphabet queries.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        name -> dt
      }
    val perPass = (1 to passes).map(p => runAll(p))
    val results = perPass.reduce { (a, b) =>
      a.zip(b).map { case ((n, x), (_, y)) => n -> math.min(x, y) }
    }
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qs = qjson(results)
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // calib_series: [{"pass":p,"i":<query slot the probe ran BEFORE>,
    // "sec":s}, ...] — board_diff.py normalizes each query by its
    // nearest probe (see BASELINE.md "Interleaved calibration")
    val calibJson = calibSeries.map { case (p, i, s) =>
      s"""{"pass":$p,"i":$i,"sec":$s}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":$calibSec,"prepare_sec":$prepSec,"passes":$passes,"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_rN capture keeps only the stdout tail (~60
    // late-alphabet queries diffable) — persist the COMPLETE result,
    // plus every raw pass, to a file so cross-round per-query diffs
    // cover the whole board.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_FULL.json")
    try {
      val full = s"""{"calib_sec":$calibSec,"prepare_sec":$prepSec,""" +
        s""""passes":$passes,"total_sec":$total,"sf":"$sfDir",""" +
        s""""failed":$failedJson,"calib_series":$calibJson,""" +
        s""""queries":$qs,""" +
        s""""passes_raw":${perPass.map(qjson).mkString("[", ",", "]")}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        full.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: " +
        e.getMessage)
    }
    spark.stop()
  }
}
