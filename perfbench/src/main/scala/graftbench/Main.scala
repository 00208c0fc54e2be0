package graftbench

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its raw record (operations,
  * spans, scheduler work, set-up times, machine) as JSON; `run.py`
  * turns it into metrics.
  *
  * Arguments: --workload W --data DIR --work DIR --seconds S --trace 0|1
  * --seed N --reps R --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val reps = a("reps").toInt
    val cores = Runtime.getRuntime.availableProcessors

    val s0 = System.nanoTime()
    // configured like graft.Bench; every directory under the work dir
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val rec = new Recorder(spark)
    val jobs = new WorkListener(rec)
    val plans = new PlanListener(rec)
    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    def setupRep(body: => Unit): Unit = {
      val t = rec.now(); body; setupS += rec.now() - t
    }
    /** Closed loop, one client: whole `step`s until `seconds` have
      * passed and at least `min` steps ran. The minimum keeps the sample
      * count, and so the tail percentile it supports, from changing with
      * machine speed.
      */
    def loop(name: String, min: Int)(step: => Unit): Unit = {
      val t = rec.now()
      val first = rec.ops.size
      var n = 0
      while (rec.now() - t < seconds || n < min) { step; n += 1 }
      rec.ops.drop(first).foreach(_.detail("phase") = name)
      extra(s"${name}_wall_s") = rec.now() - t
      if (name == "loop") Heap.sample()
    }
    // The traced loop traces every other operation of each kind; the
    // untraced ones between them are the baseline for the tracing
    // overhead.
    def startTrace(): Unit = {
      rec.traced = true
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }

    // Set-up: the program-side layout is written `reps` times into fresh
    // directories (the median is reported, the last one is used), then
    // one warm-up runs on it.
    def warmup(body: => Unit): Unit = {
      val t = rec.now(); body; extra("warmup_s") = rec.now() - t
      Heap.sample()
    }
    workload match {
      case "interval_reads" =>
        val w = new IntervalReads(spark, rec, data, seed)
        for (r <- 1 to reps) setupRep(w.layout(s"$work/layout$r"))
        w.countFiles()
        warmup(w.Deck.foreach(k => w.query(k._1)))
        extra("files_per_table") = w.Files
        // two decks: 40 queries, enough for a p75 tail
        loop("loop", 2)(w.deck())
        if (traced) { startTrace(); loop("traced", 2)(w.deck()) }

      case "table_commits" =>
        val w = new TableCommits(spark, rec, data, seed)
        for (r <- 1 to reps) setupRep(w.layout(s"$work/layout$r"))
        w.loadModel()
        warmup(w.warmup())
        // one cycle: ten commits, too few for any tail percentile, so
        // the tail is the slowest commit (the deletion-vector rewrite)
        loop("loop", 1)(w.cycle())
        if (traced) {
          startTrace()
          val before = w.files()
          w.keepBatches = true
          loop("traced", 1)(w.cycle())
          rec.traced = false
          val created = w.files() -- before.keySet
          var plain = 0L
          w.batches.zipWithIndex.foreach { case (df, i) =>
            val out = new java.io.File(s"$work/plain/$i")
            df.write.mode("overwrite").parquet(out.getPath)
            plain += Option(out.listFiles()).toSeq.flatten.map(_.length()).sum
          }
          extra("files_created") = created.size
          extra("bytes_created") = created.values.sum
          extra("plain_bytes") = plain
          extra ++= w.lastState
        }

      case "curation_scale" =>
        // no layout: the pipelines read the generated inputs directly
        // and none of them uses a module fixture. The warm-up runs the
        // same pass on small inputs; every timed pass is checked.
        val w = new CurationScale(spark, rec, data)
        extra("oracle_sql") = w.oracleSql
        warmup(w.pass(s"$data/warm", None))
        var n = 0
        def checked(): Unit = { n += 1; w.pass(data, Some(s"$work/outputs/$n")) }
        loop("loop", 1)(checked())
        if (traced) {
          startTrace()
          // one traced pass, then one untraced pass to compare it with
          loop("traced", 2)(checked())
          rec.traced = false
          extra("lsh_candidates") = w.lshCandidates()
        }
    }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    val sc = spark.sparkContext
    val machine = Map(
      "nproc" -> cores, "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "seed" -> seed)
    val out = Map(
      "workload" -> workload, "machine" -> machine,
      "session_s" -> sessionS, "setup_reps_s" -> setupS.toSeq,
      "live_heap_mb" -> Heap.peakMiB,
      "extra" -> extra.toMap,
      "ops" -> rec.ops.toSeq.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok, "error" -> o.error,
        "detail" -> o.detail.toMap)),
      "spans" -> rec.spans.toSeq.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1)),
      "jobs" -> jobs.records(),
      "plan_phases" -> plans.phases.toSeq)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }
}
