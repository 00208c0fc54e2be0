package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Metadata-layer scale measurement (BASELINE.md sf10 table): builds
  * a 10⁴-commit / 10⁴-file versioned log and a 10⁴-file zone
  * sidecar, then reports cold manifest-resolve and scoped-vs-full
  * sidecar-load wall times as one JSON line. Synthetic on purpose —
  * the quantities under test (log replay, sidecar IO) depend on file
  * COUNTS, not data bytes, so a driver-side fixture measures them
  * without writing 100 TB.
  *
  * Usage: runMain graft.sources.MetaScale [scratchDir]
  */
object MetaScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/repo/target/metascale")
    val spark = graft.GraftSession.local(8, Some("ERROR"))
    val st = GraftStorage(spark)
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)

    def timeMs[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
    def clearCaches(): Unit = {
      GraftStorage.manifestCache.clear()
      GraftStorage.manifestResolvedCache.clear()
    }

    // ---- 1. 10k appends, default checkpoint interval (20) ----
    val t1 = s"$base/log10k"
    val dir1 = new Path(t1)
    st.publishManifest(fs, dir1, 0L,
      Seq(s"$t1/data/c0/f0.parquet", s"R\t10\t$t1/data/c0/f0.parquet"))
    val n = 10000
    val (_, buildMs) = timeMs {
      (1 to n).foreach { i =>
        st.publishManifestDelta(fs, dir1, i.toLong,
          removals = Seq("T\tapp\t"),
          additions = Seq(s"$t1/data/c$i/f$i.parquet",
            s"R\t10\t$t1/data/c$i/f$i.parquet", s"T\tapp\t$i"))
      }
    }
    clearCaches()
    val (resolved1, coldCkMs) = timeMs(st.manifestEntries(t1, n.toLong))
    require(resolved1.count(!_.contains('\t')) == n + 1)
    // warm resolve (writer-loop shape)
    val (_, warmMs) = timeMs(st.manifestEntries(t1, n.toLong))

    // ---- 1b. metadata tables over the 10⁴-commit / 10⁴-file log ----
    // #history touches EVERY retained version (entries + mtime); the
    // round-10 one-listing fix makes committed_at a single listStatus
    // instead of 10⁴ serial getFileStatus RPCs. #files reads the tip
    // manifest once (bytes via one listing per data dir; the synthetic
    // dirs don't exist, so bytes are null — the manifest walk is what
    // is under test).
    clearCaches()
    val (hrows, histColdMs) =
      timeMs(GraftMetaTables.rows(spark, t1, "history"))
    require(hrows.length == n + 1)
    val (_, histWarmMs) =
      timeMs(GraftMetaTables.rows(spark, t1, "history"))
    val (frows, filesMs) =
      timeMs(GraftMetaTables.rows(spark, t1, "files"))
    require(frows.length == n + 1)

    // ---- 2. same tip via a 500-deep delta chain (no checkpoint) ----
    val t2 = s"$base/chain500"
    val dir2 = new Path(t2)
    spark.conf.set("spark.graft.manifest.checkpointInterval", "100000")
    st.publishManifest(fs, dir2, 0L,
      (0 until 9500).map(i => s"$t2/data/c0/f$i.parquet"))
    (1 to 500).foreach { i =>
      st.publishManifestDelta(fs, dir2, i.toLong,
        removals = Seq.empty,
        additions = Seq(s"$t2/data/c$i/f$i.parquet"))
    }
    spark.conf.unset("spark.graft.manifest.checkpointInterval")
    clearCaches()
    val (resolved2, coldChainMs) = timeMs(
      st.manifestEntries(t2, 500L))
    require(resolved2.size == 10000)

    // ---- 3. zone sidecar at 10k files × 8 indexed columns ----
    val zdir = s"$base/zones/_zonemap"
    import spark.implicits._
    val cols8 = (0 until 8).map(i => s"c$i")
    (0 until n).toDF("i").select(
      (concat(lit("/synth/f"), col("i"), lit(".parquet")).as("file") +:
        cols8.flatMap(c => Seq(
          (col("i") * 10).as(c + "__min"),
          (col("i") * 10 + 9).as(c + "__max")))): _*)
      .repartition(4).write.mode("overwrite").parquet(zdir)
    // warm-up load (datasource init, codegen, footer cache) so the
    // two timed loads compare column scoping, not first-call JIT
    st.zoneSidecarFor(Seq(zdir)).zonesFor(Set("c0"))
    val zsScoped = st.zoneSidecarFor(Seq(zdir))
    zsScoped.columns // resolve inventory outside the timed region
    val (za, scopedMs) = timeMs(zsScoped.zonesFor(Set("c3")))
    require(za.size == n && za.values.forall(_.keySet == Set("c3")))
    val zsFull = st.zoneSidecarFor(Seq(zdir))
    zsFull.columns
    val (zb, fullMs) = timeMs(zsFull.zonesFor(cols8.toSet))
    require(zb.size == n)

    println(
      s"""{"files":$n,"log_build_10k_appends_ms":${buildMs.round},""" +
      s""""cold_resolve_checkpointed_ms":${coldCkMs.round},""" +
      s""""warm_resolve_ms":${warmMs.round},""" +
      s""""history_table_cold_ms":${histColdMs.round},""" +
      s""""history_table_warm_ms":${histWarmMs.round},""" +
      s""""files_table_ms":${filesMs.round},""" +
      s""""cold_resolve_chain500_ms":${coldChainMs.round},""" +
      s""""zone_load_1of8_cols_ms":${scopedMs.round},""" +
      s""""zone_load_8of8_cols_ms":${fullMs.round}}""")
    spark.stop()
  }
}
