package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** MANIFEST-DRIVEN streaming source over a versioned table's commit
  * log — `spark.readStream.format("graft-stream").load(path)` (the
  * engine behind [[GraftStorage.streamVersioned]]): offsets are
  * COMMIT VERSIONS, and each micro-batch reads exactly the data
  * files the manifests ADDED in `(start, end]`. This is the Delta/
  * Iceberg streaming-table design, and it closes the two caveats the
  * old file-glob implementation documented:
  *
  *   - WRITE-AUDIT-PUBLISH: `latestOffset` resolves the latest
  *     PUBLISHED version ([[GraftStorage.latestVisibleVersion]]), so
  *     a [[GraftStorage.wapStage]]d commit's files are invisible to
  *     consumers until the audit publishes — a discarded stage is
  *     never emitted (the glob surfaced staged files immediately);
  *   - NON-APPEND commits: a copy-on-write rewrite (files removed in
  *     the range) or deletion-vector drift fails LOUDLY instead of
  *     silently re-surfacing carried rows; `ignoreChanges=true` opts
  *     into add-only delivery across such commits (Delta's
  *     `skipChangeCommits` contract).
  *
  * Offsets live in the consumer's checkpoint — each commit's delta
  * is processed exactly once across restarts. `maxVersionsPerTrigger`
  * bounds how many commits one micro-batch drains (admission
  * control); default is everything pending. At 100 TB the per-batch
  * work is the manifest diff + the delta files — never a listing of
  * the table.
  *
  * Reference analogue: the reference's streaming half does not
  * exist; this is the "subscribe to a lakehouse table" surface the
  * north star requires, driven by the same commit log as every
  * other read.
  */
final class GraftStreamSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-stream"

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-stream requires .load(<versioned table path>)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val st = GraftStorage(spark)
    val path = pathOf(options)
    // `ref` pins the stream to a named tag/branch: the schema (and
    // every drain target) resolves through the ref, which may point
    // at a WAP-staged version — the audit-follow opt-in
    val v = Option(options.get("ref")) match {
      case Some(r) => GraftStreamSource.resolveStreamRef(st, path, r)
      case None => st.latestVisibleVersion(path)
    }
    val base = st.readVersioned(path, Some(v)).schema
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      GraftStreamSource.cdfSchema(base)
    else base
  }

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftStreamTable(
      pathOf(new CaseInsensitiveStringMap(properties)), schema)

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] object GraftStreamSource {
  /** Change-feed schema: the table's columns plus the CDF metadata
    * pair (Delta's column names, so downstream consumers port).
    */
  def cdfSchema(base: StructType): StructType =
    StructType(base.fields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType))

  /** Resolve the stream's `ref` option: a tag pins its version; a
    * branch follows the (forward-moving) pointer. A branch carrying
    * staged branch-log WRITES refuses — the pointer alone would
    * silently drop them (the batch `VERSION AS OF '<branch>'`
    * contract); WAP-staged MAIN versions, by contrast, are exactly
    * what a ref-pinned audit stream exists to see.
    */
  def resolveStreamRef(st: GraftStorage, path: String,
      ref: String): Long = {
    val refs = st.listRefs(path).toMap
    refs.get(s"tag.$ref").getOrElse {
      val v = refs.getOrElse(s"branch.$ref",
        throw new IllegalArgumentException(
          s"graft-stream on $path: no tag or branch named '$ref' " +
            s"(have: ${refs.keys.toSeq.sorted.mkString(", ")})"))
      require(st.branchPendingWrites(path, ref) == 0,
        s"graft-stream on $path: branch '$ref' carries staged " +
          "(unpublished) branch-log writes — streaming the pointer " +
          "alone would silently drop them; branchPublish or " +
          "branchDiscardWrites first")
      v
    }
  }
}

private[sources] final class GraftStreamTable(
    path: String, tableSchema: StructType) extends Table with SupportsRead {

  override def name(): String = s"graft-stream:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = { () =>
    new Scan {
      override def readSchema(): StructType = tableSchema
      override def description(): String = s"GraftStream $path"
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new GraftMicroBatchStream(path, tableSchema,
          ignoreChanges = Option(options.get("ignoreChanges"))
            .exists(_.toBoolean),
          changeFeed = Option(options.get("readChangeFeed"))
            .exists(_.toBoolean),
          checkpointLocation = checkpointLocation,
          // bounded by default (Delta defaults maxFilesPerTrigger
          // likewise): an unconsumed 10⁵-commit history must drain
          // as bounded batches, not one mega-batch
          maxVersionsPerTrigger =
            Option(options.get("maxVersionsPerTrigger")).map { v =>
              val n = v.toInt
              require(n > 0,
                s"maxVersionsPerTrigger must be positive, got $n " +
                  "(a non-positive cap would freeze the stream)")
              n
            }.orElse(Some(128)),
          // file-grained admission: one GIANT commit (or the
          // bootstrap snapshot) drains across several batches instead
          // of becoming one mega-batch — Delta's maxFilesPerTrigger
          maxFilesPerTrigger =
            Option(options.get("maxFilesPerTrigger")).map { v =>
              val n = v.toInt
              require(n > 0,
                s"maxFilesPerTrigger must be positive, got $n " +
                  "(a non-positive cap would freeze the stream)")
              n
            },
          refName = Option(options.get("ref")))
    }
  }
}

private[sources] final class GraftMicroBatchStream(
    path: String, schema: StructType, ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Int],
    changeFeed: Boolean = false,
    checkpointLocation: String = "",
    maxFilesPerTrigger: Option[Int] = None,
    refName: Option[String] = None)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private def st = GraftStorage(spark)
  private def classic = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The stream's drain target: the latest PUBLISHED version, or —
    * under the `ref` option — the named tag/branch's pinned version,
    * which MAY be WAP-staged (the audit-follow contract: pinning a
    * branch at a staged commit is the explicit opt-in that makes
    * staged versions visible to THIS stream while default consumers
    * stay shielded). A branch carrying staged branch-log WRITES
    * refuses, same as batch `VERSION AS OF '<branch>'` — the pointer
    * alone would silently drop them.
    */
  private def resolvedTarget: Long = refName match {
    case None => st.latestVisibleVersion(path)
    case Some(r) => GraftStreamSource.resolveStreamRef(st, path, r)
  }

  /** Version admission: default streams skip audit-pending (WAP
    * staged) commits — offsets must land only on published versions,
    * or the next diff would read a manifest default readers never
    * saw. A ref-pinned stream admits staged versions at or below its
    * target: the ref IS the audit opt-in, and the publish commit
    * (W-line removal, zero file delta) then contributes nothing.
    */
  private def admissible(v: Long): Boolean =
    refName.isDefined || isPublished(v)

  /** Offset = (version, files-consumed-of-that-version). `f == 0`
    * means version `v` is FULLY consumed (the classic shape, and the
    * checkpoint-compatible JSON `"<v>"`); `f > 0` means the batch
    * boundary sits INSIDE version `v`'s file delta — its first `f`
    * files (manifest order, deterministic) are consumed. Mid-version
    * offsets only arise under `maxFilesPerTrigger`.
    */
  private case class VOffset(v: Long, f: Long = 0L) extends Offset {
    override def json(): String = if (f == 0L) v.toString else s"$v#$f"
  }
  /** Within one version, fully-consumed (f=0) ranks past any split. */
  private def fRank(o: VOffset): Long =
    if (o.f == 0L) Long.MaxValue else o.f
  private def reached(e: VOffset, s: VOffset): Boolean =
    e.v < s.v || (e.v == s.v && fRank(e) <= fRank(s))

  override def initialOffset(): Offset = VOffset(-1L)
  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    t.indexOf('#') match {
      case -1 => VOffset(t.toLong)
      case i  => VOffset(t.take(i).toLong, t.drop(i + 1).toLong)
    }
  }
  override def stop(): Unit = ()

  override def latestOffset(): Offset =
    VOffset(resolvedTarget)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Trigger.AvailableNow pins the drain target ONCE; batches then
    * advance toward it under admission control instead of collapsing
    * into a single mega-batch (the wrapper Spark applies to sources
    * without this interface ignores per-batch limits).
    */
  @volatile private var availableTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(resolvedTarget)

  private def isPublished(v: Long): Boolean =
    !st.manifestEntries(path, v).exists(_.startsWith("W\t"))

  /** Admission control: at most `maxVersionsPerTrigger` ADMISSIBLE
    * commits per micro-batch (one batch per commit with the value
    * 1). For a default stream that means PUBLISHED versions only —
    * a checkpoint landing ON a staged version would seed the next
    * batch's diff from a manifest default readers never saw (staged
    * rows silently lost at publish, discards misread as change
    * commits); a ref-pinned stream admits staged versions at or
    * below its pin (see [[admissible]]).
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit)
      : Offset = {
    val latest = availableTarget.getOrElse(resolvedTarget)
    val start = startOffset.asInstanceOf[VOffset]
    maxFilesPerTrigger match {
      case Some(mf) => fileSteppedOffset(start, latest, mf)
      case None if start.f > 0 =>
        // splitting was turned off mid-drain: complete the version
        VOffset(start.v)
      case None =>
        val stepped = maxVersionsPerTrigger match {
          case Some(n) =>
            val pub = st.listVersions(path).iterator
              .filter(v => v > start.v && v <= latest)
              .filter(admissible).take(n).toSeq
            if (pub.isEmpty) start.v else pub.last
          case _ => latest
        }
        VOffset(stepped)
    }
  }

  /** FILE-GRAINED admission (`maxFilesPerTrigger`): one version at a
    * time, and a version whose file delta exceeds the cap drains as
    * SEVERAL batches — offsets land INSIDE the version (`v#f`), each
    * batch a deterministic manifest-order slice, so one giant commit
    * (or the bootstrap snapshot) can never become one giant batch.
    * Change-shaped versions (CoW rewrite, DV drift, DV-carrying
    * bootstrap) are not file-served and deliver whole.
    */
  private def fileSteppedOffset(start: VOffset, latest: Long,
      mf: Int): Offset =
    if (start.f > 0) {
      // mid-version: advance the slice, or close the version
      sliceableFiles(start.v) match {
        case Some(fl) if start.f + mf < fl.size =>
          VOffset(start.v, start.f + mf)
        case _ => VOffset(start.v)
      }
    } else {
      st.listVersions(path).iterator
        .filter(v => v > start.v && v <= latest)
        .filter(admissible).take(1).toSeq.headOption match {
        case None => start
        case Some(v) =>
          sliceableFiles(v) match {
            case Some(fl) if fl.size > mf => VOffset(v, mf)
            case _                        => VOffset(v)
          }
      }
    }

  /** The version's SLICEABLE file delta relative to its consumed
    * predecessor (the previous published version, or the bootstrap):
    * Some(added files, manifest order — deterministic across replays)
    * when the step is PURE APPEND; None when it is change-shaped
    * (removals / DV drift / a DV-carrying bootstrap) and must
    * deliver whole. Predecessor resolution fails LOUDLY if vacuum
    * retired it mid-drain (retention must cover consumer lag).
    */
  private def sliceableFiles(v: Long): Option[Seq[String]] = {
    // mapped snapshots file-serve like any other: the slice scan
    // requests PHYSICAL column names ([[tableScanOver]] /
    // [[constantScanOver]]), so stored names never leak
    val prev = st.listVersions(path)
      .filter(p => p < v && admissible(p)).lastOption.getOrElse(-1L)
    if (prev < 0) {
      if (st.manifestDvs(path, v).isEmpty)
        Some(st.manifestFiles(path, v))
      else None
    } else {
      val prevFiles = st.manifestFiles(path, prev)
      val cur = st.manifestFiles(path, v)
      val prevSet = prevFiles.toSet
      val removed = prevSet.diff(cur.toSet)
      val dvDrift = st.manifestDvs(path, prev) != st.manifestDvs(path, v)
      if (removed.isEmpty && !dvDrift) Some(cur.filterNot(prevSet))
      else None
    }
  }

  // Pre-existing STABLE deletion vectors (no drift in the range) are
  // sound to stream across: by the sequence rule
  // (GraftStorage.manifestFilesDvs) a DV deletes only from files
  // committed BEFORE it, so every file a later append adds is live
  // in full — including rows that re-use a previously deleted key.
  // Only DV DRIFT (a delete/upsert inside the range) and MoR INITIAL
  // snapshots need the loud path.
  private def changeError(start: Long, end: Long, what: String) =
    new IllegalStateException(
      s"graft-stream on $path: versions ($start, $end] contain a " +
        s"non-append change ($what). Streaming a rewritten range " +
        "would re-surface or drop rows; set ignoreChanges=true to " +
        "SKIP change commits (their files are not re-delivered), or " +
        "start a fresh checkpoint.")

  /** Files to deliver for `(start, end]`: walk the PUBLISHED
    * versions in the range (audit-pending staged manifests are
    * skipped — their files enter at their PUBLISH commit, and a
    * discarded stage never appears in any published manifest), and
    * collect each append-only step's added files. A step that
    * removed files or drifted deletion vectors is a CHANGE COMMIT:
    * loud error, or skipped entirely under `ignoreChanges` (the
    * skip-change-commits contract — rewritten rows are never
    * re-delivered as duplicates). Falls back to the coarse
    * whole-range diff when vacuum retired an intermediate manifest
    * (same classification, conservatively).
    */
  private def deltaFiles(start: Long, end: Long): Seq[String] = {
    val endFiles = st.manifestFiles(path, end)
    if (start < 0) {
      // initial snapshot: a merge-on-read table cannot stream as a
      // raw file scan — the DV anti-join would be silently skipped
      // and deleted rows re-delivered as live (same refusal as the
      // V1 front door). REORG/compact first. (A RENAME/DROP-mapped
      // snapshot, by contrast, streams fine: the scan requests
      // physical names — [[tableScanOver]].)
      require(st.manifestDvs(path, end).isEmpty,
        s"graft-stream on $path: the snapshot carries merge-on-read " +
          "deletion vectors; streaming raw files would resurrect " +
          "deleted rows. Run compactVersioned (REORG) first, or use " +
          "readChangeFeed=true.")
      return endFiles
    }
    // the CONSUMER's own position must still resolve: if retention
    // did not cover its lag, fail with the actionable message (the
    // generic resolve error reads like corruption)
    try st.manifestFiles(path, start)
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalStateException(
          s"graft-stream on $path: checkpointed version $start was " +
            "vacuumed — table retention must cover consumer lag " +
            "(vacuum keepLast, or pin a tag/branch at or before the " +
            "consumer's offset). Restart with a fresh checkpoint to " +
            "re-read the current snapshot.")
    }
    val fine =
      try {
        val committed = st.listVersions(path).toSet
        val published = (start + 1 to end)
          .filter(committed).filter(admissible)
        var prevSet = st.manifestFiles(path, start).toSet
        var prevDvs = st.manifestDvs(path, start).toSet
        val out = Seq.newBuilder[String]
        published.foreach { v =>
          val cur = st.manifestFiles(path, v)
          val curSet = cur.toSet
          val curDvs = st.manifestDvs(path, v).toSet
          val removed = prevSet.diff(curSet)
          if (removed.isEmpty && curDvs == prevDvs)
            out ++= cur.filterNot(prevSet)
          else if (!ignoreChanges)
            throw changeError(start, end,
              if (removed.nonEmpty)
                s"version $v removed ${removed.size} file(s)"
              else s"version $v drifted deletion vectors")
          prevSet = curSet
          prevDvs = curDvs
        }
        Some(out.result())
      } catch {
        case _: IllegalArgumentException => None // vacuumed interior
      }
    fine match {
      // appends preceding an in-range change commit ARE delivered
      // (their rows were live when committed — the skipChangeCommits
      // contract); a racing vacuum of such a file fails the read
      // loudly, never silently
      case Some(added) => added.distinct
      case None =>
        val endSet = endFiles.toSet
        val startFiles = st.manifestFiles(path, start).toSet
        val removed = startFiles.filterNot(endSet)
        val dvDrift = st.manifestDvs(path, start).toSet !=
          st.manifestDvs(path, end).toSet
        if ((removed.nonEmpty || dvDrift) && !ignoreChanges)
          throw changeError(start, end,
            if (removed.nonEmpty) s"${removed.size} file(s) removed"
            else "deletion-vector drift")
        // coarse precision under ignoreChanges: per-commit skip is
        // impossible without the interior manifests, so deliver the
        // ADDED files (rewrite outputs may re-deliver carried rows —
        // the documented ignoreChanges duplicate caveat; never loss)
        endFiles.filterNot(startFiles)
    }
  }

  /** (start, end) → materialized batch files. Spark plans one
    * micro-batch SEVERAL times (measured 4× per batch: logical +
    * physical planning, then execution); the batch content is
    * deterministic and write-once, so repeat calls must not rebuild
    * the change plan (~0.15 s of driver analysis each) or re-list
    * the dir. Entries for committed ranges go stale after
    * [[cleanSpentCdfDirs]] retires their dirs — harmless, committed
    * ranges never replan.
    */
  private val cdfBatchFiles =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), Seq[String]]()

  /** CHANGE-FEED batch (readChangeFeed=true): instead of the added
    * FILES, the batch delivers the range's CHANGE ROWS — per
    * published commit step, [[GraftStorage.changesVersioned]]'s
    * result (O(churn): MoR delta steps read the DV keys + matched
    * files, append steps read the fresh files, maintenance steps
    * cancel to zero rows) stamped with Delta's CDF metadata columns.
    * A DSv2 micro-batch must hand Spark InputPartitions, and a
    * change set is a computed PLAN (anti/semi joins), so the batch
    * materializes its rows once under the stream's own checkpoint
    * directory and scans that — deterministic inputs make crash
    * replays byte-stable, and `commit(end)` retires spent batch
    * dirs. The initial batch (start = -1) is the current snapshot as
    * inserts (DV-resolved — a MoR table streams its LIVE rows, no
    * compact needed on this mode). Falls back to the whole-range net
    * diff when vacuum retired an interior manifest.
    */
  private def changeRows(start: Long, end: Long): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val memo = cdfBatchFiles.get((start, end))
    if (memo != null) return memo
    val outDir = new Path(new Path(checkpointLocation),
      s"_graft_cdf/b${start}_$end")
    val fs = outDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFiles(): Seq[String] = fs.listStatus(outDir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.getPath)
    // a completed materialization short-circuits BEFORE the change
    // plan is even constructed — replans of the same range pay one
    // exists() + one listing, not an analysis pass
    this.synchronized {
      if (fs.exists(new Path(outDir, "_SUCCESS"))) {
        val files = listFiles()
        cdfBatchFiles.put((start, end), files)
        return files
      }
    }
    val df =
      if (start < 0)
        // only the DV-RESOLVED bootstrap materializes (the anti-join
        // is a computed plan); a DV-free snapshot never reaches here —
        // planInputPartitions serves it zero-copy from the table's
        // own files with the CDF columns synthesized as constants
        toStreamNames(st.readVersioned(path, Some(end)), end)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(end))
      else {
        // the consumer's own offset must still resolve — surface the
        // retention guidance, not a raw manifest error (interior
        // vacuumed versions simply drop out of listVersions and the
        // surviving pairs diff across the gap)
        try st.manifestFiles(path, start)
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalStateException(
              s"graft-stream on $path: checkpointed version $start " +
                "was vacuumed — table retention must cover consumer " +
                "lag (vacuum keepLast, or pin a tag/branch at or " +
                "before the consumer's offset). Restart with a fresh " +
                "checkpoint to re-read the current snapshot.")
        }
        val committed = st.listVersions(path).toSet
        val published = (start + 1 to end)
          .filter(committed).filter(admissible)
          // row-preserving maintenance rewrites (compact / z-order /
          // apply_deletes leave a commit op tag) contribute ZERO
          // change rows by construction — skip them outright instead
          // of computing the guaranteed-empty diff
          .filter(v => st.commitOpOf(path, v).isEmpty)
        var prev = start
        val parts = published.map { v =>
          val d = toStreamNames(st.changesVersioned(path, prev, v), v)
            .withColumn("_commit_version", lit(v))
          prev = v
          d
        }
        // allowMissingColumns: an ADD COLUMNS commit inside the batch
        // range widens later parts' schemas — earlier commits' change
        // rows null-fill the new columns instead of failing the batch
        if (parts.nonEmpty)
          parts.reduce(_.unionByName(_, allowMissingColumns = true))
        else st.readVersioned(path, Some(end)).limit(0)
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(end))
      }
    // write ONCE per batch range: Spark may plan the same batch more
    // than once, and an overwrite would delete the files an earlier
    // plan's partitions still reference mid-read. The content is
    // deterministic, so reusing a completed materialization is exact;
    // a torn dir from a crashed attempt (no _SUCCESS) rewrites.
    this.synchronized {
      if (!fs.exists(new Path(outDir, "_SUCCESS")))
        // v2 committer: tasks rename straight into the dir — the
        // _SUCCESS marker (still written) remains the completion
        // gate, so a torn attempt rewrites exactly as before
        df.write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .parquet(outDir.toString)
    }
    val files = listFiles()
    cdfBatchFiles.put((start, end), files)
    files
  }

  /** Translate a change DataFrame in version `v`'s LOGICAL column
    * names to the STREAM's logical names through the stable physical
    * namespace (v's logical → physical via the mapping at `v` →
    * stream logical via the anchored binding). Identity when no
    * rename is involved; makes HISTORY replays across a rename exact
    * — a restarted stream's stepped batch over pre-rename commits
    * surfaces their change rows under the stream's names instead of
    * silently null-filling the renamed column. Columns with no
    * stream counterpart keep their names (tolerated ADD COLUMNS —
    * the fixed read schema simply ignores them); the CDF metadata
    * pair passes through.
    */
  private def toStreamNames(df: org.apache.spark.sql.DataFrame,
      v: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val mappingV = st.columnMapping(path, v)
    val data = dataSchemaOf(schema)
    val lc = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val byPhys = physData.fields.map(f => lc(f.name))
      .zip(data.fields.map(_.name)).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      if (c == "_change_type" || c == "_commit_version") col(s"`$c`")
      else col(s"`$c`").as(
        byPhys.getOrElse(lc(st.physicalNameOf(c, mappingV)), c))
    }: _*)
  }

  /** Spent change-feed batch dirs retire once the engine commits the
    * offset (a committed batch is never replanned).
    */
  override def commit(end: Offset): Unit =
    if (changeFeed) {
      val e = end.asInstanceOf[VOffset]
      // a mid-version offset has not fully consumed its version —
      // only ranges ending strictly before it are durably spent
      cleanSpentCdfDirs(if (e.f == 0L) e.v else e.v - 1)
    }

  /** Drop materialized batch dirs whose range ends at or before a
    * committed offset (a committed batch is never replanned); a
    * one-shot bootstrap drain must not leave a snapshot copy in the
    * checkpoint. Best-effort: a missed delete costs disk, never
    * correctness.
    */
  private def cleanSpentCdfDirs(committed: Long): Unit = {
    val root = new Path(new Path(checkpointLocation), "_graft_cdf")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      if (fs.exists(root))
        fs.listStatus(root).foreach { d =>
          val name = d.getPath.getName
          if (name.startsWith("b") &&
              name.split('_').last.toLong <= committed)
            fs.delete(d.getPath, true): Unit
        }
    } catch { case _: Exception => () }
  }

  /** Scan over MATERIALIZED change-row parquet (logical column names
    * + the CDF metadata pair, exactly as [[changeRows]] wrote them).
    */
  private def parquetScanOver(files: Seq[String])
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val index = new InMemoryFileIndex(classic,
      files.map(new Path(_)), Map.empty, Some(schema))
    ParquetScanBuilder(classic, index, schema, schema,
      CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[org.apache.spark.sql.execution.datasources
        .v2.parquet.ParquetScan]
  }

  /** The table's own columns — in change-feed mode the synthesized
    * CDF metadata pair is stripped; a RAW stream's schema IS the
    * table's (a user column literally named `_change_type` must not
    * be dropped there).
    */
  private def dataSchemaOf(full: StructType): StructType =
    if (!changeFeed) full
    else StructType(full.fields.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version"))

  /** The stream's data columns renamed to their stable PHYSICAL
    * (stored) names under `mapping` — identical types and order, so
    * rows read under this schema are POSITIONALLY the stream's
    * logical rows.
    */
  private def physicalized(
      mapping: Option[(Map[String, String], Seq[String])]): StructType =
    StructType(dataSchemaOf(schema).fields.map(f =>
      f.copy(name = st.physicalNameOf(f.name, mapping))))

  /** The physical binding the stream's reader factory serves under,
    * plus the version it resolved at (the stream's effective START
    * version) — resolved ONCE: data files keep their physical names
    * forever, so the binding of columns that survive the stream's
    * whole life is version-invariant. [[requireStablePhysical]]
    * checks each batch's end version against it and fails LOUDLY
    * when the binding broke (a mapping reset via compact, or a
    * re-rename) — a stale binding must never silently null-fill.
    */
  private lazy val physBinding: (StructType, Long) = {
    val target = resolvedTarget
    val dataCols = dataSchemaOf(schema)
    // the binding anchors to the latest version whose LOGICAL schema
    // matches the stream's FIXED schema — not blindly to the current
    // head: this lazy val resolves at first batch PLANNING, and by
    // then a rename/widen may already have landed past the schema
    // the stream was built with (the walk is one manifest-rate check
    // in the steady state; it only steps back across the evolution
    // commits themselves)
    val targetHasH = st.mergedManifestSchema(path, target).isDefined
    def matches(v: Long): Boolean =
      st.mergedManifestSchema(path, v) match {
        // a pre-H LEGACY version can only anchor a fully-legacy
        // table (then there is no mapping anywhere); on a table
        // whose TARGET has H lines, walking back into the pre-H era
        // means nothing matched — fall through to the target anchor
        case None => !targetHasH
        case Some(ps) =>
          val logical = st.logicalSchemaOf(ps, st.columnMapping(path, v))
          dataCols.fields.forall(f => logical.fields.exists(lf =>
            lf.name.equalsIgnoreCase(f.name) &&
              lf.dataType == f.dataType))
      }
    // bounded walk: the anchor only ever sits a few evolution
    // commits behind the head (schema inference to first planning);
    // an externally-supplied schema matching NO version must not
    // scan 10⁴ manifests before falling back
    val v = st.listVersions(path).filter(_ <= target)
      .reverse.take(64).find(matches).getOrElse(target)
    (physicalized(st.columnMapping(path, v)), v)
  }
  private def physData: StructType = physBinding._1

  /** ZERO-COPY scan over the TABLE'S OWN data files — raw (non-CDF)
    * batches. Files store physical column names (column mapping), so
    * the requested schema is [[physData]]: the parquet reader looks
    * columns up by PHYSICAL name per file and returns rows
    * positionally equal to the stream's logical schema — a
    * RENAME/DROP-mapped snapshot streams from its own files, zero
    * projection, zero copy (batch reads achieve the same through
    * MorReadRule's V1 substitution; a stream scan has no analyzer to
    * rewrite it, so the physical request IS the projection). Widened
    * snapshots ride the vectorized reader's per-file type promotion
    * exactly like the batch path.
    */
  private def tableScanOver(files: Seq[String])
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val index = new InMemoryFileIndex(classic,
      files.map(new Path(_)), Map.empty, Some(physData))
    ParquetScanBuilder(classic, index, physData, physData,
      CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[org.apache.spark.sql.execution.datasources
        .v2.parquet.ParquetScan]
  }

  /** ZERO-COPY CDF bootstrap scan: the snapshot's OWN data files with
    * `_change_type='insert'` / `_commit_version=<version>` riding the
    * standard partition-value mechanism — each `PartitionedFile`
    * carries the two constants, the vectorized parquet reader appends
    * them per batch, and NOT ONE ROW is copied into the checkpoint
    * (the old path rewrote the full table under `_graft_cdf/` before
    * the first change row flowed — a full-table copy at 100 TB).
    * Data columns are requested under their PHYSICAL names (see
    * [[tableScanOver]]), so column-mapped snapshots bootstrap
    * zero-copy too. Only legal when the snapshot carries no deletion
    * vectors (a DV bootstrap is a computed anti-join plan and still
    * materializes).
    */
  private def constantScanOver(files: Seq[String], version: Long)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val cdfCols = StructType(schema.fields.filter(f =>
      f.name == "_change_type" || f.name == "_commit_version"))
    val values = new GenericInternalRow(Array[Any](
      UTF8String.fromString("insert"), version))
    val index = new ConstantPartitionIndex(classic,
      files.map(new Path(_)), physData, cdfCols, values)
    val physFull = StructType(physData.fields ++ cdfCols.fields)
    val b = ParquetScanBuilder(classic, index, physFull,
      physData, CaseInsensitiveStringMap.empty())
    // the full (physical data + CDF pair) schema is "required":
    // readDataSchema resolves to the physical data columns,
    // readPartitionSchema to the synthesized pair — output rows are
    // positionally the stream's CDF schema
    b.pruneColumns(physFull)
    b.build().asInstanceOf[org.apache.spark.sql.execution.datasources
      .v2.parquet.ParquetScan]
  }

  /** Mid-stream schema-evolution gate, shared by every serving path
    * (it runs at PLAN time, so even the raw-file mode fails with
    * restart guidance instead of a vectorized-reader type-mismatch
    * stack trace): a RENAME/DROP of a stream column makes the batch
    * carry names the stream's FIXED schema cannot surface (reading
    * them back would silently null-fill — a CDC replica would
    * overwrite good data with nulls), and an ALTER COLUMN TYPE makes
    * the wide data unreadable through the fixed narrow schema. Gate
    * on the END version's LOGICAL schema (a change-feed batch union
    * can null-mask an old name, so batch columns are not a reliable
    * witness); widening ADD COLUMNS is tolerated (extra columns
    * simply don't surface until a restart).
    */
  private def requireStableSchema(end: Long): Unit = {
    // the gate exists for evolution landing AFTER the stream's start
    // — version-stepped admission also walks HISTORICAL versions,
    // whose logical schemas legitimately differ (a pre-rename
    // version's column carries its old name; physical names are
    // stable, so serving it under the stream's binding is exact —
    // [[requireStablePhysical]] is the soundness check there)
    if (end <= physBinding._2) return
    // schema-in-log first: the gate runs per MICRO-BATCH, and
    // building a readVersioned relation just for .schema would list
    // every snapshot file each trigger (real planning cost at 10⁴
    // files); the merged H lines + mapping give the same logical
    // schema at metadata rate. Legacy tables without H lines fall
    // back to the relation (footer inference).
    val endSchema = st.mergedManifestSchema(path, end)
      .map(ps => st.logicalSchemaOf(ps, st.columnMapping(path, end)))
      .getOrElse(st.readVersioned(path, Some(end)).schema)
    val missing = dataSchemaOf(schema).fieldNames
      .filterNot(n => endSchema.fieldNames.exists(_.equalsIgnoreCase(n)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"graft-stream on $path: column(s) ${missing.mkString(", ")} " +
          "were renamed or dropped mid-stream; the stream's schema is " +
          "fixed at start — restart with a fresh checkpoint to pick " +
          "up the new shape.")
    val widened = dataSchemaOf(schema).fields.flatMap { f =>
      endSchema.fields.find(_.name.equalsIgnoreCase(f.name))
        .filter(_.dataType != f.dataType)
        .map(e => s"${f.name} (${f.dataType.simpleString} -> " +
          s"${e.dataType.simpleString})")
    }
    if (widened.nonEmpty)
      throw new IllegalStateException(
        s"graft-stream on $path: column type(s) changed mid-stream: " +
          s"${widened.mkString(", ")}; the stream's schema is fixed " +
          "at start — restart with a fresh checkpoint to pick up " +
          "the new types.")
  }

  /** Zero-copy serving additionally pins the PHYSICAL binding: the
    * reader factory resolved [[physData]] once, and a batch is only
    * servable when every stream column that exists LOGICALLY at the
    * batch's end version binds to the SAME stored name the factory
    * requests (a column absent logically is the benign added-later /
    * pre-rename-history case: serving its stable physical name
    * null-fills, defaults, or reads the same column's pre-rename
    * bytes — exactly the batch-read semantics). Anything else — a
    * mapping reset by compact under ignoreChanges, a re-rename, or
    * a logical-name SWAP cycle re-using another column's stored
    * name — fails loudly: the factory's stale request would
    * silently serve wrong or null data. Change-feed MATERIALIZED
    * batches don't ride physData and skip this (changeRows
    * translates to stream names per commit instead).
    */
  private def requireStablePhysical(end: Long): Unit =
    st.mergedManifestSchema(path, end).foreach { physE =>
      val mappingE = st.columnMapping(path, end)
      val logicalE = st.logicalSchemaOf(physE, mappingE)
      val data = dataSchemaOf(schema)
      val broken = data.fields.indices.flatMap { i =>
        val anchored = physData.fields(i).name
        val logicalPresent = logicalE.fieldNames
          .exists(_.equalsIgnoreCase(data.fields(i).name))
        if (!logicalPresent) None
        else {
          val nowPhys =
            st.physicalNameOf(data.fields(i).name, mappingE)
          if (nowPhys.equalsIgnoreCase(anchored)) None
          else Some(data.fields(i).name)
        }
      }
      if (broken.nonEmpty)
        throw new IllegalStateException(
          s"graft-stream on $path: column(s) " +
            s"${broken.mkString(", ")} changed their stored " +
            "(physical) binding mid-stream (a compact/overwrite " +
            "reset the mapping, or columns were re-renamed) — " +
            "restart with a fresh checkpoint.")
    }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val so = start.asInstanceOf[VOffset]
    val eo = end.asInstanceOf[VOffset]
    if (reached(eo, so)) return Array.empty
    requireStableSchema(eo.v)
    // SLICED batch (maxFilesPerTrigger): the range sits inside one
    // version's file delta — a deterministic manifest-order slice,
    // served zero-copy (CDF rows get the synthesized constants, the
    // slice is pure-append by construction so inserts-only is exact)
    if (so.f > 0 || eo.f > 0) {
      requireStablePhysical(eo.v)
      val fl = sliceableFiles(eo.v).getOrElse(
        throw new IllegalStateException(
          s"graft-stream on $path: offset ${eo.json()} slices a " +
            "change-shaped version — the commit log moved under the " +
            "checkpoint; restart with a fresh checkpoint"))
      val from = if (so.v == eo.v) so.f else 0L
      val until = if (eo.f == 0L) fl.size.toLong else eo.f
      val slice = fl.slice(from.toInt, until.toInt)
      if (slice.isEmpty) return Array.empty
      return if (changeFeed)
        constantScanOver(slice, eo.v).toBatch.planInputPartitions()
          .map(p => CdfPartition(p, boot = true): InputPartition)
      else tableScanOver(slice).toBatch.planInputPartitions()
    }
    val s = so.v
    val e = eo.v
    if (!changeFeed) {
      requireStablePhysical(e)
      val files = deltaFiles(s, e)
      if (files.isEmpty) return Array.empty
      return tableScanOver(files).toBatch.planInputPartitions()
    }
    // housekeeping at plan time too: ranges ending at or before this
    // batch's START offset are durably committed (the engine logged
    // their commit before constructing this batch) and never replan —
    // the engine only invokes commit(end) when a NEXT batch starts,
    // so a one-shot AvailableNow drain would otherwise strand its
    // last batch's materialization until the following drain
    cleanSpentCdfDirs(s)
    if (s < 0 && st.manifestDvs(path, e).isEmpty) {
      // zero-copy bootstrap — column-mapped snapshots included (the
      // constant scan requests physical names)
      requireStablePhysical(e)
      val files = st.manifestFiles(path, e)
      if (files.isEmpty) return Array.empty
      constantScanOver(files, e).toBatch.planInputPartitions()
        .map(p => CdfPartition(p, boot = true): InputPartition)
    } else {
      // PURE-APPEND step served ZERO-COPY — the bootstrap treatment
      // extended to per-commit steps (the maxVersionsPerTrigger=1
      // feed shape): when exactly one non-maintenance commit
      // contributes in (s, e], the DV set did not drift, and the
      // file list grew by a pure suffix, the step's change rows ARE
      // the added files with the CDF columns synthesized as
      // constants (_change_type='insert', _commit_version=v) — no
      // _graft_cdf write job, no batch re-read, O(0) extra bytes for
      // the append-only feed at any scale. Column-mapped tables keep
      // the materializing path (it owns the rename-translation
      // contract); change-shaped steps (DV drift / rewrites) keep it
      // too (their rows are computed plans).
      val zeroCopyAppend: Option[(Long, Seq[String])] =
        if (s < 0 || st.columnMapping(path, e).isDefined) None
        else try {
          val committed = st.listVersions(path).toSet
          val contributing = (s + 1 to e)
            .filter(committed).filter(admissible)
            .filter(v => st.commitOpOf(path, v).isEmpty)
          if (contributing.size != 1) None
          else {
            val fS = st.manifestFiles(path, s)
            val fE = st.manifestFiles(path, e)
            if (st.manifestDvs(path, s).toSet ==
                  st.manifestDvs(path, e).toSet &&
                fE.take(fS.size) == fS)
              Some((contributing.head, fE.drop(fS.size)))
            else None
          }
        } catch {
          // a vacuumed consumer offset must surface changeRows'
          // retention guidance, not this probe's raw manifest error
          case _: IllegalArgumentException => None
        }
      zeroCopyAppend match {
        case Some((v, added)) =>
          if (added.isEmpty) return Array.empty
          constantScanOver(added, v).toBatch.planInputPartitions()
            .map(p => CdfPartition(p, boot = true): InputPartition)
        case None =>
          val files = changeRows(s, e)
          if (files.isEmpty) return Array.empty
          parquetScanOver(files).toBatch.planInputPartitions()
            .map(p => CdfPartition(p, boot = false): InputPartition)
      }
    }
  }

  /** Reader factory binds schema + conf, not a file list — one
    * factory serves every batch's partitions. Change-feed partitions
    * carry a bootstrap/materialized tag: bootstrap batches read the
    * table's data columns + synthesized constants, materialized
    * batches read all columns from the batch parquet.
    */
  override def createReaderFactory(): PartitionReaderFactory =
    if (!changeFeed)
      tableScanOver(Seq.empty).toBatch.createReaderFactory()
    else new CdfReaderFactory(
      constantScanOver(Seq.empty, 0L).toBatch.createReaderFactory(),
      parquetScanOver(Seq.empty).toBatch.createReaderFactory())

  override def toString: String = s"GraftMicroBatchStream($path)"
}

/** File index serving a FIXED file list where every file shares ONE
  * synthesized partition-values row — the CDF bootstrap's constant
  * `_change_type`/`_commit_version` pair. The files themselves are
  * unpartitioned data files; the "partition columns" exist only in
  * the scan's read schema.
  */
private[sources] final class ConstantPartitionIndex(
    sess: org.apache.spark.sql.classic.SparkSession,
    files: Seq[Path], dataSchema: StructType,
    partCols: StructType, values: InternalRow)
  extends InMemoryFileIndex(sess, files, Map.empty, Some(dataSchema)) {

  override def partitionSpec(): PartitionSpec =
    PartitionSpec(partCols, Nil)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(values, allFiles().toArray))
}

/** A change-feed batch partition, tagged with which reader shape it
  * needs (bootstrap constants vs materialized change rows).
  */
private[sources] final case class CdfPartition(
    inner: InputPartition, boot: Boolean) extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Dispatches each tagged partition to the factory whose read schema
  * shape built it — one serializable factory pair serves every batch
  * of the stream.
  */
private[sources] final class CdfReaderFactory(
    bootF: PartitionReaderFactory, rowsF: PartitionReaderFactory)
  extends PartitionReaderFactory {

  private def pick(p: InputPartition): (PartitionReaderFactory, InputPartition) =
    p match {
      case CdfPartition(inner, true)  => (bootF, inner)
      case CdfPartition(inner, false) => (rowsF, inner)
      case other                      => (rowsF, other)
    }

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val (f, inner) = pick(p)
    f.createReader(inner)
  }

  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (f, inner) = pick(p)
    f.createColumnarReader(inner)
  }

  override def supportColumnarReads(p: InputPartition): Boolean = {
    val (f, inner) = pick(p)
    f.supportColumnarReads(inner)
  }
}
