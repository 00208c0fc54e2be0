package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.GraftStorage

/** Commits beside reads on one versioned `orders` table: seeded MoR
  * upserts, key deletes and appends, deletion-vector application and
  * compaction, each commit followed by a snapshot aggregate, and a
  * change feed that follows the DML commits. A model replays the same
  * batches and must agree with every read.
  */
final class TableCommits(spark: SparkSession, rec: Recorder, data: String,
    seed: Long) {
  /** One cycle: a change feed started on the compacted table, four DML
    * commits in seeded order, a catch-up over them, deletion vectors
    * applied, four more DML commits, a compaction. Every cycle does the
    * same work: the catch-up always covers four append-shaped DML
    * commits (a feed over a maintenance rewrite would take the much
    * slower full-diff path and grow with the range it covers), and the
    * table returns to one compacted version before the next cycle.
    * Upserts, the CDC-apply shape, are half of the DML, so the median
    * commit is an upsert rather than the boundary between two kinds.
    * Each DML commit has a fixed size, 0.1-2% of the base table; the
    * seed picks the order within a half, the keys and the values.
    */
  val Halves = Seq(
    Seq("merge_mor" -> 0.02, "merge_mor" -> 0.001, "delete_mor" -> 0.01, "append" -> 0.002),
    Seq("merge_mor" -> 0.005, "merge_mor" -> 0.002, "delete_mor" -> 0.02, "append" -> 0.001))

  private val rnd = new scala.util.Random(seed)
  private val st = GraftStorage(spark)
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  var path = ""
  private var dir = ""
  private var feeds = 0
  private var base = 0L
  private var nextKey = 0L
  // the model: live key -> price in cents
  private val live = mutable.LongMap[Long]()
  /** Rows the current change feed delivered, per change type. */
  val feed = mutable.Map[String, Long]().withDefaultValue(0L)
  /** Table state just before the last compaction of a kept cycle. */
  var lastState = Map.empty[String, Any]
  /** Every batch committed in the timed loop, kept for write_amp. */
  val batches = mutable.ArrayBuffer[DataFrame]()
  var keepBatches = false

  private def orders = spark.read.parquet(s"$data/orders.parquet")
    .select(schema.fieldNames.toIndexedSeq.map(c => col(c).cast(schema(c).dataType)): _*)

  /** Creates the table in `dir` from the generated orders. */
  def layout(dir: String): Unit = {
    this.dir = dir
    path = s"$dir/orders"
    st.writeVersioned(orders, path)
  }

  /** Loads the model from the same generated orders (untimed). */
  def loadModel(): Unit = {
    orders.select("o_orderkey", "o_totalprice").collect().foreach { r =>
      live(r.getLong(0)) = math.round(r.getDouble(1) * 100)
    }
    base = live.size
    nextKey = live.keysIterator.max + 1
  }

  private def size(fraction: Double): Int = math.max(1, (fraction * base).toInt)
  private def pick(n: Int): Seq[Long] = {
    val keys = live.keysIterator.toArray
    java.util.Arrays.sort(keys)
    Iterator.continually(keys(rnd.nextInt(keys.length))).distinct
      .take(math.min(n, keys.length)).toSeq
  }
  private def rows(keys: Seq[Long]): Seq[(Long, Long)] =
    keys.map(k => k -> (90000L + rnd.nextInt(49910000)))
  private def frame(rs: Seq[(Long, Long)]): DataFrame = {
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val out = rs.map { case (k, cents) =>
      Row(k, k % 15000, "O", cents / 100.0,
        new java.sql.Timestamp((8035L + k % 2405) * 86400000L), prio((k % 5).toInt))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  private def commit(kind: String)(body: => Unit): Op = rec.op(kind) { o =>
    rec.span(s"sources.commit.$kind")(body)
  }

  private def dml(kind: String, n: Int): Op = kind match {
    case "merge_mor" =>
      val rs = rows(pick(n))
      val df = frame(rs)
      val o = commit(kind)(st.mergeVersionedMor(path, df, "o_orderkey"))
      if (o.ok) { rs.foreach { case (k, c) => live(k) = c }; keep(df) }
      o
    case "delete_mor" =>
      val keys = pick(n)
      val df = spark.createDataFrame(java.util.Arrays.asList(keys.map(Row(_)): _*),
        StructType(Seq(StructField("o_orderkey", LongType))))
      val o = commit(kind)(st.deleteVersionedMorKeys(path, df, "o_orderkey"))
      if (o.ok) { keys.foreach(live.remove); keep(df) }
      o
    case "append" =>
      val rs = rows((0 until n).map(i => nextKey + i))
      val df = frame(rs)
      val o = commit(kind)(st.writeVersioned(df, path, append = true))
      if (o.ok) { nextKey += n; rs.foreach { case (k, c) => live(k) = c }; keep(df) }
      o
  }
  private def keep(df: DataFrame): Unit = if (keepBatches) batches += df

  /** Snapshot aggregate after a commit, checked against the model. */
  private def read(): Op = rec.op("snapshot_read") { o =>
    val agg = rec.span("sources.read_call")(st.readVersioned(path))
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")),
        sum(col("o_orderkey")))
    val r = rec.planAndRun(agg)(_.collect().head)
    val got = (r.getLong(0), Option(r.getDecimal(1)).map(_.movePointRight(2)
      .longValueExact).getOrElse(0L), if (r.isNullAt(2)) 0L else r.getLong(2))
    val want = (live.size.toLong, live.valuesIterator.sum, live.keysIterator.sum)
    if (got != want) {
      o.ok = false
      o.error = s"snapshot $got, model $want"
    }
    o.detail("wrong") = got != want
  }

  /** Drains the change feed from its checkpoint to the latest version
    * and checks that it nets to the model: inserts minus deletes over
    * the whole feed equal the live rows.
    */
  private def drain(kind: String, ckpt: String): Op = rec.op(kind) { o =>
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.groupBy("_change_type").count().collect()
        .foreach(r => counts(r.getString(0)) += r.getLong(1))
    rec.span("streaming.follow") {
      st.streamVersionedChanges(path).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start().awaitTermination()
    }
    counts.foreach { case (k, v) => feed(k) += v }
    o.detail("rows") = counts.values.sum
    val net = feed("insert") - feed("delete")
    if (net != live.size) {
      o.ok = false
      o.error = s"change feed nets $net rows, model has ${live.size}"
    }
    o.detail("wrong") = net != live.size
  }

  /** A new feed on a fresh checkpoint: its first batch is the current
    * snapshot as inserts.
    */
  private def startFeed(): Unit = {
    feeds += 1
    feed.clear()
    drain("follow_start", s"$dir/feed$feeds")
  }
  /** Catch-up: the changes committed since the feed last drained. */
  private def follow(): Op = drain("follow", s"$dir/feed$feeds")

  private def half(i: Int, scale: Double = 1.0): Unit =
    rnd.shuffle(Halves(i)).foreach { case (kind, f) => dml(kind, size(f * scale)); read() }

  /** One cycle of commits, each followed by its snapshot read. */
  def cycle(): Unit = {
    startFeed()
    half(0)
    follow()
    commit("apply_deletes")(st.applyDeletesVersioned(path)); read()
    half(1)
    if (keepBatches) lastState = state()
    commit("compact")(st.compactVersioned(path)); read()
  }

  /** A cycle with smaller DML commits: every path once. */
  def warmup(): Unit = {
    startFeed()
    half(0, 0.25)
    follow()
    commit("apply_deletes")(st.applyDeletesVersioned(path)); read()
    commit("compact")(st.compactVersioned(path)); read()
  }

  /** Every file under the table directory, path -> bytes. */
  def files(): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length())
    walk(new java.io.File(path)).toMap
  }

  /** Files and rows of the latest snapshot, and its log length. */
  def state(): Map[String, Any] = {
    val v = st.listVersions(path).last
    val liveFiles = st.filesVersioned(path).filter(col("version") === v)
      .select("file").collect().map(_.getString(0)).toSeq
    val liveRows = spark.read.parquet(liveFiles: _*).count()
    val log = Option(new java.io.File(s"$path/_manifest").listFiles())
      .toSeq.flatten.count(f => !f.getName.startsWith("."))
    Map("live_files" -> liveFiles.size, "log_files" -> log,
      "mor_rows_masked" -> (liveRows - live.size), "model_rows" -> live.size)
  }
}
