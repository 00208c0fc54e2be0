package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftStorage

/** Bounded traversals through an index: many short seeded queries over
  * a date-clustered, zone-mapped and Bloom-indexed `lineitem` and a
  * key-clustered `orders`. Every query ends in count + exact sum, which
  * the driver script checks against DuckDB on the generated inputs.
  */
final class IntervalReads(spark: SparkSession, rec: Recorder, data: String,
    seed: Long) {
  /** Files per table: part of the workload, not of the machine. */
  val Files = 16
  private val DayUs = 86400000000L
  private val Day0 = 8035L        // first order day (1992-01-01)
  private val Days = 2405L + 122  // order days plus the ship delay

  private val rnd = new scala.util.Random(seed)
  private var li = ""
  private var od = ""
  private val nLines = spark.read.parquet(s"$data/lineitem.parquet").count()
  private val nOrders = spark.read.parquet(s"$data/orders.parquet").count()
  val filesListed = scala.collection.mutable.Map[String, Long]()

  /** Writes both indexed layouts into `dir`. */
  def layout(dir: String): Unit = {
    val st = GraftStorage(spark)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", Files.toString)
    try {
      li = s"$dir/lineitem"
      st.writeIndexed(spark.read.parquet(s"$data/lineitem.parquet"), li,
        "l_shipdate", "l_shipdate")
      st.buildBloomIndex(li, Seq("l_orderkey"),
        expectedPerFile = nLines / Files + 1)
      od = s"$dir/orders"
      st.writeIndexed(spark.read.parquet(s"$data/orders.parquet"), od,
        "o_orderkey", "o_orderkey")
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  /** Data files per table, for the files-listed count (untimed). */
  def countFiles(): Unit = for (p <- Seq(li, od)) filesListed(p) = dataFiles(p)

  private def dataFiles(path: String): Long = {
    val d = new java.io.File(path)
    d.listFiles().count(f => f.getName.endsWith(".parquet"))
  }

  // Zipf over a seeded ranking of 128 bins: a minority of bins (and so
  // of files) serves most queries.
  private val Bins = 128
  private val binRank = rnd.shuffle((0 until Bins).toVector)
  private val zipfCdf = {
    val w = (1 to Bins).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toVector
  }
  private def zipfPoint(lo: Long, span: Long): Long = {
    val u = rnd.nextDouble()
    val r = zipfCdf.indexWhere(_ >= u) max 0
    val bin = binRank(r)
    lo + (bin * span) / Bins + (rnd.nextDouble() * (span / Bins).toDouble).toLong
  }
  private def logUniform(lo: Double, hi: Double): Long =
    math.exp(math.log(lo) + rnd.nextDouble() * (math.log(hi) - math.log(lo))).toLong

  /** A shipdate interval in epoch micros: day to a year wide. */
  private def dateRange(): (Long, Long) = {
    val c = zipfPoint(Day0, Days)
    val w = logUniform(1, 366)
    ((c - w / 2) * DayUs, (c - w / 2 + w) * DayUs - 1)
  }
  /** An orderkey interval about as selective as a date interval. */
  private def keyRange(): (Long, Long) = {
    val c = zipfPoint(0, nOrders)
    val w = logUniform(nOrders / Days + 1, nOrders * 366.0 / Days)
    (c - w / 2, c - w / 2 + w)
  }

  private def ts(us: Long) = lit(new java.sql.Timestamp(us / 1000))
  private def dateIn(ranges: Seq[(Long, Long)]): Column =
    ranges.map { case (a, b) => col("l_shipdate").between(ts(a), ts(b)) }
      .reduce(_ || _)

  /** count + exact decimal sum, the shape every query ends in. */
  private def finish(o: Op, df: DataFrame, sumCol: String, path: String): Unit = {
    val agg = df.agg(count(lit(1)).as("n"),
      sum(col(sumCol).cast("decimal(18,2)")).as("s"))
    val row = rec.planAndRun(agg)(_.collect().head)
    o.detail("count") = row.getLong(0)
    o.detail("sum") = Option(row.getDecimal(1)).map(_.toPlainString).orNull
    o.detail("files_listed") = filesListed(path)
    Scans.of(agg.queryExecution).foreach { case (k, v) => o.detail(k) = v }
  }

  private def spec(o: Op, table: String, pred: String, args: Any): Unit = {
    o.detail("table") = table
    o.detail("pred") = pred
    o.detail("args") = args
  }
  private def pairs(rs: Seq[(Long, Long)]) = rs.map { case (a, b) => Seq(a, b) }

  /** One deck: the query kinds and how many of each it holds. A run
    * deals whole decks in seeded order, so every run has the same mix
    * and its sample count moves only in steps of a deck.
    */
  val Deck = Seq("pruned_range" -> 4, "indexed_range" -> 3,
    "traversal_range" -> 3, "multi_range" -> 3, "multi_traversal" -> 2,
    "point_lookup" -> 3, "unbounded_scan" -> 2)

  def deck(): Unit =
    rnd.shuffle(Deck.flatMap { case (k, n) => Seq.fill(n)(k) }).foreach(query)

  /** One seeded query of the given kind. */
  def query(kind: String): Op = {
    val st = GraftStorage(spark)
    kind match {
      case "pruned_range" => rec.op(kind) { o =>
        val r = dateRange()
        spec(o, "lineitem", "date_ranges", pairs(Seq(r)))
        val df = rec.span("sources.read_call")(st.readPruned(li)).filter(dateIn(Seq(r)))
        finish(o, df, "l_extendedprice", li)
      }
      case "indexed_range" => rec.op(kind) { o =>
        val (a, b) = dateRange()
        spec(o, "lineitem", "date_ranges", pairs(Seq((a, b))))
        val df = rec.span("sources.read_call")(st.readIndexed(li, "l_shipdate",
          new java.sql.Timestamp(a / 1000), new java.sql.Timestamp(b / 1000)))
        finish(o, df, "l_extendedprice", li)
      }
      case "traversal_range" => rec.op(kind) { o =>
        val r = keyRange()
        spec(o, "orders", "key_ranges", pairs(Seq(r)))
        val df = rec.span("sources.read_call")(
          st.readTraversal(od, "o_orderkey", Some(Seq(r))))
        finish(o, df, "o_totalprice", od)
      }
      case "multi_range" => rec.op(kind) { o =>
        val rs = Seq.fill(2 + rnd.nextInt(7))(dateRange())
        spec(o, "lineitem", "date_ranges", pairs(rs))
        val df = rec.span("sources.read_call")(st.readPruned(li)).filter(dateIn(rs))
        finish(o, df, "l_extendedprice", li)
      }
      case "multi_traversal" => rec.op(kind) { o =>
        val rs = Seq.fill(2 + rnd.nextInt(7))(keyRange())
        spec(o, "orders", "key_ranges", pairs(rs))
        val df = rec.span("sources.read_call")(
          st.readTraversal(od, "o_orderkey", Some(rs)))
        finish(o, df, "o_totalprice", od)
      }
      case "point_lookup" => rec.op(kind) { o =>
        val keys = Seq.fill(1 + rnd.nextInt(5))(zipfPoint(0, nOrders)).distinct
        spec(o, "lineitem", "orderkeys", keys)
        val df = rec.span("sources.read_call")(st.readPruned(li))
          .filter(col("l_orderkey").isin(keys: _*))
        finish(o, df, "l_extendedprice", li)
      }
      case "unbounded_scan" => rec.op(kind) { o =>
        val q = 1 + rnd.nextInt(50)
        spec(o, "lineitem", "quantity_le", q)
        val df = rec.span("sources.read_call")(
          st.readTraversal(li, "l_orderkey", None)).filter(col("l_quantity") <= q)
        finish(o, df, "l_extendedprice", li)
      }
    }
  }
}
