package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture scale-replicator: blow an sf directory up N× with
  * referentially consistent keys — replica r shifts every key family
  * by r·offset, so joins (lineitem⋈orders⋈customer, part, supplier)
  * land exactly as at the source scale and group/window cardinalities
  * grow linearly. Dims (nation, region) copy verbatim, matching how a
  * real 10× corpus shares its dimension tables.
  *
  * Dev tool for the scale-validation protocol (BASELINE.md): the
  * harness ships sf0.001–0.1; `GenScale src dst 10` synthesizes the
  * 10× point so the bench can demonstrate how each operator family
  * scales — the same role the reference's multi-GB real-file suite
  * plays (RealWorldFilesIT.java:45-117).
  *
  * Usage: runMain graft.GenScale /root/testdata/sf0.1 target/sf1 10
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, repsStr) = args
    val reps = repsStr.toInt
    val spark = GraftSession.local(GraftSession.envCpus, Some("WARN"))
    import spark.implicits._

    // key-family offsets, all above the sf0.1 max of their family
    val O = 1000000L // orderkey
    val C = 100000L  // custkey
    val P = 100000L  // partkey
    val S = 10000L   // suppkey
    val D = 100000L  // doc_id
    val V = 100000L  // vec_id
    val E = 1000000L // event_id
    val U = 100000L  // user_id

    def rep(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(reps).select($"id".as("__rep")))

    def shift(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val shifted = shifts.foldLeft(rep(df)) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + $"__rep" * off)
      }
      shifted.drop("__rep").select(df.columns.map(col): _*)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    write(shift(t("lineitem"),
      "l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S), "lineitem")
    write(shift(t("orders"), "o_orderkey" -> O, "o_custkey" -> C), "orders")
    // c_name is key-derived in the fixture ("Customer#%09d"), so it
    // REGENERATES from the shifted key: verbatim copies would hand
    // entity-resolution a corpus where every name exists `reps` times
    // — its blocked pair emission is quadratic in clones BY
    // CONSTRUCTION (same fixture artifact as the documents clone
    // note below), where a real 10x corpus has 10x ENTITIES. Replica
    // 0 keys are unshifted, so its names stay byte-identical.
    write(shift(t("customer"), "c_custkey" -> C)
      .withColumn("c_name", format_string("Customer#%09d", $"c_custkey")),
      "customer")
    write(shift(t("part"), "p_partkey" -> P), "part")
    write(shift(t("supplier"), "s_suppkey" -> S), "supplier")
    write(t("nation"), "nation")
    write(t("region"), "region")
    // Documents get a per-replica token prefix ("r3_the r3_cat ...")
    // on replicas ≥ 1: VERBATIM replication would hand every near-dup
    // operator a corpus of 10-way exact clones, whose C(reps,2) pair
    // emission is quadratic BY CONSTRUCTION (any correct dedup must
    // report all true duplicate pairs) — that measures the fixture,
    // not the operator. Prefixing makes replica shingle spaces
    // disjoint, so each replica reproduces the source corpus's
    // near-dup structure and pair counts scale linearly, which is
    // what a real 10× corpus looks like. Replica 0 stays verbatim.
    val docs = rep(t("documents"))
      .withColumn("doc_id", col("doc_id") + col("__rep") * D)
      .withColumn("text",
        when(col("__rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(^| )"),
            concat(lit("$1r"), col("__rep").cast("string"), lit("_")))))
      .drop("__rep")
      .select(t("documents").columns.map(col): _*)
    write(docs, "documents")
    write(shift(t("embeddings"), "vec_id" -> V), "embeddings")
    // events.ts reads as TIMESTAMP_NTZ (Spark ≥4.1 surface for parquet
    // NANOS) and is written back as micros NTZ — T.events dispatches on
    // the loaded schema, so either encoding round-trips identically
    write(shift(t("events"), "event_id" -> E, "user_id" -> U), "events")
    spark.stop()
  }
}
