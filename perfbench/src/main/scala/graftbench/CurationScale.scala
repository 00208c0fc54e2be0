package graftbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.llm.Dedup

/** A few long executor-bound pipelines, run through the registered
  * query entry points.
  */
final class CurationScale(spark: SparkSession, rec: Recorder, data: String) {
  val Pipelines = Seq("llm_dedup_near", "llm_dedup_ppjoin", "llm_knn",
    "llm_knn_pq_trained", "llm_pipeline_e2e", "graph_pagerank")

  /** Span name of a pipeline: the module layer it exercises. */
  def layer(name: String): String =
    if (name.startsWith("llm_")) "llm." + name.stripPrefix("llm_")
    else "operators." + name

  /** One pass over `dir`: the operation this workload times. Outputs
    * go to `outDir` as parquet for the oracle check (they are a few
    * hundred rows each), or to the noop sink when it is None.
    */
  def pass(dir: String, outDir: Option[String]): Op = rec.op("pass") { _ =>
    Pipelines.foreach { name =>
      rec.span(layer(name)) {
        val df = rec.span("construct")(SparkEntry.queries(name)(spark, dir))
        rec.planAndRun(df) { d =>
          val w = d.write.mode("overwrite")
          outDir.fold(w.format("noop").save())(o => w.parquet(s"$o/$name"))
        }
      }
    }
  }

  def oracleSql: Map[String, String] =
    Pipelines.map(n => n -> SparkEntry.oracleSql(n)).toMap

  /** LSH candidate pairs, counted once through the public cores. */
  def lshCandidates(): Long = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val sh = Dedup.shingleRows(docs).localCheckpoint()
    Dedup.lshCandidatesCore(Dedup.bandRows(Dedup.minhashSigs(sh)))
      .select("doc_a", "doc_b").distinct().count()
  }
}
