package graft.llm

import graft.{QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Similarity search over the embeddings table (array<float>, 64-dim)
  * — SURVEY.md §2.11 north star.
  *
  * Baseline: brute-force cosine top-k (broadcast queries × corpus
  * scan — embarrassingly parallel, the right plan when the query set
  * is small). Scale path: sign-random-projection LSH buckets so the
  * candidate join is an equi-join on bucket ids instead of a cross
  * product; multi-probe (1-bit flips) recovers recall.
  */
object Knn extends QueryModule {

  private val K = 5
  private val NQueries = 20

  /** Sequential-order dot product with a double accumulator (parity
    * with DuckDB's list accumulation over DOUBLE[]).
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))

  private def base(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = T.t(s, dir, "embeddings")
    // parallelism guard (the shingleRows pattern): the embeddings scan
    // may be narrower than the cluster (one parquet file locally), and
    // the family's pipelines are broadcast-join map stages with NO
    // downstream exchange — every localCheckpoint and distance kernel
    // inherits the scan's width, so a 1-file corpus ran the whole PQ
    // distance pass on ONE task (measured: pqDists 1.34 s → 0.22 s at
    // sf0.1 once widened). Keyed by vec_id: checkpoints preserve the
    // hash partitioning, so per-vector groupBy/window stages
    // downstream run exchange-free. A corpus already wider than the
    // cluster passes through untouched — at 100 TB this branch never
    // fires.
    val cores = s.sparkContext.defaultParallelism
    val wide =
      if (raw.rdd.getNumPartitions >= cores) raw
      else raw.repartition(cores, $"vec_id")
    wide.select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", norm($"v"))
  }

  /** Brute-force cosine top-k for the first NQueries vectors. The
    * similarity is the native CosineSimilarity expression — a fused
    * codegen loop (same sequential accumulation as the HOF version).
    */
  def knn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = base(s, dir)
    val q = b.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val c = b.select($"vec_id".as("nid"), $"v".as("nv"))
    val w = Window.partitionBy($"qid")
      .orderBy(round($"cos", 4).desc, $"nid")
    c.crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine_sim($"qv", $"nv"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"qid", $"nid", round($"cos", 4).as("cos_sim"), $"rn")
      .orderBy($"qid", $"rn")
  }

  private val NumPlanes = 6

  /** ±1 hyperplane entry for (plane, dim) from closed-form integer
    * arithmetic — pseudo-random enough for sign-LSH, and (unlike a
    * seeded PRNG stream) expressible in ANSI SQL, which is what lets
    * llm_knn_lsh carry a full DuckDB oracle.
    */
  private def planeSign(p: Int, d: Column): Column =
    when(((lit(p * 131) + d * 17) % 7) % 2 === 0, lit(1L)).otherwise(lit(-1L))

  /** Sign-LSH bucket over INTEGER-quantized components: bit p is the
    * sign of Σ_d ±⌊v_d·1000⌋. All-integer accumulation is
    * order-independent, so Spark and the SQL oracle compute identical
    * buckets — a float dot's near-zero signs would hang on summation
    * order. Quantization at 1e-3 moves recall imperceptibly
    * (LlmSpec's floor holds).
    */
  private def bucketOf(v: Column): Column = {
    val qv = transform(v, x => floor(x * 1000).cast("long"))
    (0 until NumPlanes).map { p =>
      val dotp = aggregate(
        transform(qv, (x, d) => x * planeSign(p, d)),
        lit(0L), (acc, x) => acc + x)
      when(dotp > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce[Column](_ + _)
  }

  /** Probe masks: exact bucket, all 1-bit flips, all 2-bit flips —
    * multi-probe recovers recall lost to near-boundary sign flips.
    */
  private val probeMasks: Seq[Int] = {
    val singles = (0 until NumPlanes).map(1 << _)
    val pairs = for {
      i <- 0 until NumPlanes; j <- (i + 1) until NumPlanes
    } yield (1 << i) | (1 << j)
    0 +: (singles ++ pairs)
  }

  /** ANN via sign-LSH buckets + 2-bit multi-probe: candidates come
    * from an equi-join on bucket id (probe side exploded over all
    * masks of hamming weight ≤ 2 — exactly the hamming-≤-2 candidate
    * set), then exact cosine ranks them. The integer-quantized
    * closed-form planes make the whole pipeline SQL-expressible, so
    * this carries a full DuckDB oracle; recall vs brute force is
    * additionally asserted in LlmSpec.
    */
  def knnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = base(s, dir).withColumn("bucket", bucketOf($"v"))
    val probes = array(probeMasks.map(flip => $"bucket".bitwiseXOR(lit(flip))): _*)
    val q = b.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"),
        explode(probes).as("bucket"))
    val c = b.select($"vec_id".as("nid"), $"v".as("nv"), $"bucket")
    val w = Window.partitionBy($"qid")
      .orderBy(round($"cos", 4).desc, $"nid")
    // the 22 probe masks are distinct, so a candidate's bucket
    // matches at most ONE of a query's probe values — (qid, nid)
    // pairs are unique by construction and a dedup here would add a
    // full extra shuffle of the candidate set for no semantic effect
    c.join(broadcast(q), "bucket")
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid", $"qv", $"nv")
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine_sim($"qv", $"nv"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"qid", $"nid", round($"cos", 4).as("cos_sim"), $"rn")
      .orderBy($"qid", $"rn")
  }

  private val NumCells = 16
  private val NProbe = 4

  /** IVF-style ANN: corpus vectors are assigned to their
    * nearest-centroid cell once (broadcast centroids, map-side argmax
    * — at scale this is the "train then index" write path); a query
    * probes only its NProbe closest cells, so the candidate join is
    * an equi-join on cell id over ~NProbe/NumCells of the corpus.
    * Centroids here are the first NumCells vectors (deterministic
    * stand-in for a k-means fit; the plumbing is identical).
    */
  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialized: feeds the centroid pick + both probe-plan branches
    val b = base(s, dir).localCheckpoint()
    val cents = b.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    knnWithCells(s, b, cents)
  }

  /** Lloyd-iteration spherical k-means, Spark-native: centroids stay
    * a driver-side literal (k×d doubles — tiny at any corpus scale);
    * each iteration is one distributed pass — assign every vector to
    * its max-cosine centroid (broadcast literal, map-side argmax, no
    * shuffle of vectors), then recompute per-cell elementwise means
    * via posexplode + groupBy(cell, pos) (shuffles k·d tiny rows).
    * DECIMAL(28,12) sums make the fit bit-deterministic regardless of
    * partial-agg order. Empty cells keep their previous centroid.
    */
  private[graft] def trainCentroids(s: SparkSession, b: DataFrame,
      k: Int, iters: Int): IndexedSeq[Seq[Double]] = {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    var cents: IndexedSeq[Seq[Double]] = b.filter($"vec_id" < k)
      .orderBy($"vec_id").select($"v").collect()
      .map(_.getSeq[Double](0).toSeq).toIndexedSeq
    for (_ <- 0 until iters) {
      // per-centroid NATIVE CosineSimilarity (fused codegen loop)
      // instead of a transform() over an array-of-centroids literal:
      // the HOF re-enters interpreted evaluation per element and
      // allocates per row, measured ~3× slower per Lloyd pass
      val sims = array(cents.map(c =>
        graft.functions.VectorFunctions.cosine_sim($"v", typedlit(c))): _*)
      val means = b.withColumn("sims", sims)
        .withColumn("cell",
          (array_position($"sims", array_max($"sims")) - 1).cast("int"))
        .select($"cell", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum($"x".cast(DecimalType(28, 12))).cast(DoubleType) /
          count(lit(1))).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = (0 until k).map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          case None => cents(c)
        }
      }
    }
    cents
  }

  /** IVF with a real k-means fit (2 Lloyd passes) instead of the
    * first-k stand-in — same probe/join plan as knnIvf; the trained
    * cells balance the corpus so probe fan-out is even. Two passes
    * already move every centroid and hit the same recall floor as
    * three (LlmSpec) at 2/3 the training cost — each extra pass is a
    * full corpus scan. The whole fit is deterministic (first-k init,
    * first-max ties, DECIMAL-exact means), so the oracle replays both
    * Lloyd passes in SQL; recall vs brute force asserted in LlmSpec.
    */
  def knnIvfTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialized: each Lloyd pass re-reads it, then the probe plan
    // uses it twice more
    val b = base(s, dir).localCheckpoint()
    val trained = trainCentroids(s, b, NumCells, 2)
    val cents = s.createDataFrame(
      trained.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("cid", "cv")
    knnWithCells(s, b, cents)
  }

  /** Shared IVF probe plan: assign corpus rows to their top-1 cell,
    * probe queries into their NProbe cells, equi-join on cell id,
    * exact cosine rank.
    */
  /** Broadcast-centroid cell ranking — THE assignment every IVF
    * surface shares: rows (vec_id, v, …) × centroids (cid, cv) gain
    * csim and crn (cosine rank of the centroid; ties to the smaller
    * cid), pruned to crn <= maxRank. One definition on purpose: the
    * stored index, the probe plans, semdedup's cells, and the spec
    * containment gates all assume the IDENTICAL assignment — six
    * hand-rolled copies of this block were one edited tie-break away
    * from silently desynchronizing them.
    */
  private def cellRank(b: DataFrame, cents: DataFrame,
      maxRank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    b.crossJoin(broadcast(cents))
      .withColumn("csim",
        graft.functions.VectorFunctions.cosine_sim(col("v"), col("cv")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("cid"))))
      .filter(col("crn") <= maxRank)
  }

  private def knnWithCells(s: SparkSession, b: DataFrame,
      cents: DataFrame): DataFrame = {
    import s.implicits._
    // assignment computed ONCE (materialized pruned to crn<=NProbe):
    // the corpus and probe branches would otherwise each re-run the
    // crossJoin + window over the full corpus
    val ranked = cellRank(b, cents, NProbe).localCheckpoint()
    val corpus = ranked.filter($"crn" === 1)
      .select($"vec_id".as("nid"), $"v".as("nv"), $"cid")
    val qprobe = ranked.filter($"vec_id" < NQueries && $"crn" <= NProbe)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"cid")
    val w = Window.partitionBy($"qid").orderBy(round($"cos", 4).desc, $"nid")
    corpus.join(broadcast(qprobe), "cid")
      .filter($"nid" =!= $"qid")
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine_sim($"qv", $"nv"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"qid", $"nid", round($"cos", 4).as("cos_sim"), $"rn")
      .orderBy($"qid", $"rn")
  }

  private val StoredQueries = 5

  /** PERSISTED IVF index: the assignment (vector → nearest-centroid
    * cell) is written ONCE, cell-clustered with a zone-map sidecar
    * (`GraftStorage.writeIndexed(clusterBy = cell, zone = cell)`) —
    * the reference's build-index-at-write path (.sbi construction)
    * applied to an ANN index. A probe then reads back through the
    * plan-time zone-map FileIndex with `cell IN (probed cells)`
    * pushed down, so the scan touches ONLY the files holding probed
    * cells — at 100 TB the probe's disk I/O is NProbe/NumCells of the
    * corpus, not a full scan that discards rows after reading them
    * (the knnIvf/knnIvfTrained queries bound candidate JOIN work; this
    * variant bounds the READ itself). The probed-cell list is a
    * driver-side collect of ≤ NumCells ints — metadata, like the
    * reference loading an index header. Same ranking contract as
    * knnIvf, restricted to the first `StoredQueries` query vectors;
    * StorageSpec asserts the file-count cut at probe time.
    */
  private def ivfStoredFixture(s: SparkSession, dir: String): String =
    graft.Fixtures.ensure(dir, "ivf_stored") { out =>
      import s.implicits._
      val b = base(s, dir).localCheckpoint()
      val cents = b.filter($"vec_id" < NumCells)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val assigned = cellRank(b, cents, 1)
        .select($"vec_id", $"v", $"cid".cast("int").as("cell"))
      graft.sources.GraftStorage(s).writeIndexed(assigned, out, "cell", "cell")
    }

  def knnIvfStored(s: SparkSession, dir: String): DataFrame =
    ivfProbeStored(s, dir, ivfStoredFixture(s, dir))

  /** INCREMENTAL index maintenance: the stored IVF grows by APPEND —
    * the new batch is assigned to the same fixed centroids and lands
    * via `GraftStorage.appendIndexed` (new cell-clustered files +
    * footer-only sidecar extension), so adding a daily embedding
    * batch at 100 TB touches the delta and a few KB of sidecar, never
    * the existing posting files. Probing the appended index returns
    * EXACTLY what a from-scratch build returns (same centroids ⇒ same
    * assignment ⇒ same candidates) — the oracle IS the stored
    * variant's oracle, and StorageSpec pins that probe-time file
    * pruning still covers the appended files.
    */
  def knnIvfAppend(s: SparkSession, dir: String): DataFrame =
    ivfProbeStored(s, dir, ivfAppendFixture(s, dir))

  private def ivfAppendFixture(s: SparkSession, dir: String): String =
    graft.Fixtures.ensure(dir, "ivf_appended") { out =>
      import s.implicits._
      val b = base(s, dir).localCheckpoint()
      val cents = b.filter($"vec_id" < NumCells)
        .select($"vec_id".as("cid"), $"v".as("cv"))
      val assigned = cellRank(b, cents, 1)
        .select($"vec_id", $"v", $"cid".cast("int").as("cell"))
        .localCheckpoint()
      val st = graft.sources.GraftStorage(s)
      st.writeIndexed(assigned.filter($"vec_id" % 2 === 0), out,
        "cell", "cell")
      st.appendIndexed(assigned.filter($"vec_id" % 2 =!= 0), out,
        "cell", "cell")
    }

  private def ivfProbeStored(s: SparkSession, dir: String,
      out: String): DataFrame = {
    import s.implicits._
    val b = base(s, dir)
    val cents = b.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    // probe ranking for the query vectors only — corpus assignment
    // comes from DISK, not recomputation
    val qprobe = cellRank(b.filter($"vec_id" < StoredQueries),
      cents, NProbe)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"cid".cast("int").as("cell"))
      .localCheckpoint()
    val probedCells = qprobe.select($"cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val corpus = graft.sources.GraftStorage(s).readPruned(out)
      .filter($"cell".isin(probedCells: _*))
      .select($"vec_id".as("nid"), $"v".as("nv"), $"cell")
    val w = Window.partitionBy($"qid").orderBy(round($"cos", 4).desc, $"nid")
    corpus.join(broadcast(qprobe), "cell")
      .filter($"nid" =!= $"qid")
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine_sim($"qv", $"nv"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"qid", $"nid", round($"cos", 4).as("cos_sim"), $"rn")
      .orderBy($"qid", $"rn")
  }

  /** Grid blocks per side for the exact pair join — at real scale
    * pick B ≈ sqrt(corpusBytes / targetTaskBytes) so two blocks fit
    * one task's memory.
    */
  private val GridBlocks = 8

  /** Embedding-cosine near-dup: ALL pairs above a similarity
    * threshold (upper triangle), EXACT.
    *
    * Shape: a block-grid self-join (the 1-Bucket-Theta pattern from
    * Okcan & Riedewald, "Processing Theta-Joins using MapReduce",
    * SIGMOD'11) instead of `a.join(c, id_a < id_b)`: rows are hashed
    * into B blocks; each unordered block pair (i ≤ j) is one grid
    * cell; each side replicates its rows to the ≤B cells it
    * participates in via a broadcast join against the tiny cell
    * table; the pair join is then an EQUI-join on the cell id. The
    * physical plan is a shuffled hash/merge join over B(B+1)/2
    * independent cells — per-task memory is bounded by two blocks
    * and parallelism is the cell count — where the naive theta join
    * broadcasts the WHOLE corpus to every task (BroadcastNestedLoop)
    * and dies at scale.
    *
    * The O(n²) COMPARISON count is inherent to the exact operator at
    * this threshold: measured on the fixtures, qualifying pairs sit
    * in a continuum right at 0.45 (0.4497 vs 0.4501 across the line,
    * max 0.60), so no LSH/IVF candidate scheme can reproduce the
    * exact result — at cos 0.45 (θ≈63°) a random hyperplane
    * disagrees with p≈0.35 and banding selective enough to prune is
    * also certain to miss borderline pairs. For true NEAR-DUP
    * thresholds (≥0.8) the sign-LSH bucketing in knnLsh is the
    * sub-quadratic path.
    */
  def dedupEmbed(s: SparkSession, dir: String): DataFrame =
    dedupEmbedOn(s, s"$dir/embeddings.parquet")

  /** dedupEmbed over an arbitrary embeddings parquet path (used by the
    * scale smoke on a replicated corpus).
    */
  private[graft] def dedupEmbedOn(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val cells = s.createDataFrame(
      for { i <- 0 until GridBlocks; j <- i until GridBlocks } yield (i, j))
      .toDF("ba", "bb")
    val b = s.read.parquet(path)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val left = b.select($"vec_id".as("id_a"), $"v".as("va"),
      pmod($"vec_id", lit(GridBlocks)).cast("int").as("ba"))
      .join(broadcast(cells), "ba")
    val right = b.select($"vec_id".as("id_b"), $"v".as("vb"),
      pmod($"vec_id", lit(GridBlocks)).cast("int").as("bb"))
      .join(broadcast(cells), "bb")
    // each unordered pair meets exactly once: blocks (p, q) with
    // p < q only in cell (p, q) — in whatever id order the blocks
    // dictate, so ids are canonicalized AFTER the join — and p == q
    // pairs in the diagonal cell, where id_a < id_b picks one of the
    // two orderings
    left.join(right, Seq("ba", "bb"))
      .filter(($"ba" < $"bb" && $"id_a" =!= $"id_b") ||
        ($"ba" === $"bb" && $"id_a" < $"id_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine_sim($"va", $"vb"))
      .filter($"cos" >= 0.45)
      .select(least($"id_a", $"id_b").as("id_a"),
        greatest($"id_a", $"id_b").as("id_b"),
        round($"cos", 4).as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  /** Int8 symmetric quantization of the embedding column — the
    * storage-side compression a 100 TB embedding table runs before
    * ANN indexing (4× smaller than float32, SIMD-friendly dot
    * products downstream). Per-vector scale = 127/max|x|; elements
    * quantize as floor(x·scale + 0.5) — spelled with floor, not
    * round(), so both engines share one rounding rule. Emits exact
    * integer invariants (quantized norm, sum) plus the max absolute
    * dequantization error, all DuckDB-checkable. Pure codegen'd
    * column expressions, scan-speed, no shuffle.
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("mx", array_max(transform($"v", x => abs(x))))
      .withColumn("scale", lit(127.0) / $"mx")
      .withColumn("q", transform($"v",
        x => floor(x * $"scale" + 0.5).cast("long")))
      .select($"vec_id",
        aggregate($"q", lit(0L), (a, x) => a + x * x).as("qnorm"),
        aggregate($"q", lit(0L), (a, x) => a + x).as("qsum"),
        round(array_max(transform($"v",
          x => abs(x - floor(x * $"scale" + 0.5) / $"scale"))), 6)
          .as("max_abs_err"))
      .orderBy($"vec_id")
  }

  private val SemTau = 0.40

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic
    * deduplication scoped to k-means cells — the production-scale
    * answer to embedding near-dup removal. Where `llm_dedup_embed`
    * compares EVERY pair (exact, O(n²) comparisons via the grid
    * theta-join), SemDeDup first partitions the space into cells and
    * only compares WITHIN a cell: cross-cell near-dups are forfeited
    * by design, and the comparison count drops from n²/2 to
    * Σ|cell|²/2 — with k ∝ √n cells that is O(n^1.5), the reason the
    * paper's pipeline runs at web scale.
    *
    * Spark shape: one broadcast-centroid argmax assigns cells (no
    * shuffle of vectors), the pair generation is a self EQUI-join on
    * the cell id (shuffle-partitioned by cell — each task sees one
    * cell's vectors, per-task memory bounded by the largest cell),
    * and survivor selection is an anti join against the distinct
    * dominated side. Keep-lowest-id mirrors the paper's
    * keep-one-representative rule deterministically.
    *
    * Centroids are the first-NumCells vectors (the knnIvf stand-in;
    * `trainCentroids` is the drop-in trained upgrade). Output is the
    * per-cell census (sizes, removals, kept-id checksum) so the
    * oracle pins the exact survivor SET without emitting it.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = base(s, dir).localCheckpoint()
    val cents = b.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    // cell-partitioned CACHE (not localCheckpoint): InMemoryRelation
    // advertises the partitioning, so the pair self-join reads both
    // sides from the same co-partitioned blocks — zero exchanges for
    // the quadratic step (the graph-family layout)
    val assigned = cellRank(b, cents, 1)
      .select($"vec_id", $"v", $"cid")
      .repartition(math.max(2,
        s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 2), $"cid")
      .cache()
    val removed = assigned.select($"cid", $"vec_id".as("id_a"), $"v".as("va"))
      .join(assigned.select($"cid", $"vec_id".as("id_b"), $"v".as("vb")),
        Seq("cid"))
      .filter($"id_a" < $"id_b")
      .filter(graft.functions.VectorFunctions
        .cosine_sim($"va", $"vb") >= SemTau)
      .select($"id_b".as("vec_id")).distinct()
    assigned
      .join(removed.withColumn("rm", lit(1)), Seq("vec_id"), "left")
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_vectors"),
        count($"rm").as("n_removed"),
        sum(when($"rm".isNull, $"vec_id").otherwise(0L))
          .as("kept_id_sum"))
      .orderBy($"cid")
  }

  /** Vector norms (oracled array-numeric sanity query). Reads the
    * raw scan, NOT [[base]]: this is a pure map + global sort, so
    * base()'s narrow-scan widening exchange is pure overhead here
    * (measured +0.2 s on a 0.22 s query).
    */
  def vectorNorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = $"embedding".cast("array<double>").as("v")
    T.t(s, dir, "embeddings")
      .select($"vec_id", v)
      .select($"vec_id", round(norm($"v"), 4).as("norm"),
        size($"v").as("dim"))
      .orderBy($"vec_id")
  }

  private val PqM = 8      // subspaces
  private val PqDim = 64   // embedding dimensionality (fixture)
  // dims per subspace — the divisor that maps a component position to
  // its subspace. For PqM=8 over 64 dims this happens to EQUAL PqM,
  // which let an earlier `pos / PqM` read as correct; any other PqM
  // would have silently computed the wrong geometry (and the oracle,
  // sharing the conflation, would still have matched).
  private val PqSubDim = PqDim / PqM
  private[graft] val PqCodes = 16 // codebook entries per subspace

  /** Product-quantization ANN (Jégou/Douze/Schmid, TPAMI'11): 64-dim
    * vectors split into 8 subspaces of 8 dims; per-subspace codebooks
    * are the first-16 vectors' subvectors (the knnIvf first-k trick —
    * a per-subspace Lloyd fit is the trained upgrade); every corpus
    * vector is encoded as 8 small codes; queries stay unquantized and
    * rank by asymmetric distance (sum over subspaces of the
    * query-to-codeword distance LUT).
    *
    * Spark-first shape: encode is joins + aggregations over the
    * posexploded components — (vec_id, m, d, x) ⋈ broadcast codebook
    * on (m, d) → per-(vec, subspace, codeword) squared-distance agg →
    * WindowGroupLimit argmin. No UDFs, no per-row codebook loops, so
    * the encode is one shuffle over n·64·16 skinny rows at any scale,
    * and the ADC probe joins the n·8 code rows against a broadcast
    * 20×8×16 LUT. All squared terms ride DECIMAL(30,15), making every
    * distance EXACT — argmin and ranking cannot hang on float
    * summation order, which is what lets the full pipeline hash-match
    * the SQL oracle.
    */
  def knnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = pqSub(s, dir)
    pqProbe(s, pqDists(s, sub, pqCb0(s, sub)))
  }

  /** PQ with REFIT codebooks: one declarative per-subspace Lloyd pass
    * (assign via the untrained codes, recompute each codeword as the
    * DECIMAL-exact member mean, keep the old word for empty cells),
    * then re-encode + probe — the "train then index" write path, all
    * joins/aggs, zero driver collects. The refit means are
    * double-deterministic (exact decimal sum ÷ count), so the whole
    * trained pipeline still hash-matches its SQL oracle.
    */
  def knnPqTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sub = pqSub(s, dir)
    val cb0 = pqCb0(s, sub)
    // the pass-0 distance table has exactly ONE consumer (this
    // argmin), so it skips pqDists' localCheckpoint — no reuse to
    // protect, and the materialization was a full extra pass
    val codes0 = pqArgmin(s, sub.join(broadcast(cb0), Seq("m"))
      .select($"vec_id", $"m", $"c",
        graft.functions.SqDistQ15.sq_dist_q15_long($"sv", $"cv").as("dl")))
    // refit over the members' components: posexplode(sv) recovers the
    // (d, x) rows the former component table held — same decimal-exact
    // per-dimension mean, built only where the refit needs it
    val refit = codes0.join(sub, Seq("vec_id", "m"))
      .select($"m", $"c", posexplode($"sv").as(Seq("d", "x")))
      .groupBy($"m", $"c", $"d")
      .agg((sum($"x".cast(DecimalType(30, 15))).cast(DoubleType) /
        count(lit(1))).as("ncv"))
    // refit codewords back to ARRAY form (order pinned by d via the
    // sorted struct list — collect_list alone is order-free)
    val cb1 = cb0
      .select($"c", $"m", posexplode($"cv").as(Seq("d", "cv0")))
      .join(refit, Seq("m", "c", "d"), "left")
      .groupBy($"c", $"m")
      .agg(sort_array(collect_list(struct($"d",
        coalesce($"ncv", $"cv0").as("cv")))).as("dc"))
      .select($"c", $"m", transform($"dc", x => x("cv")).as("cv"))
    pqProbe(s, pqDists(s, sub, cb1))
  }

  /** IVF-PQ composite (FAISS's IVFADC shape, no-residual variant):
    * the coarse quantizer bounds WHICH vectors are compared (a query
    * touches only its NProbe cells' members — disk/candidate I/O is
    * NProbe/NumCells of the corpus), and PQ bounds HOW MUCH each
    * comparison costs (8 code bytes + a broadcast LUT lookup instead
    * of a 64-dim dot product). This is the composition that serves
    * billion-vector corpora: neither ingredient alone bounds both
    * axes. Plan shape: candidate (qid, nid) pairs from the cell
    * equi-join (each corpus vector lives in exactly one cell → no
    * dup pairs), ADC = join candidates to corpus codes, then to the
    * broadcast NQueries×8×16 LUT on (qid, m, code), DECIMAL-exact
    * sum, WindowGroupLimit top-k. Zero full-corpus distance scans.
    */
  def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = ivfCandidates(s, dir)
    val sub = pqSub(s, dir)
    val dists = pqDists(s, sub, pqCb0(s, sub))
    val codes = pqArgmin(s, dists)
      .select($"vec_id".as("nid"), $"m", $"c".as("code"))
    val lut = dists.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"m", $"c".as("code"), $"dist")
    val wTop = Window.partitionBy($"qid").orderBy($"adc", $"nid")
    cand.join(codes, "nid")
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy($"qid", $"nid")
      .agg(sum($"dist").as("adc"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= K)
      .select($"qid", $"nid",
        round($"adc".cast(DoubleType), 4).as("adc_dist"), $"rn")
      .orderBy($"qid", $"rn")
  }

  /** The coarse quantizer's (qid, nid) candidate pairs: corpus
    * vectors whose single home cell is among the query's NProbe
    * probed cells. Shared by knnIvfPq and the LlmSpec containment
    * gate (PQ may only re-rank inside this set, never add to it).
    */
  private def ivfCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = base(s, dir).localCheckpoint()
    val cents = b.filter($"vec_id" < NumCells)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    val rankedc = cellRank(b, cents, NProbe)
      .select($"vec_id", $"cid", $"crn")
      .localCheckpoint()
    val cellOf = rankedc.filter($"crn" === 1)
      .select($"vec_id".as("nid"), $"cid")
    val qcells = rankedc.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"cid")
    cellOf.join(broadcast(qcells), "cid")
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid")
  }

  /** Spec hook: the candidate set as (qid, nid) pairs. */
  private[graft] def ivfCandidatePairs(s: SparkSession,
      dir: String): Set[(Long, Long)] = {
    import s.implicits._
    ivfCandidates(s, dir).as[(Long, Long)].collect().toSet
  }

  /** (vec_id, subspace m, subvector sv) rows — a pure MAP over the
    * stored arrays (slice per subspace, no component explode): feeds
    * the codebook pick and every distance scan, so materialized once.
    */
  private def pqSub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    base(s, dir)
      .select($"vec_id", posexplode(array((0 until PqM).map(m =>
        slice($"v", m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "sv")))
      .localCheckpoint()
  }

  private def pqCb0(s: SparkSession, sub: DataFrame): DataFrame = {
    import s.implicits._
    sub.filter($"vec_id" < PqCodes)
      .select($"vec_id".as("c"), $"m", $"sv".as("cv"))
  }

  /** Squared distance of every vector's every subvector to every
    * codeword: subvectors ⋈ broadcast codebook, distance as ONE fused
    * DECIMAL-exact kernel ([[graft.functions.SqDistQ15]] — value- and
    * type-identical to the former per-component explode + decimal
    * aggregate, which cost a 2M-row join plus a shuffle per pass;
    * this shape is a broadcast-join map stage, no exchange).
    */
  private def pqDists(s: SparkSession, sub: DataFrame,
      cb: DataFrame): DataFrame = {
    import s.implicits._
    sub
      .join(broadcast(cb), Seq("m"))
      .select($"vec_id", $"m", $"c",
        graft.functions.SqDistQ15.sq_dist_q15_long($"sv", $"cv").as("dl"))
      .localCheckpoint() // reused as encode input and query LUT
      // the checkpoint stores the 8-byte unscaled long; the exact
      // DECIMAL(38,15) the old kernel returned is re-derived as a
      // free map (MakeDecimal), value- and type-identical
      .withColumn("dist", graft.functions.SqDistQ15.decimal_q15($"dl"))
  }

  /** Per-(vector, subspace) argmin over the distance rows as ONE
    * hash aggregate: (dl, c) packed into a single long. With c <
    * PqCodes and dl ≤ (Long.MaxValue − PqCodes) / PqCodes, dl·PqCodes
    * + c cannot wrap, and min(packed) IS the lexicographic (dist, c)
    * minimum the former rank-1 window computed (both non-negative).
    * The bound is data-dependent (dl is the unscaled q15 distance:
    * the fixture's ≈3·10¹⁶ fits, a subspace distance past ≈576 does
    * not), so a row above it fails the job through `raise_error` in
    * the aggregate's own input instead of wrapping negative into a
    * wrong code — no extra pass. The aggregate's long buffer gets
    * map-side partial min + whole-stage codegen, where the window
    * paid a full-width shuffle + sort per pass — and a decimal or
    * struct form would demote to SortAggregate (round-10 item 9).
    */
  private[graft] def pqArgmin(s: SparkSession,
      dists: DataFrame): DataFrame = {
    import s.implicits._
    val bound = (Long.MaxValue - PqCodes) / PqCodes
    dists.groupBy($"vec_id", $"m")
      .agg(min(when($"dl" > bound, raise_error(lit(
        s"pqArgmin: a subspace distance exceeds $bound (unscaled q15), " +
          s"so dl * $PqCodes + c would overflow a long")))
        .otherwise($"dl" * PqCodes + $"c")).as("pk"))
      .select($"vec_id", $"m", ($"pk" % PqCodes).as("c"))
  }

  /** Encode (WindowGroupLimit argmin) + asymmetric-distance top-k. */
  private def pqProbe(s: SparkSession, dists: DataFrame): DataFrame = {
    import s.implicits._
    val codes = pqArgmin(s, dists)
      .select($"vec_id".as("nid"), $"m", $"c".as("code"))
    val lut = dists.filter($"vec_id" < NQueries)
      .select($"vec_id".as("qid"), $"m", $"c".as("code"), $"dist")
    val wTop = Window.partitionBy($"qid").orderBy($"adc", $"nid")
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter($"nid" =!= $"qid")
      .groupBy($"qid", $"nid")
      .agg(sum($"dist").as("adc"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= K)
      .select($"qid", $"nid",
        round($"adc".cast(DoubleType), 4).as("adc_dist"), $"rn")
      .orderBy($"qid", $"rn")
  }

  /** Per-label centroids in component form: (label, pos, n, sum_v) —
    * the class-prototype computation an IVF/classifier pipeline seeds
    * from. posexplode + one hash agg on (label, pos): map-side
    * partial sums make this a single narrow shuffle of label×dim
    * cells regardless of corpus size. Sums ride the DECIMAL
    * round-trip (T.dsum pattern) so both engines produce bit-equal
    * doubles; the division into a mean is left to the consumer (a
    * decimal/int division would pin engine-specific scale rules).
    */
  def embedCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(count(lit(1)).as("n"),
        sum($"v".cast(DoubleType).cast(DecimalType(20, 7)))
          .cast(DoubleType).as("sum_v"))
      .orderBy($"label", $"pos")
  }

  /** Recall@K of the IVF index vs exact brute force — the quality
    * instrumentation every ANN deployment needs next to the index
    * itself: per query, how many of the true top-K the probe plan
    * recovered. Integer ppm (drift contract) rather than a float
    * ratio. Both sides are the library's own oracled operators, so
    * this composes two verified plans; the DuckDB oracle composes the
    * same two SQL bodies.
    */
  /** kNN CLASSIFIER evaluation — the standard embedding-space quality
    * probe (a labeled holdout classified by its K nearest neighbors'
    * majority vote): per true label, how many of the query vectors
    * the corpus labels correctly. Composes the already-oracled
    * neighbor operator (swap in the IVF variant at scale) with one
    * label join and a deterministic vote — ties break toward the
    * smaller label id, so both engines elect the same winner without
    * any float comparison beyond the neighbor ranking itself.
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lbl = T.t(s, dir, "embeddings").select($"vec_id", $"label")
    val votes = knn(s, dir)
      .join(lbl.select($"vec_id".as("nid"), $"label".as("nlabel")), "nid")
      .groupBy($"qid", $"nlabel").agg(count(lit(1)).as("votes"))
    val pred = votes
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"votes".desc, $"nlabel")))
      .filter($"rn" === 1)
      .select($"qid", $"nlabel".as("pred"))
    pred.join(lbl.select($"vec_id".as("qid"), $"label"), "qid")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_correct"))
      .orderBy($"label")
  }

  def knnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brute = knn(s, dir).select($"qid", $"nid")
    val approx = knnIvf(s, dir)
      .select($"qid".as("aqid"), $"nid".as("anid"))
    brute.join(approx, $"qid" === $"aqid" && $"nid" === $"anid", "left_outer")
      .groupBy($"qid")
      .agg(count($"anid").as("n_match"))
      .select($"qid", $"n_match",
        expr(s"n_match * 1000000L div $K").as("recall_ppm"))
      .orderBy($"qid")
  }

  override def prepare(s: SparkSession, dir: String): Unit = {
    ivfStoredFixture(s, dir); ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_embed_centroids" -> (embedCentroids(_, _)),
    "llm_knn_pq" -> (knnPq(_, _)),
    "llm_knn_pq_trained" -> (knnPqTrained(_, _)),
    "llm_knn_ivfpq" -> (knnIvfPq(_, _)),
    "llm_knn" -> (knn(_, _)),
    "llm_knn_recall" -> (knnRecall(_, _)),
    "llm_knn_classify" -> (knnClassify(_, _)),
    "llm_knn_lsh" -> (knnLsh(_, _)),
    "llm_knn_ivf" -> (knnIvf(_, _)),
    "llm_knn_ivf_stored" -> (knnIvfStored(_, _)),
    "llm_knn_ivf_append" -> (knnIvfAppend(_, _)),
    "llm_knn_ivf_trained" -> (knnIvfTrained(_, _)),
    "llm_dedup_embed" -> (dedupEmbed(_, _)),
    "llm_semdedup" -> (semDedup(_, _)),
    "llm_embed_quantize" -> (embedQuantize(_, _)),
    "llm_vector_norm" -> (vectorNorm(_, _)))

  // SQL mirror of bucketOf: per-plane integer dot sign over the
  // 1e-3-quantized components, same closed-form ±1 plane entries
  // (DuckDB i is 1-based, Spark's transform index 0-based → i-1)
  private val bucketSql: String = (0 until NumPlanes).map { p =>
    s"""(CASE WHEN list_sum([q[i] *
       |    (CASE WHEN ((${p * 131} + (i-1)*17) % 7) % 2 = 0 THEN 1 ELSE -1 END)
       |    FOR i IN generate_series(1, len(q))]) > 0
       |  THEN ${1 << p} ELSE 0 END)""".stripMargin
  }.mkString(" + ")

  private val popcount6 =
    "((h) & 1) + ((h >> 1) & 1) + ((h >> 2) & 1) + " +
      "((h >> 3) & 1) + ((h >> 4) & 1) + ((h >> 5) & 1)"

  /** One Lloyd pass as SQL: assign every vector to its max-cosine
    * centroid from `cin` (first-max tie-break = ORDER BY sim DESC,
    * cid), then per-cell elementwise means through the same
    * DECIMAL(28,12) round-trip trainCentroids uses; empty cells keep
    * their previous centroid via the LEFT JOIN coalesce.
    */
  private def lloydPassSql(cin: String, cout: String): String =
    s"""a_$cout AS (
       |  SELECT v.vec_id, v.e, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS rn
       |  FROM v, $cin c),
       |s_$cout AS (SELECT vec_id, e, cid AS cell FROM a_$cout WHERE rn = 1),
       |m_$cout AS (
       |  SELECT cell, c.p AS pos,
       |    CAST(SUM(CAST(c.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM (SELECT cell,
       |          unnest([{'p': i, 'v': e[i]}
       |            FOR i IN generate_series(1, len(e))]) AS c
       |        FROM s_$cout)
       |  GROUP BY cell, c.p),
       |$cout AS (
       |  SELECT p.cid, coalesce(n.ce, p.ce) AS ce
       |  FROM $cin p LEFT JOIN (
       |    SELECT cell AS cid, list(m ORDER BY pos) AS ce
       |    FROM m_$cout GROUP BY cell) n
       |  USING (cid))""".stripMargin

  // shared PQ oracle stages: component explode + initial codebook
  private val pqBaseCte =
    s"""v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |expl AS (
       |  SELECT vec_id, CAST((s.p - 1) // $PqSubDim AS INT) AS m,
       |    (s.p - 1) % $PqSubDim AS d, s.x AS x
       |  FROM (SELECT vec_id,
       |          unnest([{'p': i, 'x': e[i]}
       |            FOR i IN generate_series(1, len(e))]) AS s
       |        FROM v)),
       |cb0 AS (SELECT vec_id AS c, m, d, x AS cv
       |        FROM expl WHERE vec_id < $PqCodes)""".stripMargin

  /** Squared-distance table of every (vector, subspace, codeword). */
  private def pqDistsSql(cb: String, out: String): String =
    s"""$out AS (
       |  SELECT ex.vec_id, ex.m, $cb.c,
       |    SUM(CAST((ex.x - $cb.cv) * (ex.x - $cb.cv)
       |        AS DECIMAL(30,15))) AS dist
       |  FROM expl ex JOIN $cb USING (m, d)
       |  GROUP BY ex.vec_id, ex.m, $cb.c)""".stripMargin

  /** Encode (argmin) + ADC top-k over a dists table. */
  private def pqProbeSql(dists: String): String =
    s"""codes AS (
       |  SELECT vec_id AS nid, m, c AS code FROM (
       |    SELECT vec_id, m, c,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist, c) AS rn
       |    FROM $dists)
       |  WHERE rn = 1),
       |lut AS (SELECT vec_id AS qid, m, c AS code, dist
       |        FROM $dists WHERE vec_id < $NQueries),
       |adc AS (
       |  SELECT l.qid, co.nid, SUM(l.dist) AS adc
       |  FROM codes co JOIN lut l USING (m, code)
       |  WHERE co.nid != l.qid
       |  GROUP BY l.qid, co.nid),
       |ranked AS (
       |  SELECT qid, nid, round(CAST(adc AS DOUBLE), 4) AS adc_dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
       |  FROM adc)
       |SELECT qid, nid, adc_dist, rn FROM ranked WHERE rn <= $K
       |ORDER BY qid, rn""".stripMargin

  // brute-force and IVF top-K as standalone SQL bodies: each is an
  // oracle entry on its own AND a CTE inside llm_knn_recall's oracle
  private val knnBruteSql: String =
    s"""SELECT qid, nid, cos_sim, rn FROM (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid,
       |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                                 CAST(b.embedding AS DOUBLE[])), 4)
       |      AS cos_sim,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                     CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id)
       |      AS rn
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < $NQueries AND b.vec_id <> a.vec_id) t
       |WHERE rn <= $K ORDER BY qid, rn""".stripMargin

  private val knnIvfSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cents AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < $NumCells),
       |ranked AS (
       |  SELECT v.vec_id, v.e, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS crn
       |  FROM v, cents c),
       |corpus AS (SELECT vec_id AS nid, e AS ne, cid
       |           FROM ranked WHERE crn = 1),
       |qprobe AS (SELECT vec_id AS qid, e AS qe, cid
       |           FROM ranked WHERE vec_id < $NQueries AND crn <= $NProbe),
       |cand AS (
       |  SELECT qid, nid,
       |    round(list_cosine_similarity(qe, ne), 4) AS cos_sim,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY round(list_cosine_similarity(qe, ne), 4) DESC, nid) AS rn
       |  FROM corpus JOIN qprobe USING (cid) WHERE nid != qid)
       |SELECT qid, nid, cos_sim, rn FROM cand WHERE rn <= $K
       |ORDER BY qid, rn""".stripMargin

  private lazy val ivfStoredSql =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cents AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < $NumCells),
       |ranked AS (
       |  SELECT v.vec_id, v.e, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS crn
       |  FROM v, cents c),
       |corpus AS (SELECT vec_id AS nid, e AS ne, cid
       |           FROM ranked WHERE crn = 1),
       |qprobe AS (SELECT vec_id AS qid, e AS qe, cid
       |           FROM ranked WHERE vec_id < $StoredQueries AND crn <= $NProbe),
       |cand AS (
       |  SELECT qid, nid,
       |    round(list_cosine_similarity(qe, ne), 4) AS cos_sim,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY round(list_cosine_similarity(qe, ne), 4) DESC, nid) AS rn
       |  FROM corpus JOIN qprobe USING (cid) WHERE nid != qid)
       |SELECT qid, nid, cos_sim, rn FROM cand WHERE rn <= $K
       |ORDER BY qid, rn""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "llm_knn_ivfpq" ->
      s"""WITH $pqBaseCte,
         |${pqDistsSql("cb0", "dists")},
         |cents AS (SELECT vec_id AS cid, e AS ce FROM v
         |          WHERE vec_id < $NumCells),
         |rankedc AS (
         |  SELECT v.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid)
         |      AS crn
         |  FROM v, cents c),
         |cellof AS (SELECT vec_id AS nid, cid FROM rankedc WHERE crn = 1),
         |qcells AS (SELECT vec_id AS qid, cid FROM rankedc
         |           WHERE vec_id < $NQueries AND crn <= $NProbe),
         |cand AS (
         |  SELECT qid, nid FROM cellof JOIN qcells USING (cid)
         |  WHERE nid != qid),
         |codes AS (
         |  SELECT vec_id AS nid, m, c AS code FROM (
         |    SELECT vec_id, m, c,
         |      row_number() OVER (PARTITION BY vec_id, m
         |        ORDER BY dist, c) AS rn
         |    FROM dists)
         |  WHERE rn = 1),
         |lut AS (SELECT vec_id AS qid, m, c AS code, dist
         |        FROM dists WHERE vec_id < $NQueries),
         |adc AS (
         |  SELECT ca.qid, ca.nid, SUM(l.dist) AS adc
         |  FROM cand ca
         |  JOIN codes co ON co.nid = ca.nid
         |  JOIN lut l ON l.qid = ca.qid AND l.m = co.m AND l.code = co.code
         |  GROUP BY ca.qid, ca.nid),
         |rankedq AS (
         |  SELECT qid, nid, round(CAST(adc AS DOUBLE), 4) AS adc_dist,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
         |  FROM adc)
         |SELECT qid, nid, adc_dist, rn FROM rankedq WHERE rn <= $K
         |ORDER BY qid, rn""".stripMargin,
    "llm_knn_pq" ->
      s"""WITH $pqBaseCte,
         |${pqDistsSql("cb0", "dists")},
         |${pqProbeSql("dists")}""".stripMargin,
    "llm_knn_pq_trained" ->
      s"""WITH $pqBaseCte,
         |${pqDistsSql("cb0", "d0")},
         |codes0 AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c,
         |      row_number() OVER (PARTITION BY vec_id, m
         |        ORDER BY dist, c) AS rn
         |    FROM d0)
         |  WHERE rn = 1),
         |refit AS (
         |  SELECT ex.m, c0.c, ex.d,
         |    CAST(SUM(CAST(ex.x AS DECIMAL(30,15))) AS DOUBLE)
         |      / COUNT(*) AS ncv
         |  FROM codes0 c0 JOIN expl ex USING (vec_id, m)
         |  GROUP BY ex.m, c0.c, ex.d),
         |cb1 AS (
         |  SELECT cb0.c, cb0.m, cb0.d, coalesce(refit.ncv, cb0.cv) AS cv
         |  FROM cb0 LEFT JOIN refit
         |    ON refit.m = cb0.m AND refit.c = cb0.c AND refit.d = cb0.d),
         |${pqDistsSql("cb1", "dists")},
         |${pqProbeSql("dists")}""".stripMargin,
    "llm_knn_ivf_trained" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < $NumCells),
         |${lloydPassSql("c0", "c1")},
         |${lloydPassSql("c1", "c2")},
         |ranked AS (
         |  SELECT v.vec_id, v.e, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS crn
         |  FROM v, c2 c),
         |corpus AS (SELECT vec_id AS nid, e AS ne, cid
         |           FROM ranked WHERE crn = 1),
         |qprobe AS (SELECT vec_id AS qid, e AS qe, cid
         |           FROM ranked WHERE vec_id < $NQueries AND crn <= $NProbe),
         |cand AS (
         |  SELECT qid, nid,
         |    round(list_cosine_similarity(qe, ne), 4) AS cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY round(list_cosine_similarity(qe, ne), 4) DESC, nid) AS rn
         |  FROM corpus JOIN qprobe USING (cid) WHERE nid != qid)
         |SELECT qid, nid, cos_sim, rn FROM cand WHERE rn <= $K
         |ORDER BY qid, rn""".stripMargin,
    "llm_knn_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |    [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
         |      FOR i IN generate_series(1, len(embedding))] AS q
         |  FROM embeddings),
         |b AS (SELECT vec_id, e, $bucketSql AS bucket FROM v),
         |pairs AS (
         |  SELECT qb.vec_id AS qid, cb.vec_id AS nid,
         |    round(list_cosine_similarity(qb.e, cb.e), 4) AS cos_sim
         |  FROM b qb JOIN b cb
         |    ON (${popcount6.replace("h", "xor(qb.bucket, cb.bucket)")}) <= 2
         |   AND cb.vec_id != qb.vec_id
         |  WHERE qb.vec_id < $NQueries),
         |ranked AS (
         |  SELECT qid, nid, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, nid) AS rn
         |  FROM pairs)
         |SELECT qid, nid, cos_sim, rn FROM ranked WHERE rn <= $K
         |ORDER BY qid, rn""".stripMargin,
    // same contract as llm_knn_ivf, restricted to the StoredQueries
    // probes — the stored variant changes WHERE the corpus assignment
    // comes from (disk, file-pruned), not what it computes
    "llm_knn_ivf_stored" -> ivfStoredSql,
    // the append-built index is state-identical to a from-scratch
    // build (fixed centroids ⇒ same assignment), so the oracle IS the
    // stored oracle
    "llm_knn_ivf_append" -> ivfStoredSql,
    "llm_knn_ivf" -> knnIvfSql,
    "llm_knn_recall" ->
      s"""WITH brute AS ($knnBruteSql),
         |ivf AS ($knnIvfSql)
         |SELECT b.qid, CAST(COUNT(i.nid) AS BIGINT) AS n_match,
         |  CAST(COUNT(i.nid) AS BIGINT) * 1000000 // $K AS recall_ppm
         |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.nid = i.nid
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin,
    "llm_knn_classify" ->
      s"""WITH brute AS ($knnBruteSql),
         |votes AS (
         |  SELECT b.qid, e.label AS nlabel, COUNT(*) AS votes
         |  FROM brute b JOIN embeddings e ON e.vec_id = b.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT qid, nlabel AS pred FROM (
         |    SELECT qid, nlabel, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY votes DESC, nlabel) AS rn
         |    FROM votes) t
         |  WHERE rn = 1)
         |SELECT e.label, COUNT(*) AS n_queries,
         |  CAST(SUM(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct
         |FROM pred p JOIN embeddings e ON e.vec_id = p.qid
         |GROUP BY e.label ORDER BY e.label""".stripMargin,
    "llm_embed_centroids" ->
      """WITH e AS (
        |  SELECT label,
        |    unnest([{'p': i - 1, 'v': embedding[i]}
        |      FOR i IN generate_series(1, len(embedding))]) AS c
        |  FROM embeddings)
        |SELECT label, CAST(c.p AS INT) AS pos, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(c.v AS DOUBLE) AS DECIMAL(20,7))) AS DOUBLE)
        |    AS sum_v
        |FROM e GROUP BY label, c.p ORDER BY label, pos""".stripMargin,
    "llm_knn" -> knnBruteSql,
    "llm_dedup_embed" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4)
        |    AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "llm_semdedup" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |cents AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < $NumCells),
         |ranked AS (
         |  SELECT v.vec_id, v.e, c.cid,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS crn
         |  FROM v, cents c),
         |assigned AS (SELECT vec_id, e, cid FROM ranked WHERE crn = 1),
         |removed AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b USING (cid)
         |  WHERE a.vec_id < b.vec_id
         |    AND list_cosine_similarity(a.e, b.e) >= $SemTau)
         |SELECT cid, COUNT(*) AS n_vectors,
         |  CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_removed,
         |  CAST(SUM(CASE WHEN r.vec_id IS NULL THEN a.vec_id ELSE 0 END)
         |    AS BIGINT) AS kept_id_sum
         |FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
         |GROUP BY cid ORDER BY cid""".stripMargin,
    "llm_embed_quantize" ->
      """WITH b AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |                                    x -> abs(x))) AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
        |  FROM b)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm,
        |  CAST(list_sum(qv) AS BIGINT) AS qsum,
        |  round(list_max(list_transform(v,
        |    x -> abs(x - floor(x * scale + 0.5) / scale))), 6) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "llm_vector_norm" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm,
        |  CAST(len(embedding) AS INT) AS dim
        |FROM embeddings ORDER BY vec_id""".stripMargin)
}
