package graft.llm

import graft.{QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the documents table — SURVEY.md §2.11
  * north star. Exact (hash groupBy), exact n-gram Jaccard (inverted
  * shingle index join), MinHash+LSH banding (the 100 TB path: candidate
  * generation via band-bucket equi-join instead of an all-pairs join),
  * and SimHash (bit-signature chunk banding).
  */
object Dedup extends QueryModule {

  /** Distinct word-3-gram shingles in ROW form: (doc_id, tok).
    *
    * Built by the native `ngrams` expression + per-doc
    * `array_distinct` + explode — a pure MAP stage END TO END: no
    * exchange exists until the consumer's own aggregation. `doc_id`
    * is the corpus key (one row per doc), so deduping INSIDE each
    * doc's gram array is exactly the old global
    * `.distinct()` over (doc_id, tok) — minus the full-corpus
    * shuffle + hash aggregate that distinct cost every one of the
    * ~20 dedup/retrieval queries built on this helper.
    * The two rejected formulations, for the record: an array-lambda
    * re-evaluates split(text) per element (Catalyst inlines
    * single-use aliases into lambdas — quadratic per doc, measured
    * 4× slower), and the earlier posexplode + lead()-window build
    * SHUFFLED the whole token stream on doc_id and ran two window
    * passes before the first gram existed. Row form feeds the
    * inverted index and the MinHash aggregate with no re-shaping.
    */
  def shingleRows(docs: DataFrame): DataFrame = {
    // parallelism guard: the corpus scan may be narrower than the
    // cluster (one parquet file locally), and with no downstream
    // exchange left the explode and everything checkpointed from it
    // would inherit that width. Widening shuffles the DOCS (rows =
    // corpus docs) — the bytes the old global distinct shuffled were
    // the exploded SHINGLES, ~two orders of magnitude more rows. A
    // corpus already wider than the cluster passes through.
    val spark = docs.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val wide =
      if (docs.rdd.getNumPartitions >= cores) docs
      // keyed BY doc_id, not round-robin: the localCheckpoint every
      // consumer takes preserves the hash partitioning, so their
      // per-doc stages (size/minhash groupBy(doc_id), the PPJoin
      // prefix-rank window) read it exchange-free
      else docs.repartition(cores, col("doc_id"))
    wide.select(col("doc_id"),
      explode(array_distinct(
        graft.functions.NgramFunctions.ngrams(col("text"), 3))).as("tok"))
  }

  /** Exact dedup: content-hash cardinality (dropDuplicates analogue,
    * reduced to a checkable summary).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "documents")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_unique"))
  }

  /** Exact near-dup pairs: inverted shingle index self-join →
    * intersection counts → Jaccard ≥ 0.5. The exact oracle for the
    * MinHash variant below. O(pairs-sharing-a-shingle) — fine when
    * shingles are discriminative; the LSH variant bounds it at scale.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the shingle table feeds three plan branches (both join sides +
    // the size agg): materialize once (lineage truncation also keeps
    // the per-branch codegen units small) instead of recomputing the
    // explode+window pipeline per branch
    val t = shingleRows(T.t(s, dir, "documents")).localCheckpoint()
    val sz = t.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = t.as("a").join(t.as("b"), "tok")
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sz.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("j", $"i" / ($"sa.n" + $"sb.n" - $"i"))
      .filter($"j" >= 0.5)
      .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  // 16 bands × 2 rows: for the ≥0.89-similarity pairs this corpus
  // plants, per-band match p = j² ≈ 0.79 → miss = (1-p)^16 ≈ 1e-11,
  // tighter than 16×4 while halving hash work and codegen size. The
  // wider false-positive band (j=0.1 → ~15% candidate rate) is
  // absorbed by the exact-Jaccard verify step.
  private val NumHashes = 32
  private val Bands = 16
  private val RowsPerBand = NumHashes / Bands

  /** MinHash signatures from shingle ROWS: N parallel
    * min(xxhash64(seed, tok)) aggregates in ONE hash-aggregate pass —
    * map-side partial mins make the shuffle N longs per doc. (An
    * array_min(transform(...)) per seed builds an N-lambda expression
    * tree that blows up codegen; measured 10× slower.)
    */
  def minhashSigs(shingleRows: DataFrame): DataFrame = {
    val minCols = (0 until NumHashes).map(i =>
      min(xxhash64(lit(i), col("tok"))).as(s"h$i"))
    shingleRows.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** (doc_id, band, bh) rows: one LSH bucket key per band per doc. */
  def bandRows(sigs: DataFrame): DataFrame = {
    val bandCols = array((0 until Bands).map { b =>
      xxhash64((lit(b) +: (0 until RowsPerBand).map(r =>
        element_at(col("sig"), b * RowsPerBand + r + 1))): _*)
    }: _*)
    sigs.select(col("doc_id"), posexplode(bandCols).as(Seq("band", "bh")))
  }

  /** Exact-Jaccard verification of a candidate pair set via the
    * shingle rows (no array reshaping) — shared by the batch and
    * streaming candidate generators.
    */
  private def verifyPairs(s: SparkSession, candidates: DataFrame,
      shingles: DataFrame): DataFrame = {
    import s.implicits._
    // Verification cost must scale with the CANDIDATES, not the
    // corpus: the plain shape shuffles EVERY shingle row three times
    // (size aggregate + both join sides) to verify a few hundred
    // pairs. Past the size gate, the shingle stream is pruned to the
    // docs that appear in some pair FIRST — a semi-join the planner
    // runs as a broadcast (the doc set is ≤ 2·|pairs| ids) — so the
    // exact intersection joins and the size aggregate all run over
    // the candidates' own shingles; per-doc counts over the pruned
    // stream are identical because pruning keeps every shingle of a
    // kept doc. The candidate set is then checkpointed once (it feeds
    // two plan branches, and its upstream is the expensive part).
    // GATED because the prune only pays once corpus-wide shuffles
    // dominate: at sf0.1 (~40 MB of shingles) the extra checkpoint
    // barrier + semi-join stages measured a net LOSS (ppjoin_stored
    // 3.2-3.9 s → 4.2-4.7 s solo), while at 100 TB the three
    // corpus-wide exchanges are the scale-killer the prune removes.
    val shBytes = shingles.queryExecution.optimizedPlan.stats.sizeInBytes
    val prune = shBytes > BigInt(1L << 30)
    val cand = if (prune) candidates.localCheckpoint() else candidates
    val sh = if (prune) {
      val docs = cand
        .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
      shingles.join(docs, Seq("doc_id"), "left_semi")
    } else shingles
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("ta"), $"ta.doc_id" === $"doc_a")
      .join(sh.as("tb"), $"tb.doc_id" === $"doc_b" && $"ta.tok" === $"tb.tok")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sz.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("j", $"i" / ($"sa.n" + $"sb.n" - $"i"))
      .filter($"j" >= 0.5)
      .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** MinHash + LSH near-dup: signatures → band hashes → bucket
    * equi-join for candidates → exact-Jaccard verification. At 0.89+
    * true similarity the 16×4 banding misses a pair with p≈1e-7, so
    * the exact-pairs oracle applies. This is the shape that scales:
    * the only join is on (band, hash) buckets.
    */
  def dedupNear(s: SparkSession, dir: String): DataFrame =
    dedupNearOn(s, shingleRows(T.t(s, dir, "documents")).localCheckpoint())

  /** Same pipeline over a pre-built (and pre-materialized) shingle
    * table — lets composites like pipelineE2e build shingles ONCE
    * and feed every stage.
    */
  private[graft] def dedupNearOn(s: SparkSession, t: DataFrame): DataFrame = {
    import s.implicits._
    val bands = bandRows(minhashSigs(t))
    val candidates = bands.as("a")
      .join(bands.as("b"), Seq("band", "bh"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    verifyPairs(s, candidates, t)
  }

  /** PPJoin-style EXACT similarity join via prefix filtering — the
    * deterministic complement to MinHash (which trades a ~1e-11 miss
    * probability for bounded work): identical result contract, ZERO
    * miss probability, and still no all-pairs comparison.
    *
    * The filter (Bayardo et al., "Scaling Up All Pairs Similarity
    * Search"; Xiao et al., PPJoin): order every doc's shingles by one
    * GLOBAL order and keep only the first |d| − ⌈τ·|d|⌉ + 1 as its
    * prefix. Any pair with J ≥ τ must share a prefix token (the
    * globally-smallest common token w lands in both prefixes: if w
    * were outside a's prefix, all o common tokens would sit among a's
    * last ⌈τ|a|⌉−1 tokens, but J ≥ τ forces o ≥ τ(|a|+|b|)/(1+τ) ≥
    * τ|a| — contradiction), so the prefix inverted index generates a
    * candidate superset and the exact-Jaccard verify keeps truth.
    *
    * Spark shape — three key-partitioned shuffles, no global rank
    * materialization: the global order is the (df, tok) TUPLE sorted
    * per doc (doc_id-partitioned window), never a row_number over the
    * whole vocabulary — a single-partition window would be the 100 TB
    * bottleneck. Rarest-first ordering keeps prefix postings short
    * (a prefix token's posting list length drives candidate count).
    * The |b| ≤ |a|/τ size filter prunes candidates before the verify
    * join. At τ=0.5 the prefix is ~half of each doc's shingles, and
    * hot (high-df) tokens are exactly the ones prefixes exclude.
    *
    * DF-SATURATION fallback: prefix filtering wins precisely because
    * prefix tokens are rare. When a prefix token's df approaches the
    * corpus size (tiny vocabularies, boilerplate-heavy corpora — the
    * regime GenScale's 30-word vocab reaches at sf1), its posting
    * list is O(N) and the candidate join degenerates to all-pairs:
    * r03 measured 5.0× at 10× data from exactly this. The hybrid
    * routes around it: prefix tokens with df ≤ cap (5% of the corpus)
    * drive the EXACT inverted-index path unchanged, and the docs
    * whose prefixes contain saturated tokens — the only docs a
    * saturated token could have paired — fall back to banded MinHash
    * candidates (16×2 bands, miss ≈1e-11, same contract as
    * `llm_dedup_near`). The exactness argument survives for the rare
    * path: the global order is df-ascending, so the smallest shared
    * token w of a pair is saturated only if ALL its shared prefix
    * tokens are; otherwise w is rare, the pair surfaces in the exact
    * path, and the position filter's min(struct(df,…)) still
    * recovers the true w. Saturated-only pairs carry the LSH
    * guarantee instead of a proof — the price of not being O(N²).
    */
  private val DfSatFrac = 0.05

  /** ADAPTIVE CROSSOVER (the `adaptiveBinWidth` pattern applied to
    * similarity join): prefix+position filtering earns its extra
    * shuffles (df join, per-doc ranking window, candidate aggregate,
    * pair-expansion verify join) only when shingle df is Zipfian —
    * rare prefix tokens then kill most candidates. On boilerplate
    * corpora the prefixes are undiscriminative (sf1 GenScale
    * measured: 1.25M position-filtered candidates for 2,560 true
    * pairs, and the tighter c + max-position bound prunes under 5%),
    * so the machinery costs ~3× the answer. There the ONE-PASS
    * inverted join wins: tok-keyed self-join over ALL shingles with
    * a per-pair shared-token count IS the exact Jaccard (no separate
    * candidate/verify stages at all), and — being exact — this
    * regime LOSES the LSH fallback's probabilistic caveat instead of
    * gaining one. Measured at sf1: 6.3 s vs 21 s post-shingling.
    *
    * The decision is the measured join blow-up: Σ df² (rows the
    * inverted self-join would push) against a budget multiple of the
    * shingle row count — one scalar aggregate over the df table.
    * Zipfian/huge-doc corpora blow the budget and keep the
    * prefix+position+LSH hybrid; flat-df corpora run one-pass exact.
    */
  private val InvertedBudgetFactor = 256.0

  def dedupPpjoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tau = 0.5
    val t = shingleRows(T.t(s, dir, "documents")).localCheckpoint()
    val sz = t.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // one metadata-sized scalar (corpus doc count) picks the df cap;
    // sz is a hash-agg over checkpointed shingles, not a corpus rescan
    val nDocs = sz.count()
    val dfCap = math.max(64L, (DfSatFrac * nDocs).toLong)
    val dfTab = t.groupBy($"tok").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    // measured df distribution → path choice (scalar aggregate)
    val m = dfTab.agg(
      sum($"df".cast("double") * $"df").as("sq"),
      sum($"df".cast("double")).as("tot")).head()
    // empty corpus (every doc shorter than the shingle width): both
    // sums are NULL — take the one-pass branch, which flows empty
    // frames to an empty result
    if (m.isNullAt(0) ||
        m.getDouble(0) <= InvertedBudgetFactor * m.getDouble(1)) {
      // flat-df corpus: one-pass exact inverted join
      val tt = t.join(sz, "doc_id")
      return tt.as("a").join(tt.as("b"), "tok")
        .filter($"a.doc_id" < $"b.doc_id" &&
          $"a.n" >= lit(tau) * $"b.n" && $"b.n" >= lit(tau) * $"a.n")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("i"),
          first($"a.n").as("na"), first($"b.n").as("nb"))
        .withColumn("j", $"i" / ($"na" + $"nb" - $"i"))
        .filter($"j" >= lit(tau))
        .select($"doc_a", $"doc_b", round($"j", 6).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
    }
    // Zipfian regime: prefix + position machinery pays for itself
    // df join stays a shuffle join by design: the shingle vocabulary
    // scales with the corpus (no broadcast hint — AQE may still pick
    // one when the vocab is actually small)
    val ranked = t.join(dfTab, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"tok")))
    val prefix = ranked.join(sz, "doc_id")
      .filter($"pos" <= $"n" - ceil(lit(tau) * $"n") + 1)
      .select($"doc_id", $"tok", $"df", $"pos", $"n")
      .localCheckpoint()
    val rare = prefix.filter($"df" <= dfCap)
    // POSITION filter (the PPJoin refinement that pays for the exact
    // verify): the globally smallest shared token w — provably inside
    // both prefixes, and recoverable per pair as min(struct(df, tok,
    // …)) — bounds the whole intersection: every other shared token
    // sorts after w in BOTH docs, so o ≤ min(na−pa, nb−pb)+1. Pairs
    // whose bound can't reach the τ-overlap ⌈τ(na+nb)/(1+τ)⌉ die
    // here, BEFORE the verify join expands them by |doc| shingles.
    val candExact = rare.as("a")
      .join(rare.as("b"), "tok")
      .filter($"a.doc_id" < $"b.doc_id" &&
        $"a.n" >= lit(tau) * $"b.n" && $"b.n" >= lit(tau) * $"a.n")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(min(struct($"a.df".as("df"), $"tok",
        $"a.pos".as("pa"), $"b.pos".as("pb"),
        $"a.n".as("na"), $"b.n".as("nb"))).as("w"))
      .filter(least($"w.na" - $"w.pa", $"w.nb" - $"w.pb") + 1 >=
        ceil(lit(tau / (1 + tau)) * ($"w.na" + $"w.nb")))
      .select($"doc_a", $"doc_b")
    // Saturated regime: only docs whose prefix CONTAINS a saturated
    // token can form a pair the exact path missed — band just those.
    val satDocs = prefix.filter($"df" > dfCap).select($"doc_id").distinct()
    val satBands = bandRows(minhashSigs(
      t.join(satDocs, "doc_id")))
    val candLsh = satBands.as("a")
      .join(satBands.as("b"), Seq("band", "bh"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
    val candidates = candExact.unionByName(candLsh).distinct()
    verifyPairs(s, candidates, t)
  }

  /** PPJoin against a PERSISTED prefix index — the batch-ingest form
    * of exact dedup at 100 TB: the corpus is indexed ONCE (prefix
    * rows + frozen token-frequency order + shingles + sizes + band
    * signatures, all on disk) and each new batch probes it — no
    * corpus rescan, no all-pairs; rare-token pairs are exact, and
    * (as in dedupPpjoin's hybrid) saturated-prefix pairs carry the
    * banded-LSH guarantee instead of a proof. The frozen order is the load-
    * bearing subtlety: prefix filtering is correct under ANY total
    * token order as long as BOTH sides use the SAME one, so the
    * probe ranks batch tokens by the STORED df (unseen tokens get
    * df=0 — consistent, since no corpus doc contains them), and
    * corpus prefixes stay valid verbatim no matter how the true
    * frequencies drift. Verification reads corpus shingles FROM THE
    * INDEX. Same split contract as `llm_dedup_incremental` (corpus =
    * ids ≤ max/2, batch = the rest), so it shares that oracle.
    */
  private val PpjoinTau = 0.5

  private def ppjoinIndexFixture(s: SparkSession, dir: String): String =
    graft.Fixtures.ensure(dir, "ppjoin_index") { out =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = T.t(s, dir, "documents")
      val cut = docs.agg(max($"doc_id")).head().getLong(0) / 2
      val ct = shingleRows(docs.filter($"doc_id" <= cut)).localCheckpoint()
      val dfTab = ct.groupBy($"tok").agg(count(lit(1)).as("df"))
      val sz = ct.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      ct.join(dfTab, "tok")
        .withColumn("pos", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"df", $"tok")))
        .join(sz, "doc_id")
        .filter($"pos" <= $"n" - ceil(lit(PpjoinTau) * $"n") + 1)
        .select($"doc_id", $"tok", $"df", $"pos", $"n")
        .write.mode("overwrite").parquet(s"$out/prefix")
      ct.write.mode("overwrite").parquet(s"$out/shingles")
      dfTab.write.mode("overwrite").parquet(s"$out/df")
      // banded MinHash signatures of the CORPUS, for the probe-time
      // df-saturation fallback (dedupPpjoin's hybrid, stored form):
      // saturated-prefix corpus docs must be pairable WITHOUT a
      // corpus rescan, so their band rows ride the index
      bandRows(minhashSigs(ct))
        .write.mode("overwrite").parquet(s"$out/bands")
      // the saturation cap is part of the FROZEN order contract:
      // defined once, from the indexed corpus, used by both sides
      val nCorpusDocs = sz.count()
      Seq((nCorpusDocs, math.max(64L, (DfSatFrac * nCorpusDocs).toLong)))
        .toDF("n_docs", "df_cap")
        .write.mode("overwrite").parquet(s"$out/meta")
    }

  override def prepare(s: SparkSession, dir: String): Unit = {
    ppjoinIndexFixture(s, dir); ()
  }

  def dedupPpjoinStored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tau = PpjoinTau
    val docs = T.t(s, dir, "documents")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) / 2
    val idxDir = ppjoinIndexFixture(s, dir)
    val bt = shingleRows(docs.filter($"doc_id" > cut)).localCheckpoint()
    val bsz = bt.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val bprefix = bt
      .join(s.read.parquet(s"$idxDir/df"), Seq("tok"), "left_outer")
      .withColumn("df", coalesce($"df", lit(0L)))
      .withColumn("pos", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"tok")))
      .join(bsz, "doc_id")
      .filter($"pos" <= $"n" - ceil(lit(tau) * $"n") + 1)
      .select($"doc_id", $"tok", $"df", $"pos", $"n")
    // the same df-saturation hybrid as dedupPpjoin — without it the
    // tok join degenerates toward all-pairs on boilerplate corpora
    // (hot prefix tokens with O(N) posting lists on BOTH the stored
    // and the batch side). Rare tokens drive the exact path; docs
    // whose prefix touches a saturated token fall back to banded
    // MinHash, with the CORPUS side's bands read from the index (no
    // corpus rescan). The cap comes from the index's meta — the
    // frozen-order contract extends to saturation: both sides agree
    // on what's hot because both rank by the STORED df.
    val dfCap = s.read.parquet(s"$idxDir/meta")
      .head().getAs[Long]("df_cap")
    val aPrefix = s.read.parquet(s"$idxDir/prefix")
    val rareA = aPrefix.filter($"df" <= dfCap)
    val rareB = bprefix.filter($"df" <= dfCap)
    val candExact = rareA.as("a")
      .join(rareB.as("b"), "tok")
      .filter($"a.n" >= lit(tau) * $"b.n" && $"b.n" >= lit(tau) * $"a.n")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(min(struct($"a.df".as("df"), $"tok",
        $"a.pos".as("pa"), $"b.pos".as("pb"),
        $"a.n".as("na"), $"b.n".as("nb"))).as("w"))
      .filter(least($"w.na" - $"w.pa", $"w.nb" - $"w.pb") + 1 >=
        ceil(lit(tau / (1 + tau)) * ($"w.na" + $"w.nb")))
      .select($"doc_a", $"doc_b")
    val satA = aPrefix.filter($"df" > dfCap).select($"doc_id").distinct()
    val satB = bprefix.filter($"df" > dfCap).select($"doc_id").distinct()
    val bandsA = s.read.parquet(s"$idxDir/bands").join(satA, "doc_id")
    val bandsB = bandRows(minhashSigs(bt.join(satB, "doc_id")))
    val candLsh = bandsA.as("a").join(bandsB.as("b"), Seq("band", "bh"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
    val candidates = candExact.unionByName(candLsh).distinct()
    verifyPairs(s, candidates,
      s.read.parquet(s"$idxDir/shingles").unionByName(bt))
  }

  /** Row type for the stateful LSH bucket stream. */
  case class BandRow(band: Int, bh: Long, doc_id: Long)

  /** STREAMING near-dup candidate generation — SURVEY.md §8 round-2
    * candidate "streaming llm dedup". Band rows keyed by (band, bh)
    * flow through `flatMapGroupsWithState`, which keeps each bucket's
    * member doc_ids as state and, for every arriving doc, emits a
    * candidate pair against each earlier member — the incremental
    * form of the batch bucket self-join: over any prefix of the
    * stream, emitted pairs == batch candidates on the same docs.
    * State is per-bucket and append-only (real deployments bound it
    * with a watermark + timeout; the core is timeout-agnostic).
    *
    * The SAME function runs in batch (one invocation per group,
    * empty state) — that run, verified against exact Jaccard, is the
    * `llm_dedup_stream` oracle query; StreamingSpec replays it as a
    * true multi-micro-batch file stream and asserts pair-set
    * equality with batch.
    */
  def lshCandidatesCore(bands: DataFrame): DataFrame =
    // `transformWithState` edition (Spark 4's arbitrary-state API —
    // flatMapGroupsWithState is the deprecated predecessor): the
    // unbounded stream is the window processor with an unreachable
    // window, so both stream variants share ONE audited processor.
    // Window comparisons stay overflow-safe because doc_id deltas are
    // |a−b| of same-sign longs in every fixture and deployment shape.
    lshWindowCandidatesCore(bands, Long.MaxValue,
      org.apache.spark.sql.streaming.TimeMode.None())

  /** Batch run of the streaming candidate core + exact verification —
    * identical result contract to llm_dedup_near (the candidate sets
    * coincide), so it shares the exact-pairs oracle.
    */
  def dedupStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = shingleRows(T.t(s, dir, "documents")).localCheckpoint()
    val candidates = lshCandidatesCore(bandRows(minhashSigs(t))).distinct()
    verifyPairs(s, candidates, t)
  }

  /** Ingest-order dedup window for the TTL-bounded stream: a doc only
    * pairs against bucket members at most this many doc_ids older
    * (doc_id is the ingest clock of the fixture). The bound that makes
    * streaming dedup state finite — the reference's bounded-index
    * ethos applied to stream state.
    */
  val TtlWindow = 150L

  /** TTL-BOUNDED streaming LSH candidates (SURVEY §8d #4) — the
    * `transformWithState` edition of `lshCandidatesCore` whose state
    * does NOT grow with the stream: each band bucket keeps its members
    * in a `ListState` declared with a processing-time `TTLConfig`, so
    * the state store itself ages out entries no batch touches (RocksDB
    * cleans them without any user code), and the SEMANTIC bound is the
    * explicit ingest-order window — a doc pairs only against members
    * within `window` of its own doc_id, which makes the result
    * deterministic in batch, in replay, and under TTL eviction alike:
    * whatever TTL removes is provably outside the window anyway when
    * the TTL duration covers the window's ingest span.
    *
    * Batch executes the same processor (Spark runs transformWithState
    * over a batch Dataset with empty initial state) — that run is the
    * DuckDB-oracled query; StreamingSpec replays it as a true stream
    * with the RocksDB state store and asserts pair-set parity.
    *
    * Mode note: a production deployment runs TimeMode.ProcessingTime
    * with a periodic trigger so the TTL actually GCs; under
    * Trigger.AvailableNow that mode schedules state-expiry wake-up
    * batches forever and the query never quiesces, so finite replays
    * (and the batch oracle run) use TimeMode.None — identical output
    * by the window argument above.
    */
  class LshWindowProcessor(window: Long, ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Long), BandRow, (Long, Long)] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // element-level TTL needs the processing-time mode; the batch
      // run (TimeMode.None) carries no TTL — harmless, since batch
      // state lives for exactly one invocation
      members = getHandle.getListState[Long]("members",
        org.apache.spark.sql.Encoders.scalaLong,
        if (timeMode == TimeMode.ProcessingTime()) TTLConfig(ttl)
        else TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      // sort within the invocation: deterministic no matter how rows
      // landed in this micro-batch (same contract as lshCandidatesCore)
      val arriving = rows.map(_.doc_id).toArray.sorted
      // ArrayBuffer: `Array :+=` reallocates the whole array per
      // arriving doc — O(k^2) copies when a hot bucket lands in one
      // batch invocation (exactly the saturated regime this file
      // worries about)
      val cur = scala.collection.mutable.ArrayBuffer(
        members.get().toSeq: _*)
      val out = List.newBuilder[(Long, Long)]
      arriving.foreach { d =>
        cur.foreach { m =>
          if (m != d && math.abs(m - d) <= window)
            out += ((math.min(m, d), math.max(m, d)))
        }
        cur += d
      }
      members.appendList(arriving)
      out.result().iterator
    }
  }

  def lshWindowCandidatesCore(bands: DataFrame, window: Long,
      timeMode: org.apache.spark.sql.streaming.TimeMode): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val s = bands.sparkSession
    import s.implicits._
    // materialize the driver's StateStoreCoordinator endpoint: batch
    // transformWithState runs on RocksDB, whose snapshot reporter
    // looks the endpoint up by URI — a streaming query would have
    // created it, a pure-batch session has not
    org.apache.spark.sql.graftbridge.Bridge.ensureStateStoreCoordinator(s)
    bands.select($"band".cast("int"), $"bh", $"doc_id").as[BandRow]
      .groupByKey(r => (r.band, r.bh))
      .transformWithState(
        new LshWindowProcessor(window, java.time.Duration.ofHours(1)),
        timeMode, OutputMode.Append())
      .toDF("doc_a", "doc_b")
  }

  /** Batch run of the TTL-bounded core + exact verification: the
    * near-dup pairs whose members arrived within the dedup window —
    * oracled as the exact pair set restricted to doc_b − doc_a ≤ W.
    */
  def dedupStreamTtl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val t = shingleRows(T.t(s, dir, "documents")).localCheckpoint()
    val candidates = lshWindowCandidatesCore(
      bandRows(minhashSigs(t)), TtlWindow, TimeMode.None()).distinct()
    verifyPairs(s, candidates, t)
  }

  /** INCREMENTAL near-dup: a NEW batch of documents deduped against
    * the EXISTING corpus — the shape a production ingest runs daily,
    * where re-checking corpus×corpus is impossible and only
    * new×corpus candidates matter. Band hashes are computed for both
    * sides; candidates come from the band-bucket equi-join of the
    * (small) new side against the corpus side, so the work is
    * O(new·bands + matches), independent of corpus-internal pairs;
    * exact-Jaccard verify keeps the result oracle-checkable. Here
    * the "new batch" is the upper half of doc_ids, standing in for
    * the daily delta.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T.t(s, dir, "documents")
    val cut = docs.agg(max($"doc_id")).head().getLong(0) / 2
    val t = shingleRows(docs).localCheckpoint()
    val bands = bandRows(minhashSigs(t))
    val corpusBands = bands.filter($"doc_id" <= cut)
    val newBands = bands.filter($"doc_id" > cut)
    val candidates = corpusBands.as("a")
      .join(newBands.as("b"), Seq("band", "bh"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    verifyPairs(s, candidates, t)
  }

  /** SimHash: 64-bit signature from token-hash bit votes; candidate
    * pairs via 16-bit chunk banding (any pair within hamming 3 shares
    * a chunk), verified by bit_count hamming ≤ 8. The md5-derived
    * token hash is engine-portable, so the full vote→pack→band→verify
    * pipeline carries a DuckDB oracle; recall vs ngram pairs is
    * additionally asserted in LlmSpec.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 64-bit token hash from md5 (hi/lo 32-bit hex halves recombined
    // two's-complement) — engine-portable, unlike xxhash64, which is
    // what lets this query carry a full DuckDB oracle; md5 parity
    // itself is proven by llm_fingerprint
    val hi = conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md5($"tok"), 9, 8), 16, 10).cast("long")
    val th = T.t(s, dir, "documents")
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("tok"))
      .withColumn("h", shiftleft(hi, 32).bitwiseOR(lo))
    // one imperative 64-counter buffer per doc (SimHashAgg) — the
    // 64-column sum(when) formulation compiles past the JIT huge-method
    // limit and runs interpreted; materialized because the chunk
    // self-join would otherwise recompute the explode+agg per branch
    val sh = th.groupBy($"doc_id")
      .agg(graft.functions.SimHashAgg.simhash_agg($"h").as("simhash"))
      .localCheckpoint()
    val chunks = sh.select($"doc_id", $"simhash", posexplode(
      array((0 until 4).map(c =>
        shiftright($"simhash", c * 16).bitwiseAND(0xFFFFL)): _*))
      .as(Seq("chunk_idx", "chunk")))
    chunks.as("a").join(chunks.as("b"), Seq("chunk_idx", "chunk"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
      .distinct()
      .filter($"hamming" <= 8)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Dedup clustering: connected components over the near-dup pair
    * graph, each doc labeled with its component's minimum doc_id (the
    * canonical survivor a dedup pipeline keeps). Distributed
    * min-label propagation — iterate "label = min(label, neighbor
    * labels)" joins to a fixpoint; pair components are tiny so a
    * fixed iteration budget covers the diameter, and each iteration
    * is one shuffle join (the GraphX-free formulation that scales).
    */
  /** Edge-count gate below which the component computation moves to
    * the driver (same size-gated strategy choice as the broadcast-join
    * threshold, and the reference's driver-side index merge): the
    * near-dup pair graph is tiny relative to the corpus — O(dup pairs),
    * not O(docs) — so at any realistic threshold a driver union-find
    * replaces ~2 Spark jobs × graph-diameter iterations with one
    * collect. The distributed min-label loop remains the >threshold
    * path.
    */
  val LocalEdgesConf = "spark.graft.dedup.localClusterEdges"

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersOn(s,
      shingleRows(T.t(s, dir, "documents")).localCheckpoint())

  private[graft] def dedupClustersOn(s: SparkSession, t: DataFrame): DataFrame = {
    import s.implicits._
    // Pairs come from the LSH-BOUNDED near-dup path (banded MinHash
    // candidates + exact-Jaccard verify), NOT from ngramJaccard's
    // all-shared-shingle self-join: the exact pair join is the oracle
    // generator only — its candidate count is unbounded on frequent
    // shingles at corpus scale, while the banded path stays
    // O(docs·bands). Same verified pair set at the asserted recall
    // (LlmSpec), so the clustering result is unchanged.
    val pairs = dedupNearOn(s, t).select($"doc_a", $"doc_b")
      .localCheckpoint()
    val threshold = s.conf.get(LocalEdgesConf, "100000").toInt
    // ONE job decides the strategy AND fetches the edges when small:
    // take(threshold+1) returns everything iff the graph fits the
    // driver gate (vs a count() job followed by a collect() job).
    // Clamped: threshold = Int.MaxValue ("always local") must not
    // wrap take()'s limit negative
    val head = pairs.take(
      if (threshold == Int.MaxValue) Int.MaxValue else threshold + 1)
    if (head.length <= threshold) {
      // driver union-find with path compression; canonical label =
      // component minimum (same contract as the distributed path)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.sorted.map(d => (d, find(d)))
      s.createDataFrame(rows).toDF("doc_id", "cluster_id")
        .orderBy($"doc_id")
    } else dedupClustersDistributed(s, pairs)
  }

  /** Distributed min-label propagation to a fixpoint — two shuffle
    * joins per iteration, the GraphX-free formulation that scales to
    * graphs too big to collect.
    *
    * Each round takes the min over (a) the node's own label, (b)
    * neighbors' labels (one hop along edges), and (c) POINTER
    * JUMPING — the label of the node's current label. (b) alone
    * moves the component minimum one edge per round, O(diameter)
    * rounds on a chain; (c) doubles the reach each round the way
    * Shiloach–Vishkin / hash-to-min do, so convergence is
    * O(log diameter) and a 20-round cap covers million-node chains.
    * Non-convergence THROWS rather than returning a silently
    * half-merged clustering.
    */
  private[graft] def dedupClustersDistributed(s: SparkSession,
      pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    import s.implicits._
    // Materialize and truncate lineage before iterating: without the
    // checkpoint every iteration re-executes the whole pair pipeline
    // in each branch and the plan grows exponentially (measured 32s →
    // ~4s on the fixtures).
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = edges.select($"src".as("doc_id")).distinct()
      .withColumn("lbl", $"doc_id")
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaEdges = edges.join(labels, $"src" === $"doc_id")
        .select($"dst".as("doc_id"), $"lbl")
      val viaJump = labels.as("a")
        .join(labels.as("b"), $"a.lbl" === $"b.doc_id")
        .select($"a.doc_id", $"b.lbl".as("lbl"))
      val next = labels.union(viaEdges).union(viaJump)
        .groupBy($"doc_id")
        .agg(min($"lbl").as("lbl"))
        .localCheckpoint()
      converged = next.as("n")
        .join(labels.as("o"), $"n.doc_id" === $"o.doc_id")
        .filter($"n.lbl" =!= $"o.lbl")
        .isEmpty
      labels = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dedup clustering did not converge in $maxIters rounds")
    labels.select($"doc_id", $"lbl".as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** Repeated-SPAN detection — the exact-substring statistic behind
    * "dedup the spans, not just the docs" (memorized boilerplate
    * shows up as long n-grams occurring more than once in the
    * corpus): per document, how many of its 8-token spans also occur
    * elsewhere (anywhere — another doc or a self-repeat), as integer
    * ppm. One gram-keyed shuffle (the frequency table) + one join
    * back — both bounded by corpus token count; the duplicated-gram
    * side is filtered BEFORE the join so unique grams (the vast
    * majority at scale) never travel twice.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = T.t(s, dir, "documents")
      .select($"doc_id",
        explode(graft.functions.NgramFunctions.ngrams($"text", 8)).as("g"))
      .localCheckpoint() // feeds the freq build AND the join back
    val dup = grams.groupBy($"g")
      .agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"g")
    grams.join(dup.hint("shuffle_hash"), Seq("g"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
      .join(
        grams.groupBy($"doc_id").agg(count(lit(1)).as("n_spans")),
        Seq("doc_id"), "right_outer")
      .select($"doc_id", $"n_spans",
        coalesce($"n_dup", lit(0L)).as("n_dup"),
        expr("coalesce(n_dup, 0L) * 1000000L div n_spans").as("dup_ppm"))
      .orderBy($"doc_id")
  }

  /** Repeated-span REMOVAL — the curation step dupSpans only
    * measures: every token covered by a corpus-duplicated 8-gram is
    * cut, the survivors re-join into the cleaned text (the
    * "deduplicate the substrings, not the documents" operation that
    * measurably reduces memorization). Position algebra, all
    * relational: duplicated gram start positions explode to their 8
    * covered token indices, DISTINCT bounds that at one row per
    * covered token, and an anti join keeps the uncovered tokens. The
    * rebuild is a per-doc sort of kept (idx, tok) structs — one
    * shuffle keyed by doc, the same bound as any per-doc aggregation;
    * the duplicated-gram table is filtered before anything joins it,
    * so unique grams (the overwhelming majority at scale) never
    * travel twice. Docs shorter than the gram width pass through
    * untouched; a fully-boilerplate doc survives as an empty string,
    * NOT a dropped row — downstream filters decide its fate.
    */
  def dupSpanRemove(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T.t(s, dir, "documents").select($"doc_id", $"text")
    val grams = docs
      .select($"doc_id",
        posexplode(graft.functions.NgramFunctions.ngrams($"text", 8))
          .as(Seq("p", "g")))
      .localCheckpoint() // feeds the freq build AND the join back
    val dup = grams.groupBy($"g")
      .agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"g")
    val covered = grams
      .join(dup.hint("shuffle_hash"), Seq("g"), "left_semi")
      .select($"doc_id", explode(sequence($"p", $"p" + 7)).as("idx"))
      .distinct()
    val toks = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("idx", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct($"idx", $"tok"))),
            x => x("tok"))).as("clean_text"))
    toks.groupBy($"doc_id").agg(count(lit(1)).as("n_toks"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_toks",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"clean_text", lit("")).as("clean_text"))
      .orderBy($"doc_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dup_spans" -> (dupSpans(_, _)),
    "llm_dup_span_remove" -> (dupSpanRemove(_, _)),
    "llm_dedup_clusters" -> (dedupClusters(_, _)),
    "llm_dedup_exact" -> (dedupExact(_, _)),
    "llm_ngram_jaccard" -> (ngramJaccard(_, _)),
    "llm_dedup_near" -> (dedupNear(_, _)),
    "llm_dedup_ppjoin" -> (dedupPpjoin(_, _)),
    "llm_dedup_incremental" -> (dedupIncremental(_, _)),
    "llm_dedup_ppjoin_stored" -> (dedupPpjoinStored(_, _)),
    "llm_dedup_stream" -> (dedupStream(_, _)),
    "llm_dedup_stream_ttl" -> (dedupStreamTtl(_, _)),
    "llm_dedup_simhash" -> (dedupSimhash(_, _)))

  private val exactPairsSql =
    """WITH s AS (
      |  SELECT doc_id, unnest([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
      |      FOR i IN generate_series(1, len(toks)-2)]) AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |t AS (SELECT DISTINCT doc_id, tok FROM s),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM t a JOIN t b USING (tok) WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      |FROM inter
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "llm_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |hx AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hi,
        |    CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS lo
        |  FROM tok),
        |hh AS (
        |  SELECT doc_id,
        |    (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
        |      * 4294967296 + lo AS h
        |  FROM hx),
        |bits AS (
        |  SELECT doc_id, k,
        |    SUM(CASE WHEN ((h >> k) & 1) = 1 THEN 1 ELSE -1 END) AS votes
        |  FROM hh, (SELECT unnest(generate_series(0, 63)) AS k) ks
        |  GROUP BY doc_id, k),
        |sh AS (
        |  SELECT doc_id, CAST(SUM(CASE WHEN votes > 0 THEN
        |      CASE WHEN k = 63 THEN -9223372036854775808
        |           ELSE (CAST(1 AS BIGINT) << k) END
        |    ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, simhash, c AS chunk_idx,
        |    (simhash >> (c * 16)) & 65535 AS chunk
        |  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS c) cs),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |  FROM chunks a JOIN chunks b USING (chunk_idx, chunk)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
        |FROM documents""".stripMargin,
    "llm_ngram_jaccard" -> exactPairsSql,
    "llm_dup_spans" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest([list_aggregate(toks[i:i+7], 'string_agg', '_')
        |      FOR i IN generate_series(1, len(toks) - 7)]) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |dup AS (SELECT g FROM (SELECT g, COUNT(*) AS n FROM g GROUP BY g)
        |        WHERE n > 1),
        |per AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_spans,
        |    CAST(COUNT(CASE WHEN g IN (SELECT g FROM dup) THEN 1 END)
        |      AS BIGINT) AS n_dup
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, n_spans, n_dup,
        |  n_dup * 1000000 // n_spans AS dup_ppm
        |FROM per ORDER BY doc_id""".stripMargin,
    // span removal: duplicated 8-gram start positions cover token
    // indices p..p+7 (1-based in DuckDB, 0-based in Spark — offsets
    // cancel in the anti join); survivors re-join in token order
    "llm_dup_span_remove" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS p,
        |    list_aggregate(toks[i:i+7], 'string_agg', '_') AS g
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1,
        |    len(toks) - 7)) AS i)),
        |dup AS (SELECT g FROM (SELECT g, COUNT(*) AS n FROM g GROUP BY g)
        |        WHERE n > 1),
        |covered AS (
        |  SELECT DISTINCT doc_id, p + o AS idx
        |  FROM (SELECT doc_id, p FROM g WHERE g IN (SELECT g FROM dup)),
        |    LATERAL (SELECT unnest(generate_series(0, 7)) AS o)),
        |pos AS (
        |  SELECT doc_id, i AS idx, toks[i] AS tok
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks)))
        |    AS i)),
        |kept AS (
        |  SELECT pos.doc_id, pos.idx, pos.tok
        |  FROM pos ANTI JOIN covered
        |    ON pos.doc_id = covered.doc_id AND pos.idx = covered.idx),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
        |  COALESCE(a.n_kept, 0) AS n_kept,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // MinHash-LSH verified against exact Jaccard: same result set
    // (miss probability ~1e-7 at the observed 0.89+ similarities).
    "llm_dedup_near" -> exactPairsSql,
    "llm_dedup_ppjoin" -> exactPairsSql,
    // Streaming-core candidates == batch LSH candidates (same buckets),
    // then the same exact-Jaccard verify → same oracle.
    "llm_dedup_stream" -> exactPairsSql,
    // TTL/window-bounded stream: the exact pair set restricted to the
    // ingest-order dedup window (banding recall argument unchanged).
    "llm_dedup_stream_ttl" ->
      s"""SELECT * FROM ($exactPairsSql)
         |WHERE doc_b - doc_a <= ${Dedup.TtlWindow}
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Incremental = the exact pair set restricted to corpus-side ×
    // new-side (doc_a ≤ cut < doc_b); same banding recall argument.
    "llm_dedup_incremental" ->
      s"""SELECT * FROM ($exactPairsSql)
         |WHERE doc_a <= (SELECT MAX(doc_id) // 2 FROM documents)
         |  AND doc_b >  (SELECT MAX(doc_id) // 2 FROM documents)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_dedup_ppjoin_stored" ->
      s"""SELECT * FROM ($exactPairsSql)
         |WHERE doc_a <= (SELECT MAX(doc_id) // 2 FROM documents)
         |  AND doc_b >  (SELECT MAX(doc_id) // 2 FROM documents)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Connected components via recursive CTE over the same pair graph.
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT doc_a, doc_b FROM ($exactPairsSql)
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |), verts AS (SELECT DISTINCT src AS doc_id FROM edges),
         |reach AS (
         |  SELECT doc_id, doc_id AS lbl FROM verts
         |  UNION
         |  SELECT e.dst AS doc_id, r.lbl
         |  FROM reach r JOIN edges e ON e.src = r.doc_id
         |)
         |SELECT doc_id, MIN(lbl) AS cluster_id
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
