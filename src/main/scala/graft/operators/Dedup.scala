package graft.operators

import graft.textkit.TextKit
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication suite for training-data pipelines over a documents table
 * (no reference counterpart — SURVEY.md lists the reference as dedup-by-
 * exact-URL only, D1; these are the content-level equivalents a 100 TB
 * corpus pipeline needs).
 *
 * Scale design notes (100 TB):
 *  - exact: one hash-shuffle on a 16-byte digest, map-side partial aggs.
 *  - minhashLsh: signature computation is embarrassingly parallel (one UDF
 *    pass, no shuffle); candidate generation shuffles only (band, bandHash)
 *    keys; verification joins signatures for candidate pairs only. Bucket
 *    sizes are capped to keep a degenerate bucket (boilerplate text) from
 *    producing O(n²) pairs — every capped operator emits a
 *    `<op>_bucket_cap` observed metric (capped_ids_dropped,
 *    max_bucket_size) so dropped recall is visible, never silent.
 *  - ngramJaccard: threshold-adaptive EXACT set-similarity join. The naive
 *    inverted-gram-index self-join pays d² per shared gram but no
 *    per-gram ranking overhead — it wins at low thresholds where prefixes
 *    barely shrink; the PPJoin-filtered variant (prefix + length +
 *    positional filters, all lossless) wins at high thresholds and on
 *    boilerplate-heavy corpora where hot grams drop out of every prefix.
 *  - simhash: same bucket shape with 4×16-bit chunk buckets (pigeonhole:
 *    Hamming ≤3 ⇒ ≥1 chunk equal).
 *  - embeddings: random-hyperplane LSH buckets then exact cosine verify.
 *
 * Lifecycle: the pair-producing operators materialize their (small) result
 * eagerly via `localCheckpoint` and unpersist every intermediate cache
 * before returning, so long-lived drivers / bench loops never accumulate
 * executor storage (round-2 ADVICE). The returned DataFrame is a
 * lineage-truncated LogicalRDD whose blocks the ContextCleaner reclaims
 * once the frame is unreachable.
 */
object Dedup {

  private val CacheLvl = StorageLevel.MEMORY_AND_DISK

  /** Eagerly materialize `df` (truncating lineage), then run `cleanup`.
    * The checkpoint action also delivers any observed metrics riding `df`. */
  private def materialized(df: DataFrame)(cleanup: => Unit): DataFrame =
    try df.localCheckpoint(true) finally cleanup

  // ---- exact -----------------------------------------------------------------

  /** Exact dedup: md5(text) groups; canonical = min(id) per group.
    * Returns (id, group_hash, group_size, is_canonical). */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("group_hash"))
    docs
      .select(col(idCol), md5(col(textCol)).as("group_hash"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
  }

  /** Survivors of exact dedup (one row per distinct text). */
  def exactSurvivors(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), md5(col(textCol)).as("group_hash"))
      .groupBy("group_hash").agg(min(col(idCol)).as(idCol))
      .select(idCol, "group_hash")

  // ---- minhash + LSH -----------------------------------------------------------

  private val bandsUdf = udf { (sig: Seq[Long], bands: Int) =>
    TextKit.lshBands(sig.toArray, bands).zipWithIndex.map { case (h, i) => (i, h) }
  }
  private val jaccardUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    TextKit.minhashSimilarity(a.toArray, b.toArray)
  }
  private val exactJaccardUdf = udf { (a: String, b: String, k: Int) =>
    TextKit.jaccard(TextKit.shingleHashes(a, k), TextKit.shingleHashes(b, k))
  }

  /** MinHash signatures: (id, sig array<long>). The signature runs as a
    * NATIVE expression (graft.functions.MinhashSig — same TextKit kernel,
    * no per-row UDF converter boundary); null text signs as "" to keep
    * the UDF path's semantics. */
  def minhashSignatures(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        k: Int = 3, numPerms: Int = 64): DataFrame = {
    graft.functions.TextExpressions.registerAll(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      graft.functions.TextExpressions.minhash_sig_native(
        coalesce(col(textCol), lit("")), k, numPerms).as("sig"))
  }

  /**
   * MinHash+LSH near-dup pairs: shingle→minhash→band→bucket-join→verify.
   * Returns (id_a, id_b, est_jaccard) with id_a < id_b, est ≥ threshold.
   * Materializes eagerly; the signature cache is released before returning.
   */
  def minhashLshPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      k: Int = 3, numPerms: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, idCol, k, numPerms).persist(CacheLvl)
    val buckets = sigs
      .select(col("id"), explode(bandsUdf(col("sig"), lit(bands))).as("band"))
      .select(col("id"), col("band._1").as("band_idx"), col("band._2").as("band_hash"))
    // candidate pairs within buckets (bucket size capped; the cap rides an
    // observed metric so any recall loss is visible in every run)
    val grouped = buckets.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("minhash_bucket_cap",
        sum(greatest(size(col("ids")) - maxBucket, lit(0))).as("capped_ids_dropped"),
        max(size(col("ids"))).as("max_bucket_size"))
      .withColumn("ids", slice(col("ids"), 1, maxBucket))
    val pairs = grouped
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    val out = pairs
      .join(sigs.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
      .join(sigs.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
      .withColumn("est_jaccard", jaccardUdf(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
    materialized(out) { sigs.unpersist() }
  }

  /**
   * Persisted MinHash signature index — the dedup analogue of the IVF
   * fit/add/save/load split, for a continuously-ingesting corpus: compute
   * signatures ONCE per doc, store them, and when a new batch arrives
   * emit only the pairs that involve a new doc — old text is never
   * re-tokenized and old signatures are never recomputed.
   *
   * Layout: the signatures plus the exploded band table as a sequence of
   * SEGMENTS, each partitioned AND sorted on the band key (localCheckpoint
   * preserves both) — the LSM shape. An add appends ONE new sorted
   * segment and probes every existing segment with the new batch's band
   * keys: no segment is ever reshuffled or re-sorted, so steady-state add
   * cost stays proportional to the increment across a whole CHAIN of
   * adds, not just the first (a single monolithic band frame would lose
   * its layout at the first union and regress every later add to a
   * full-corpus re-sort). `minhashCompact` is the explicit rebuild when
   * the segment count warrants it. At 100 TB the segments are the
   * bucketed data files of a stored band table; append IS the table's
   * write path and compaction its maintenance job.
   *
   * The signature parameters (k, numPerms, bands) are CARRIED BY the
   * index — an add inherits them, so a fit/add parameter mismatch (which
   * would silently miss pairs via disjoint band keys) cannot happen.
   */
  final case class MinhashIndex private[operators] (
      sigs: DataFrame, bandSegments: Seq[DataFrame],
      k: Int, numPerms: Int, bands: Int) {
    /** Release the checkpointed blocks of every frame — traverses the
      * plans so the sig unions an `minhashAdd` chain builds (LogicalRDD
      * leaves under Union nodes) are released too; unpersist is
      * idempotent, so closing an input index and its add-result is safe. */
    def close(): Unit = (sigs +: bandSegments).foreach { df =>
      var found = false
      df.queryExecution.logical.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false); found = true
        case _ => ()
      }
      if (!found) df.unpersist()
    }
  }

  /** Exploded (id, band_idx, band_hash) of a signature frame. */
  private def bandTable(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("id"), explode(bandsUdf(col("sig"), lit(bands))).as("band"))
      .select(col("id"), col("band._1").as("band_idx"), col("band._2").as("band_hash"))

  /** One sorted band segment: partitioned + sorted on the band key, then
    * checkpointed so BOTH properties survive into every later probe plan
    * (the single place the segment layout is defined — fit, load, add and
    * compact all build through here). */
  private def bandSegment(sigs: DataFrame, bands: Int): DataFrame =
    bandTable(sigs, bands)
      .repartition(col("band_idx"), col("band_hash"))
      .sortWithinPartitions("band_idx", "band_hash")
      .localCheckpoint(true)

  /** Build the signature index for a corpus (materialized eagerly — fit is
    * a build step, not query work; lineage to the docs scan is severed). */
  def minhashFit(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 k: Int = 3, numPerms: Int = 64, bands: Int = 16): MinhashIndex = {
    val sigs = minhashSignatures(docs, textCol, idCol, k, numPerms).localCheckpoint(true)
    MinhashIndex(sigs, Seq(bandSegment(sigs, bands)), k, numPerms, bands)
  }

  /** Persist the index as parquet — across sessions/processes, mirroring
    * ivfSave: signatures under `path`/sigs, the signature parameters in a
    * one-row `path`/meta table (so load cannot mismatch them; the band
    * segments are derived and rebuilt — compacted — on load). */
  def minhashSave(index: MinhashIndex, path: String): Unit = {
    val spark = index.sigs.sparkSession
    import spark.implicits._
    index.sigs.write.mode("overwrite").parquet(s"$path/sigs")
    Seq((index.k, index.numPerms, index.bands)).toDF("k", "num_perms", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def minhashLoad(spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (k, numPerms, bands) = (meta.getAs[Int]("k"), meta.getAs[Int]("num_perms"), meta.getAs[Int]("bands"))
    val sigs = spark.read.parquet(s"$path/sigs").localCheckpoint(true)
    MinhashIndex(sigs, Seq(bandSegment(sigs, bands)), k, numPerms, bands)
  }

  /** Rebuild the band table as ONE sorted segment (the LSM compaction —
    * run it when an add chain has accumulated enough segments that the
    * per-segment probe overhead shows). */
  def minhashCompact(index: MinhashIndex): MinhashIndex = {
    val compacted = MinhashIndex(index.sigs, Seq(bandSegment(index.sigs, index.bands)),
      index.k, index.numPerms, index.bands)
    index.bandSegments.foreach { seg =>
      seg.queryExecution.logical.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
    }
    compacted
  }

  /**
   * Incremental near-dup detection: sign ONLY the new batch, and emit the
   * verified pairs with at least one new endpoint — new-vs-old pairs
   * surface the moment the new doc arrives, old-old pairs are never
   * re-derived (they were emitted when THEIR batch arrived). Candidate
   * generation prunes to buckets the new batch TOUCHES before anything
   * expensive runs: the new band keys (tiny) semi-join every sorted band
   * segment — the standing corpus is never reshuffled, and untouched
   * buckets are never grouped, so add cost scales with the new batch +
   * its collisions, not the corpus — and stays that way across a CHAIN
   * of adds (each add appends one sorted segment).
   * add-then-union ≡ recompute-from-scratch exactly (oracled in
   * SparkEntry, chain-tested in PipelineOpsSpec; BENCH_SCALING.json
   * records a 1M-doc validation) as long as no bucket crosses `maxBucket` — a capped
   * bucket slices differently once new ids sort into it, the same
   * visibility tradeoff the batch cap metric reports. Returns (index
   * covering old ∪ new, pairs (id_a, id_b, est_jaccard)); ids must be
   * unique across ALL batches (same contract as the batch operator);
   * k/numPerms/bands come from the index, so they cannot drift.
   */
  def minhashAdd(index: MinhashIndex, newDocs: DataFrame,
                 textCol: String = "text", idCol: String = "doc_id",
                 threshold: Double = 0.5, maxBucket: Int = 1000): (MinhashIndex, DataFrame) = {
    val newSigs = minhashSignatures(newDocs, textCol, idCol, index.k, index.numPerms)
      .localCheckpoint(true)
    val newSeg = bandSegment(newSigs, index.bands)
    val newBandKeys = newSeg.select("band_idx", "band_hash").distinct()
    // members of touched buckets only: each segment's required
    // distribution is satisfied by its stored partitioning, so only the
    // (tiny) key side shuffles per segment; the groupBy below then runs
    // over the small touched subset
    // every newSeg row is in a touched bucket by definition — only the
    // standing segments need the semi-join prune
    val touched = (index.bandSegments
      .map(_.join(newBandKeys, Seq("band_idx", "band_hash"), "left_semi")) :+ newSeg)
      .reduce(_ unionByName _)
    val grouped = touched.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("minhash_add_bucket_cap",
        sum(greatest(size(col("ids")) - maxBucket, lit(0))).as("capped_ids_dropped"),
        max(size(col("ids"))).as("max_bucket_size"))
      .withColumn("ids", slice(col("ids"), 1, maxBucket))
    val newIds = newSigs.select("id")
    val all = index.sigs.unionByName(newSigs)
    val pairs = grouped
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
      // old-old pairs sharing a bucket with a new id were already emitted
      // by their own batch — keep only pairs touching the new batch
      .join(newIds.select(col("id").as("id_a"), lit(true).as("_na")), Seq("id_a"), "left")
      .join(newIds.select(col("id").as("id_b"), lit(true).as("_nb")), Seq("id_b"), "left")
      .filter(col("_na").isNotNull || col("_nb").isNotNull)
      .select("id_a", "id_b")
    val out = pairs
      .join(all.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
      .join(all.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
      .withColumn("est_jaccard", jaccardUdf(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
      .localCheckpoint(true)
    (MinhashIndex(all, index.bandSegments :+ newSeg, index.k, index.numPerms, index.bands), out)
  }

  /** all ordered pairs of a (sorted, capped) id array — declarative, codegen'd. */
  private def pairsOf(ids: Column): Column =
    filter(
      flatten(transform(ids, a => transform(ids, b => struct(a.as("_1"), b.as("_2"))))),
      p => p.getField("_1") < p.getField("_2"))

  /** Row-local distinct word-k-grams per doc, collapsed to 64-bit hashes
    * before any shuffle (the string never leaves the map side). Shared by
    * both exact joins so the tokenization/fallback semantics (which the
    * DuckDB oracles and TextKit.shingleHashes mirror) live in one place.
    * NOT persisted here — callers cache and release it (round-2 ADVICE). */
  private[operators] def rawGrams(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val gramsUdf = udf { (text: String) =>
      val toks = TextKit.wsTokens(Option(text).getOrElse(""))
      if (toks.isEmpty) Array.empty[String]
      else if (toks.length < k) Array(toks.mkString(" "))
      else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).distinct.toArray
    }
    docs.select(col(idCol).as("id"), explode(gramsUdf(col(textCol))).as("g"))
  }

  private[operators] def hashedGrams(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    rawGrams(docs, textCol, idCol, k).select(col("id"), xxhash64(col("g")).as("gh"))

  /**
   * Benchmark decontamination (the GPT-3-style eval-overlap filter): flag
   * every corpus doc sharing at least one word-k-gram with the benchmark
   * set, returning (idCol, n_hits) where n_hits counts the doc's DISTINCT
   * grams that appear anywhere in the benchmark. Downstream drops or
   * audits the flagged docs before training.
   *
   * Scale shape: an eval suite is KBs–MBs while the corpus is TBs, so the
   * benchmark's distinct grams broadcast and the corpus side is a map-side
   * broadcast semi-join + one groupBy on the (already contaminated-only)
   * doc ids — the corpus never shuffles its gram set. The join matches on
   * the raw gram STRING: no hash-collision false positives, and the
   * broadcast stays small because it is the benchmark, not the corpus.
   * Tokenization/short-doc fallback semantics are [[rawGrams]]'s — the
   * same ones every n-gram oracle mirrors.
   */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 13): DataFrame = {
    val benchGrams = rawGrams(benchmark, textCol, idCol, k).select("g").distinct()
    rawGrams(docs, textCol, idCol, k)
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("id").as(idCol), col("n_hits"))
  }

  /**
   * EXACT word-k-gram Jaccard join, regime-adaptive. Two signals pick the
   * physical variant (both variants produce identical output — spec- and
   * oracle-proven):
   *
   *  - THRESHOLD: at t ≥ `prefixCrossover` (measured ~0.7) prefixes are
   *    short enough that the PPJoin path wins even on clean corpora.
   *  - SKEW: below the crossover, one cheap aggregation over the (cached)
   *    gram index measures Σdf²/Σdf — the expected intermediate join rows
   *    PER gram row of the naive inverted-index self-join. Clean corpora
   *    sit near 1; a boilerplate-heavy corpus (shared headers → grams
   *    with df ≈ n) explodes it (measured ~2000 at 5k docs with a 32-word
   *    shared header — where naive runs 26-30× slower). Above `skewRatio`
   *    the prefix path is chosen even at low thresholds, because hot
   *    grams drop out of every prefix regardless of t. This is the 100 TB
   *    default: real web corpora ARE boilerplate-heavy.
   *
   * The gram index is built and cached ONCE here and shared with the
   * chosen variant (the probe never re-tokenizes the corpus).
   */
  def ngramJaccard(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   k: Int = 3, threshold: Double = 0.5,
                   prefixCrossover: Double = 0.7, skewRatio: Double = 16.0): DataFrame = {
    if (threshold >= prefixCrossover)
      return ngramJaccardPrefixJoin(docs, textCol, idCol, k, threshold)
    // (The gram cache stays at the input's own parallelism here: at low
    // thresholds on a CLEAN corpus the naive join's pair volume is ~the
    // gram count — the fan-out's extra exchange and per-consumer stages
    // cost more than they buy (measured +1.2 s at sf0.1) — and a skewed
    // corpus dispatches to the prefix path, whose many light cache
    // consumers also prefer the narrow cache. The explicit all-pairs
    // entry below fans out, because there the d² blowup is certain.)
    val grams = hashedGrams(docs, textCol, idCol, k).persist(CacheLvl)
    try {
      if (skewRatioOf(grams) > skewRatio) prefixJoinOnGrams(grams, threshold)
      else allPairsOnGrams(grams, threshold, Int.MaxValue)
    } finally grams.unpersist()
  }

  /** Σdf²/Σdf over a gram index — expected naive-join intermediate rows
    * per gram row (the dispatch probe; exposed for tests). */
  private def skewRatioOf(grams: DataFrame): Double = {
    val probe = grams.groupBy("gh").agg(count(lit(1)).as("df"))
      .agg(sum(col("df")).as("total"),
        sum(col("df").cast("double") * col("df")).as("sq")) // double: df² overflows long at 10^10
      .head()
    val total = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    if (total == 0L) 0.0 else probe.getDouble(1) / total
  }

  /** The dispatch probe over a docs table (for tests/diagnostics). */
  private[graft] def ngramSkewRatio(docs: DataFrame, textCol: String = "text",
                                    idCol: String = "doc_id", k: Int = 3): Double = {
    val grams = hashedGrams(docs, textCol, idCol, k).persist(CacheLvl)
    try skewRatioOf(grams) finally grams.unpersist()
  }

  /**
   * EXACT word-k-gram Jaccard similarity join over all pairs sharing at
   * least one gram — the classic inverted-index set-similarity join:
   * doc → distinct grams (row-local), explode, self-join on the gram,
   * count intersections, jaccard = |A∩B| / (|A|+|B|-|A∩B|). Returns
   * (id_a, id_b, inter, uni, jaccard) — the integral (inter, uni) pair is
   * the hash-stable gate shape; jaccard = inter/uni is the convenience
   * double.
   *
   * This is the oracle-checkable ground truth (same semantics are
   * expressible in ANSI-ish SQL) that minhash/LSH recall is measured
   * against. Scale shape: the only shuffle keys are gram hashes; a gram
   * shared by d documents yields d² intermediate pairs, so production
   * corpora MUST bound document frequency — `maxDf` drops grams seen in
   * more than maxDf docs and reports them via the `ngram_df_cap` observed
   * metric (prefix filtering is the exact-preserving production upgrade).
   */
  def ngramJaccardAllPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                           k: Int = 3, threshold: Double = 0.5,
                           maxDf: Int = Int.MaxValue): DataFrame = {
    // docs-level fan-out before the gram explosion — see ngramJaccard's
    // dispatch comment for why the fan-out must precede the explode
    val grams = hashedGrams(Parallelism.fanOutScan(docs), textCol, idCol, k).persist(CacheLvl)
    try allPairsOnGrams(grams, threshold, maxDf) finally grams.unpersist()
  }

  /** Naive inverted-index join over an already-cached gram index; returns
    * an eagerly-materialized result (caller owns the grams cache). */
  private def allPairsOnGrams(grams: DataFrame, threshold: Double, maxDf: Int): DataFrame = {
    val filtered =
      if (maxDf == Int.MaxValue) grams
      else {
        val hot = grams.groupBy("gh").agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
          .observe("ngram_df_cap", count(lit(1)).as("grams_dropped"))
        grams.join(hot.select("gh"), Seq("gh"), "left_anti")
      }
    // sizes over the SAME (possibly df-filtered) gram space as the
    // intersections — otherwise a dropped hot gram deflates jaccard for
    // pairs that share it while still counting toward their set sizes
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = filtered.withColumnRenamed("id", "id_a")
      .join(filtered.withColumnRenamed("id", "id_b"), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    val out = inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("inter", col("i"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("i"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "uni", "jaccard")
    out.localCheckpoint(true)
  }

  /**
   * EXACT n-gram Jaccard join with the full PPJoin filter stack (Bayardo
   * et al. WWW'07; Xiao et al. WWW'08) — same output as
   * `ngramJaccardAllPairs`, provably, with three lossless prunes:
   *
   *  1. PREFIX filter: under a global gram order (rarest first), any pair
   *     with J ≥ t shares a gram inside both prefixes of length
   *     sz - ⌈t·sz⌉ + 1 — frequent grams land at the tail of every
   *     ordering and drop out of the prefixes, removing the d² blowup on
   *     hot grams WITHOUT the lossy maxDf cut.
   *  2. LENGTH filter: J ≥ t ⇒ t·sz_a ≤ sz_b ∧ t·sz_b ≤ sz_a, applied in
   *     the candidate join condition (before the pair ever materializes).
   *  3. POSITIONAL filter: for the FIRST shared prefix gram at ranks
   *     (r_a, r_b), overlap ≤ 1 + min(sz_a - r_a, sz_b - r_b); the pair
   *     survives only if that bound reaches the required overlap
   *     α = t/(1+t)·(sz_a+sz_b).
   *
   * Verification is COUNT-based (join candidates back to the gram index
   * and count matches) — no per-doc gram arrays are ever collected, so a
   * pathological multi-MB document never becomes one giant row (round-2
   * VERDICT). All float comparisons carry an epsilon biased toward keeping
   * candidates, so losslessness survives IEEE rounding.
   * Shuffles: gram-df agg, per-doc rank window, prefix self-join on gram
   * hash, verify joins on ids — all key-hash shuffles, no cross terms.
   */
  def ngramJaccardPrefixJoin(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                             k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val grams = hashedGrams(docs, textCol, idCol, k).persist(CacheLvl)
    try prefixJoinOnGrams(grams, threshold) finally grams.unpersist()
  }

  /** PPJoin-filtered join over an already-cached gram index; returns an
    * eagerly-materialized result (caller owns the grams cache). */
  private def prefixJoinOnGrams(grams: DataFrame, threshold: Double): DataFrame = {
    val eps = 1e-9
    val dfCounts = grams.groupBy("gh").agg(count(lit(1)).as("df"))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    // global order: rarest gram first (df, then hash for determinism);
    // ceil(sz*t - eps): if IEEE rounding dips below the exact integer the
    // prefix only gets LONGER (more candidates, never lossy)
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("gh"))
    val prefix = grams.join(dfCounts, "gh")
      .withColumn("r", row_number().over(w))
      .join(sizes, "id")
      .filter(col("r") <= col("sz") - ceil(col("sz") * threshold - eps) + lit(1))
      .select("id", "gh", "r", "sz")
    // candidate join: equi on the gram hash; length filter inline so
    // mismatched-size pairs die inside the join, not after a shuffle
    val a = prefix.select(col("id").as("id_a"), col("gh"),
      col("r").as("r_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("id").as("id_b"), col("gh"),
      col("r").as("r_b"), col("sz").as("sz_b"))
    val matched = a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b")
        && col("sz_b") >= col("sz_a") * threshold - eps
        && col("sz_a") >= col("sz_b") * threshold - eps)
    // positional filter on the first (rarest-order) shared prefix gram:
    // min(struct(r_a, r_b)) is that gram — the global order restricted to
    // either doc sorts shared grams identically, so min r_a ⇔ min r_b
    val alpha = (col("sz_a") + col("sz_b")) * (threshold / (1.0 + threshold))
    val cands = matched
      .groupBy("id_a", "id_b")
      .agg(min(struct(col("r_a"), col("r_b"))).as("fst"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .filter(lit(1) + least(col("sz_a") - col("fst.r_a"), col("sz_b") - col("fst.r_b"))
        >= alpha - eps)
      .select("id_a", "id_b", "sz_a", "sz_b")
    // count-based verify: candidates (small) stream against the gram index
    val inter = cands.select("id_a", "id_b")
      .join(grams.select(col("id").as("id_a"), col("gh")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("gh")), Seq("id_b", "gh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    val out = cands.join(inter, Seq("id_a", "id_b")) // inner: candidates share ≥1 gram
      .withColumn("inter", col("i"))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("i"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "uni", "jaccard")
    out.localCheckpoint(true)
  }

  /** n-gram Jaccard similarity for given candidate pairs (exact verify step). */
  def ngramJaccardVerify(pairs: DataFrame, docs: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         k: Int = 3): DataFrame = {
    val t = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    pairs
      .join(t.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
      .join(t.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
      .withColumn("jaccard", exactJaccardUdf(col("t_a"), col("t_b"), lit(k)))
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Connected components over near-duplicate pairs — the canonical
   * post-pair dedup step (cluster the near-dups, keep min-id per cluster).
   * Each iteration does one hop of min-label propagation across edges PLUS
   * one pointer jump (label := label(label)), so convergence is
   * O(log diameter), not O(diameter) — a 10^6-doc revision chain converges
   * in ~20 rounds, each a node-id-keyed shuffle (the standard large-graph
   * CC shape). Returns (id, cluster_id, is_canonical) for every node that
   * appears in a pair; cluster_id = min id of the component.
   *
   * Cleanup is exception-safe: the edge cache is released in a finally,
   * and each superseded per-iteration checkpoint is unpersisted as soon as
   * the next one lands (round-2 ADVICE).
   */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(CacheLvl)
    try {
      // localCheckpoint per iteration: the pointer jump references `hop`
      // twice, so without lineage truncation the LOGICAL plan doubles every
      // round (exponential tree — OOMs the plan-string machinery long before
      // execution would). Each iteration therefore starts from a LogicalRDD.
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .localCheckpoint(true)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val viaEdge = edges
          .join(labels.select(col("id").as("src"), col("label")), "src")
          .select(col("dst").as("id"), col("label"))
        val hop = labels.select("id", "label").unionByName(viaEdge)
          .groupBy("id").agg(min(col("label")).as("label"))
        // pointer jump: follow the label one more step (label of my label);
        // the label is always a node id of the same component, so the inner
        // join is total
        val next = hop
          .join(hop.select(col("id").as("label"), col("label").as("label2")), Seq("label"))
          .select(col("id"), least(col("label"), col("label2")).as("label"))
          .localCheckpoint(true)
        val changed = next.join(labels.withColumnRenamed("label", "old"), "id")
          .filter(col("label") < col("old")).count()
        // the old checkpoint is dead past this point; a localCheckpoint is
        // unrecoverable once unpersisted, so this must follow `changed`
        unpersistCheckpoint(labels)
        labels = next
        converged = changed == 0
        iter += 1
      }
      require(converged, s"label propagation did not converge in $maxIters iterations")
      labels.select(col("id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_canonical"))
    } finally edges.unpersist()
  }

  /** Release the RDD blocks behind a localCheckpoint'd frame (best-effort:
    * a plan that isn't a LogicalRDD is left to the ContextCleaner). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  // ---- duplicated-substring spans (ExactSubstr-style) -----------------------------

  /**
   * Maximal duplicated token spans — the removal set of ExactSubstr dedup
   * (Lee et al., "Deduplicating Training Data Makes Language Models
   * Better", arXiv:2107.06499), re-expressed for Spark. The paper builds a
   * corpus-wide suffix array, which does not distribute; the key identity
   * that makes the operator Spark-native is that the UNION of all
   * duplicated substrings of length ≥ L equals the union of all duplicated
   * L-token windows (any longer duplicated substring is covered by its own
   * L-windows, each itself duplicated), so the span set is exactly
   * recoverable from fixed-width window hashing + run merging:
   *
   *   1. per doc, every L-token window → 128-bit hash, row-local
   *      (`transform` + `xxhash64` over `slice`/`array_join`; the window
   *      string never leaves the map side — only (id, pos, hash) shuffles);
   *   2. a window is duplicated iff its hash occurs ≥ 2 times corpus-wide
   *      (positions count, so intra-doc repeats qualify — paper semantics);
   *   3. per doc, consecutive duplicated positions merge into maximal
   *      spans (gaps-and-islands: pos − row_number is constant on a run).
   *
   * Shuffles at 100 TB: one FULL shuffle+sort of the (id, pos, 16-byte
   * hash) window tuples on the hash (~28 bytes/window — the occurrence
   * count is a window function, so unlike a groupBy there is no map-side
   * combining; what keeps the volume sane is that the window STRING never
   * shuffles), then one shuffle on doc id over ONLY the duplicated
   * positions (a small fraction of the corpus). Everything is codegen'd;
   * no UDFs, no driver-side state. Input contract: idCol is unique per
   * row — a doc present twice under one id would count its own windows as
   * corpus-duplicated. The
   * 128-bit key (two independent xxhash64 seeds) makes a false duplicate
   * mark need a simultaneous double collision (~2⁻¹²⁸ per pair), so the
   * operator stays exact at 10¹³-window scale where a single 64-bit hash
   * would see birthday collisions.
   *
   * Returns (idCol, start_tok, end_tok, n_windows): 0-based inclusive
   * token offsets of each maximal span, n_windows = its duplicated-window
   * count (= span_len − minLen + 1). Tokenization is whitespace (`\s+` on
   * the trimmed text), matching TextKit.wsTokens and the DuckDB oracle.
   */
  def duplicatedSpans(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      minLen: Int = 10): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2 (a 1-token window dedups single words)")
    val winKey = (win: Column) =>
      struct(xxhash64(win).as("h1"), xxhash64(lit(1), win).as("h2"))
    val wins = Parallelism.fanOutScan(docs)
      .select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= minLen)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - minLen),
        i => winKey(array_join(slice(col("toks"), i + lit(1), lit(minLen)), " ")))))
      .toDF("id", "pos", "wh")
    val dup = wins
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("wh")))
      .filter(col("occ") >= 2)
    dup
      .withColumn("grp", col("pos") - row_number().over(Window.partitionBy("id").orderBy("pos")))
      .groupBy("id", "grp")
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + lit(minLen - 1)).cast("long").as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("start_tok"), col("end_tok"), col("n_windows"))
  }

  /**
   * ExactSubstr dedup applied: drop every token covered by a duplicated
   * span of ≥ minLen tokens and rebuild the text from the survivors with
   * single spaces (the tokenizer's whitespace-normalized view — a doc with
   * no spans comes back normalized, not byte-identical). The removal is a
   * higher-order `filter` with an index lambda against the doc's collected
   * span list — codegen'd, row-local after one id-keyed join; spans per
   * doc are few (merged maximal islands), so the collected list stays tiny
   * even for pathological boilerplate docs.
   * Returns (idCol, clean_text, removed_tokens); a fully-duplicated doc
   * yields clean_text = "" (the paper's "remove, don't keep one copy"
   * choice — pair with exact dedup first if one canonical copy must
   * survive).
   */
  def stripDuplicatedSpans(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                           minLen: Int = 10): DataFrame = {
    val spans = duplicatedSpans(docs, textCol, idCol, minLen)
      .groupBy(idCol).agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    // null text coalesces to "" (one row per doc survives, clean and empty
    // — same contract as the other text operators and the DuckDB oracle)
    val txt = coalesce(col(textCol), lit(""))
    val toks = when(length(trim(txt)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(txt), "\\s+"))
    docs.select(col(idCol), toks.as("toks"))
      .join(spans, Seq(idCol), "left")
      .withColumn("kept", filter(col("toks"), (_, i) =>
        !coalesce(exists(col("spans"), sp =>
          i >= sp.getField("start_tok") && i <= sp.getField("end_tok")), lit(false))))
      .select(col(idCol),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("removed_tokens"))
  }

  // ---- cross-document boilerplate lines -------------------------------------------

  /**
   * Boilerplate line removal (the RefinedWeb/CCNet-style cleanup): a line
   * that occurs in ≥ `minDf` DISTINCT documents is template chrome (nav
   * bars, cookie banners, share buttons, copyright footers), not content —
   * strip it from every document, preserving the order of what remains.
   * Only lines with ≥ `minLineChars` non-blank chars are candidates, so
   * blank separators and trivial punctuation survive.
   *
   * Plan shape at 100 TB: explode to (doc, pos, line) once; document
   * frequency is one line-keyed map-side-combined aggregation (count of
   * per-doc-distinct line rows); the boilerplate verdict joins back on the
   * SAME line key (the exchange is reusable — no third shuffle of the
   * lines); reassembly is one doc-keyed aggregation with sort_array fixing
   * collect_list's order. No driver materialization of the boilerplate
   * set, so it may be arbitrarily large.
   *
   * Returns (id, clean_text, n_lines, n_stripped) — integral counts plus
   * the byte-exact reassembled text.
   */
  def boilerplateStrip(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                       minDf: Int = 3, minLineChars: Int = 5): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(coalesce(col(textCol), lit("")), "\n")))
      .withColumnRenamed("col", "line")
      .persist(CacheLvl)
    val df = lines
      .filter(length(trim(col("line"))) >= minLineChars)
      .dropDuplicates(idCol, "line")
      .groupBy("line").agg(count(lit(1)).as("line_df"))
    val verdict = lines
      .join(df.filter(col("line_df") >= minDf).select(col("line"), lit(true).as("_bp")),
        Seq("line"), "left")
    verdict
      .groupBy(idCol)
      .agg(
        sort_array(collect_list(struct(col("pos"),
          when(col("_bp"), lit(null).cast("string")).otherwise(col("line")).as("line")))).as("ls"),
        count(lit(1)).cast("long").as("n_lines"),
        count(col("_bp")).cast("long").as("n_stripped"))
      .select(col(idCol),
        array_join(transform(filter(col("ls"), x => x.getField("line").isNotNull),
          x => x.getField("line")), "\n").as("clean_text"),
        col("n_lines"), col("n_stripped"))
  }

  // ---- simhash --------------------------------------------------------------------

  private val simhashUdf = udf((s: String) => TextKit.simhash64(Option(s).getOrElse("")))
  private val chunksUdf = udf((h: Long) =>
    TextKit.simhashChunks(h).zipWithIndex.map { case (c, i) => (i, c) })

  def simhashSignatures(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist (≤3 for the
    * 4-chunk pigeonhole to be exhaustive). */
  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxDist <= 3, "4-chunk banding is only exhaustive for Hamming ≤ 3")
    val sigs = simhashSignatures(docs, textCol, idCol).persist(CacheLvl)
    val buckets = sigs.select(col("id"), explode(chunksUdf(col("simhash"))).as("c"))
      .select(col("id"), col("c._1").as("chunk_idx"), col("c._2").as("chunk"))
    val grouped = buckets.groupBy("chunk_idx", "chunk")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("simhash_bucket_cap",
        sum(greatest(size(col("ids")) - maxBucket, lit(0))).as("capped_ids_dropped"),
        max(size(col("ids"))).as("max_bucket_size"))
      .withColumn("ids", slice(col("ids"), 1, maxBucket))
    val out = grouped.select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("h_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("h_b")), "id_b")
      // native codegen'd Hamming (bit_count of xor) — the pair-verify path
      // carries no UDF (round-4 VERDICT: built-in exists, use it)
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
    materialized(out) { sigs.unpersist() }
  }

  // ---- embedding near-dup ------------------------------------------------------

  /**
   * EXACT near-duplicate vectors: all pairs with cosine ≥ threshold,
   * computed declaratively (zip_with + aggregate dot product, codegen'd —
   * no UDF). The non-equi self-join is a nested-loop scan: this is the
   * verification baseline / DuckDB-oracle twin; `embeddingNearDup` (LSH
   * buckets) is the 100 TB path whose recall is measured against this.
   * Zero-norm vectors get cosine 0 (never near anything).
   */
  def embeddingNearDupExact(emb: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
                            threshold: Double = 0.95): DataFrame = {
    val norm = (c: Column) =>
      sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    // the nested-loop verify streams side `a`: fan a narrow scan out so
    // the O(n²·dim) cosine work is not serialized into one task
    val a = Parallelism.fanOutScan(emb)
      .select(col(idCol).as("id_a"), col(vecCol).as("v_a")).withColumn("n_a", norm(col("v_a")))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b")).withColumn("n_b", norm(col("v_b")))
    val dot = aggregate(zip_with(col("v_a"), col("v_b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(col("n_a") * col("n_b") === 0.0, lit(0.0)).otherwise(dot / (col("n_a") * col("n_b"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Near-duplicate vectors: cosine ≥ threshold, found via random-hyperplane
    * LSH buckets (signBits-bit signatures) then exact verification — the
    * scale path; recall vs `embeddingNearDupExact` is asserted in tests. */
  def embeddingNearDup(emb: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
                       threshold: Double = 0.95, signBits: Int = 8, maxBucket: Int = 2000): DataFrame = {
    val sigUdf = udf { (v: Seq[Float]) => Similarity.hyperplaneSignature(v.toArray, signBits) }
    val sigs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", sigUdf(col("v")))
      .persist(CacheLvl)
    val grouped = sigs.groupBy("bucket")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("embedding_bucket_cap",
        sum(greatest(size(col("ids")) - maxBucket, lit(0))).as("capped_ids_dropped"),
        max(size(col("ids"))).as("max_bucket_size"))
      .withColumn("ids", slice(col("ids"), 1, maxBucket))
    val cosUdf = udf { (a: Seq[Float], b: Seq[Float]) => Similarity.cosine(a.toArray, b.toArray) }
    val out = grouped.select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
      .join(sigs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("cosine", cosUdf(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    materialized(out) { sigs.unpersist() }
  }
}
