package graft.operators

import graft.textkit.TextKit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Link-graph analytics over a crawled corpus — the graph-side quality
 * signals a web-scale training pipeline derives from its crawl (degree
 * stats, PageRank-style centrality): CC-style pipelines rank domains and
 * pages by link centrality before sampling training data.
 *
 * No reference counterpart (the reference crawls and extracts; it never
 * ranks the link graph) — this extends the LLM-pipeline operator set the
 * same way Sampling/Dedup/TextAnalysis do.
 *
 * Determinism discipline: PageRank here is FIXED-POINT — ranks are
 * BIGINT micro-units (`scale` = 1e6) and every step is integer
 * arithmetic (`div` = truncating integral division, non-negative
 * operands so floor ≡ trunc in every engine). Integer sums are exactly
 * associative/commutative, so the result is bit-identical at any
 * parallelism AND re-derivable in any SQL engine without float-ulp
 * fragility (the round-4 lesson: no float may cross the oracle gate).
 *
 * Scale design (100 TB): the edge table is shuffled ONCE (the
 * out-degree attach + repartition by src); each iteration shuffles only
 * (a) the node-sized rank table into the src-join and (b) the map-side
 * partially-aggregated contribution sums — the edge table itself never
 * moves again. Dangling mass is a 1-row aggregate per iteration
 * (treeAggregate-sized, collected driver-side like the BPE argmax:
 * bounded at `iters` scalars total).
 */
object LinkGraph {

  /** Rank unit: 1.0 ≡ 10^6 micro-units. */
  val Scale = 1000000L

  /** Damping factor 0.85 as the exact rational 85/100. */
  val DampNum = 85L
  val DampDen = 100L

  /** Deterministic synthetic out-links for gate/bench inputs: node `i`
    * links to `(mix64(i·outDeg + k) >>> 1) mod n` for k = 1..outDeg,
    * self-loops dropped, parallel edges collapsed. Row-local hash (the
    * splitmix UDF — ANSI mode forbids the intentional wraparound as SQL
    * operators, same justification as [[Sampling]]); the single shuffle
    * is the DISTINCT. The DuckDB oracle re-derives the identical edge
    * set via the HUGEINT mix64 CTE chain. */
  def syntheticEdges(docs: DataFrame, idCol: String = "doc_id", outDeg: Int = 4): DataFrame = {
    val dstUdf = udf((id: Long, k: Int, n: Long) =>
      (TextKit.mix64(id * outDeg + k) >>> 1) % n)
    // count(*) row count, NOT count(idCol): the oracle's `nn` counts all
    // rows, and the two must agree on the dst modulus even if a null-id
    // row sneaks in (its own edges null out and drop on both sides)
    val n = docs.agg(count(lit(1)).as("n"))
    docs.select(col(idCol).as("src"))
      .crossJoin(broadcast(n))
      .withColumn("k", explode(sequence(lit(1), lit(outDeg))))
      .withColumn("dst", dstUdf(col("src"), col("k"), col("n")))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst").distinct()
  }

  /** Contract a page-level edge list to a domain-level weighted graph —
    * the CC-style domain-ranking flow: node → domain by `id mod
    * nDomains` (the deterministic stand-in for url_domain on synthetic
    * ids; with real urls pass an edge list already keyed by
    * `url_domain`), parallel page edges collapse into a positive BIGINT
    * weight, intra-domain edges drop. ONE keyed aggregation (map-side
    * combined): at 100 TB the shuffle carries one (src,dst,partial)
    * per domain pair per partition, never the page edges. */
  def contractToDomains(edges: DataFrame, nDomains: Int): DataFrame = {
    require(nDomains > 0, "nDomains must be positive")
    edges.select((col("src") % nDomains).as("src"), (col("dst") % nDomains).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** Per-node out/in degree: union-tag + ONE keyed aggregation (no
    * join of two grouped frames), left-joined back to the node list so
    * isolated / sink / source nodes report explicit zeros. */
  def degrees(nodes: DataFrame, edges: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val tagged = edges.select(col("src").as("id"), lit(1L).as("o"), lit(0L).as("i"))
      .unionAll(edges.select(col("dst").as("id"), lit(0L).as("o"), lit(1L).as("i")))
    val deg = tagged.groupBy("id").agg(sum("o").as("out_deg"), sum("i").as("in_deg"))
    nodes.select(col(idCol).as("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /**
   * Fixed-point PageRank, `iters` synchronous rounds:
   *
   *   rank₀(v)   = Scale
   *   contrib(e) = (rankᵢ(src)·w(e)) div outW(src)    (per out-edge e)
   *   dangleᵢ    = Σ rankᵢ(v) over out-weight-0 v
   *   rankᵢ₊₁(v) = (DampDen−DampNum)·Scale div DampDen
   *              + DampNum·(Σ contrib over in-edges) div DampDen
   *              + DampNum·(dangleᵢ div n) div DampDen
   *
   * `weightCol` names a positive BIGINT edge-weight column (rank flows
   * proportionally to weight; outW(src) = Σ w over src's out-edges, and
   * rank·w must stay < 2^63 — holds whenever total mass · max-weight
   * does). Unweighted (the default) is EXACTLY the w ≡ 1 case:
   * (rank·1) div outDeg — same recurrence, same oracle.
   *
   * Total mass is ~n·Scale (truncation sheds < 1 unit per div — the
   * documented fixed-point price). The exact div/step ORDER above is the
   * cross-engine contract: the oracle must apply the same operations in
   * the same order, which integer arithmetic makes sufficient for
   * bit-equality.
   *
   * Per-iteration plan: edges stay put (repartitioned by src once,
   * persisted); ranks (node-sized) shuffle to the src join; contribution
   * sums partial-aggregate map-side before the dst shuffle. Lineage is
   * cut each round by persist + materialize-count, previous round
   * unpersisted (the iterative-loop discipline from MinhashIndex).
   */
  def pageRank(nodes: DataFrame, edges: DataFrame, idCol: String = "doc_id",
               iters: Int = 5, weightCol: Option[String] = None): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val nodeIds = nodes.select(col(idCol).as("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodeIds.count()
    require(n > 0, "pageRank needs at least one node")

    val w = weightCol.map(col).getOrElse(lit(1L))
    val outDeg = edges.groupBy(col("src").as("id")).agg(sum(w).as("out_w"))
    // edge table with its weight and the src out-weight attached: built
    // once, kept partitioned on src so the per-round rank join co-locates
    val edgesDeg = edges.join(outDeg, edges("src") === outDeg("id"))
      .select(col("src"), col("dst"), w.cast("long").as("w"), col("out_w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesDeg.count()
    // static dangling-node list (out-degree 0): rank lookups only. When
    // it is EMPTY (typical for generated link graphs) the per-iteration
    // dangling-sum job is skipped entirely — at small per-round work the
    // extra driver round-trip per iteration was the dominant serial
    // overhead in the scaling fit (t(c) = W/c + O). Derived from the
    // CACHED edge table (its src set ≡ outDeg's keys), not from the raw
    // edges input — the raw-edges branch re-ran the whole edge derivation
    // (e.g. the synthetic-edge UDF + distinct) a third time.
    val dangling = nodeIds.join(
        edgesDeg.select(col("src").as("id")), Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val danglingCount = dangling.count()

    val teleport = (DampDen - DampNum) * Scale / DampDen
    var ranks = nodeIds.select(col("id"), lit(Scale).as("rank_fp"))
    // Materialization policy (guide §1.2: remove unnecessary passes). A
    // graph WITH dangling mass needs a driver-visible scalar (the dangling
    // rank sum) every round, so each round must materialize. WITHOUT
    // dangling mass — the common case here — iterations chain LAZILY into
    // one plan executed as a single job, with a persist+count lineage cut
    // every `cutEvery` rounds to bound plan growth. Integer arithmetic is
    // exactly associative, so the result is bit-identical either way; the
    // lazy chain just drops iters−1 materialization jobs (measured: the
    // 5-round bench query ran 5 persist+count jobs of pure overhead).
    var cached: DataFrame = null
    if (danglingCount > 0L) {
      ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
      ranks.count()
      cached = ranks
    }
    val cutEvery = 8
    for (i <- 1 to iters) {
      val dangleSum =
        if (danglingCount == 0L) 0L
        else dangling.join(ranks, Seq("id"))
          .agg(coalesce(sum("rank_fp"), lit(0L)))
          .head().getLong(0)
      val dangleTerm = DampNum * (dangleSum / n) / DampDen
      val contribs = edgesDeg.join(ranks, edgesDeg("src") === ranks("id"))
        .select(col("dst"), expr("(rank_fp * w) div out_w").as("c"))
        .groupBy("dst").agg(sum("c").as("csum"))
      val next = nodeIds.join(contribs, nodeIds("id") === contribs("dst"), "left")
        .select(col("id"),
          (lit(teleport)
            + expr(s"($DampNum * coalesce(csum, 0)) div $DampDen")
            + lit(dangleTerm)).as("rank_fp"))
      if (danglingCount > 0L || i == iters || i % cutEvery == 0) {
        val mat = next.persist(StorageLevel.MEMORY_AND_DISK)
        mat.count()
        if (cached != null) cached.unpersist()
        cached = mat
        ranks = mat
      } else ranks = next
    }
    if (cached == null) { // iters == 0, no dangling mass: materialize per the contract
      ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
      ranks.count()
    }
    // the final ranks are materialized in their own cache; the scaffolding
    // caches can go (a post-eviction recompute would re-derive them from
    // the input frames — correct, just cold)
    nodeIds.unpersist()
    edgesDeg.unpersist()
    dangling.unpersist()
    ranks.select(col("id"), col("rank_fp"))
  }
}
