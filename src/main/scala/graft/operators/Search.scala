package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Inverted-index construction and term-at-a-time ranked retrieval over a
 * crawled corpus — what a crawl's output is FOR: the downstream index a
 * search/retrieval pipeline builds from the `documents` table.
 *
 * Tokenization is the engine-wide whitespace convention (the
 * `text_tokens` gate). The index is the standard postings relation
 * (term, id, tf); its statistics (df, cf) and the retrieval scores are
 * pure BIGINT arithmetic, so every gate column is integral and
 * hash-stable across engines — the fixed-point idf
 * `idf_fp = (n_docs · Scale) div df` replaces the usual log-idf: it is
 * exactly reproducible in any SQL engine, preserves the rank ordering
 * property that matters (rarer term ⇒ larger weight, strictly monotone
 * in 1/df), and at n_docs = 10^10 with Scale = 10^6 stays < 2^63.
 *
 * Scale shape: postings are a row-local explode + ONE (id, term)-keyed
 * aggregation; term stats reuse that shuffle's output with a map-side
 * partial term aggregation. Retrieval filters the explode to the query's
 * terms BEFORE any shuffle (the selective predicate sits on the scan
 * side), aggregates only matching postings by doc, and takes the top k
 * via orderBy+limit — Spark plans a TakeOrdered, never a full sort. The
 * per-term idf table is ≤ |query| rows and broadcast. No driver-side
 * collection anywhere; the corpus-size scalar rides a broadcast 1-row
 * cross join (the corpusStats pattern).
 *
 * No reference counterpart (the reference stops at crawl results) —
 * part of the LLM/retrieval pipeline operator set.
 */
object Search {

  /** Fixed-point idf scale: rank-safe and overflow-safe (see above). */
  val Scale = 1000000L

  private def tokens(docs: DataFrame, textCol: String, idCol: String) =
    docs.filter(length(trim(coalesce(col(textCol), lit("")))) > 0)
      .select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      // SQL trim strips only ' ': text that STARTS with \n or \t still
      // splits to a leading "" element — an empty string is not a term
      // (found live on crawl-extracted HTML text; the oracles carry the
      // matching term <> '' guard)
      .filter(col("term") =!= "")

  /** The postings relation (term, id, tf) — one (id, term)-keyed shuffle
    * with map-side partial counts at any corpus size. */
  def postings(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    tokens(docs, textCol, idCol)
      .groupBy("term", "id").agg(count(lit(1)).as("tf"))

  /** Per-term index statistics (term, df, cf): document frequency and
    * corpus frequency. df = count of postings rows (unique per (term,
    * id) by construction); cf = Σ tf. */
  def termStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    postings(docs, textCol, idCol)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /**
   * Term-at-a-time ranked retrieval: top-`k` docs for `query` (a bag of
   * terms; duplicates ignored) under the fixed-point TF-IDF score
   * `score_fp = Σ_t tf(t, d) · ((n_docs · Scale) div df(t))` with the
   * TOTAL order (score_fp desc, id asc) — the top-k cut is
   * deterministic. n_docs counts indexed (non-empty) docs. Returns
   * (id, n_terms_matched, score_fp); only docs matching ≥ 1 query term
   * appear.
   */
  // ---- persisted index: LSM-flavored postings segments -----------------

  /**
   * Append `docs` to the persisted index at `dir` as a NEW segment
   * (`seg-00000`, `seg-00001`, …) — the first call creates the index.
   * df/cf/N/T are all additive across disjoint doc sets, so an add never
   * rewrites existing segments: add cost ∝ increment, the same LSM
   * contract as the minhash segment index. Each segment holds
   * `postings/` (term, id, tf) repartitioned by term and sorted within
   * partitions by term — parquet row-group min/max stats then prune
   * non-query terms at scan time — plus `docs/` (id, dl) for corpus
   * scalars and BM25 length normalization. Caller contract: doc ids
   * across segments are disjoint (re-adding a doc double-counts it, as
   * in any postings-append index; run dedup upstream).
   */
  def indexAppend(docs: DataFrame, dir: String,
                  textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val next = Option(d.listFiles()).map(_.count(_.getName.startsWith("seg-"))).getOrElse(0)
    val seg = f"$dir/seg-$next%05d"
    postings(docs, textCol, idCol)
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("errorifexists").parquet(s"$seg/postings")
    docs.select(col(idCol).as("id"),
      when(length(trim(coalesce(col(textCol), lit("")))) === 0, lit(0L))
        .otherwise(size(split(trim(col(textCol)), "\\s+")).cast("long")).as("dl"))
      .filter(col("dl") > 0)
      .write.mode("errorifexists").parquet(s"$seg/docs")
  }

  /**
   * LSM compaction for the persisted index: merge all current segments
   * into one (summing tf for doc-term pairs that would appear in
   * several segments, though the disjoint-ids contract makes that
   * vacuous), written as a NEW segment; old segment dirs are swapped
   * out only after the merged one is fully written (crash before the
   * swap leaves the old segments intact and readable — the TableIO
   * commit ordering). Many small adds → one read-optimized segment;
   * query results are identical before and after by construction
   * (df/cf/score are sums over the same postings multiset).
   */
  def indexCompact(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val segs = segmentDirs(dir)
    if (segs.length <= 1) return
    val tmpPost = s"$dir/compact-tmp/postings"
    val tmpDocs = s"$dir/compact-tmp/docs"
    spark.read.parquet(segs.map(s => s"$s/postings"): _*)
      .groupBy("term", "id").agg(sum("tf").as("tf"))
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(tmpPost)
    spark.read.parquet(segs.map(s => s"$s/docs"): _*)
      .write.mode("overwrite").parquet(tmpDocs)
    // swap: the merged segment becomes seg-00000 of a fresh generation
    segs.foreach(s => graft.sources.TableIO.deleteRecursively(java.nio.file.Paths.get(s)))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/compact-tmp"),
      java.nio.file.Paths.get(s"$dir/seg-00000"))
  }

  /** The index's segment dirs, listed on the driver in name order. Reads
    * name each one: a `seg-*` glob path makes Spark log a WARN stack trace
    * on every read. */
  private def segmentDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg-")).sortBy(_.getName)
      .map(_.getPath).toSeq

  /** Term statistics of the PERSISTED index — identical shape to
    * [[termStats]]; one aggregation over all segments' postings. */
  def indexStats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(segmentDirs(dir).map(s => s"$s/postings"): _*)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /**
   * [[tfidfTopK]] served from the persisted index — NO corpus scan: the
   * term filter pushes down to the postings parquet (row-group-pruned by
   * the per-segment term sort), and the corpus size comes from the tiny
   * `docs/` sidecars. Scores are identical to the from-scratch operator
   * by construction (same integral arithmetic over the same postings).
   */
  def indexSearch(spark: org.apache.spark.sql.SparkSession, dir: String,
                  query: Seq[String], k: Int): DataFrame = {
    require(query.nonEmpty && k >= 1)
    val qt = query.distinct
    val segs = segmentDirs(dir)
    val matches = spark.read.parquet(segs.map(s => s"$s/postings"): _*)
      .filter(col("term").isin(qt: _*))
      .persist() // df branch + scoring join share one (pruned) read
    val nDocs = spark.read.parquet(segs.map(s => s"$s/docs"): _*)
      .agg(count(lit(1)).as("n_docs"))
    val idf = matches.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_fp", expr(s"(n_docs * ${Scale}L) div df"))
      .select("term", "idf_fp")
    matches.join(broadcast(idf), "term")
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("tf") * col("idf_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
  }

  /**
   * Exact phrase search: top-`k` docs by occurrence count of the exact
   * consecutive-token `phrase`. ONE posexplode pass filtered to the
   * phrase's terms (only those positions leave the scan stage), then a
   * per-doc positional self-join per adjacent word pair — position
   * arithmetic (p_{i+1} = p_i + 1) on (id, pos)-keyed frames whose size
   * is the phrase terms' postings, not the corpus. All-integer output
   * (id, phrase_tf); total order (phrase_tf desc, id). Duplicate words
   * in the phrase are handled naturally (positions are distinct even
   * when terms repeat).
   */
  def phraseTopK(docs: DataFrame, phrase: Seq[String], k: Int,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(phrase.size >= 2, "phrase needs at least two words")
    require(k >= 1)
    val toks = when(length(trim(coalesce(col(textCol), lit("")))) === 0,
      array().cast("array<string>")).otherwise(split(trim(col(textCol)), "\\s+"))
    val positions = docs
      .select(col(idCol).as("id"), posexplode(toks).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .persist() // each adjacent-pair join reads this once
    val first = positions.filter(col("term") === phrase.head)
      .select(col("id"), col("pos").as("p0"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (w, i)) =>
      acc.join(
        positions.filter(col("term") === w)
          .select(col("id"), (col("pos") - i).as("p0")),
        Seq("id", "p0"))
    }
    matched.groupBy("id").agg(count(lit(1)).as("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("id"))
      .limit(k)
  }

  /** BM25 idf scale — smaller than [[Scale]] so the full per-term
    * numerator idf_fp·22·tf stays in BIGINT: with Scale25 = 10^4 the
    * envelope is tf·n_docs ≤ 4·10^13 (tf ≤ 4000 at 10^10 docs; a
    * production engine past that envelope moves the score to
    * DECIMAL(38,0), same arithmetic). */
  val Scale25 = 10000L

  /**
   * BM25-weighted ranked retrieval (Robertson–Spärck Jones TF saturation
   * with k1 = 1.2, b = 0.75), entirely in exact BIGINT arithmetic so the
   * result is reproducible in any engine. Per matching (term, doc):
   *
   *   contribution = idf_fp · (k1+1)·tf / (tf + k1·(1−b) + k1·b·dl/avgdl)
   *
   * with dl = doc token count and avgdl = T/N (total tokens / indexed
   * docs). Multiplying through by 10 and substituting avgdl clears every
   * fraction to integers:
   *
   *   denom_fp = 10·tf + 3 + (9·dl·N) div T
   *   contribution_fp = (idf_fp · 22 · tf) div denom_fp
   *
   * idf_fp = (N · Scale25) div df — the engine's fixed-point
   * rank-monotone idf (BM25's log-idf is transcendental and therefore
   * not bit-reproducible across engines; monotonicity in 1/df is what
   * the ranking needs). The two floor divisions are part of the scoring
   * DEFINITION, applied identically in the DuckDB oracle. Total order
   * (score_fp desc, id asc). Returns (id, dl, n_terms_matched,
   * score_fp).
   */
  def bm25TopK(docs: DataFrame, query: Seq[String], k: Int,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    require(k >= 1, "k must be >= 1")
    val qt = query.distinct
    // dl rides the explode (computed once per row from the token array),
    // so the per-doc length never needs a corpus-wide join back
    val toks = when(length(trim(coalesce(col(textCol), lit("")))) === 0,
      array().cast("array<string>")).otherwise(split(trim(col(textCol)), "\\s+"))
    val matches = docs
      .select(col(idCol).as("id"), toks.as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col("id"), size(col("_t")).cast("long").as("dl"),
        explode(col("_t")).as("term"))
      .filter(col("term") =!= "" && col("term").isin(qt: _*))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .persist() // one corpus scan for the df branch AND the scoring join
    // (n_docs, total_tokens) in ONE column-pruned pass, broadcast as a
    // 1-row frame (the corpusStats pattern — no driver action)
    val totals = docs
      .select(when(length(trim(coalesce(col(textCol), lit("")))) === 0, lit(0L))
        .otherwise(size(split(trim(col(textCol)), "\\s+")).cast("long")).as("dl0"))
      .filter(col("dl0") > 0)
      .agg(count(lit(1)).as("n_docs"), sum("dl0").as("t_tokens"))
    val idf = matches.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_fp", expr(s"(n_docs * ${Scale25}L) div df"))
      .select("term", "idf_fp", "n_docs", "t_tokens")
    matches.join(broadcast(idf), "term")
      .withColumn("contrib_fp",
        expr("(idf_fp * 22L * tf) div (10L * tf + 3L + (9L * dl * n_docs) div t_tokens)"))
      .groupBy("id")
      .agg(max("dl").as("dl"), count(lit(1)).as("n_terms_matched"),
        sum("contrib_fp").as("score_fp"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
  }

  def tfidfTopK(docs: DataFrame, query: Seq[String], k: Int,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    require(k >= 1, "k must be >= 1")
    val qt = query.distinct
    // filter BEFORE the (id, term) shuffle: only the query terms' tokens
    // ever leave the scan stage. The aggregated matches feed BOTH the df
    // branch and the scoring join — persist so the corpus pass runs ONCE
    // (both plan branches share the same InMemoryRelation; unpersisted,
    // the plan re-scans the whole corpus for the second branch —
    // plan-audited, PLANS.md). The cached frame holds only the query
    // terms' postings and is LRU-managed; eviction costs a recompute,
    // never correctness.
    val matches = tokens(docs, textCol, idCol)
      .filter(col("term").isin(qt: _*))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"))
      .persist()
    val nDocs = docs
      .filter(length(trim(coalesce(col(textCol), lit("")))) > 0)
      .agg(count(lit(1)).as("n_docs"))
    val idf = matches.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_fp", expr(s"(n_docs * ${Scale}L) div df"))
      .select("term", "idf_fp")
    matches.join(broadcast(idf), "term")
      .groupBy("id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum(col("tf") * col("idf_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
  }
}
