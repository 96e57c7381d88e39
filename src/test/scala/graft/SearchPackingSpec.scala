package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Packing, Search}

/** Distributed prefix-scan packing/sampling and inverted-index retrieval:
  * brute-force equivalence on crafted corpora, invariants on the sf0.001
  * documents table, and partitioning-independence of every output. */
class SearchPackingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()

  import spark.implicits._

  // ---- Packing.withCumulativeWeight -----------------------------------

  test("prefix scan matches a driver-side cumulative sum on shuffled input") {
    val n = 10000
    val rows = (0 until n).map(i => (i.toLong, ((i * 2654435761L) % 37 + 1))).toSeq
    // scatter the rows across partitions in arbitrary order
    val df = spark.createDataFrame(scala.util.Random.shuffle(rows)).toDF("id", "w")
      .repartition(13)
    val got = Packing.withCumulativeWeight(df, "id", "w")
      .select("id", "cum_w").as[(Long, Long)].collect().toMap
    var acc = 0L
    rows.sortBy(_._1).foreach { case (id, w) =>
      acc += w
      assert(got(id) == acc, s"id=$id")
    }
    assert(got.size == n)
  }

  test("prefix scan drops null ids and is partitioning-independent") {
    val df = Seq((Some(1L), 5L), (None, 7L), (Some(2L), 3L), (Some(3L), 2L))
      .toDF("id", "w")
    val a = Packing.withCumulativeWeight(df.repartition(1), "id", "w")
      .select("id", "cum_w").as[(Long, Long)].collect().sorted.toSeq
    val b = Packing.withCumulativeWeight(df.repartition(7), "id", "w")
      .select("id", "cum_w").as[(Long, Long)].collect().sorted.toSeq
    assert(a == Seq((1L, 5L), (2L, 8L), (3L, 10L)))
    assert(b == a)
  }

  // ---- Packing.tokenShards --------------------------------------------

  test("tokenShards: contiguous intervals, straddles, and exact shard fill") {
    val cap = 64L
    val out = Packing.tokenShards(docs, capacity = cap).orderBy("doc_id").collect()
    var expectedOff = 0L
    out.foreach { r =>
      val (nt, off, sf, sl) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("start_off"),
        r.getAs[Long]("shard_first"), r.getAs[Long]("shard_last"))
      assert(off == expectedOff) // contiguous, no gaps or overlaps
      expectedOff += nt
      assert(sf == off / cap)
      if (nt > 0) assert(sl == (off + nt - 1) / cap) else assert(sl == sf)
    }
    val total = expectedOff
    // every shard except the last holds exactly `cap` tokens
    val perShard = out.flatMap { r =>
      val (nt, off) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("start_off"))
      (off until off + nt).map(t => t / cap)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val lastShard = (total - 1) / cap
    perShard.foreach { case (s, cnt) =>
      if (s < lastShard) assert(cnt == cap, s"shard $s") else assert(cnt == total - lastShard * cap)
    }
    // at least one doc straddles a boundary at this capacity
    assert(out.exists(r => r.getAs[Long]("shard_last") > r.getAs[Long]("shard_first")))
  }

  test("shardSlices: exact per-shard fill, per-doc coverage, contiguity") {
    val cap = 64L
    val sl = Packing.shardSlices(docs, cap).collect()
    val perShard = sl.groupBy(_.getAs[Long]("shard")).view
      .mapValues(_.map(_.getAs[Long]("slice_len")).sum).toMap
    val lastShard = perShard.keys.max
    perShard.foreach { case (s, fill) =>
      if (s < lastShard) assert(fill == cap, s"shard $s") else assert(fill > 0 && fill <= cap)
    }
    assert(perShard.keys.toSeq.sorted == (0L to lastShard)) // no shard gaps
    // per doc: slices cover exactly [0, n_tokens), contiguous ascending
    sl.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("shard"))
      val nt = ordered.head.getAs[Long]("n_tokens")
      assert(ordered.head.getAs[Long]("slice_start") == 0)
      val end = ordered.foldLeft(0L) { (pos, r) =>
        assert(r.getAs[Long]("slice_start") == pos); pos + r.getAs[Long]("slice_len")
      }
      assert(end == nt)
    }
  }

  test("tokenChunks: overlap, tails, short docs, text reconstruction") {
    val corpus = Seq(
      (0L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (1L, "a b c"),                                  // shorter than one chunk
      (2L, ""), (3L, "   ")                           // no chunks
    ).toDF("doc_id", "text")
    val out = Packing.tokenChunks(corpus, chunkTokens = 8, stride = 4)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 0L, 8L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (0L, 1L, 4L, 6L, (5 to 10).map(i => s"w$i").mkString(" ")),
      (0L, 2L, 8L, 2L, "w9 w10"),
      (1L, 0L, 0L, 3L, "a b c")))
    // every token position is covered by at least one chunk; stride
    // overlap means interior positions appear in ≥ 2 chunks
    val cov = out.filter(_._1 == 0L).flatMap(c => c._3 until (c._3 + c._4))
    assert(cov.toSet == (0L until 10L).toSet)
    assert(cov.groupBy(identity).count(_._2.size >= 2) >= 6)
    // real-table sanity: chunk texts re-join to the doc's token stream
    val doc = docs.orderBy("doc_id").select("doc_id", "text").as[(Long, String)].head()
    val chunks = Packing.tokenChunks(docs.filter(col("doc_id") === doc._1), 32, 16)
      .orderBy("chunk_id").as[(Long, Long, Long, Long, String)].collect()
    val toks = doc._2.trim.split("\\s+")
    chunks.foreach { c =>
      assert(c._5 == toks.slice(c._3.toInt, (c._3 + c._4).toInt).mkString(" "))
    }
  }

  // ---- Packing.systematicWeightedSample -------------------------------

  test("weighted sample: exactly totalW/step docs, brute-force membership") {
    val step = 100L
    val base = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("w"))
    val totalW = base.agg(sum("w")).as[Long].head()
    val got = Packing.systematicWeightedSample(base, step, "w")
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == (totalW / step).toInt)
    // brute force: doc selected iff its cum interval contains a multiple
    var acc = 0L
    val want = base.orderBy("doc_id").as[(Long, Long)].collect().flatMap { case (id, w) =>
      val before = acc; acc += w
      if (acc / step > before / step) Some(id) else None
    }.toSet
    assert(got == want)
    // weight-proportional, not doc-uniform: the sampled mean weight sits at
    // or above ~the corpus mean (E[w²]/E[w] ≥ E[w]; slack for one draw)
    val meanAll = totalW.toDouble / base.count()
    val meanSel = base.filter(col("doc_id").isin(got.toSeq: _*))
      .agg(avg("w")).as[Double].head()
    assert(meanSel >= meanAll * 0.9)
  }

  // ---- Search ----------------------------------------------------------

  private lazy val tiny = Seq(
    (0L, "apple banana apple"),
    (1L, "banana cherry"),
    (2L, "apple apple apple durian"),
    (3L, ""),
    (4L, "   "),
    (5L, "cherry durian cherry banana")
  ).toDF("doc_id", "text").cache()

  test("postings and term stats match brute force") {
    val p = Search.postings(tiny).as[(String, Long, Long)].collect().toSet
    assert(p == Set(
      ("apple", 0L, 2L), ("banana", 0L, 1L),
      ("banana", 1L, 1L), ("cherry", 1L, 1L),
      ("apple", 2L, 3L), ("durian", 2L, 1L),
      ("cherry", 5L, 2L), ("durian", 5L, 1L), ("banana", 5L, 1L)))
    val st = Search.termStats(tiny).as[(String, Long, Long)].collect().toSet
    assert(st == Set(("apple", 2L, 5L), ("banana", 3L, 3L),
      ("cherry", 2L, 3L), ("durian", 2L, 2L)))
  }

  test("tfidf top-k: fixed-point scores and deterministic tie-break") {
    // n_docs = 4 indexed docs; idf_fp(apple) = 4e6 div 2 = 2e6,
    // idf_fp(durian) = 2e6
    val out = Search.tfidfTopK(tiny, Seq("apple", "durian"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (2L, 2L, 3L * 2000000L + 1L * 2000000L), // 8e6
      (0L, 1L, 2L * 2000000L),                 // 4e6
      (5L, 1L, 1L * 2000000L)))                // 2e6
    // duplicate query terms collapse; k cuts after ordering
    val top1 = Search.tfidfTopK(tiny, Seq("apple", "apple", "durian"), k = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(top1 == out.take(1))
  }

  test("tfidf on the documents table matches a brute-force recompute") {
    val q = Seq("spark", "window", "agg", "vector")
    val all = docs.select("doc_id", "text").as[(Long, String)].collect()
    val indexed = all.filter(_._2.trim.nonEmpty)
    val tf = indexed.map { case (id, t) =>
      id -> t.trim.split("\\s+").groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    val df = q.map(t => t -> tf.count(_._2.contains(t)).toLong).toMap
    val idf = df.collect { case (t, d) if d > 0 => t -> indexed.length.toLong * 1000000L / d }
    val want = tf.flatMap { case (id, m) =>
      val matched = q.distinct.filter(m.contains)
      if (matched.isEmpty) None
      else Some((id, matched.size.toLong, matched.map(t => m(t) * idf(t)).sum))
    }.sortBy { case (id, _, s) => (-s, id) }.take(20).toSeq
    val got = Search.tfidfTopK(docs, q, k = 20).as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("bm25 top-k matches a brute-force recompute; saturation and length norm hold") {
    val q = Seq("spark", "window", "agg", "vector")
    val all = docs.select("doc_id", "text").as[(Long, String)].collect()
    val indexed = all.filter(_._2.trim.nonEmpty)
      .map { case (id, t) => id -> t.trim.split("\\s+") }
    val n = indexed.length.toLong
    val tTok = indexed.map(_._2.length.toLong).sum
    val tf = indexed.map { case (id, w) =>
      (id, w.length.toLong, w.groupBy(identity).view.mapValues(_.length.toLong).toMap)
    }
    val df = q.map(t => t -> tf.count(_._3.contains(t)).toLong).toMap
    val idf = df.collect { case (t, d) if d > 0 => t -> n * 10000L / d }
    val want = tf.flatMap { case (id, dl, m) =>
      val matched = q.distinct.filter(m.contains)
      if (matched.isEmpty) None
      else Some((id, dl, matched.size.toLong, matched.map { t =>
        idf(t) * 22L * m(t) / (10L * m(t) + 3L + 9L * dl * n / tTok)
      }.sum))
    }.sortBy { case (id, _, _, s) => (-s, id) }.take(20).toSeq
    val got = Search.bm25TopK(docs, q, k = 20).as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    // TF saturation: same idf, doubling tf gains less than double
    val c = (t: Long, dl: Long) => 10000L * 22L * t / (10L * t + 3L + 9L * dl * n / tTok)
    assert(c(8, 40) < 2 * c(4, 40) && c(8, 40) > c(4, 40))
    // length normalization: same tf, longer doc scores no higher
    assert(c(4, 200) <= c(4, 40))
  }

  test("persisted index: save + incremental add equals from-scratch; pruned serving") {
    val idxDir = TestSpark.tempDir("graft-idx-test-")
    Search.indexAppend(docs.filter(col("doc_id") % 2 === 0), idxDir)
    Search.indexAppend(docs.filter(col("doc_id") % 2 === 1), idxDir)
    val fromIdx = Search.indexStats(spark, idxDir)
      .orderBy("term").as[(String, Long, Long)].collect().toSeq
    val scratch = Search.termStats(docs)
      .orderBy("term").as[(String, Long, Long)].collect().toSeq
    assert(fromIdx == scratch)
    // serving from the index ≡ the from-scratch retrieval
    val q = Seq("spark", "window", "agg")
    val served = Search.indexSearch(spark, idxDir, q, k = 15)
      .as[(Long, Long, Long)].collect().toSeq
    val direct = Search.tfidfTopK(docs, q, k = 15)
      .as[(Long, Long, Long)].collect().toSeq
    assert(served == direct)
    // plan guards: the term filter reaches the postings parquet scan, and
    // top-k is a TakeOrdered (never a full sort)
    val plan = Search.indexSearch(spark, idxDir, q, k = 15)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // compaction: many segments -> one, stats and serving unchanged
    Search.indexCompact(spark, idxDir)
    val segs = new java.io.File(idxDir).listFiles().map(_.getName).filter(_.startsWith("seg-"))
    assert(segs.toSeq == Seq("seg-00000"))
    assert(Search.indexStats(spark, idxDir)
      .orderBy("term").as[(String, Long, Long)].collect().toSeq == scratch)
    assert(Search.indexSearch(spark, idxDir, q, k = 15)
      .as[(Long, Long, Long)].collect().toSeq == served)
    // a post-compaction add opens a new generation that still reads whole
    Search.indexAppend(Seq((100000L, "spark spark unique")).toDF("doc_id", "text"), idxDir)
    val cf = Search.indexStats(spark, idxDir).filter(col("term") === "spark")
      .as[(String, Long, Long)].head()
    val base = scratch.find(_._1 == "spark").get
    assert(cf == (("spark", base._2 + 1, base._3 + 2)))
  }

  test("persisted index reads list their segments: no WARN logged, results unchanged") {
    val idxDir = TestSpark.tempDir("graft-idx-warn-")
    Search.indexAppend(docs.filter(col("doc_id") % 2 === 0), idxDir)
    Search.indexAppend(docs.filter(col("doc_id") % 2 === 1), idxDir)
    val q = Seq("spark", "window", "agg")
    val scratch = Search.termStats(docs)
      .orderBy("term").as[(String, Long, Long)].collect().toSeq
    val direct = Search.tfidfTopK(docs, q, k = 15).as[(Long, Long, Long)].collect().toSeq
    // the reads resolve their paths on this thread
    val ((stats, served), warns) = TestSpark.logsOnThisThread(org.apache.logging.log4j.Level.WARN) {
      (Search.indexStats(spark, idxDir).orderBy("term").as[(String, Long, Long)].collect().toSeq,
        Search.indexSearch(spark, idxDir, q, k = 15).as[(Long, Long, Long)].collect().toSeq)
    }
    assert(warns.isEmpty, warns.toString)
    assert(stats == scratch)
    assert(served == direct)
  }

  test("phrase search: exact consecutive matches, overlaps, repeated words") {
    val corpus = Seq(
      (0L, "big data big data big"),    // "big data" x2
      (1L, "data big data"),            // x1
      (2L, "big big big"),              // "big big" x2 (overlapping)
      (3L, "data data"),                // no "big data"
      (4L, "")
    ).toDF("doc_id", "text")
    val bd = Search.phraseTopK(corpus, Seq("big", "data"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(bd == Seq((0L, 2L), (1L, 1L)))
    // a repeated-word phrase counts overlapping occurrences positionally
    val bb = Search.phraseTopK(corpus, Seq("big", "big"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(bb == Seq((2L, 2L)))
    // three-word phrase
    val bdb = Search.phraseTopK(corpus, Seq("big", "data", "big"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(bdb == Seq((0L, 2L)))
    // brute-force equality on the documents table
    val all = docs.select("doc_id", "text").as[(Long, String)].collect()
    val want = all.flatMap { case (id, t) =>
      val w = t.trim.split("\\s+")
      val n = w.sliding(2).count(s => s.length == 2 && s(0) == "table" && s(1) == "part")
      if (n > 0) Some((id, n.toLong)) else None
    }.sortBy { case (id, n) => (-n, id) }.take(10).toSeq
    val got = Search.phraseTopK(docs, Seq("table", "part"), k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("retrieval output is independent of input partitioning") {
    val a = Search.tfidfTopK(docs.repartition(1), Seq("spark", "table"), k = 15)
      .as[(Long, Long, Long)].collect().toSeq
    val b = Search.tfidfTopK(docs.repartition(11), Seq("spark", "table"), k = 15)
      .as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
  }
}
