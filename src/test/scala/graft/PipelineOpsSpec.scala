package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.textkit.TextKit

/** Training-data pipeline operators over the sf0.001 documents/embeddings
  * tables plus crafted near-duplicate corpora. */
class PipelineOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  import spark.implicits._

  /** crafted corpus with known exact and near duplicates */
  private lazy val crafted = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
    (1L, "the quick brown fox jumps over the lazy dog and runs far away tonight"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog and runs far away today"),   // near dup of 0
    (3L, "a completely different document about spark catalyst optimizer rules"),
    (4L, "a completely different document about spark catalyst optimizer rules ok"), // near dup of 3
    (5L, "nothing like the others whatsoever just random words here banana")
  ).toDF("doc_id", "text").cache()

  test("exact dedup: duplicate groups and canonical selection") {
    val d = Dedup.exact(crafted).collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("group_size"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(d(0L) == (2L, true))
    assert(d(1L) == (2L, false))
    assert(d(2L) == (1L, true))
    val survivors = Dedup.exactSurvivors(crafted).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(survivors == Set(0L, 2L, 3L, 4L, 5L))
  }

  test("exact dedup on the real documents table: all texts distinct") {
    assert(Dedup.exactSurvivors(docs).count() == docs.count())
  }

  test("decontaminate flags corpus docs sharing k-grams with the benchmark") {
    // benchmark = docs 0 and 3; corpus = the rest. k=5 word-grams.
    val bench = crafted.filter(col("doc_id").isin(0L, 3L))
    val corpus = crafted.filter(!col("doc_id").isin(0L, 3L))
    val hits = Dedup.decontaminate(corpus, bench, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    // doc 1 is an exact dup of 0: all 10 of its distinct 5-grams hit.
    // doc 2 differs only in the last token: the single gram containing it misses.
    // doc 4 appends one token to doc 3 (9 tokens -> 5 benchmark grams): the
    // one gram containing "ok" misses, the other 5 hit.
    assert(hits == Map(1L -> 10L, 2L -> 9L, 4L -> 5L))
    // clean docs are absent, not zero-flagged
    assert(!hits.contains(5L))
    // short-doc fallback: a <k-token benchmark doc matches only its exact text
    val shortBench = Seq((100L, "tiny eval prompt")).toDF("doc_id", "text")
    val shortCorpus = Seq((200L, "tiny eval prompt"), (201L, "tiny eval prompts")).toDF("doc_id", "text")
    val shortHits = Dedup.decontaminate(shortCorpus, shortBench, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(shortHits == Set(200L))
  }

  test("minhash estimates approximate true jaccard") {
    val a = TextKit.shingleHashes("the quick brown fox jumps over the lazy dog and runs far away tonight", 3)
    val b = TextKit.shingleHashes("the quick brown fox jumps over the lazy dog and runs far away today", 3)
    val exact = TextKit.jaccard(a, b)
    val est = TextKit.minhashSimilarity(TextKit.minhash(a, 128), TextKit.minhash(b, 128))
    assert(exact > 0.6 && exact < 1.0)
    assert(math.abs(est - exact) < 0.25)
    // identical sets → identical signatures
    assert(TextKit.minhash(a, 64).sameElements(TextKit.minhash(a, 64)))
  }

  test("native minhash expression matches the TextKit kernel (and signs null as empty)") {
    val withNull = crafted.unionByName(Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val sigs = Dedup.minhashSignatures(withNull, numPerms = 64).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[scala.collection.Seq[Long]]("sig").toArray).toMap
    crafted.collect().foreach { r =>
      val expect = TextKit.minhash(TextKit.shingleHashes(r.getAs[String]("text"), 3), 64)
      assert(sigs(r.getAs[Long]("doc_id")).sameElements(expect))
    }
    assert(sigs(99L).sameElements(TextKit.minhash(TextKit.shingleHashes("", 3), 64)))
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val pairs = Dedup.minhashLshPairs(crafted, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    // verification step: exact n-gram jaccard on the candidates
    val verified = Dedup.ngramJaccardVerify(
      Dedup.minhashLshPairs(crafted, threshold = 0.5), crafted)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(verified((0L, 1L)) == 1.0)
    assert(verified((3L, 4L)) > 0.5)
  }

  test("exact n-gram Jaccard join matches the verify kernel and finds planted pairs") {
    val pairs = Dedup.ngramJaccardAllPairs(crafted, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(pairs((3L, 4L)) > 0.5)
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
    // same jaccard values as the candidate-verify kernel (hash-set based)
    val viaKernel = Dedup.ngramJaccardVerify(
      Dedup.minhashLshPairs(crafted, threshold = 0.5), crafted)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    viaKernel.foreach { case (p, j) => assert(math.abs(pairs(p) - j) < 1e-12) }
  }

  test("prefix-filtered exact join is lossless: identical pairs to the naive join") {
    // spans both dispatch regimes of ngramJaccard (crossover 0.7) and
    // exercises the length + positional filters at high and low t
    for ((df, t) <- Seq((crafted, 0.5), (crafted, 0.3), (crafted, 0.8), (docs, 0.3), (docs, 0.8))) {
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("inter"), r.getAs[Long]("uni"),
          math.round(r.getAs[Double]("jaccard") * 1e9))
      val naive = Dedup.ngramJaccardAllPairs(df, threshold = t).collect().map(key).toSet
      val pref = Dedup.ngramJaccardPrefixJoin(df, threshold = t).collect().map(key).toSet
      assert(pref == naive, s"prefix join diverged at t=$t")
      val adaptive = Dedup.ngramJaccard(df, threshold = t).collect().map(key).toSet
      assert(adaptive == naive, s"adaptive dispatch diverged at t=$t")
    }
    // degenerate corpus: the common gram falls out of every prefix — no
    // d² candidate blowup, but truly-similar pairs still survive
    import spark.implicits._
    val boiler = (0L until 50L).map(i =>
      (i, s"shared boilerplate header text unique body $i with words ${i * 7}")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPrefixJoin(boiler, threshold = 0.9).collect()
    assert(pairs.isEmpty) // no pair is actually >= 0.9
    // the dispatch probe (Σdf²/Σdf) separates the regimes: a clean corpus
    // sits near 1 (→ naive below the threshold crossover), a shared-header
    // corpus explodes (→ PPJoin path even at low thresholds)
    assert(Dedup.ngramSkewRatio(docs) < 16.0)
    assert(Dedup.ngramSkewRatio(boiler) > 16.0)
  }

  test("near-dup clusters: min-label propagation finds the planted components") {
    val pairs = Dedup.ngramJaccardPrefixJoin(crafted, threshold = 0.3)
    val clusters = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    // {0,1,2} one component with canonical 0; {3,4} with canonical 3; 5 absent
    assert(clusters(0L) == (0L, true))
    assert(clusters(1L) == (0L, false))
    assert(clusters(2L) == (0L, false))
    assert(clusters(3L) == (3L, true))
    assert(clusters(4L) == (3L, false))
    assert(!clusters.contains(5L))
    // a LONG chain (diameter 40 — e.g. successive page revisions): pointer
    // jumping converges in O(log diameter), far under maxIters
    import spark.implicits._
    val chain = (0L until 40L).map(i => (100L + i, 101L + i)).toDF("id_a", "id_b")
    val cc = Dedup.nearDupClusters(chain).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cc.size == 41 && cc.values.forall(_ == 100L))
  }

  test("planted-corpus dedup validation: DocsGen truth recovered by minhash+LSH+CC") {
    import graft.sources.DocsGen
    // deterministic generator: same id → same text, mutants differ from base
    assert(DocsGen.text(40L) == DocsGen.text(40L))
    assert(DocsGen.text(40L) != DocsGen.text(41L))
    val n = 2000L
    val docs = DocsGen.docs(spark, n, 8).cache()
    assert(docs.count() == n)
    val truth = DocsGen.truthPairs(spark, n, 0.5, 8).cache()
    val nTruth = truth.count()
    assert(nTruth > 100, s"expected a substantial planted truth set, got $nTruth")
    // the same pipeline as the 1M validation run in BENCH_SCALING.json
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.35, bands = 32).cache()
    val nHit = truth.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
    assert(nHit.toDouble / nTruth >= 0.9, s"recall ${nHit.toDouble / nTruth} below 0.9")
    // clustering groups every found pair
    val lbl = Dedup.nearDupClusters(pairs).select($"id", $"cluster_id")
    val co = truth
      .join(lbl.withColumnRenamed("id", "id_a").withColumnRenamed("cluster_id", "c_a"), "id_a")
      .join(lbl.withColumnRenamed("id", "id_b").withColumnRenamed("cluster_id", "c_b"), "id_b")
      .filter($"c_a" === $"c_b").count()
    assert(co >= nHit) // CC can only add transitive reach, never lose a found pair
    docs.unpersist(); truth.unpersist(); pairs.unpersist()
  }

  test("LSH bucket cap emits the capped_ids_dropped metric (never silent)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var captured = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured ++= qe.observedMetrics
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {}
    }
    spark.listenerManager.register(listener)
    try {
      val degenerate = (0L until 200L).map(i => (i, "identical boilerplate text repeated on every page of the site"))
        .toDF("doc_id", "text")
      val pairs = Dedup.minhashLshPairs(degenerate, threshold = 0.5, maxBucket = 10).collect()
      // cap bounds the blowup: 10-id buckets → C(10,2) distinct pairs
      assert(pairs.length == 45)
      // metric is observed (listener bus is async — poll briefly)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!captured.contains("minhash_bucket_cap") && System.nanoTime() < deadline) Thread.sleep(50)
      val m = captured("minhash_bucket_cap")
      assert(m.getAs[Long]("capped_ids_dropped") == (200L - 10L) * 16) // 16 bands
      assert(m.getAs[Int]("max_bucket_size") == 200)
    } finally spark.listenerManager.unregister(listener)
  }

  test("embedding near-dup exact baseline and LSH recall against it") {
    val base = emb.limit(60)
    val first = base.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)
    val jittered = first.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.001f else v }
    val planted = base
      .union(Seq((9000L, first, 99)).toDF("vec_id", "embedding", "label"))
      .union(Seq((9001L, jittered, 99)).toDF("vec_id", "embedding", "label"))
    val exact = Dedup.embeddingNearDupExact(planted, threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.contains((0L, 9000L)) && exact.contains((0L, 9001L)) && exact.contains((9000L, 9001L)))
    // the LSH scale path recovers the exact high-threshold pairs here
    val lsh = Dedup.embeddingNearDup(planted, threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.subsetOf(lsh) && lsh.subsetOf(exact))
  }

  test("fingerprint follows the published mod-Mersenne polynomial spec") {
    // independent BigInt fold of the spec — falsifies the multiplyHigh fast path
    def specFp(s: String): Long = {
      val norm = s.toLowerCase(java.util.Locale.ROOT).trim.replaceAll("\\s+", " ")
      val M = BigInt(2).pow(61) - 1
      var h = BigInt(0)
      var i = 0
      while (i < norm.length) {
        val cp = norm.codePointAt(i)
        h = (h * 1000003 + cp) mod M
        i += Character.charCount(cp)
      }
      h.toLong
    }
    for (s <- Seq("", "a", "Hello,  World!\n", "the quick brown fox", "日本語テキスト 🚀 test"))
      assert(TextKit.fingerprint(s) == specFp(s), s"fingerprint mismatch for '$s'")
  }

  test("simhash: hamming-bounded near-dup pairs via chunk banding") {
    val pairs = Dedup.simhashPairs(crafted, maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L))) // identical text → distance 0
    // planted near-dups differ by one word → small distance
    val h0 = TextKit.simhash64(crafted.filter($"doc_id" === 0).head().getString(1))
    val h2 = TextKit.simhash64(crafted.filter($"doc_id" === 2).head().getString(1))
    assert(TextKit.hammingDistance(h0, h2) <= 16)
  }

  test("embedding near-dup finds planted duplicates") {
    val base = emb.limit(50)
    // plant: vec 9000 = copy of vec 0's embedding
    val first = base.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)
    val planted = base.union(Seq((9000L, first, 99)).toDF("vec_id", "embedding", "label"))
    val pairs = Dedup.embeddingNearDup(planted, threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 9000L)))
  }

  test("brute-force cosine top-k: self-consistency and determinism") {
    val queries = emb.filter($"vec_id" < 5)
    val r1 = Similarity.bruteForceTopK(emb, queries, 10).collect()
    assert(r1.length == 50) // 5 queries × 10
    val r2 = Similarity.bruteForceTopK(emb, queries, 10).collect()
    assert(r1.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted))
    // ranks are 1..10 per query, cosine non-increasing
    val byQ = r1.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(emb, queries, 5, signBits = 5, tables = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low") // 8 tables × 5-bit multiprobe, 500 vecs
  }

  test("IVF top-k: recall vs brute force with nprobe=4 of 16 cells") {
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    // determinism: fixed seed → same cells → same results
    val ivf2 = Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf == ivf2)
  }

  test("IVF fit/query split: one fit serves repeated query batches, no fit in the query plan") {
    val index = Similarity.ivfFit(emb, nlist = 16)
    try {
      assert(index.codebook.length == 16)
      // two different query batches against the SAME fitted index
      val q1 = Similarity.ivfQuery(index, emb.filter($"vec_id" < 10), 5, nprobe = 4)
      val q2 = Similarity.ivfQuery(index, emb.filter($"vec_id" >= 10 && $"vec_id" < 20), 5, nprobe = 4)
      assert(q1.select("query_id").distinct().count() == 10)
      assert(q2.select("query_id").distinct().count() == 10)
      // the query plan reads the persisted assignment (InMemoryTableScan) —
      // no KMeans/fit stage can appear because ivfQuery never sees the corpus
      val plan = q1.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        s"expected the precomputed cell assignment cache in the plan:\n$plan")
      // ivfQuery on the shared index matches the one-shot wrapper
      val viaWrapper = Similarity.ivfTopK(emb, emb.filter($"vec_id" < 10), 5, nlist = 16, nprobe = 4)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val viaSplit = q1.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      assert(viaSplit == viaWrapper)
    } finally index.close()
  }

  test("IVF add: incrementally added vectors are immediately queryable") {
    val idx = Similarity.ivfFit(emb.filter($"vec_id" < 250), nlist = 16)
    val grown = Similarity.ivfAdd(idx, emb.filter($"vec_id" >= 250))
    idx.close() // indexes are independent: closing the input must not break grown
    try {
      assert(grown.assigned.count() == emb.count())
      // query with ADDED vectors under shifted ids: each must find its own
      // original as top-1 with cosine ~1 (assignment and probe both take
      // the nearest center, so the identical vector is always a candidate)
      val q = emb.filter($"vec_id" >= 250 && $"vec_id" < 258)
        .withColumn("vec_id", $"vec_id" + 10000)
      val top1 = Similarity.ivfQuery(grown, q, 1, nprobe = 4).collect()
      assert(top1.length == 8)
      top1.foreach { r =>
        assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") - 10000)
        assert(r.getAs[Double]("cosine") > 0.999)
      }
    } finally grown.close()
  }

  test("IVF save/load round-trip: a reloaded index answers queries identically") {
    val dir = TestSpark.tempDir("graft-ivf-idx-")
    val fitted = Similarity.ivfFit(emb, nlist = 16)
    val expected =
      try {
        Similarity.ivfSave(fitted, dir)
        Similarity.ivfQuery(fitted, emb.filter($"vec_id" < 10), 5, nprobe = 4)
          .collect().map(_.toString).sorted.toSeq
      } finally fitted.close()
    val loaded = Similarity.ivfLoad(spark, dir)
    try {
      assert(loaded.codebook.length == 16)
      val got = Similarity.ivfQuery(loaded, emb.filter($"vec_id" < 10), 5, nprobe = 4)
        .collect().map(_.toString).sorted.toSeq
      assert(got == expected)
    } finally loaded.close()
  }

  test("BPE training: merge sequence equals an independent local reference") {
    val corpus = Seq(
      (0L, "low low low low low lower lower newest newest"),
      (1L, "newest newest newest newest widest widest widest hug"),
      (2L, ""), (3L, "   ")) // empty docs contribute nothing
    val df = corpus.toDF("doc_id", "text")
    // independent reference: word counts, then k rounds of (pair argmax by
    // count desc / pair asc, sequential left-to-right merge)
    def mergeSeq(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def localTrain(k: Int): Seq[(String, String, Long)] = {
      var state = corpus.flatMap(_._2.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => (w.map(_.toString).toVector, ws.size.toLong) }.toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      for (_ <- 1 to k) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
        state.foreach { case (syms, c) =>
          syms.indices.dropRight(1).foreach(i => counts((syms(i), syms(i + 1))) += c)
        }
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, s"$l $r") }
          out += ((l, r, c))
          state = state.map { case (syms, cc) => (mergeSeq(syms, l, r), cc) }
        }
      }
      out.toSeq
    }
    val merges = Bpe.train(df, numMerges = 6)
    assert(merges.map(m => (m.left, m.right, m.count)) == localTrain(6),
      s"merge sequence diverged: ${merges}")
    assert(merges.map(_.rank) == (1 to 6))
    // token counts via the word-type join equal direct per-doc application;
    // whitespace-only docs are absent
    val tc = Bpe.tokenCounts(df, merges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = corpus.filter(_._2.trim.nonEmpty).map { case (id, t) =>
      id -> t.trim.split("\\s+").map(w => Bpe.applyMerges(w, merges).length.toLong).sum
    }.toMap
    assert(tc == expected)
    // end-of-word-marker variant: the marker participates as a symbol —
    // with "low" dominant, an early merge must absorb </w> into a
    // word-final unit, which the marker-free table can never produce
    val eow = Some("</w>")
    val em = Bpe.train(df, numMerges = 8, eowMarker = eow)
    assert(em.exists(m => m.right.endsWith("</w>") || m.left.endsWith("</w>")),
      s"no merge absorbed the marker: $em")
    // compare at EQUAL numMerges — different lengths would differ trivially
    val merges8 = Bpe.train(df, numMerges = 8)
    assert(em.map(m => (m.left, m.right)) != merges8.map(m => (m.left, m.right)))
    val ew = Bpe.applyMerges("low", em, eow)
    assert(ew.last.endsWith("</w>"), s"word-final unit must carry the marker: $ew")
    // counts under the marker table still agree with direct application
    val tcE = Bpe.tokenCounts(df, em, eowMarker = eow).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedE = corpus.filter(_._2.trim.nonEmpty).map { case (id, t) =>
      id -> t.trim.split("\\s+").map(w => Bpe.applyMerges(w, em, eow).length.toLong).sum
    }.toMap
    assert(tcE == expectedE)
  }

  test("incremental minhash: a chained add sequence equals recompute-from-scratch, through save/load") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    val full = pairSet(Dedup.minhashLshPairs(docs, threshold = 0.3))
    assert(full.nonEmpty, "fixture must contain near-dups")
    // three batches with near-dup clusters SPLIT across them (mutant
    // groups sit on consecutive ids, so id%3 spreads each across batches)
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    val b0Pairs = pairSet(Dedup.minhashLshPairs(b0, threshold = 0.3))
    // fit → save → load: the add path must work from a reloaded index
    // (which also restores k/numPerms/bands from the meta table)
    val dir = TestSpark.tempDir("graft-mh-idx-")
    val fitted = Dedup.minhashFit(b0)
    Dedup.minhashSave(fitted, dir)
    fitted.close()
    val loaded = Dedup.minhashLoad(spark, dir)
    assert(loaded.bands == 16 && loaded.numPerms == 64 && loaded.k == 3)
    // TWO chained adds: the second probes an index already grown by the
    // first (the LSM segment chain), not a freshly fitted one
    val (grown1, add1Df) = Dedup.minhashAdd(loaded, b1, threshold = 0.3)
    val (grown2, add2Df) = Dedup.minhashAdd(grown1, b2, threshold = 0.3)
    try {
      val add1Pairs = pairSet(add1Df)
      val add2Pairs = pairSet(add2Df)
      // every incremental pair touches ITS batch — earlier pairs never re-emit
      assert(add1Pairs.forall { case (a, b, _) => a % 3 == 1 || b % 3 == 1 })
      assert(add2Pairs.forall { case (a, b, _) => a % 3 == 2 || b % 3 == 2 })
      assert(add1Pairs.intersect(add2Pairs).isEmpty)
      val union = b0Pairs ++ add1Pairs ++ add2Pairs
      assert(union == full,
        s"incremental union diverged: missing=${(full -- union).take(5)} " +
          s"extra=${(union -- full).take(5)}")
      assert(grown2.sigs.count() == docs.count())
      assert(grown2.bandSegments.size == 3)
      // compaction: one rebuilt segment, query-equivalent index
      val compacted = Dedup.minhashCompact(grown2)
      assert(compacted.bandSegments.size == 1)
      val (_, reAdd) = Dedup.minhashAdd(compacted,
        Seq((999999L, "zz zz zz")).toDF("doc_id", "text"), threshold = 0.3)
      assert(pairSet(reAdd).isEmpty) // a unique doc adds no pairs
      compacted.close()
    } finally { grown2.close(); grown1.close(); loaded.close() }
  }

  test("duplicated substring spans: planted boilerplate found exactly, runs merged") {
    val boiler = (1 to 12).map(i => s"B$i").mkString(" ")
    val phrase = (1 to 6).map(i => s"P$i").mkString(" ")
    val corpus = Seq(
      (0L, s"u01 u02 u03 u04 u05 $boiler u06 u07 u08 u09"), // boiler at idx 5..16
      (1L, s"$boiler v01 v02 v03 v04 v05 v06"),             // boiler at idx 0..11
      (2L, s"w01 w02 w03 $phrase x01 x02 x03 $phrase y01"), // intra-doc repeat at 3..8, 12..17
      (3L, (1 to 15).map(i => s"z$i").mkString("  ")),      // unique, messy whitespace
      (4L, "q1 q2 q3"),                                     // shorter than minLen
      (5L, (1 to 10).map(i => s"d$i").mkString(" ")),       // exact dup of 6
      (6L, (1 to 10).map(i => s"d$i").mkString(" ")),
      (7L, null.asInstanceOf[String])                       // null text
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, minLen = 5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("end_tok"), r.getAs[Long]("n_windows"))).toSet
    // the 12-token boiler merges into ONE maximal span per doc (8 windows of
    // length 5); windows straddling the boiler boundary are not duplicated
    assert(spans == Set(
      (0L, 5L, 16L, 8L), (1L, 0L, 11L, 8L),
      (2L, 3L, 8L, 2L), (2L, 12L, 17L, 2L),   // intra-doc positions count
      (5L, 0L, 9L, 6L), (6L, 0L, 9L, 6L)))    // fully-duplicated docs

    val strip = Dedup.stripDuplicatedSpans(corpus, minLen = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("removed_tokens"))).toMap
    assert(strip(0L) == ("u01 u02 u03 u04 u05 u06 u07 u08 u09", 12L))
    assert(strip(1L) == ("v01 v02 v03 v04 v05 v06", 12L))
    assert(strip(2L) == ("w01 w02 w03 x01 x02 x03 y01", 12L))
    assert(strip(3L) == ((1 to 15).map(i => s"z$i").mkString(" "), 0L)) // ws-normalized
    assert(strip(4L) == ("q1 q2 q3", 0L))
    assert(strip(5L) == ("", 10L) && strip(6L) == ("", 10L)) // removed, no survivor copy
    assert(strip(7L) == ("", 0L)) // null text: empty clean row, not null propagation
    intercept[IllegalArgumentException](Dedup.duplicatedSpans(corpus, minLen = 1))
  }

  test("substring spans on the planted corpus: operator == per-block truth == global brute force") {
    import graft.sources.DocsGen
    val n = 2000L
    val corpus = DocsGen.docs(spark, n, 8).cache()
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("end_tok"), r.getAs[Long]("n_windows"))).toSet
    val op = keyed(Dedup.duplicatedSpans(corpus, minLen = 10).collect())
    val truth = keyed(DocsGen.substringTruth(spark, n, 10, 8).collect())
    // global brute force over the whole corpus with the local kernel —
    // validates the block-disjointness reduction substringTruth relies on
    val brute = DocsGen.localSpans(
      (0L until n).map(id => id -> DocsGen.text(id).split(" ").toSeq), 10).toSet
    assert(truth == brute, "per-block truth must equal the corpus-global brute force")
    assert(op == truth, s"operator diverged: ${(op -- truth).take(3)} / ${(truth -- op).take(3)}")
    assert(op.nonEmpty, "planted corpus should contain duplicated >=10-token runs")
    corpus.unpersist()
  }

  test("duplicated spans plan shape: exactly two exchanges, no UDFs") {
    val plan = Dedup.duplicatedSpans(docs, minLen = 10)
      .queryExecution.executedPlan.toString
    // one shuffle on the window hash, one on doc id; the island-merge
    // aggregate must reuse the id partitioning (subset clustering), and
    // the whole chain is declarative (no BatchEvalPython/ScalaUDF nodes)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 2, s"expected exactly 2 exchanges, got $n:\n$plan")
    assert(!plan.contains("UDF"), "duplicatedSpans must stay UDF-free")
  }

  test("as-of join: inclusive matches, left-outer nulls, struct-coherent carry") {
    import graft.operators.AsofJoin
    val l = Seq(("A", 10L), ("A", 20L), ("A", 5L), ("B", 7L), ("C", 50L)).toDF("u", "ts")
    val r = Seq(
      ("A", Some(10L), Some(100L), 1L), ("A", Some(15L), None, 7L),
      ("B", Some(8L), Some(80L), 2L),
      ("C", None, Some(999L), 9L) // null right ts: must never match
    ).toDF("u", "ts", "v", "w")
    val out = AsofJoin.asofJoin(l, r, on = "ts", by = Seq("u"), rightCols = Seq("ts", "v", "w"))
      .collect().map(row => (row.getString(0), row.getLong(1)) ->
        (Option(row.get(2)), Option(row.get(3)), Option(row.get(4)))).toMap
    assert(out(("A", 10L)) == (Some(10L), Some(100L), Some(1L))) // equal ts matches (inclusive)
    // struct-coherent: the matched right row's v is NULL — it must not be
    // stitched with the older row's v=100
    assert(out(("A", 20L)) == (Some(15L), None, Some(7L)))
    assert(out(("A", 5L)) == (None, None, None))  // nothing at or before
    assert(out(("B", 7L)) == (None, None, None))  // right row is later
    assert(out(("C", 50L)) == (None, None, None)) // null right ts is not a match
    // prefixed right columns must never shadow left columns
    intercept[IllegalArgumentException](
      AsofJoin.asofJoin(l.withColumnRenamed("u", "asof_ts"), r,
        on = "ts", by = Seq("asof_ts"), rightCols = Seq("ts")))
    // ASOF equality never matches nulls: a null-by-key RIGHT row must not
    // pair with a null-by-key left (Spark windows group nulls together —
    // the operator filters them from the right input)
    val ln = Seq((Option.empty[String], 10L), (Some("A"), 10L)).toDF("u", "ts")
    val rn = Seq((Option.empty[String], Some(5L), Some(50L), 1L),
      (Some("A"), Some(5L), Some(60L), 2L)).toDF("u", "ts", "v", "w")
    val outN = AsofJoin.asofJoin(ln, rn, on = "ts", by = Seq("u"), rightCols = Seq("v"))
      .collect().map(row => Option(row.getString(0)) -> Option(row.get(2))).toMap
    assert(outN(None).isEmpty, "null-key left must stay unmatched")
    assert(outN(Some("A")).contains(60L))
  }

  test("hash split/sample: deterministic, proportional, nested, stratified") {
    val split = Sampling.hashSplit(docs).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == docs.count())
    val again = Sampling.hashSplit(docs).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split == again, "split must be a pure function of the ids")
    val counts = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 400 && counts("train") < 490, s"train share off: $counts")
    // samples NEST: the 5% draw is a subset of the 20% draw (same salt)
    val s05 = Sampling.hashSample(docs, 0.05).select("doc_id").collect().map(_.getLong(0)).toSet
    val s20 = Sampling.hashSample(docs, 0.20).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s05.nonEmpty && s05.subsetOf(s20) && s20.size > s05.size)
    // a different salt draws a different sample
    val s20b = Sampling.hashSample(docs, 0.20, salt = 7L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s20b != s20)
    // stratified: only the selected stratum survives, completely
    val joined = docs.join(TextAnalysis.langId(docs), "doc_id")
    val st = Sampling.stratifiedHashSample(joined, "lang_pred", Map("en" -> 1.0))
    assert(st.select("lang_pred").distinct().collect().map(_.getString(0)).toSet == Set("en"))
    assert(st.count() == joined.filter($"lang_pred" === "en").count())
    // null ids: explicitly unassigned in the split (null bucket AND null
    // label, never the last-label fallthrough), dropped from samples —
    // the two paths agree a null id belongs nowhere
    val withNull = Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("doc_id", "text")
    val nullRow = Sampling.hashSplit(withNull).filter($"doc_id".isNull).collect()
    assert(nullRow.length == 1 && nullRow(0).isNullAt(2) && nullRow(0).isNullAt(3),
      "null id must get (bucket, split) = (null, null)")
    assert(Sampling.hashSample(withNull, 1.0).filter($"doc_id".isNull).count() == 0)
  }

  test("hash shuffle: exact permutation, partitioning-invariant, salted") {
    val out = Sampling.hashShuffle(docs).select("doc_id", "shuffle_key", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = docs.count()
    assert(out.length == n)
    // pos is a 0..n-1 bijection
    assert(out.map(_._3).sorted.sameElements(0L until n), "pos must be a permutation")
    // matches the local reference order: sort by (mix64(id)^MinValue, id)
    val expected = out.map { case (id, _, _) => id }
      .sortBy(id => (TextKit.mix64(id) ^ Long.MinValue, id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    out.foreach { case (id, key, pos) =>
      assert(key == (TextKit.mix64(id) ^ Long.MinValue), s"key mismatch for $id")
      assert(pos == expected(id), s"pos mismatch for $id")
    }
    // partitioning must not change the permutation
    val rep = Sampling.hashShuffle(docs.repartition(13)).select("doc_id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(t => t._1 -> t._3).toMap == rep)
    // a different salt yields a different permutation; null ids drop
    val salted = Sampling.hashShuffle(docs, salt = 7L).select("doc_id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted != out.map(t => t._1 -> t._3).toMap)
    val withNull = Seq((Option(1L), "a"), (Option.empty[Long], "b"), (Option(2L), "c"))
      .toDF("doc_id", "text")
    assert(Sampling.hashShuffle(withNull).filter($"doc_id".isNull).count() == 0)
  }

  test("vocab coverage: OOV counts against a hand-derived vocabulary") {
    // vocabSize=3 over crafted: vocab = top-3 tokens by (count, token)
    val tokens = crafted.collect().flatMap(_.getString(1).trim.split("\\s+"))
    val vocab = tokens.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(3).map(_._1).toSet
    val expected = crafted.collect().map { r =>
      val tk = r.getString(1).trim.split("\\s+")
      r.getLong(0) -> ((tk.length.toLong, tk.count(t => !vocab.contains(t)).toLong))
    }.toMap
    val out = TextAnalysis.vocabCoverage(crafted, vocabSize = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == expected)
    // empty docs keep a (0, 0) row, ratio 0
    val withEmpty = Seq((0L, "a b a"), (1L, "   "), (2L, "c a")).toDF("doc_id", "text")
    val e = TextAnalysis.vocabCoverage(withEmpty, vocabSize = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(e(1L) == ((0L, 0L, 0.0)))
    assert(e(0L) == ((3L, 1L, 1.0 / 3))) // vocab = {a}; b is OOV
    assert(e(2L) == ((2L, 1L, 0.5)))
  }

  test("lang top-k: salted two-phase cut equals the direct ranking, salt-invariant") {
    // independent reference: rank within lang over (q_scaled desc, id) locally
    val scored = TextAnalysis.langId(docs)
      .join(TextAnalysis.quality(docs).select($"doc_id",
        floor($"quality_score" * 10000 + 0.5).cast("long").as("q_scaled")), "doc_id")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val expected = scored.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
        .map { case ((l, id, q), i) => (l, i + 1L, id, q) }
    }.toSet
    val out = TextAnalysis.langTopK(docs, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == expected)
    // the salt-bucket count must not change the output (saltBuckets=1 is
    // the unsalted direct ranking)
    val unsalted = TextAnalysis.langTopK(docs, k = 5, saltBuckets = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(unsalted == out)
    // and partitioning must not either
    val rep = TextAnalysis.langTopK(docs.repartition(13), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rep == out)
  }

  test("unicode NFC normalize: composition, pass-through, idempotence") {
    // decomposed e+U+0301 and A+U+030A must compose; precomposed forms
    // and plain ASCII must pass through byte-identically
    val decomposed = "cafe\u0301 A\u030a"          // 8 code points
    val composed = "caf\u00e9 \u00c5"              // 6 code points
    val in = Seq(
      (0L, decomposed),
      (1L, composed), // already NFC - unchanged
      (2L, "plain ascii"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unicodeNormalize(in).filter($"doc_id" < 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == ((composed, true, 8L, 6L)))
    assert(out(1L) == ((composed, false, 6L, 6L)))
    assert(out(2L) == (("plain ascii", false, 11L, 11L)))
    // null text normalizes to the empty string (the UDF null default);
    // changed is null-propagating (null original compares as null)
    val nullRow = TextAnalysis.unicodeNormalize(in).filter($"doc_id" === 3).head()
    assert(nullRow.getString(1) == "" && nullRow.isNullAt(2) && nullRow.isNullAt(3))
    // idempotence: normalizing the normalized output changes nothing
    val again = TextAnalysis.unicodeNormalize(
      TextAnalysis.unicodeNormalize(in).select($"doc_id", $"text_nfc".as("text")))
      .collect().map(r => r.getBoolean(2))
    assert(again.forall(_ == false))
  }

  test("budget apportionment: largest-remainder exactness, ties, overflow") {
    import graft.operators.CrawlBudget
    // local BigInt reference of the same method
    def ref(ws: Seq[(Long, Long)], b: Long): Map[Long, Long] = {
      val pos = ws.filter(_._2 > 0)
      val tw = BigInt(pos.map(_._2).sum)
      val base = pos.map { case (h, w) => (h, w, (BigInt(w) * b) / tw, (BigInt(w) * b) % tw) }
      val k = (BigInt(b) - base.map(_._3).sum).toLong
      val extras = base.sortBy(t => (-t._4, t._1)).take(k.toInt).map(_._1).toSet
      base.map(t => t._1 -> (t._3.toLong + (if (extras(t._1)) 1L else 0L))).toMap
    }
    // allocate releases its persisted host frame before returning: start
    // from an empty cache and check nothing is left behind after each call;
    // the only storage it may add is the result's own local checkpoint
    spark.catalog.clearCache()
    def alloc(df: org.apache.spark.sql.DataFrame, b: Long): Map[Long, Long] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val res = CrawlBudget.allocate(df, b)
      assert(spark.sharedState.cacheManager.isEmpty, "allocate left a cached frame")
      val added = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(added.size <= 1 && added.values.forall(_.isCheckpointed),
        s"allocate left persisted RDDs besides its checkpoint: ${added.values.mkString(", ")}")
      res.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    // equal three-way tie: the leftover fetch goes to the smallest host
    val tie = Seq((0L, 5L), (1L, 5L), (2L, 5L)).toDF("host", "weight")
    val tieOut = alloc(tie, 10)
    assert(tieOut == Map(0L -> 4L, 1L -> 3L, 2L -> 3L))
    // random weights: Σalloc == budget exactly, matches the reference
    val rnd = new scala.util.Random(42)
    val ws = (0L until 40L).map(h => h -> (rnd.nextInt(10000).toLong + 1))
    val out = alloc(ws.toDF("host", "weight"), 1234)
    assert(out.values.sum == 1234L)
    assert(out == ref(ws, 1234))
    // w·B overflows a long (1e18 × 1e9): the decimal path must stay exact
    val big = Seq((0L, 1000000000000000000L), (1L, 1000000000000000000L),
      (2L, 1000000000000000000L)).toDF("host", "weight")
    val bigOut = alloc(big, 1000000000L)
    assert(bigOut.values.sum == 1000000000L)
    assert(bigOut == Map(0L -> 333333334L, 1L -> 333333333L, 2L -> 333333333L))
    // zero/negative weights and null hosts receive nothing and no row
    val mixed = Seq((Option(0L), 7L), (Option(1L), 0L), (Option(2L), -3L),
      (Option.empty[Long], 9L)).toDF("host", "weight")
    val m = alloc(mixed, 5)
    assert(m == Map(0L -> 5L))
  }

  test("top n-grams: counts and deterministic tie-break on the crafted corpus") {
    // "the quick brown fox jumps over the lazy dog and runs far away"
    // appears in docs 0,1,2 → its bigrams dominate
    val top = TextAnalysis.topNgrams(crafted, n = 2, k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(top.head._2 == 3L, s"top bigram should occur 3x: ${top.toSeq}")
    assert(top.map(_._2).sorted.reverse.sameElements(top.map(_._2)), "sorted by count desc")
    // ties at equal count are in gram order (deterministic cut)
    val tied = top.filter(_._2 == top.head._2).map(_._1)
    assert(tied.sameElements(tied.sorted), s"tie order not lexicographic: ${tied.toSeq}")
  }

  test("corpus stats: per-language report consistent with the row-level operators") {
    val st = TextAnalysis.corpusStats(docs).collect()
    assert(st.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(math.abs(st.map(_.getAs[Double]("doc_share")).sum - 1.0) < 0.01)
    val byLang = TextAnalysis.langId(docs).groupBy("lang_pred").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    st.foreach(r =>
      assert(r.getAs[Long]("n_docs") == byLang(r.getAs[String]("lang_pred"))))
  }

  test("language id: deterministic heuristic with real stopword texts") {
    assert(TextKit.langId("the cat sat on the mat and it was happy") == "en")
    assert(TextKit.langId("der Hund ist nicht mit der Katze und sie") == "de")
    assert(TextKit.langId("le chat est dans la maison et je ne sais pas") == "fr")
    assert(TextKit.langId("el perro es un animal y no es una persona") == "es")
    assert(TextKit.langId("我是中国人他来了") == "zh")
    assert(TextKit.langId("") == "und")
    assert(TextKit.langId("xyzzy qwerty asdf") == "und")
    // total + deterministic over the real table
    val l1 = TextAnalysis.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val l2 = TextAnalysis.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(l1 == l2)
  }

  test("quality scoring: sane bounds and ordering") {
    val q = TextAnalysis.quality(docs).collect()
    q.foreach { r =>
      val score = r.getAs[Double]("quality_score")
      assert(score >= 0.0 && score <= 1.0)
      assert(r.getAs[Int]("n_chars") > 0)
    }
    val good = TextKit.quality("The quick brown fox jumps over the lazy dog. It was a sunny day and they went for a walk in the park.")
    val bad = TextKit.quality("@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( ))))")
    assert(good.score > bad.score)
    assert(TextKit.quality("").score == 0.0)
  }

  test("token counts: ws vs bpeish") {
    val tc = TextAnalysis.tokenCounts(crafted).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("ws_tokens"), r.getAs[Int]("bpeish_tokens"))).toMap
    assert(tc(0L)._1 == 14)
    assert(tc(0L)._2 == 14) // no punctuation → same
    assert(TextKit.bpeishTokens("don't stop, it's 42!").toSeq ==
      Seq("don", "'", "t", "stop", ",", "it", "'", "s", "42", "!"))
    // empty text edge
    val e = TextAnalysis.tokenCounts(Seq((7L, ""), (8L, "  ")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(e(7L) == 0 && e(8L) == 0)
  }

  test("fingerprint: stable under whitespace/case noise, distinct otherwise") {
    assert(TextKit.fingerprint("Hello   World") == TextKit.fingerprint("hello world"))
    assert(TextKit.fingerprint("hello world") != TextKit.fingerprint("hello worlds"))
    val fps = TextAnalysis.fingerprints(docs).select("fingerprint").distinct().count()
    assert(fps == docs.count()) // all texts distinct → all fingerprints distinct
  }

  test("dup-ngram ratio (corpus) and repetition ratio (intra-doc) quality signals") {
    // crafted: docs 0/1 identical → every gram duplicated; doc 5 unique → 0
    val dup = TextAnalysis.dupNgramRatio(crafted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_ngram_ratio")).toMap
    assert(dup(0L) == 1.0 && dup(1L) == 1.0)
    assert(dup(5L) == 0.0)
    assert(dup(2L) > 0.5) // near-dup of 0/1 shares most grams
    // repetition: degenerate repeated text scores high, normal prose 0
    val repRows = TextAnalysis.repetitionRatio(Seq(
      (0L, "spam spam spam spam"),
      (1L, "the quick brown fox jumps"),
      (2L, ""), (3L, "one")).toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_bigrams"), r.getAs[Double]("repetition_ratio"))).toMap
    assert(repRows(0L) == ((3L, 1.0 - 1.0 / 3)))
    assert(repRows(1L) == ((4L, 0.0)))
    assert(repRows(2L) == ((0L, 0.0)))
    assert(repRows(3L) == ((0L, 0.0)))
  }

  test("multimodal: real PNG IHDR and JPEG SOF header decode") {
    import graft.operators.Multimodal._
    assert(decodeHeader(pngHeader(640, 480)) == Some(("png", 640, 480)))
    assert(decodeHeader(pngHeader(1, 1)) == Some(("png", 1, 1)))
    assert(decodeHeader(jpegHeader(123, 77)) == Some(("jpeg", 123, 77)))
    assert(decodeHeader(jpegHeader(65535, 1)) == Some(("jpeg", 65535, 1)))
    // a progressive-style SOF2 after an extra marker segment still parses
    val sof2 = {
      val j = jpegHeader(320, 200)
      val dqt = Array(0xff, 0xdb, 0x00, 0x04, 0x00, 0x00).map(_.toByte) // dummy DQT
      j.take(20) ++ dqt ++ j.drop(20).updated(1, 0xc2.toByte)
    }
    assert(decodeHeader(sof2) == Some(("jpeg", 320, 200)))
    // non-media and truncated inputs decode to None, never throw
    assert(decodeHeader("plain text, not media".getBytes("UTF-8")).isEmpty)
    assert(decodeHeader(Array(0xff, 0xd8).map(_.toByte)).isEmpty) // bare SOI
    assert(decodeHeader(pngHeader(9, 9).take(20)).isEmpty) // cut inside IHDR
    assert(decodeHeader(jpegHeader(9, 9).take(21)).isEmpty) // cut before SOF
    assert(decodeHeader(null).isEmpty)
  }

  test("multimodal: synthesize → decode → resize → frame-sample plumbing") {
    val media = Multimodal.synthesize(docs.limit(30)).cache()
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length == 30)
    assert(meta.forall(_.ok))
    assert(meta.map(_.format).toSet == Set("img", "aud", "vid"))
    meta.foreach { m => assert(m.width >= 64 && m.height >= 64 && m.n_bytes > 16) }
    // resize shrinks the larger dimension to maxDim, payload preserved
    val resized = Multimodal.decodeMeta(Multimodal.resize(media, 100)).collect()
    resized.foreach { m => assert(math.max(m.width, m.height) <= 100) }
    assert(resized.map(_.n_bytes).sum == meta.map(_.n_bytes).sum) // stub keeps payload
    // frame sampling only for "vid" rows
    val frames = Multimodal.sampleFrames(media, everyNth = 2)
    val vidIds = meta.filter(_.format == "vid").map(_.id).toSet
    val frameIds = frames.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(frameIds == vidIds)
    assert(frames.collect().forall(_.getAs[Int]("frame_idx") % 2 == 0))
    // malformed binary → ok=false, no crash
    val badMeta = Multimodal.decodeMeta(Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "media")).collect()
    assert(badMeta.head.ok == false)
  }

  test("pii scrub: emails, ipv4, phones redacted in fixed order with counts") {
    val rows = Seq(
      (1L, "reach me at bob.smith+x@corp-mail.co.uk or on +44 20 7946-0958 thanks"),
      (2L, "server 192.168.0.1 talked to 10.0.0.255; version 1.2 is fine"),
      (3L, "email 1.2.3.4@example.com hides an ip in the local part"),
      (4L, "no pii here, just text with an @ sign and + plus"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(rows).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "reach me at <EMAIL> or on <PHONE> thanks")
    assert((out(0).getLong(2), out(0).getLong(3), out(0).getLong(4)) == ((1L, 0L, 1L)))
    assert(out(1).getString(1) == "server <IP> talked to <IP>; version 1.2 is fine")
    assert((out(1).getLong(2), out(1).getLong(3), out(1).getLong(4)) == ((0L, 2L, 0L)))
    // email stage runs first, so the ip inside the local part is consumed by it
    assert(out(2).getString(1) == "email <EMAIL> hides an ip in the local part")
    assert((out(2).getLong(2), out(2).getLong(3), out(2).getLong(4)) == ((1L, 0L, 0L)))
    assert(out(3).getString(1) == rows.collect()(3).getString(1)) // untouched
    assert(out(4).getString(1) == "") // null text -> empty, zero counts
    // idempotent: scrubbing scrubbed text changes nothing
    val again = TextAnalysis.piiScrub(
      out.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    again.zip(out).foreach { case (a, o) =>
      assert(a.getString(1) == o.getString(1))
      assert(a.getLong(2) == 0L && a.getLong(3) == 0L && a.getLong(4) == 0L)
    }
  }

  test("gopher rules: each rule fires on its crafted violator, good doc passes") {
    // 55 words, mean len in [3,10], two stopwords, no symbols/bullets
    val good = (("the cat sat with " + Seq.fill(51)("word").mkString(" ")))
    val bullets = (1 to 10).map(i => s"- item number $i here").mkString("\n") +
      "\n" + Seq.fill(60)("word").mkString(" ") + " the with"
    val symbols = "the with " + Seq.fill(53)("word").mkString(" ") +
      " " + Seq.fill(12)("#").mkString(" ")
    val shortw = "the with " + Seq.fill(53)("a").mkString(" ")
    val rows = Seq(
      (0L, good), (1L, ""), (2L, bullets), (3L, symbols), (4L, shortw),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(rows).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Boolean]("pass"))
    assert(out(0L).getAs[Long]("n_words") == 55)
    assert(out(0L).getAs[Long]("n_stopword_hits") == 2) // the, with
    // empty + null: zero words fails ok_words and ok_mean_len, never NPEs
    Seq(1L, 5L).foreach { id =>
      assert(out(id).getAs[Long]("n_words") == 0)
      assert(!out(id).getAs[Boolean]("ok_words"))
      assert(!out(id).getAs[Boolean]("ok_mean_len"))
      assert(!out(id).getAs[Boolean]("pass"))
    }
    // 10 of 11 lines are bullets -> 10*10 >= 9*11 fails ok_bullet only there
    assert(out(2L).getAs[Long]("n_bullet_lines") == 10)
    assert(out(2L).getAs[Long]("n_lines") == 11)
    assert(!out(2L).getAs[Boolean]("ok_bullet") && !out(2L).getAs[Boolean]("pass"))
    assert(out(0L).getAs[Boolean]("ok_bullet"))
    // 12 symbols vs 67 words -> 120 >= 67 fails ok_symbol
    assert(out(3L).getAs[Long]("n_symbols") == 12)
    assert(!out(3L).getAs[Boolean]("ok_symbol") && !out(3L).getAs[Boolean]("pass"))
    // 53 one-char words drag the mean below 3 (sum 60 < 3*55)
    assert(!out(4L).getAs[Boolean]("ok_mean_len") && !out(4L).getAs[Boolean]("pass"))
    // symbol doc stays above the 80% alpha-word floor (55 of 67 ≈ 82%)
    assert(out(3L).getAs[Boolean]("ok_alpha"))
  }

  test("boilerplate strip: cross-doc lines removed, order and blanks preserved") {
    val nav = "NAVBAR home about"
    val foot = "COPYRIGHT footer line"
    val rows = Seq(
      (1L, s"$nav\ncontent one\n\n$foot"),
      (2L, s"$nav\ncontent two\n$foot\n$foot"), // footer twice IN one doc
      (3L, s"$nav\ncontent three\n$foot"),
      (4L, s"$nav\n$foot"), // nothing but boilerplate
      (5L, "tiny\nunique doc")) // 'tiny' < 5 chars: never a candidate
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateStrip(rows, minDf = 3).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "content one\n") // blank line survives
    assert((out(0).getLong(2), out(0).getLong(3)) == ((4L, 2L)))
    // BOTH within-doc copies of the cross-doc footer are stripped
    assert(out(1).getString(1) == "content two")
    assert((out(1).getLong(2), out(1).getLong(3)) == ((4L, 3L)))
    assert(out(2).getString(1) == "content three")
    assert(out(3).getString(1) == "") // fully boilerplate -> empty, row kept
    assert((out(3).getLong(2), out(3).getLong(3)) == ((2L, 2L)))
    assert(out(4).getString(1) == "tiny\nunique doc") // untouched
    assert((out(4).getLong(2), out(4).getLong(3)) == ((2L, 0L)))
  }
}
