package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import java.sql.Timestamp

/** Structured Streaming: watermarked windowed aggregation (vs its batch
  * equivalent on the same data) and stateful sessionization. */
class StreamOpsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(1767225600000L + minute * 60000L)

  test("windowedCounts (stream) equals windowedCountsBatch on the same events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0), Event(2, ts(10), 1, "view", 2.0),
      Event(3, ts(30), 2, "click", 3.0), Event(4, ts(70), 2, "view", 4.0),
      Event(5, ts(90), 3, "click", 5.0), Event(6, ts(61), 1, "view", 0.5))
    val q = StreamOps.windowedCounts(input.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("wc_out").outputMode("complete").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("wc_out")
        .select("window_start", "event_type", "n", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = StreamOps.windowedCountsBatch(events.toDF())
        .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.size == 4) // (h0 view, h0 click, h1 view, h1 click)
    } finally q.stop()
  }

  test("watermark drops events later than the allowed lateness") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.windowedCounts(input.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wm_out").outputMode("append").start()
    try {
      input.addData(Event(1, ts(30), 1, "view", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      input.addData(Event(2, ts(300), 1, "view", 1.0))
      q.processAllAvailable()
      // this event is 5 hours late → dropped
      input.addData(Event(3, ts(31), 1, "view", 100.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(400), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wm_out").collect()
      val h0 = rows.filter(_.getAs[Timestamp]("window_start") == ts(0))
      assert(h0.length == 1)
      assert(h0.head.getAs[Long]("n") == 1) // the late event did not count
    } finally q.stop()
  }

  test("sessionize: gap-based sessions close on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = StreamOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then silence
      // user 2: one event
      input.addData(Event(1, ts(0), 1, "v", 1), Event(2, ts(10), 1, "v", 1), Event(3, ts(5), 2, "v", 1))
      q.processAllAvailable()
      // watermark pushes far ahead → both sessions time out and emit
      input.addData(Event(9, ts(500), 9, "v", 1))
      q.processAllAvailable()
      input.addData(Event(10, ts(900), 9, "v", 1))
      q.processAllAvailable()
      val out = spark.table("sess_out").as[StreamOps.SessionOut].collect()
        .map(s => s.user_id -> s.n_events).toMap
      assert(out.get(1L).contains(2))
      assert(out.get(2L).contains(1))
    } finally q.stop()
  }

  test("sessionize stream at 1M events: equals the batch twin; watermark evicts state") {
    implicit val sqlCtx = spark.sqlContext
    // 10k users × 100 events = 1M: per user, 10 sessions of 10 events
    // (2-min steps) with 120-min session spacing and a small per-user
    // phase; arrival is event-time-ordered across micro-batches (the
    // contract a watermarked stream assumes)
    val perUser = 100
    val users = 10000
    val baseMs = 1767225600000L
    def tsMs(u: Int, i: Int): Long =
      baseMs + ((i / 10) * 120L + (i % 10) * 2L + (u % 7)) * 60000L
    val events = (for { i <- 0 until perUser; u <- 0 until users } yield
      Event(u.toLong * perUser + i, new Timestamp(tsMs(u, i)), u.toLong, "v", 1.0)).toIndexedSeq
    val sorted = events.sortBy(_.ts.getTime)
    val input = MemoryStream[Event]
    val q = StreamOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_1m").outputMode("append").start()
    try {
      sorted.grouped(100000).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      // two far-future sentinel batches: the first advances the watermark
      // past every real session's timeout, the second triggers emission
      val maxTs = sorted.last.ts.getTime
      input.addData(Event(-1L, new Timestamp(maxTs + 3600L * 1000), -1L, "v", 1.0))
      q.processAllAvailable()
      input.addData(Event(-2L, new Timestamp(maxTs + 7200L * 1000), -1L, "v", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_1m").as[StreamOps.SessionOut].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.start.getTime, s.end.getTime, s.n_events.toLong)).toSet
      val batch = StreamOps.sessionizeBatch(events.toDF())
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      assert(streamed.size == users * 10)
      assert(streamed == batch, "stream sessions diverged from the batch twin")
      // eviction: 10k user states existed; after the watermark passed them
      // all, only the sentinel key may remain
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"state not evicted by watermark: $stateRows rows live")
    } finally q.stop()
  }

  test("crawlResultsStream tails a crawl checkpoint: stream counts == batch counts") {
    import graft.operators.{CrawlConfig, CrawlEngine}
    import graft.sources.PagesGen
    val dir = TestSpark.tempDir("graft-stream-crawl-")
    val pages = PagesGen.fixtures(spark)
    val seed = "http://127.0.0.1:8000/start"
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl(seed)
    // stream over the committed rounds (AvailableNow = catch-up semantics)
    val q = StreamOps.crawlResultsStream(spark, dir)
      .writeStream.format("memory").queryName("crawl_tail")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000L)
    val streamed = spark.table("crawl_tail")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = run.results.groupBy("seed", "result_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed.values.sum == 6) // collected_things: 6 result rows
  }

  test("crawlResultsStream tails older per-table round dirs too: mixed and fully older checkpoints") {
    import graft.operators.{CrawlConfig, CrawlEngine}
    import graft.sources.{PagesGen, TableIO}
    import java.nio.file.{Files, Paths}
    val dir = TestSpark.tempDir("graft-stream-older-")
    val seed = "http://127.0.0.1:8000/start"
    val run = new CrawlEngine(spark, PagesGen.fixtures(spark), CrawlConfig(), dir).crawl(seed)
    assert(run.lastRound >= 1)
    def counts(df: org.apache.spark.sql.DataFrame) = df.groupBy("seed", "result_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = counts(run.results)
    def streamed(name: String) = {
      val q = StreamOps.crawlResultsStream(spark, dir)
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000L)
      spark.table(name).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    // rewrite rounds as an older checkpoint held them: each round's
    // results flat in its own rNNNNN/results_inc dir
    def toOlderLayout(rounds: Range): Unit = rounds.foreach { r =>
      val snap = TableIO.readSnapshot(dir, r)
      val older = Paths.get(dir, f"r$r%05d", "results_inc").toString
      TableIO.readTable(spark, snap, "results_inc").write.parquet(older)
      TableIO.deleteRecursively(Paths.get(snap.tables("results_inc")))
      Files.writeString(Paths.get(dir, f"manifest-r$r%05d.json"),
        TableIO.renderJson(snap.copy(tables = snap.tables + ("results_inc" -> older))))
    }
    val half = run.lastRound / 2
    toOlderLayout(0 to half)
    assert(counts(run.results) == batch)
    assert(streamed("crawl_tail_mixed") == batch)
    toOlderLayout(half + 1 to run.lastRound)
    assert(streamed("crawl_tail_older") == batch)
  }

  test("ingestDedupStream: quality gate + cross-batch content dedup with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val good1 = "The quick brown fox jumps over the lazy dog and it was a fine day in the park."
    val good2 = "They went to the market and bought fresh bread with butter for the morning meal."
    val junk = "@@@@ #### !!!! %%%% ^^^^ &&&&"
    val q = StreamOps.ingestDedupStream(
        input.toDF().toDF("doc_id", "ts", "text"), minQuality = 0.3, lateness = "1 hour")
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      // batch 1: two distinct good docs + one junk doc (quality-gated out)
      input.addData((1L, ts(0), good1), (2L, ts(1), good2), (3L, ts(2), junk))
      q.processAllAvailable()
      // batch 2: a DUPLICATE of good1 under a new id (suppressed across
      // batches — streaming state carries the seen hash) + one new doc
      input.addData((4L, ts(3), good1), (5L, ts(4), good2 + " extra"))
      q.processAllAvailable()
      val rows = spark.table("ingest_out").collect()
      val ids = rows.map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 2L, 5L), s"got $ids")
      // emitted metadata matches the batch kernels
      val r1 = rows.find(_.getAs[Long]("doc_id") == 1L).get
      val k = graft.textkit.TextKit.quality(good1)
      assert(r1.getAs[Int]("n_tokens") == k.nTokens)
      assert(math.abs(r1.getAs[Double]("quality_score") - k.score) < 1e-12)
      // the dedup key is the md5 the batch pipeline uses
      assert(rows.map(_.getAs[String]("content_hash")).distinct.length == 3)
    } finally q.stop()
  }

  test("termCountsStream: running cf across batches equals the batch index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.termCountsStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("termcf_out").outputMode("complete").start()
    try {
      input.addData((1L, "apple banana apple"), (2L, "banana cherry"), (3L, "   "))
      q.processAllAvailable()
      val mid = spark.table("termcf_out").as[(String, Long)].collect().toMap
      assert(mid == Map("apple" -> 2L, "banana" -> 2L, "cherry" -> 1L))
      // the running counts ACCUMULATE across micro-batches
      input.addData((4L, "apple cherry cherry"), (5L, ""))
      q.processAllAvailable()
      val fin = spark.table("termcf_out").as[(String, Long)].collect().toMap
      assert(fin == Map("apple" -> 3L, "banana" -> 2L, "cherry" -> 3L))
      // equals the batch term-stats cf on the same corpus
      val docs = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
        (3L, "   "), (4L, "apple cherry cherry"), (5L, "")).toDF("doc_id", "text")
      val batch = graft.operators.Search.termStats(docs)
        .select("term", "cf").as[(String, Long)].collect().toMap
      assert(fin == batch)
    } finally q.stop()
  }

  test("sessionizeBatch: gaps-and-islands sessions, 30-min boundary inclusive") {
    import spark.implicits._
    def tsMin(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, 1L, tsMin(0)), (1L, 2L, tsMin(10)), (1L, 3L, tsMin(50)), // 40-min gap splits
      (2L, 4L, tsMin(5)),                                           // singleton
      (3L, 5L, tsMin(0)), (3L, 6L, tsMin(30))                       // exactly 30 min: same session
    ).toDF("user_id", "event_id", "ts")
    val out = StreamOps.sessionizeBatch(ev).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, tsMin(0), tsMin(10), 2L),
      (1L, tsMin(50), tsMin(50), 1L),
      (2L, tsMin(5), tsMin(5), 1L),
      (3L, tsMin(0), tsMin(30), 2L)))
  }

  test("substringDupWindowsStream: cross-batch duplicated positions equal the batch operator's") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boiler = (1 to 12).map(i => s"B$i").mkString(" ")
    val phrase = (1 to 6).map(i => s"P$i").mkString(" ")
    val corpus = Seq(
      0L -> s"u01 u02 u03 u04 u05 $boiler u06 u07 u08 u09",
      1L -> s"$boiler v01 v02 v03 v04 v05 v06",
      2L -> s"w01 w02 w03 $phrase x01 x02 x03 $phrase y01",
      3L -> (1 to 15).map(i => s"z$i").mkString(" "),
      4L -> "q1 q2 q3",
      5L -> (1 to 10).map(i => s"d$i").mkString(" "),
      6L -> (1 to 10).map(i => s"d$i").mkString(" "))
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.substringDupWindowsStream(input.toDF().toDF("doc_id", "text"), minLen = 5)
      .writeStream.format("memory").queryName("substr_win_out").outputMode("append").start()
    try {
      // doc 0 (boiler) and docs 2/3/4 first; the boiler's second copy (doc 1)
      // and the exact-dup pair (5,6) arrive in LATER batches, so doc 0's
      // positions must be emitted retroactively from carried state
      input.addData(corpus(0), corpus(2), corpus(3), corpus(4))
      q.processAllAvailable()
      input.addData(corpus(1), corpus(5))
      q.processAllAvailable()
      input.addData(corpus(6))
      q.processAllAvailable()
      // at-least-once replay: re-delivering doc 0 must not flip anything
      // (set-idempotent — its windows are source replays, not new corpus
      // occurrences)
      input.addData(corpus(0))
      q.processAllAvailable()
      val streamed = spark.table("substr_win_out")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // batch truth: every position covered by a span's window starts
      val batch = graft.operators.Dedup
        .duplicatedSpans(corpus.toDF("doc_id", "text"), minLen = 5)
        .collect().flatMap(r => (r.getAs[Long]("start_tok") to
          r.getAs[Long]("end_tok") - 4).map(p => (r.getAs[Long]("doc_id"), p.toInt)))
        .toSet
      assert(streamed == batch, s"stream ${streamed.toList.sorted} != batch ${batch.toList.sorted}")
      assert(streamed.contains((0L, 5)) && streamed.contains((2L, 3)) && streamed.contains((5L, 0)))
    } finally q.stop()
  }

  test("minhashPairsStream: cross-batch near-dup pairs equal the batch operator's") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
      (1L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (3L, "a completely different document about spark catalyst optimizer rules"),
      (4L, "a completely different document about spark catalyst optimizer rules ok"),
      (5L, "nothing like the others whatsoever just random words here banana"))
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.minhashPairsStream(input.toDF().toDF("doc_id", "text"), threshold = 0.5)
      .writeStream.format("memory").queryName("mh_pairs_out").outputMode("append").start()
    try {
      // split across batches: 1 and 4 arrive AFTER their near-dup partners,
      // so every pair requires bucket state carried between micro-batches
      input.addData((0L, corpus(0)._2), (2L, corpus(2)._2), (3L, corpus(3)._2), (5L, corpus(5)._2))
      q.processAllAvailable()
      input.addData((1L, corpus(1)._2), (4L, corpus(4)._2))
      q.processAllAvailable()
      val streamed = spark.table("mh_pairs_out")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.operators.Dedup.minhashLshPairs(corpus.toDF("doc_id", "text"), threshold = 0.5)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.contains((0L, 1L)) && streamed.contains((3L, 4L)))
    } finally q.stop()
  }

  test("minhashPairsStream: event-time stateTtl evicts idle buckets deterministically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // event-time eviction is watermark-driven, so the test needs NO
    // wall-clock sleeps and replays identically (the processing-time TTL
    // variant is untestable without them — the round-4 flake lesson)
    val dup = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val fillerA = "completely unrelated filler text about catalyst optimizer internals"
    val fillerB = "another unrelated filler document mentioning shuffle partitions only"
    def run(ttl: Option[String], name: String): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, Timestamp, String)]
      val q = StreamOps.minhashPairsStream(input.toDF().toDF("doc_id", "ts", "text"),
          threshold = 0.5, stateTtl = ttl, tsCol = Some("ts"), lateness = "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData((0L, ts(0), dup)) // first copy at t = 0 min
        q.processAllAvailable()
        // advance the watermark far past t=0 + TTL (1 hour). Two batches:
        // the watermark updates at batch END, and expirations fire in the
        // batch AFTER it advances
        input.addData((10L, ts(120), fillerA))
        q.processAllAvailable()
        input.addData((11L, ts(130), fillerB))
        q.processAllAvailable()
        input.addData((1L, ts(140), dup)) // duplicate arrives past the horizon
        q.processAllAvailable()
        spark.table(name).select("id_a", "id_b").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    // without a TTL the carried bucket state pairs (0, 1) across 3 batches
    assert(run(None, "mh_nottl_out") == Set((0L, 1L)))
    // with a 1-hour event-time TTL, doc 0's buckets were evicted when the
    // watermark passed t = 60 min — the later duplicate pairs with NOTHING
    assert(run(Some("1 hour"), "mh_ttl_out") == Set.empty[(Long, Long)])
  }

  test("substringDupWindowsStream: event-time stateTtl evicts idle windows deterministically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dup = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val fillerA = "one two three four five six seven eight nine ten eleven"
    val fillerB = "red orange yellow green blue indigo violet cyan magenta black white"
    def run(ttl: Option[String], name: String): Set[(Long, Int)] = {
      val input = MemoryStream[(Long, Timestamp, String)]
      val q = StreamOps.substringDupWindowsStream(input.toDF().toDF("doc_id", "ts", "text"),
          minLen = 10, stateTtl = ttl, tsCol = Some("ts"), lateness = "0 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData((0L, ts(0), dup))
        q.processAllAvailable()
        input.addData((10L, ts(120), fillerA))
        q.processAllAvailable()
        input.addData((11L, ts(130), fillerB))
        q.processAllAvailable()
        input.addData((1L, ts(140), dup)) // duplicate past the 1-hour horizon
        q.processAllAvailable()
        spark.table(name).select("doc_id", "pos").distinct()
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      } finally q.stop()
    }
    // without a TTL the stored first occurrence pairs retroactively
    assert(run(None, "sw_nottl_out") == Set((0L, 0), (1L, 0)))
    // with a 1-hour event-time TTL doc 0's window state was evicted before
    // the duplicate arrived — nothing is detected
    assert(run(Some("1 hour"), "sw_ttl_out") == Set.empty[(Long, Int)])
  }

  test("asofJoinStream: cross-batch as-of matches equal the batch operator exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // interleaved lefts/rights per key; rights unique per (key, ts) — the
    // documented determinism contract. Lefts include no-prior-right cases
    // (left-outer nulls) and ties with right timestamps (inclusive match).
    val rnd = new scala.util.Random(77)
    val events = (0 until 8).flatMap { k =>
      val rights = rnd.shuffle((0 until 200).toList).take(40)
        .map(t => StreamOps.AsofEvent(k.toLong, ts(t), is_left = false, 1000L * k + t, t * 1.5))
      val lefts = (0 until 60)
        .map(j => StreamOps.AsofEvent(k.toLong, ts(rnd.nextInt(220)), is_left = true, 5000L * k + j, 0.0))
      rights ++ lefts
    }
    val sorted = events.sortBy(_.ts.getTime)
    val input = MemoryStream[StreamOps.AsofEvent]
    val q = StreamOps.asofJoinStream(input.toDS(), lateness = "30 minutes")
      .writeStream.format("memory").queryName("asof_stream").outputMode("append").start()
    try {
      sorted.grouped(80).foreach { c => input.addData(c); q.processAllAvailable() }
      val maxT = sorted.last.ts.getTime
      input.addData(StreamOps.AsofEvent(-1L, new Timestamp(maxT + 3600000L), is_left = false, -1L, 0.0))
      q.processAllAvailable()
      input.addData(StreamOps.AsofEvent(-1L, new Timestamp(maxT + 7200000L), is_left = false, -2L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("asof_stream").as[StreamOps.AsofOut].collect()
        .filter(_.key >= 0)
        .map(o => (o.key, o.left_id, o.left_ts.getTime,
          o.right_id, o.right_ts.map(_.getTime), o.right_value)).toSet
      val leftDf = events.filter(_.is_left).map(e => (e.key, e.id, e.ts)).toDF("key", "left_id", "ts")
      val rightDf = events.filter(!_.is_left).map(e => (e.key, e.ts, e.id, e.value))
        .toDF("key", "ts", "id", "value")
      val batch = graft.operators.AsofJoin.asofJoin(leftDf, rightDf,
        on = "ts", by = Seq("key"), rightCols = Seq("ts", "id", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.getTimestamp(3)).map(_.getTime),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toSet
      assert(streamed.size == 8 * 60, s"every left must emit exactly once: ${streamed.size}")
      assert(streamed == batch, "stream as-of diverged from the batch operator")
    } finally q.stop()
  }
}
