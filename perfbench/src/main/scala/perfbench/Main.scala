package perfbench

import graft.SparkEntry
import graft.operators.{CrawlApi, CrawlConfig, CrawlEngine, CrawlHttpApi, CrawlRun}
import graft.sources.{TableCatalog, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The benchmark's JVM side: runs one workload, checks every output and
 * writes a result file (metrics, checks, report lines) for run.py.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --work DIR --data DIR --out FILE --spans FILE
 *
 * With --trace 0 the window is measured untraced. With --trace 1 the same
 * window runs with the Spark listener, the timing catalog and the HTTP client
 * spans attached, and the per-layer metrics come from it; run.py reports the
 * traced end-to-end numbers against the last untraced run as the tracing
 * overhead.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, out: String, spansOut: String)

  final class Result {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; errors += what }
      ok
    }
    def line(s: String): Unit = { report += s; System.err.println(s"[perfbench] $s") }
  }

  /** The measured window: operation wall times (seconds; infinite when the
    * operation failed) and work units completed per second. */
  final case class Phase(opSeconds: Seq[Double], throughput: Double) {
    def ops: Int = opSeconds.size
    def p50: Double = Main.median(opSeconds)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  val Workloads = Seq("crawl_bulk", "crawl_api", "curate_suite")

  /** crawl_bulk graph size: the largest round's frontier (206k urls) is past
    * the engine's 200k-row broadcast cap, so both fetch-join strategies run. */
  val BulkN = 245000L
  /** The warm-up crawl: a two-round graph, with a broadcast cap low enough
    * that its second round takes the shuffle join. */
  val WarmN = 56L
  val WarmBroadcastMaxRows = 16L
  /** crawl_api: each request crawls one small host (4 rounds: 1, 16, 256
    * and 27 urls); the large host only weighs on the fetch join's scan. */
  val ApiLarge = 10000L
  val ApiSmall = 300L
  val ApiSmallHosts = 120
  val ApiClients = 2

  /** The curation list: one of graft.Bench's headline queries, with its
    * DuckDB oracle, for each of six operator modules the crawl workloads
    * never touch. LinkGraph (graph_pagerank) and Bpe (text_bpe_tokens) are
    * left out: together they add about 13 s to a run, which the time the
    * benchmark may take does not allow. */
  val CurateQueries: Seq[(String, String)] = Seq(
    "dedup_minhash_pairs" -> "Dedup", "ann_topk_ivf" -> "Similarity",
    "text_quality" -> "TextAnalysis", "search_bm25_topk" -> "Search",
    "corpus_token_shards" -> "Packing", "q_asof_join" -> "AsofJoin")

  def curateMetric(q: String, module: String): String = s"curate.$module.${q}_s"

  /** Every per-layer metric, in BENCHMARK.json order; layers a workload does
    * not touch read 0. */
  val LayerMetrics: Seq[String] = Seq(
    "host.control_per_s",
    "httpkit.classify_per_s", "htmlkit.extract_links_per_s", "urlkit.parse_per_s",
    "urlkit.strip_fragment_per_s", "robotskit.allowed_per_s",
    "crawl_engine.rounds", "crawl_engine.round_s", "crawl_engine.pre_commit_s",
    "tableio.commit_s", "tableio.read_s", "tableio.files_written", "tableio.bytes_written",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.input_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.driver_gap_s",
    "spark.core_busy_share",
    "crawl_api.rounds_per_request", "crawl_api.jobs_per_request", "crawl_api.bytes_left_per_request",
    "crawl_api.latency_tail_s") ++ CurateQueries.map { case (q, m) => curateMetric(q, m) }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("data"), get("out"), get("spans"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the dedup operators truncate lineage on purpose; one WARN per unpersist
    // would flood the log
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    s
  }

  def main(argv: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spans = new Spans
    val res = new Result
    val spark = session(cores, a.work)
    val ctx = Ctx(spark, a, cores, spans, res, tStart)
    val control0 = Kits.control(spans)
    try {
      a.workload match {
        case "crawl_bulk"   => crawlBulk(ctx)
        case "crawl_api"    => crawlApi(ctx)
        case "curate_suite" => curateSuite(ctx)
      }
      val control1 = Kits.control(spans)
      res.line(f"host control loop: ${control0 / 1e6}%.1f M/s at start, ${control1 / 1e6}%.1f M/s at end")
      if (a.trace) {
        res.metrics("host.control_per_s") = control1
        LayerMetrics.foreach(k => if (!res.metrics.contains(k)) res.metrics(k) = 0.0)
        res.line("self time by layer (traced window):")
        spans.selfSeconds.foreach { case (name, s) => res.line(f"  $name%-28s $s%9.3f s") }
        spans.writeJsonLines(Paths.get(a.spansOut), tStart)
      }
    } catch {
      case e: Throwable =>
        res.failed += 1; res.attempted += 1
        res.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      spark.stop()
    }
    writeResult(ctx)
  }

  final case class Ctx(spark: SparkSession, a: Args, cores: Int, spans: Spans, res: Result, tStart: Long) {
    def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    /** The measured window: traced or not, every end-to-end metric is
      * recorded; run.py picks the ones the mode reports. */
    def measure(run: (Boolean, Double) => Phase): Unit = {
      val p = run(a.trace, a.seconds)
      res.metrics("latency_p50_s") = p.p50
      res.metrics("throughput_per_s") = p.throughput
      res.metrics("heap_live_mb") = Heap.liveMb()
      res.line(f"measured ${p.ops} operations")
    }
    /** Whether the window has room for another operation like the last ones. */
    def another(t0: Long, seconds: Double, opSeconds: Seq[Double]): Boolean = {
      val done = opSeconds.filterNot(_.isInfinite)
      opSeconds.isEmpty || since(t0) + (if (done.isEmpty) 0.0 else median(done)) <= seconds
    }
    /** Attach the listener for a traced phase; returns it with its window. */
    def listen[T](body: => T): (T, SparkStats, Long) = {
      val stats = new SparkStats(spans)
      spark.sparkContext.addSparkListener(stats)
      val t0 = System.nanoTime()
      val out = try body finally {
        stats.drain()
        spark.sparkContext.removeSparkListener(stats)
      }
      (out, stats, System.nanoTime() - t0)
    }
    def setupDone(): Unit = {
      res.metrics("setup_s") = since(tStart)
      res.line(f"setup ${since(tStart)}%.3f s")
    }
    def kits(site: Site): Unit = if (a.trace) {
      val ids = (0 until 2000).map(i => Math.floorMod(Site.mix(a.seed * 7919L + i), site.n))
      val pages = ids.flatMap(id => site.rows(id)).map(r => (r.url, r.html))
      val robots = new String(graft.httpkit.HttpKit.parseResponse(site.robotsRow(0).html).get.body, "UTF-8")
      Kits.run(pages, robots, 500L * 1000 * 1000, spans).foreach { case (k, v) => res.metrics(k) = v }
    }
  }

  // ---- crawl_bulk -------------------------------------------------------------

  def crawlBulk(c: Ctx): Unit = {
    import c._
    val site = Site.bulk(a.seed, BulkN)
    val exp = site.expectAll(0 until site.hosts)
    require(exp.largestFrontier > CrawlConfig().broadcastFrontierMaxRows,
      s"largest frontier ${exp.largestFrontier} is under the broadcast cap")
    val dir = s"${a.work}/pages-bulk"
    site.write(spark, dir, cores * 2)
    val pages = spark.read.parquet(dir)
    res.line(f"generated ${site.n} pages in ${since(tStart)}%.3f s since start")

    // untimed warm-up crawl over a small graph, through both fetch joins
    val warm = Site.bulk(a.seed + 1, WarmN)
    val warmDir = s"${a.work}/pages-warm"
    warm.write(spark, warmDir, cores * 2)
    val ck = s"${a.work}/ckpt-warm"
    val run = new CrawlEngine(spark, spark.read.parquet(warmDir),
      CrawlConfig(broadcastFrontierMaxRows = WarmBroadcastMaxRows), ck).crawlAll((0 until warm.hosts).map(warm.seedUrl))
    checkBulk(c, run, ck, warm.expectAll(0 until warm.hosts), "warm-up crawl")
    deleteTree(Paths.get(ck))
    res.line(f"warm-up crawl done at ${since(tStart)}%.3f s since start")
    setupDone()

    var n = 0
    measure { (traced, seconds) =>
      val timing = TimingCatalog(spans)
      val catalog: TableCatalog = if (traced) timing else TableIO
      val walls = mutable.ArrayBuffer.empty[Double]
      val runs = mutable.ArrayBuffer.empty[(CrawlRun, String)]
      val (_, stats, window) = maybeListen(c, traced) {
        val t0 = System.nanoTime()
        while (another(t0, seconds, walls.toSeq)) {
          val ck = s"${a.work}/ckpt-bulk-$n"; n += 1
          val s0 = System.nanoTime()
          runs += ((new CrawlEngine(spark, pages, CrawlConfig(), ck, catalog)
            .crawlAll((0 until site.hosts).map(site.seedUrl)), ck))
          val s1 = System.nanoTime()
          if (traced) spans.add("workload.op", s0, s1, s"crawl=$n")
          walls += (s1 - s0) / 1e9
        }
      }
      // checked after the window, so that the checks' Spark jobs stay out of it
      val oks = runs.zipWithIndex.map { case ((run, ck), i) =>
        try checkBulk(c, run, ck, exp, s"crawl $i") finally deleteTree(Paths.get(ck))
      }
      val okWalls = walls.zip(oks).collect { case (w, true) => w }
      val p = Phase(walls.zip(oks).map { case (w, ok) => if (ok) w else Double.PositiveInfinity }.toSeq,
        okWalls.size * exp.processed / okWalls.sum)
      res.line(f"crawl_bulk ${if (traced) "traced" else "untraced"}: crawls ${walls.map(w => f"$w%.3f").mkString(" ")} s, " +
        f"${exp.processed} urls each (fetched ${exp.fetched}, deduped ${exp.deduped}, robots_denied ${exp.robotsDenied}), " +
        f"${exp.rounds} rounds, largest frontier ${exp.largestFrontier}")
      if (traced) {
        layerCrawl(c, timing, p.ops, exp.frontiers)
        stats.metrics(window, cores, p.ops).foreach { case (k, v) => res.metrics(k) = v }
        sparkRows(c, stats, crawlGroup)
      }
      p
    }
    kits(site)
  }

  /** Counters and result rows of a bulk crawl against the expectation. */
  def checkBulk(c: Ctx, run: CrawlRun, ck: String, exp: Expect, what: String): Boolean = {
    val rs = run.rounds
    val got = (rs.map(_.fetched).sum, rs.map(_.deduped).sum, rs.map(_.robotsDenied).sum, rs.size)
    val want = (exp.fetched, exp.deduped, exp.robotsDenied, exp.rounds)
    // results read straight from the checkpoint, bypassing any timing wrapper
    val results = TableIO.readTables(c.spark, (0 to run.lastRound).map(TableIO.readSnapshot(ck, _)), "results_inc")
    val row = results.agg(count(lit(1)), countDistinct(col("seed"), col("url"))).head()
    val rows = (row.getLong(0), row.getLong(1))
    c.res.check(got == want && run.failures.isEmpty,
      s"$what: (fetched, deduped, robots_denied, rounds) = $got, expected $want") &&
    c.res.check(rows == (exp.resultRows, exp.resultRows),
      s"$what: (result rows, distinct (seed, url)) = $rows, expected one row per url: ${exp.resultRows}")
  }

  /** Run `body`, under the Spark listener when traced; returns its value,
    * the listener (null when untraced) and the wall time. */
  def maybeListen[T](c: Ctx, traced: Boolean)(body: => T): (T, SparkStats, Long) =
    if (traced) c.listen(body)
    else { val t0 = System.nanoTime(); val out = body; (out, null, System.nanoTime() - t0) }

  /** crawl_engine and tableio rows of a traced crawl phase. */
  def layerCrawl(c: Ctx, timing: TimingCatalog, ops: Int, frontiers: Seq[Long]): Unit = {
    import c._
    val rounds = timing.rounds
    rounds.foreach { case (cm, total, pre) =>
      spans.add("crawl_engine.round", cm.end - total, cm.end, s"round=${cm.round}")
    }
    val commits = timing.commits.asScala.toSeq
    val m = res.metrics
    m("crawl_engine.rounds") = rounds.size.toDouble / ops
    m("crawl_engine.round_s") = rounds.map(_._2).sum / 1e9 / math.max(1, rounds.size)
    m("crawl_engine.pre_commit_s") = rounds.map(_._3).sum / 1e9 / math.max(1, rounds.size)
    m("tableio.commit_s") = commits.map(x => x.end - x.start).sum / 1e9 / ops
    m("tableio.read_s") = timing.readNs.get / 1e9 / ops
    m("tableio.files_written") = commits.map(_.files).sum.toDouble / ops
    m("tableio.bytes_written") = commits.map(_.bytes).sum.toDouble / ops
    res.line("round   frontier   round_s  pre_commit_s  commit_s  files   (traced; mean over operations)")
    rounds.groupBy(_._1.round).toSeq.sortBy(_._1).foreach { case (r, rs) =>
      val k = rs.size.toDouble
      res.line(f"$r%5d ${frontiers.lift(r - 1).map(_.toString).getOrElse("-")}%10s " +
        f"${rs.map(_._2).sum / 1e9 / k}%9.3f ${rs.map(_._3).sum / 1e9 / k}%13.3f " +
        f"${rs.map(x => x._1.end - x._1.start).sum / 1e9 / k}%9.3f ${rs.map(_._1.files).sum / k}%6.0f")
    }
  }

  /** Groups crawl jobs by round; a request's first jobs carry its id. */
  def crawlGroup(d: String): String =
    if (d.startsWith("crawl round=")) d.split(' ').take(2).mkString(" ")
    else if (d.startsWith("[req ")) "request: parse, robots, round 0"
    else if (d.isEmpty) "(no description)" else d

  def sparkRows(c: Ctx, stats: SparkStats, group: String => String): Unit = {
    c.res.line("spark jobs by description: jobs  tasks  task_s  wall_s")
    stats.byDescription(group).foreach { case (g, jobs, tasks, taskS, wallS) =>
      c.res.line(f"  $g%-40s $jobs%5d $tasks%6d $taskS%8.3f $wallS%8.3f")
    }
  }

  // ---- crawl_api --------------------------------------------------------------

  def crawlApi(c: Ctx): Unit = {
    import c._
    val site = Site.api(a.seed, ApiLarge, ApiSmall, ApiSmallHosts)
    val dir = s"${a.work}/pages-api"
    site.write(spark, dir, cores * 2)
    val pages = spark.read.parquet(dir)
    // distinct hosts for every request of the run, in a seeded order
    val order = new scala.util.Random(a.seed).shuffle((1 to ApiSmallHosts).toVector)
    val next = new java.util.concurrent.atomic.AtomicInteger()
    def takeHost(): Int = {
      val i = next.getAndIncrement()
      require(i < order.size, "the run used up its distinct hosts; raise ApiSmallHosts")
      order(i)
    }
    val expected = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    def expectedCount(h: Int): Long = expected.computeIfAbsent(h, hh => site.expect(hh).resultRows)

    val api = new CrawlApi(spark, pages)
    val server = new CrawlHttpApi(api).start()
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    try {
      /** One GET /crawl/{seed}/count; returns (ok, start, end, request id). */
      def request(h: Int): (Boolean, Long, Long, String) = {
        val seed = java.net.URLEncoder.encode(site.seedUrl(h), "UTF-8")
        val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${server.boundPort}/crawl/$seed/count"))
          .timeout(java.time.Duration.ofSeconds(150)).GET().build()
        val want = expectedCount(h)
        val t0 = System.nanoTime()
        val (ok, id, what) =
          try {
            val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
            val got = """"page_count":\s*(\d+)""".r.findFirstMatchIn(r.body).map(_.group(1).toLong)
            (r.statusCode == 200 && got.contains(want), r.headers.firstValue("X-REQ-ID").orElse(""),
              s"status ${r.statusCode}, body ${r.body.take(200)}")
          } catch { case e: Exception => (false, "", e.toString) }
        val t1 = System.nanoTime()
        res.check(ok, s"request for host $h: $what, expected page_count $want")
        (ok, t0, t1, id)
      }
      /** Closed loop: each client sends its next request when the last one
        * returns, while the window has room for one as long as its earlier
        * ones. Throughput is the sum of the clients' own rates, so one
        * client's idle end of the window does not count against the other. */
      def loop(seconds: Double, traced: Boolean): Phase = {
        val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val rates = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val t0 = System.nanoTime()
        val threads = (1 to ApiClients).map { _ =>
          new Thread(() => {
            var ok, end = 0L
            val mine = mutable.ArrayBuffer.empty[Double]
            while (another(t0, seconds, mine.toSeq)) {
              val (fine, s0, s1, id) = request(takeHost())
              if (traced) spans.add("http.request", s0, s1, id)
              mine += (if (fine) (s1 - s0) / 1e9 else Double.PositiveInfinity)
              if (fine) ok += 1
              end = s1
            }
            mine.foreach(lat.add)
            rates.add(ok / ((end - t0) / 1e9))
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        Phase(lat.asScala.toSeq, rates.asScala.sum)
      }

      // warm-up: one round of the closed loop's shape
      val warm = (1 to ApiClients).map(_ => new Thread(() => { request(takeHost()); () }))
      warm.foreach(_.start()); warm.foreach(_.join())
      setupDone()

      measure { (traced, seconds) =>
        val (p, stats, window) = maybeListen(c, traced)(loop(seconds, traced))
        val lat = p.opSeconds.sorted
        val tailIdx = lat.size - 11
        val tail = if (tailIdx >= 0) lat(tailIdx) else lat.last
        val pct = if (tailIdx >= 0) f"p${100.0 * (tailIdx + 1) / lat.size}%.1f" else "max (fewer than 11 requests)"
        res.line(f"crawl_api ${if (traced) "traced" else "untraced"}: ${p.ops} requests from $ApiClients closed-loop clients, " +
          f"latency p50 ${p.p50}%.3f s, tail $pct ${tail}%.3f s (n=${p.ops}), ${p.throughput}%.4f requests/s")
        if (traced) {
          res.metrics("crawl_api.latency_tail_s") = tail
          stats.metrics(window, cores, p.ops).foreach { case (k, v) => res.metrics(k) = v }
          res.metrics("crawl_api.jobs_per_request") = stats.jobs.size.toDouble / p.ops
          sparkRows(c, stats, crawlGroup)
        }
        p
      }

      if (a.trace) {
        // checkpoint bytes each request left behind (CrawlApi keeps them)
        val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
        val dirs = Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.startsWith("graft-api-crawl-")).toSeq
        res.metrics("crawl_api.bytes_left_per_request") = dirs.map(treeBytes).sum.toDouble / dirs.size
        res.metrics("crawl_api.rounds_per_request") =
          dirs.map(d => TableIO.latestRound(d.toString).getOrElse(0)).sum.toDouble / dirs.size
        // the engine and table layers of a request: the calls CrawlApi.count
        // makes (crawl the seed, count its results), with the timing catalog
        val timing = TimingCatalog(spans)
        val direct = (1 to ApiClients).map { i =>
          new Thread(() => {
            val h = takeHost()
            val seed = site.seedUrl(h)
            val t0 = System.nanoTime()
            val n = new CrawlEngine(spark, pages, CrawlConfig(), s"${a.work}/ckpt-direct-$i", timing)
              .crawl(seed).count(seed)
            spans.add("workload.op", t0, System.nanoTime(), s"direct=$i")
            res.check(n == expectedCount(h), s"direct request for host $h: count $n, expected ${expectedCount(h)}")
          })
        }
        direct.foreach(_.start()); direct.foreach(_.join())
        val ops = ApiClients
        layerCrawl(c, timing, ops, site.expect(order.head).frontiers)
      }
      kits(site)
    } finally {
      server.stop()
    }
  }

  // ---- curate_suite -----------------------------------------------------------

  def curateSuite(c: Ctx): Unit = {
    import c._
    val order = new scala.util.Random(a.seed).shuffle(CurateQueries)
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val outDir = Paths.get(a.work, "curate")
    // warm-up pass doubling as the check pass: every result is written out
    // for run.py's DuckDB oracle comparison
    order.foreach { case (q, _) =>
      spark.sparkContext.setJobDescription(s"curate $q")
      try queries(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q).toString)
      catch { case e: Exception => res.check(ok = false, s"$q failed in the check pass: $e") }
    }
    spark.sparkContext.setJobDescription(null)
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracle_sql.json"),
      CurateQueries.map { case (q, _) => s"${Json.str(q)}: ${Json.str(oracles(q))}" }.mkString("{", ",\n", "}"))
    setupDone()

    measure { (traced, seconds) =>
      val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val passes = mutable.ArrayBuffer.empty[Double]
      val (_, stats, window) = maybeListen(c, traced) {
        val t0 = System.nanoTime()
        while (another(t0, seconds, passes.toSeq)) {
          val p0 = System.nanoTime()
          var ok = true
          order.foreach { case (q, _) =>
            spark.sparkContext.setJobDescription(s"curate $q")
            val q0 = System.nanoTime()
            val err = try { queries(q)(spark, a.data).write.format("noop").mode("overwrite").save(); None }
            catch { case e: Exception => Some(e.toString) }
            val q1 = System.nanoTime()
            ok &&= res.check(err.isEmpty, s"$q failed: ${err.getOrElse("")}")
            if (traced) spans.add("curate.query", q0, q1, q)
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (q1 - q0) / 1e9
          }
          spark.sparkContext.setJobDescription(null)
          val p1 = System.nanoTime()
          if (traced) spans.add("workload.op", p0, p1, s"pass=${passes.size}")
          passes += (if (ok) (p1 - p0) / 1e9 else Double.PositiveInfinity)
        }
      }
      val okPasses = passes.filterNot(_.isInfinite)
      val p = Phase(passes.toSeq, okPasses.size * order.size / okPasses.sum)
      res.line(f"curate_suite ${if (traced) "traced" else "untraced"}: ${passes.size} passes over " +
        f"${order.size} queries: ${passes.map(x => f"$x%.3f").mkString(" ")} s")
      if (traced) {
        CurateQueries.foreach { case (q, m) => res.metrics(curateMetric(q, m)) = median(perQuery(q).toSeq) }
        stats.metrics(window, cores, passes.size).foreach { case (k, v) => res.metrics(k) = v }
        sparkRows(c, stats, d => d)
      }
      p
    }
    kits(Site.bulk(a.seed, BulkN))
  }

  // ---- output -------------------------------------------------------------------

  def treeBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally st.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toList.reverse.foreach(Files.delete) finally st.close()
  }

  def writeResult(c: Ctx): Unit = {
    val r = c.res
    val conditions = Seq(
      "nproc" -> c.cores.toString,
      "mem_total_kb" -> scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .find(_.startsWith("MemTotal:")).get.replaceAll("[^0-9]", "")).getOrElse("unknown"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "master" -> s"local[${c.cores}]")
    val json =
      s"""{"attempted": ${r.attempted}, "failed": ${r.failed},
         | "errors": ${r.errors.map(Json.str).mkString("[", ", ", "]")},
         | "metrics": ${r.metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")},
         | "report": ${r.report.map(Json.str).mkString("[", ",\n  ", "]")},
         | "conditions": ${conditions.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")}}
         |""".stripMargin
    Files.writeString(Paths.get(c.a.out), json)
  }
}
