package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{CrawlConfig, CrawlEngine, CrawlRun}
import graft.sources.PagesGen

/**
 * Ports of ALL 13 reference crawler unit tests (/root/reference/src/
 * crawler.rs:385-1014) and the 5 integration tests (tests/integration.rs)
 * against the synthetic pages table (FIXTURES.md), plus engine-specific
 * coverage (politeness budget, multi-seed, resume, temp checkpoints).
 *
 * Hit-count asserts (e.g. crawler.rs:728-735) become "each fetched url has
 * exactly one result row and the counters' fetched-sum equals the number of
 * fetched urls" — the engine records exactly one result per fetch.
 */
class CrawlEngineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val pages = PagesGen.fixtures(spark).cache()

  /** Collected view of one crawl's result rows, keyed by url. */
  case class R(
      t: String, status: Option[Int] = None, body: Option[String] = None,
      location: Option[String] = None, ct: Option[String] = None,
      err: Option[String] = None,
      il: Option[Seq[String]] = None, el: Option[Seq[String]] = None)

  private def collectMap(run: CrawlRun, seed: String): Map[String, R] = {
    val rows = run.resultFor(seed).collect()
    val m = rows.map { r =>
      def opt[T](name: String): Option[T] =
        if (r.isNullAt(r.fieldIndex(name))) None else Some(r.getAs[T](name))
      r.getAs[String]("url") -> R(
        r.getAs[String]("result_type"),
        opt[Int]("status"), opt[String]("body"), opt[String]("location"),
        opt[String]("content_type"), opt[String]("error"),
        opt[Seq[String]]("internal_links"), opt[Seq[String]]("external_links"))
    }.toMap
    assert(m.size == rows.length, "duplicate result rows for a url — exactly-once violated")
    m
  }

  private def doCrawl(seed: String, cfg: CrawlConfig = CrawlConfig()): (CrawlRun, Map[String, R]) = {
    val run = new CrawlEngine(spark, pages, cfg).crawl(seed)
    (run, collectMap(run, seed))
  }

  private def crawled(il: Seq[String] = Seq.empty, el: Seq[String] = Seq.empty): R =
    R("Crawled", il = Some(il), el = Some(el))

  private val X = PagesGen.X

  // ---- the 13 crawler.rs unit tests ----------------------------------------

  test("reports_single_server_error (crawler.rs:560-581)") {
    val seed = s"${PagesGen.host("server-error")}/start"
    val (_, m) = doCrawl(seed)
    assert(m == Map(seed -> R("ServerFailure", status = Some(500), body = Some("Internal server error"))))
  }

  test("reports_single_network_error (crawler.rs:583-597)") {
    val seed = s"${PagesGen.host("network-error")}/start"
    val (_, m) = doCrawl(seed)
    assert(m == Map(seed -> R("Error", err = Some("Connection failed"))))
  }

  test("reports_single_page_with_external_links (crawler.rs:599-621)") {
    val seed = s"${PagesGen.host("external-only")}/start"
    val (_, m) = doCrawl(seed)
    assert(m == Map(seed -> crawled(el = Seq(s"$X/another"))))
  }

  test("follows_redirects (crawler.rs:623-656)") {
    val h = PagesGen.host("redirect-target")
    val (_, m) = doCrawl(s"$h/redirect")
    assert(m == Map(
      s"$h/redirect" -> R("Redirect", status = Some(302), location = Some(s"$h/target")),
      s"$h/target" -> crawled(el = Seq(s"$X/another"))))
  }

  test("crawls_multiple_pages (crawler.rs:658-680)") {
    val h = PagesGen.host("multi-links")
    val (run, m) = doCrawl(s"$h/start")
    assert(m == Map(
      s"$h/start" -> crawled(il = Seq(s"$h/link1", s"$h/link2")),
      s"$h/link1" -> crawled(),
      s"$h/link2" -> crawled()))
    assert(run.status.map(_.fetched).sum == 3)
  }

  test("handles_cycles (crawler.rs:682-704)") {
    val h = PagesGen.host("cycle")
    val (run, m) = doCrawl(s"$h/start")
    assert(m == Map(
      s"$h/start" -> crawled(il = Seq(s"$h/link1")),
      s"$h/link1" -> crawled(il = Seq(s"$h/link2")),
      s"$h/link2" -> crawled(il = Seq(s"$h/start"))))
    assert(run.status.map(_.fetched).sum == 3) // each fetched exactly once
  }

  test("handles_parallel_cycles (crawler.rs:706-735)") {
    val h = PagesGen.host("parallel-cycle")
    val (run, m) = doCrawl(s"$h/start")
    assert(m(s"$h/start") == crawled(il = Seq(s"$h/link1", s"$h/link2")))
    assert(m(s"$h/link1") == crawled(il = Seq(s"$h/start", s"$h/link2")))
    assert(m(s"$h/link2") == crawled(il = Seq(s"$h/start", s"$h/link1")))
    assert(run.status.map(_.fetched).sum == 3)
  }

  test("doesnt_follow_external_redirects (crawler.rs:737-757)") {
    val h = PagesGen.host("external-redirect")
    val (_, m) = doCrawl(s"$h/redirect")
    assert(m == Map(
      s"$h/redirect" -> R("Redirect", status = Some(302), location = Some(s"$X/target"))))
  }

  test("dont_revisit_after_redirect (crawler.rs:759-790)") {
    val h = PagesGen.host("redirect-no-revisit")
    val (run, m) = doCrawl(s"$h/start")
    assert(m == Map(
      s"$h/start" -> crawled(il = Seq(s"$h/redirect")),
      s"$h/redirect" -> R("Redirect", status = Some(302), location = Some(s"$h/start"))))
    assert(run.status.map(_.fetched).sum == 2) // start fetched once
  }

  test("dont_revisit_if_found_from_redirect (crawler.rs:792-826)") {
    val h = PagesGen.host("redirect-found-first")
    val (run, m) = doCrawl(s"$h/redirect")
    assert(m == Map(
      s"$h/redirect" -> R("Redirect", status = Some(302), location = Some(s"$h/target")),
      s"$h/target" -> crawled(il = Seq(s"$h/back")),
      s"$h/back" -> crawled(il = Seq(s"$h/target"))))
    assert(run.status.map(_.fetched).sum == 3)
  }

  test("fragments: queue key stripped, recorded links keep fragments (crawler.rs:828-850)") {
    val h = PagesGen.host("fragments")
    val (run, m) = doCrawl(s"$h/page")
    assert(m == Map(
      s"$h/page" -> crawled(il = Seq(s"$h/page#link1", s"$h/page#link2"))))
    assert(run.status.map(_.fetched).sum == 1) // page fetched exactly once
  }

  test("reports_other_content (crawler.rs:852-866)") {
    val seed = s"${PagesGen.host("non-html")}/thing.pdf"
    val (_, m) = doCrawl(seed)
    assert(m == Map(seed -> R("OtherContent", ct = Some("x-application/pdf"))))
  }

  test("excludes_urls_disallowed_by_robots_txt (crawler.rs:868-894; integration.rs:119-197)") {
    val h = PagesGen.host("robots-excluded")
    val (run, m) = doCrawl(s"$h/start")
    assert(m == Map(
      s"$h/start" -> crawled(il = Seq(s"$h/disallowed"), el = Seq(s"$X/another")),
      s"$h/disallowed" -> R("ExcludedByRobotsTxt")))
    // the disallowed page is never fetched (zero hits): only /start was fetched
    assert(run.status.map(_.fetched).sum == 1)
    assert(run.status.map(_.robotsDenied).sum == 1)
  }

  // ---- integration.rs tests not covered above -------------------------------

  test("relative_redirects (integration.rs:59-85)") {
    val seed = "http://127.0.0.1:8001/start"
    val (_, m) = doCrawl(seed)
    // Location "/next" resolved against the request url (http_client.rs:83);
    // same-domain via the None==None IP quirk → followed → absent row → Error
    assert(m(seed) == R("Redirect", status = Some(301), location = Some("http://127.0.0.1:8001/next")))
    assert(m("http://127.0.0.1:8001/next") == R("Error", err = Some("Connection failed")))
  }

  test("collected_things — full golden result (integration.rs:207-330)") {
    val h = "http://127.0.0.1:8000"
    val (run, m) = doCrawl(s"$h/start")
    assert(m.keySet == Set(s"$h/start", s"$h/another", s"$h/third", s"$h/pdf",
      s"$h/redirect", s"$h/relative"))
    // exact document order of start's links (integration.rs:306-315)
    assert(m(s"$h/start") == crawled(
      il = Seq(s"$h/another", s"$h/third", s"$h/pdf", s"$h/redirect", s"$h/relative"),
      el = Seq(s"$X/another")))
    assert(m(s"$h/another") == crawled(il = Seq(s"$h/third")))
    assert(m(s"$h/third") == crawled(il = Seq(s"$h/relative")))
    assert(m(s"$h/relative") == crawled(il = Seq(s"$h/third")))
    assert(m(s"$h/pdf") == R("OtherContent", ct = Some("x-application/something")))
    assert(m(s"$h/redirect") == R("Redirect", status = Some(301), location = Some(s"$h/start")))
    // every url fetched exactly once (integration.rs:324-329)
    assert(run.status.map(_.fetched).sum == 6)
    assert(run.count(s"$h/start") == 6)
    // /list projection (api.rs:145-163)
    assert(run.list(s"$h/start").collect().map(_.getString(0)).toSet == m.keySet)
  }

  // ---- classification edge cases (http_client.rs gaps) ----------------------

  test("no content type on OK response (http_client.rs:69-70)") {
    val seed = s"${PagesGen.host("no-content-type")}/start"
    val (_, m) = doCrawl(seed)
    assert(m == Map(seed -> R("Error", err = Some("No content type on OK response"))))
  }

  test("unparseable mime type (http_client.rs:72)") {
    val seed = s"${PagesGen.host("bad-mime")}/start"
    val (_, m) = doCrawl(seed)
    assert(m(seed).t == "Error")
    assert(m(seed).err.get.startsWith("invalid mime type"))
  }

  test("redirect without Location header (http_client.rs:83-85)") {
    val seed = s"${PagesGen.host("no-location")}/start"
    val (_, m) = doCrawl(seed)
    assert(m == Map(seed -> R("Error", err = Some("No Location header on redirect"))))
  }

  // ---- robots edge semantics -------------------------------------------------

  test("seed itself excluded by robots: zero fetches") {
    val seed = s"${PagesGen.host("robots-seed-excluded")}/start"
    val (run, m) = doCrawl(seed)
    assert(m == Map(seed -> R("ExcludedByRobotsTxt")))
    assert(run.status.map(_.fetched).sum == 0)
  }

  test("non-404 robots failure fails the whole crawl (http_client.rs:96-105)") {
    val seed = s"${PagesGen.host("robots-failure")}/start"
    val run = new CrawlEngine(spark, pages).crawl(seed)
    assert(run.failures(seed) == "Got status 500 for robots.txt")
    intercept[CrawlEngine.CrawlFailedException] { run.resultFor(seed) }
  }

  test("invalid seed url fails fast (api.rs:40-49)") {
    intercept[IllegalArgumentException] {
      new CrawlEngine(spark, pages).crawl("not a url")
    }
  }

  test("invalid CrawlConfig values fail at construction, naming the field, before any commit") {
    val bad: Seq[(String, CrawlConfig)] = Seq(
      "perHostBudgetPerRound" -> CrawlConfig(perHostBudgetPerRound = 0),
      "roundSeconds" -> CrawlConfig(roundSeconds = 0.0),
      "maxRounds" -> CrawlConfig(maxRounds = -1),
      "broadcastFrontierMaxRows" -> CrawlConfig(broadcastFrontierMaxRows = -1))
    bad.foreach { case (field, cfg) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-badcfg-")
      val e = intercept[IllegalArgumentException] {
        new CrawlEngine(spark, pages, cfg, dir.toString).crawl("http://127.0.0.1:8000/start")
      }
      assert(e.getMessage.contains(field), s"$field: ${e.getMessage}")
      assert(dir.toFile.list().isEmpty, s"$field: checkpoint dir written")
      java.nio.file.Files.delete(dir)
    }
  }

  // ---- engine-specific: counters, politeness, multi-seed, resume, json

  test("per-round counters (crawler.rs:369-382 /status analogue)") {
    val h = PagesGen.host("cycle")
    val (run, _) = doCrawl(s"$h/start")
    val rs = run.status
    assert(rs.map(_.fetched) == Vector(1, 1, 1))
    assert(rs.last.done == 3)
    assert(rs.last.todo == 0)
    assert(rs.map(_.deduped).sum == 1) // link2 → start rediscovered once
  }

  test("temp checkpoint registry: deleteAll removes the dirs it made, and only those") {
    import java.nio.file.{Files, Paths}
    val temps = new CrawlEngine.TempDirs("graft-tempdirs-test-")
    val made = Seq(temps.create(), temps.create())
    // a nested file and dir, as a committed round leaves them
    Files.createDirectories(Paths.get(made.head, "r00000", "frontier"))
    Files.writeString(Paths.get(made.head, "r00000", "frontier", "part-0.parquet"), "x")
    val other = Files.createTempDirectory("graft-tempdirs-other-")
    assert(made.forall(d => Files.isDirectory(Paths.get(d))))
    temps.deleteAll()
    assert(made.forall(d => !Files.exists(Paths.get(d))))
    assert(Files.isDirectory(other))
    temps.deleteAll() // nothing left to delete
    Files.delete(other)
  }

  test("politeness: per-host budget defers, result unchanged") {
    val h = PagesGen.host("multi-links")
    val cfg = CrawlConfig(perHostBudgetPerRound = 1)
    val (run, m) = doCrawl(s"$h/start", cfg)
    val (_, m2) = doCrawl(s"$h/start")
    assert(m == m2)
    assert(run.status.map(_.deferred).sum >= 1) // link2 deferred one round
    assert(run.status.length == 3)              // one extra round paid
  }

  test("priority score reorders fetches within the politeness budget, same final set") {
    val h = PagesGen.host("multi-links")
    val seed = s"$h/start"
    // budget 1/host/round: round 2 fetches exactly one of link1/link2
    def fetchedInRound2(cfg: CrawlConfig): Set[String] = {
      val dir = TestSpark.tempDir("graft-prio-")
      val run = new CrawlEngine(spark, pages, cfg, dir).crawl(seed)
      val r2 = graft.sources.TableIO.readSnapshot(dir, 2)
      val urls = spark.read.parquet(r2.tables("results_inc"))
        .filter(col("result_type") =!= "ExcludedByRobotsTxt")
        .select("url").collect().map(_.getString(0)).toSet
      assert(collectMap(run, seed).keySet == Set(seed, s"$h/link1", s"$h/link2"))
      urls
    }
    // default order: shallowest depth then url asc → link1 first
    assert(fetchedInRound2(CrawlConfig(perHostBudgetPerRound = 1)) == Set(s"$h/link1"))
    // score expression flips the order: rank url descending → link2 first;
    // the FINAL crawl set is unchanged (priority affects scheduling only)
    assert(fetchedInRound2(CrawlConfig(perHostBudgetPerRound = 1,
      priorityScore = Some("url"))) == Set(s"$h/link2"))
  }

  test("politeness: robots Crawl-delay shrinks the budget") {
    val h = PagesGen.host("politeness")
    // crawl-delay 10s, round represents 10s → budget 1 fetch/host/round
    val cfg = CrawlConfig(roundSeconds = 10.0)
    val (run, m) = doCrawl(s"$h/start", cfg)
    assert(m.keySet == Set(s"$h/start", s"$h/a", s"$h/b"))
    assert(run.status.map(_.deferred).sum >= 1)
    val (_, m2) = doCrawl(s"$h/start") // default: generous budget, same result
    assert(m == m2)
  }

  test("multi-seed job equals per-seed crawls") {
    val s1 = s"${PagesGen.host("cycle")}/start"
    val s2 = s"${PagesGen.host("multi-links")}/start"
    val run = new CrawlEngine(spark, pages).crawlAll(Seq(s1, s2))
    val m1 = collectMap(run, s1)
    val m2 = collectMap(run, s2)
    val (_, e1) = doCrawl(s1)
    val (_, e2) = doCrawl(s2)
    assert(m1 == e1)
    assert(m2 == e2)
  }

  test("resume from checkpoint reproduces the exact final state (north rule St4)") {
    val h = "http://127.0.0.1:8000"
    val seed = s"$h/start"
    val dir = TestSpark.tempDir("graft-resume-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl(seed)
    val expected = collectMap(run, seed)
    val lastRound = run.lastRound
    assert(lastRound >= 2)
    // simulate a kill after round 1's commit: delete every later round
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala.toList.foreach { p =>
      val name = p.getFileName.toString
      val round =
        if (name.startsWith("manifest-r")) Some(name.stripPrefix("manifest-r").stripSuffix(".json").toInt)
        else if (name.startsWith("r") && name.drop(1).forall(_.isDigit)) Some(name.drop(1).toInt)
        else None
      if (round.exists(_ > 1)) {
        // recursive delete
        Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)
      }
    }
    val resumed = new CrawlEngine(spark, pages, CrawlConfig(), dir).resume()
    assert(resumed.lastRound == lastRound)
    assert(collectMap(resumed, seed) == expected)
  }

  test("legacy checkpoint: manifests with a seen_inc table and no schemas resume exactly") {
    import java.nio.file.{Files, Paths}
    val io = graft.sources.TableIO
    // a two-host scale graph: deep enough to resume past round 2, with
    // redirects, missing pages and robots-denied links
    val spec = PagesGen.ScaleSpec(2000, 2)
    val graph = PagesGen.scale(spark, spec.n, spec.hosts, 4).cache()
    val cfg = CrawlConfig()
    def rows(run: CrawlRun) = run.results.collect().map(_.toString).sorted.toSeq
    val full = new CrawlEngine(spark, graph, cfg).crawlAll(spec.seeds)
    assert(full.lastRound > 3)
    val dir = TestSpark.tempDir("graft-legacy-")
    val stopped = new CrawlEngine(spark, graph, cfg.copy(maxRounds = 2), dir).crawlAll(spec.seeds)
    assert(stopped.lastRound == 2)
    // rewrite each manifest in the older format: a seen_inc table holding
    // the round's new (seed, url) rows, and no schemas
    val snaps = (0 to 2).map(io.readSnapshot(dir, _))
    def seenAfter(r: Int) =
      io.readTables(spark, snaps.take(r + 1), "results_inc").select("seed", "url")
        .unionByName(io.readTable(spark, snaps(r), "frontier").select("seed", "url"))
    snaps.foreach { s =>
      val inc =
        if (s.round == 0) seenAfter(0) else seenAfter(s.round).except(seenAfter(s.round - 1))
      val p = Paths.get(dir, f"r${s.round}%05d", "seen_inc").toString
      inc.write.parquet(p)
      val json = io.renderJson(s.copy(tables = s.tables + ("seen_inc" -> p)))
      val legacy = json.substring(0, json.indexOf(", \"schemas\":")) + "}"
      Files.writeString(Paths.get(dir, f"manifest-r${s.round}%05d.json"), legacy)
      val back = io.readSnapshot(dir, s.round)
      assert(back.schemas.isEmpty && back.tables.keySet == Set("frontier", "results_inc", "seen_inc"))
    }
    val resumed = new CrawlEngine(spark, graph, cfg, dir).resume()
    assert(resumed.lastRound == full.lastRound)
    assert(resumed.rounds == full.rounds.filter(_.round > 2))
    assert(rows(resumed) == rows(full))
    graph.unpersist()
  }

  test("manifests list exactly frontier and results_inc with their schemas; reads start no job") {
    val io = graft.sources.TableIO
    val dir = TestSpark.tempDir("graft-manifest-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl("http://127.0.0.1:8000/start")
    val snaps = (0 to run.lastRound).map(io.readSnapshot(dir, _))
    snaps.foreach { s =>
      assert(s.tables.keySet == Set("frontier", "results_inc"), s"round ${s.round}: ${s.tables.keySet}")
      assert(s.schemas.keySet == s.tables.keySet, s"round ${s.round}: ${s.schemas.keySet}")
    }
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-read-cost", "snapshot reads")
      val frontier = io.readTable(spark, snaps.last, "frontier")
      val results = io.readTables(spark, snaps, "results_inc")
      assert(frontier.columns.toSeq == Seq("seed", "url", "host", "depth", "host_shard"))
      assert(results.columns.contains("internal_links"))
      // listener events arrive in order: once the sentinel job is seen,
      // every job the reads might have started has been seen too
      sc.setJobGroup("graft-read-cost-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!groups.contains("graft-read-cost-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("graft-read-cost-sentinel"))
      assert(!groups.contains("graft-read-cost"), "a snapshot read started a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the schema-carrying reads see the same rows as before
    assert(io.readTables(spark, snaps, "results_inc").count() == run.results.count())
  }

  /** Runs `body` and returns its value and how many Spark jobs it started. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val (out, jobs) = TestSpark.jobsOf(body)
    (out, jobs.size)
  }

  private val resultCols = Seq("seed", "url", "result_type", "status", "body", "location",
    "content_type", "error", "internal_links", "external_links")
  private val frontierCols = Seq("seed", "url", "host", "depth", "host_shard")

  test("table reads return exactly the recorded columns, empty tables included, with no job") {
    val io = graft.sources.TableIO
    // a finished crawl: its last round commits an empty frontier
    val dir = TestSpark.tempDir("graft-read-contract-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl("http://127.0.0.1:8000/start")
    val snaps = (0 to run.lastRound).map(io.readSnapshot(dir, _))
    assert(snaps.last.counters("todo") == 0)
    val ((results, lastFrontier), jobs) = jobsStartedBy(
      (io.readTables(spark, snaps, "results_inc"), io.readTable(spark, snaps.last, "frontier")))
    assert(jobs == 0, s"the reads started $jobs Spark jobs")
    assert(results.columns.toSeq == resultCols)
    assert(lastFrontier.columns.toSeq == frontierCols)
    assert(lastFrontier.isEmpty)
    val row = results.agg(count(lit(1)), countDistinct(col("seed"), col("url"))).head()
    assert(row.getLong(0) == row.getLong(1) && row.getLong(0) == snaps.last.counters("done"))
    // a crawl whose every seed fails at round 0 commits two empty tables
    val failDir = TestSpark.tempDir("graft-read-failed-")
    val failed = new CrawlEngine(spark, pages, CrawlConfig(), failDir)
      .crawl(s"${PagesGen.host("robots-failure")}/start")
    assert(failed.lastRound == 0 && failed.failures.nonEmpty)
    val snap0 = io.readSnapshot(failDir, 0)
    val ((f0, r0), jobs0) = jobsStartedBy(
      (io.readTable(spark, snap0, "frontier"), io.readTables(spark, Seq(snap0), "results_inc")))
    assert(jobs0 == 0, s"the reads started $jobs0 Spark jobs")
    assert(f0.columns.toSeq == frontierCols && f0.isEmpty)
    assert(r0.columns.toSeq == resultCols && r0.isEmpty)
  }

  test("each commit is one SQL execution with one write job: round 0, a middle round, the last") {
    import org.apache.spark.scheduler._
    import graft.sources.{TableCatalog, TableIO}
    val sc = spark.sparkContext
    // TableIO with each commit's jobs tagged by their round
    val tagging = new TableCatalog {
      override def commit(spark: org.apache.spark.sql.SparkSession, dir: String, round: Int,
          tables: Map[String, org.apache.spark.sql.DataFrame], seeds: Seq[String],
          counters: => Map[String, Long], partitionBy: Map[String, Seq[String]],
          failures: Map[String, String]): TableIO.Snapshot = {
        sc.setLocalProperty("graft.test.commit", round.toString)
        try TableIO.commit(spark, dir, round, tables, seeds, counters, partitionBy, failures)
        finally sc.setLocalProperty("graft.test.commit", null)
      }
      override def latestRound(dir: String) = TableIO.latestRound(dir)
      override def readSnapshot(dir: String, round: Int) = TableIO.readSnapshot(dir, round)
      override def readTable(spark: org.apache.spark.sql.SparkSession, snap: TableIO.Snapshot, name: String) =
        TableIO.readTable(spark, snap, name)
    }
    // job id → (round, SQL execution id, stage ids); stages whose tasks wrote output
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String, Seq[Int])]()
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("graft.test.commit")).foreach { r =>
          jobs.put(e.jobId, (r.toInt, e.properties.getProperty("spark.sql.execution.id"), e.stageIds))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0) writing.add(e.stageId)
    }
    sc.addSparkListener(listener)
    val run =
      try {
        val r = new CrawlEngine(spark, pages, CrawlConfig(), TestSpark.tempDir("graft-one-write-"), tagging)
          .crawl("http://127.0.0.1:8000/start")
        TestSpark.drainListenerBus()
        r
      } finally sc.removeSparkListener(listener)
    assert(run.lastRound >= 2)
    import scala.jdk.CollectionConverters._
    val byRound = jobs.asScala.values.toSeq.groupBy(_._1)
    Seq(0, run.lastRound / 2, run.lastRound).distinct.foreach { r =>
      val js = byRound.getOrElse(r, Nil)
      val executions = js.map(_._2).toSet
      assert(executions.size == 1 && executions.forall(_ != null), s"round $r: executions $executions")
      val writes = js.count(_._3.exists(writing.contains))
      assert(writes == 1, s"round $r: $writes of ${js.size} jobs wrote output")
    }
  }

  import TestSpark.strategyOf

  test("a local round starts six single-stage jobs") {
    // collect the fetch set; broadcast it and collect the step output;
    // broadcast the candidate keys and collect their seen rows; the write
    val (run, jobs) = TestSpark.jobsOf(new CrawlEngine(spark, pages).crawl("http://127.0.0.1:8000/start"))
    // the fixtures carry warc_ts, so the engine runs its multi-capture
    // probe, once, before round 1: under the caller's label, not a round's
    val probes = jobs.filter(_._3.contains("multiCaptureOf"))
    assert(probes.nonEmpty)
    assert(!probes.exists(_._1.startsWith("crawl round=")), probes.map(_._1))
    val byRound = jobs.filter(j => strategyOf(j._1).isDefined)
      .groupBy(_._1.split(' ').take(2).mkString(" "))
    assert(run.lastRound == 2)
    assert(byRound.keySet == Set("crawl round=1", "crawl round=2"), byRound.keySet)
    byRound.foreach { case (r, js) =>
      assert(js.forall(j => strategyOf(j._1).contains("local")), s"$r: ${js.map(_._1).distinct}")
      assert(js.map(_._2) == Seq.fill(6)(1), s"$r: stages per job ${js.map(_._2)}")
    }
  }

  test("with the graft.crawl logger at INFO, a crawl logs one line per round naming its strategy") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val was = LogManager.getLogger(CrawlEngine.RoundLogger).getLevel
    Configurator.setLevel(CrawlEngine.RoundLogger, Level.INFO)
    val (run, lines) =
      try TestSpark.logsOnThisThread(Level.INFO)(new CrawlEngine(spark, pages).crawl("http://127.0.0.1:8000/start"))
      finally Configurator.setLevel(CrawlEngine.RoundLogger, was)
    val rounds = lines.filter(_.startsWith(s"${CrawlEngine.RoundLogger}: "))
    assert(run.lastRound == 2 && rounds.size == 2, lines)
    rounds.zip(1 to 2).foreach { case (line, r) =>
      assert(line.matches(s"graft\\.crawl: \\[round\\] r= *$r strategy=local .* total= *[0-9.]+s"), line)
    }
  }

  test("local and shuffle rounds crawl the same: fixtures and a multi-capture table") {
    val seeds = Seq(
      s"${PagesGen.host("server-error")}/start", s"${PagesGen.host("network-error")}/start",
      s"${PagesGen.host("external-only")}/start", s"${PagesGen.host("redirect-target")}/redirect",
      s"${PagesGen.host("multi-links")}/start", s"${PagesGen.host("cycle")}/start",
      s"${PagesGen.host("parallel-cycle")}/start", s"${PagesGen.host("external-redirect")}/redirect",
      s"${PagesGen.host("redirect-no-revisit")}/start", s"${PagesGen.host("redirect-found-first")}/redirect",
      s"${PagesGen.host("fragments")}/page", s"${PagesGen.host("non-html")}/thing.pdf",
      s"${PagesGen.host("robots-excluded")}/start", s"${PagesGen.host("robots-seed-excluded")}/start",
      s"${PagesGen.host("robots-failure")}/start", s"${PagesGen.host("politeness")}/start",
      "http://127.0.0.1:8001/start", s"${PagesGen.host("no-content-type")}/start",
      s"${PagesGen.host("bad-mime")}/start", s"${PagesGen.host("no-location")}/start",
      "http://127.0.0.1:8000/start")
    val multi = pages.unionByName(PagesGen.multiSnapshotFixtures(spark))
    val inputs = Seq(pages -> seeds, multi -> (seeds :+ s"${PagesGen.host("multi-snapshot")}/start"))
    def crawl(p: org.apache.spark.sql.DataFrame, s: Seq[String], cfg: CrawlConfig) = {
      val (run, jobs) = TestSpark.jobsOf(new CrawlEngine(spark, p, cfg).crawlAll(s))
      (run, run.results.collect().map(_.toString).sorted.toSeq, jobs.flatMap(j => strategyOf(j._1)).toSet)
    }
    def totals(run: CrawlRun) = {
      val rs = run.rounds
      (rs.map(_.fetched).sum, rs.map(_.discovered).sum, rs.map(_.deduped).sum,
        rs.map(_.robotsDenied).sum, rs.last.done, rs.last.todo)
    }
    for ((p, s) <- inputs; budget <- Seq(Int.MaxValue, 1)) {
      val cfg = CrawlConfig(perHostBudgetPerRound = budget)
      val (local, localRows, localWays) = crawl(p, s, cfg)
      val (shuffle, shuffleRows, shuffleWays) = crawl(p, s, cfg.copy(broadcastFrontierMaxRows = 0))
      assert(localWays == Set("local") && shuffleWays == Set("shuffle"), (localWays, shuffleWays))
      assert(local.failures == shuffle.failures && local.failures.nonEmpty)
      assert(localRows == shuffleRows && localRows.nonEmpty, s"budget $budget")
      // under a budget dropDuplicates keeps an arbitrary depth for a url
      // found twice in one round, which can reorder later rounds
      if (budget == Int.MaxValue) assert(local.rounds == shuffle.rounds)
      else {
        assert(totals(local) == totals(shuffle), s"budget $budget")
        assert(local.rounds.map(_.deferred).sum > 0)
      }
    }
  }

  test("manifest JSON round-trips schemas whose field names shadow manifest keys") {
    import org.apache.spark.sql.types._
    val io = graft.sources.TableIO
    val schema = StructType(Seq(
      StructField("round", IntegerType), StructField("seeds", ArrayType(StringType)),
      StructField("tables", MapType(StringType, StringType)),
      StructField("failures\": {", StringType)))
    val snap = io.Snapshot(3, 2, Seq("http://a/\"x\""), Map("fetched" -> 7L),
      Map("frontier" -> "/ck/r00003/frontier"), Map("http://a/" -> "boom"),
      Map("frontier" -> schema.json, "results_inc" -> schema.json))
    val back = io.parseJson(io.renderJson(snap))
    assert(back == snap)
    assert(DataType.fromJson(back.schemas("frontier")) == schema)
  }

  test("a manifest in the older hand-rendered format parses and renders back byte for byte") {
    val io = graft.sources.TableIO
    // as checkpoints written before schemas were recorded hold it: an
    // escaped seed, a seen_inc table, no schemas
    val older = """{"round": 2, "parentRound": 1, "seeds": ["http://a.test/q?x=\"y\"&p=\\w\t"], """ +
      """"counters": {"deduped": 1, "deferred": 0, "discovered": 4, "done": 5, "fetched": 3, "robots_denied": 1, "todo": 2}, """ +
      """"tables": {"frontier": "/ck/r00002/frontier", "results_inc": "/ck/r00002/results_inc", "seen_inc": "/ck/r00002/seen_inc"}, """ +
      """"failures": {"http://b.test/": "Got status 500 for robots.txt"}}"""
    val snap = io.Snapshot(2, 1, Seq("http://a.test/q?x=\"y\"&p=\\w\t"),
      Map("deduped" -> 1L, "deferred" -> 0L, "discovered" -> 4L, "done" -> 5L, "fetched" -> 3L,
        "robots_denied" -> 1L, "todo" -> 2L),
      Seq("frontier", "results_inc", "seen_inc").map(t => t -> s"/ck/r00002/$t").toMap,
      Map("http://b.test/" -> "Got status 500 for robots.txt"))
    assert(io.parseJson(older) == snap)
    assert(io.renderJson(snap) == older.dropRight(1) + ", \"schemas\": {}}")
  }

  test("resume after a crash MID-commit: orphan temp manifest and data never count as a commit") {
    // The TableIO commit contract is write-data-first, write-temp-manifest,
    // ATOMIC-rename-manifest-last. A crash between the data write and the
    // rename leaves round data + a .tmp manifest but NO committed manifest;
    // latestRound must ignore both and resume must reproduce the exact
    // final state (the interrupted round is re-run and its data overwritten).
    val seed = "http://127.0.0.1:8000/start"
    val dir = TestSpark.tempDir("graft-midcommit-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl(seed)
    val expected = collectMap(run, seed)
    val lastRound = run.lastRound
    assert(lastRound >= 2)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val orphanJson = Files.readString(Paths.get(dir, "manifest-r00002.json"))
    Files.list(Paths.get(dir)).iterator().asScala.toList.foreach { p =>
      val name = p.getFileName.toString
      val manifestRound =
        if (name.startsWith("manifest-r")) Some(name.stripPrefix("manifest-r").stripSuffix(".json").toInt)
        else None
      val dataRound =
        if (name.startsWith("r") && name.drop(1).forall(_.isDigit)) Some(name.drop(1).toInt)
        else None
      // committed manifests from round 2 on are gone; round-2 DATA stays on
      // disk (the interrupted write); later data rounds never happened
      if (manifestRound.exists(_ >= 2) || dataRound.exists(_ > 2))
        Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)
    }
    Files.writeString(Paths.get(dir, ".manifest-r00002.json.tmp"), orphanJson)
    assert(graft.sources.TableIO.latestRound(dir).contains(1),
      "a temp manifest from an interrupted commit must not count as a commit")
    val resumed = new CrawlEngine(spark, pages, CrawlConfig(), dir).resume()
    assert(resumed.lastRound == lastRound)
    assert(collectMap(resumed, seed) == expected)
    // the re-run round committed over the orphan: manifest now real
    assert(graft.sources.TableIO.latestRound(dir).contains(lastRound))
  }

  test("compaction: consolidated span reads identically; resume unaffected") {
    val seed = "http://127.0.0.1:8000/start"
    val dir = TestSpark.tempDir("graft-compact-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl(seed)
    val expected = collectMap(run, seed)
    assert(run.lastRound >= 2)
    val entry = graft.sources.TableIO.compact(spark, dir, "results_inc", targetPartitions = 2)
    assert(entry.from == 0 && entry.to == run.lastRound)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(entry.path)))
    // reads resolve through the compacted span — byte-identical result set
    assert(collectMap(run, seed) == expected)
    // re-compacting to the same round is a no-op returning the standing entry
    assert(graft.sources.TableIO.compact(spark, dir, "results_inc") == entry)
    // an orphaned compact dir from a crashed compaction (data written,
    // pointer swap never happened) must not perturb reads
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "compact-results_inc-r99999"))
    assert(collectMap(run, seed) == expected)
    // resume reads seen (results ∪ frontier) through the compacted span
    val resumed = new CrawlEngine(spark, pages, CrawlConfig(), dir).resume()
    assert(resumed.lastRound == run.lastRound)
    assert(collectMap(resumed, seed) == expected)
  }

  test("incremental compaction: spans fold only the new rounds; major merge supersedes") {
    val seed = "http://127.0.0.1:8000/start"
    val dir = TestSpark.tempDir("graft-compact-inc-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl(seed)
    val expected = collectMap(run, seed)
    assert(run.lastRound >= 2)
    val io = graft.sources.TableIO
    // first incremental span covers [0, 1] (nothing stands yet)
    val s1 = io.compact(spark, dir, "results_inc", upToRound = 1,
      targetPartitions = 1, incremental = true)
    assert(s1.from == 0 && s1.to == 1)
    assert(collectMap(run, seed) == expected)
    // second incremental span folds ONLY the tail [2, last]
    val s2 = io.compact(spark, dir, "results_inc",
      targetPartitions = 1, incremental = true)
    assert(s2.from == 2 && s2.to == run.lastRound)
    assert(io.readCompactions(dir).count(_.table == "results_inc") == 2)
    assert(collectMap(run, seed) == expected)
    // fully-covered table: another incremental call is a no-op on the span set
    assert(io.compact(spark, dir, "results_inc", incremental = true) == s2)
    // major compaction merges both spans into one [0, last] and supersedes;
    // expire reclaims the old span dirs and the per-round dirs
    val full = io.compact(spark, dir, "results_inc",
      targetPartitions = 1, expire = true)
    assert(full.from == 0 && full.to == run.lastRound)
    assert(io.readCompactions(dir).filter(_.table == "results_inc") == Seq(full))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s1.path)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s2.path)))
    assert(collectMap(run, seed) == expected)
  }

  test("compaction expire reclaims the per-round dirs; reads stay exact") {
    val seed = s"${PagesGen.host("cycle")}/start"
    val dir = TestSpark.tempDir("graft-compact-exp-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawl(seed)
    val expected = collectMap(run, seed)
    // each round's dir as its manifest records it, whatever the layout;
    // every round that fetched has one before the compaction
    val perRound = (0 to run.lastRound)
      .map(r => java.nio.file.Paths.get(graft.sources.TableIO.readSnapshot(dir, r).tables("results_inc")))
    assert(perRound.drop(1).forall(java.nio.file.Files.isDirectory(_)), perRound)
    graft.sources.TableIO.compact(spark, dir, "results_inc",
      targetPartitions = 1, expire = true)
    val leftover = perRound.filter(java.nio.file.Files.exists(_))
    assert(leftover.isEmpty, s"expire left per-round dirs: $leftover")
    assert(collectMap(run, seed) == expected)
  }

  test("resume preserves failed seeds: CrawlFailedException survives the restart") {
    val bad = s"${PagesGen.host("robots-failure")}/start"
    val good = s"${PagesGen.host("cycle")}/start"
    val dir = TestSpark.tempDir("graft-resume-fail-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir).crawlAll(Seq(bad, good))
    assert(run.failures(bad) == "Got status 500 for robots.txt")
    val expectedGood = collectMap(run, good)
    // resume from the completed checkpoint: failures must be restored from
    // the round-0 manifest, not silently dropped (crawler.rs:356-361 parity)
    val resumed = new CrawlEngine(spark, pages, CrawlConfig(), dir).resume()
    assert(resumed.failures(bad) == "Got status 500 for robots.txt")
    intercept[CrawlEngine.CrawlFailedException] { resumed.resultFor(bad) }
    assert(collectMap(resumed, good) == expectedGood)
  }

  test("catalog swap: the engine runs unchanged on an in-memory TableCatalog") {
    val seed = "http://127.0.0.1:8000/start"
    val cat = new graft.sources.InMemoryCatalog
    val dir = TestSpark.tempDir("graft-memcat-")
    val run = new CrawlEngine(spark, pages, CrawlConfig(), dir, cat).crawl(seed)
    val viaMem = collectMap(run, seed)
    val (parquetRun, viaParquet) = doCrawl(seed)
    assert(viaMem == viaParquet)
    assert(run.status == parquetRun.status)
    // the catalog owned ALL storage: nothing ever landed under the dir
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.toList
    assert(files.isEmpty, s"engine bypassed the catalog: $files")
    // in-process resume reads the in-memory snapshots
    val resumed = new CrawlEngine(spark, pages, CrawlConfig(), dir, cat).resume()
    assert(collectMap(resumed, seed) == viaMem)
  }

  test("robots prefetch is ONE Spark job regardless of seed count (resume path)") {
    // 100 robots urls through the shared batched lookup: a per-seed
    // filter+collect would issue 100 jobs; the isin scan issues exactly one.
    // Pages go through parquet so the lookup is a REAL scan (a LocalRelation
    // would be folded driver-side and prove nothing).
    val pdir = TestSpark.tempDir("graft-robots-batch-")
    pages.write.mode("overwrite").parquet(pdir)
    val filePages = spark.read.parquet(pdir)
    filePages.count() // warm the file index so listing jobs don't count below
    val engine = new CrawlEngine(spark, filePages)
    val robotsUrls = (0 until 100).map(i => s"https://host$i.example.com/robots.txt") :+
      s"${PagesGen.host("robots-excluded")}/robots.txt"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = engine.robotsBytesFor(robotsUrls)
      // the one fixture robots row comes back; the 100 absent hosts don't
      assert(m.keySet == Set(s"${PagesGen.host("robots-excluded")}/robots.txt"))
      // listener bus is async — poll until the job event lands
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200) // grace period: any extra jobs would land here
      assert(jobs.get() == 1, s"expected one lookup job, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a crawl's round label ends with its loop: no later job carries it") {
    import scala.jdk.CollectionConverters._
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val first = new CrawlEngine(spark, pages).crawl("http://127.0.0.1:8000/start")
      TestSpark.drainListenerBus()
      val firstLabels = descs.asScala.filter(_.startsWith("crawl round=")).toSet
      assert(firstLabels.exists(_.contains("seeds=1")), firstLabels)
      val before = descs.size
      // the first run's count, then a second crawl (2 seeds, so its own
      // labels differ): its robots lookup and round-0 writes run before
      // its loop sets a label
      assert(first.results.count() == 6)
      new CrawlEngine(spark, pages)
        .crawlAll(Seq("http://127.0.0.1:8000/start", s"${PagesGen.host("cycle")}/start"))
      TestSpark.drainListenerBus()
      val later = descs.asScala.drop(before).toSeq
      assert(later.exists(_.startsWith("crawl round=")))
      val leaked = later.filter(firstLabels)
      assert(leaked.isEmpty, s"${leaked.size} later jobs carry the first crawl's label: ${leaked.distinct}")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("fragment seed: fetched via the stripped url, recorded under the original") {
    // reqwest never sends fragments on the wire; the reference's seen set
    // still keys the fragment form, so /start is later fetched again plain
    val h = PagesGen.host("cycle")
    val (run, m) = doCrawl(s"$h/start#frag")
    assert(m.keySet == Set(s"$h/start#frag", s"$h/link1", s"$h/link2", s"$h/start"))
    assert(m(s"$h/start#frag") == crawled(il = Seq(s"$h/link1")))
    assert(m(s"$h/start") == crawled(il = Seq(s"$h/link1")))
    assert(run.status.map(_.fetched).sum == 4)
  }

  test("JSON export shape (serializers.rs; api.rs:303)") {
    val h = PagesGen.host("robots-excluded")
    val (run, _) = doCrawl(s"$h/start")
    val json = run.toJson(s"$h/start")
    assert(json.contains(""""pages""""))
    assert(json.contains(s""""$h/disallowed": "ExcludedByRobotsTxt""""))
    assert(json.contains(""""Crawled": {"internal_links": ["""))
    val h2 = PagesGen.host("server-error")
    val (run2, _) = doCrawl(s"$h2/start")
    assert(run2.toJson(s"$h2/start").contains(
      s""""$h2/start": {"ServerFailure": {"status": 500, "body": "Internal server error"}}"""))
  }

  test("end to end: entity-decoded hrefs and non-ASCII bodies flow through the engine") {
    import spark.implicits._
    // a page whose links need charref decoding (&amp; and a named entity in
    // the query) and whose body text is non-ASCII UTF-8 — exercises
    // tokenizer entity decode → WHATWG join/percent-encode → fetch-join key
    val h = "https://entities.example.com"
    val body =
      s"""<html><body>Bücher &amp; Töne — straße
         |<a href="/x?a&amp;b">one</a>
         |<a href="/y?v=&frac12;">two</a>
         |</body></html>""".stripMargin
    val rows = Seq(
      PagesGen.mkRow(s"$h/start", PagesGen.okHtmlUtf8(body), 0L),
      // the decoded+encoded forms must be the stored urls for the fetch to hit
      PagesGen.mkRow(s"$h/x?a&b", PagesGen.okHtmlUtf8(PagesGen.htmlWithLinks(Seq.empty)), 1L),
      PagesGen.mkRow(s"$h/y?v=%C2%BD", PagesGen.okHtmlUtf8(PagesGen.htmlWithLinks(Seq.empty)), 2L))
    val run = new CrawlEngine(spark, spark.createDataset(rows).toDF()).crawl(s"$h/start")
    val m = collectMap(run, s"$h/start")
    assert(m.keySet == Set(s"$h/start", s"$h/x?a&b", s"$h/y?v=%C2%BD"))
    assert(m(s"$h/start").t == "Crawled")
    assert(m(s"$h/x?a&b").t == "Crawled")
    assert(m(s"$h/y?v=%C2%BD").t == "Crawled")
    assert(run.status.map(_.fetched).sum == 3) // all three fetched exactly once
    // the non-ASCII body round-trips byte-identically into the text column
    val text = rows.head.text
    assert(text.contains("Bücher & Töne — straße"))
  }

  test("pinned http_classify oracle rows cover every fixture and match the classifier") {
    // the driver oracle's VALUES are hand-derived from http_client.rs:64-94
    // per fixture; this locks HttpKit to them (and the pin set to the
    // fixture set) so drift fails here first
    import graft.httpkit.HttpKit
    val pinned = SparkEntry.httpClassifyPinned.map(p => p._1 -> p).toMap
    val rows = PagesGen.fixtureRows()
    assert(rows.map(_.url).toSet == pinned.keySet)
    rows.foreach { r =>
      val c = HttpKit.classify(r.url, r.html)
      val (_, kind, status, ct) = pinned(r.url)
      assert(c.kind == kind, s"${r.url}: kind ${c.kind} != pinned $kind")
      assert(c.status == status, s"${r.url}: status ${c.status} != pinned $status")
      assert(c.contentType == ct, s"${r.url}: ct ${c.contentType} != pinned $ct")
    }
  }

  test("latest-snapshot fetch: a multi-capture pages table serves max-warc_ts per url") {
    import spark.implicits._
    val h = PagesGen.host("multi-snapshot")
    val seed = s"$h/start"
    val mp = PagesGen.multiSnapshotFixtures(spark)
    // auto mode detects the duplicate capture and serves the NEWEST body:
    // the crawl follows the new capture's link to /new; the stale capture's
    // /old-only is never discovered (and never fetched — exactly-once)
    val urls = new CrawlEngine(spark, mp).crawl(seed)
      .resultFor(seed).select("url").as[String].collect().toSet
    assert(urls == Set(seed, s"$h/new"), s"got $urls")
    // a single-capture table takes the zero-aggregation path
    val ct = "http://127.0.0.1:8000/start"
    assert(new CrawlEngine(spark, pages).crawl(ct).resultFor(ct).count() == 6)
    // at graph scale: every url (robots.txt included) gains a stale capture,
    // one day older, whose body is link-free html. Latest-resolve must serve
    // the real capture everywhere — a url where the stale one won would cut
    // its links from the frontier — so the per-round counters equal the
    // single-capture crawl's exactly
    val spec = PagesGen.ScaleSpec(1000L, 2)
    val single = PagesGen.scale(spark, spec.n, spec.hosts, 4).cache()
    val stale = single.withColumn("warc_ts", expr("warc_ts - INTERVAL 1 DAY"))
      .withColumn("html", lit(PagesGen.okHtml(PagesGen.htmlWithLinks(Seq.empty))))
    def counters(p: org.apache.spark.sql.DataFrame) = new CrawlEngine(spark, p)
      .crawlAll(spec.seeds).rounds.map(c => (c.fetched, c.deduped, c.robotsDenied, c.todo))
    val want = counters(single)
    assert(want.map(_._3).sum > 0 && want.map(_._2).sum > 0)
    assert(counters(single.unionByName(stale)) == want)
    single.unpersist()
  }

  test("snapshotAsOf: time-travel crawl serves the capture at-or-before the instant") {
    import spark.implicits._
    val h = PagesGen.host("multi-snapshot")
    val seed = s"$h/start"
    val mp = PagesGen.multiSnapshotFixtures(spark)
    // between the two /start captures (2026-01-01T00:00 and +1 day): the
    // OLD capture is the latest visible, so the crawl follows /old-only
    // and never discovers /new
    val urls = new CrawlEngine(spark, mp,
        CrawlConfig(snapshotAsOf = Some("2026-01-01 12:00:00"))).crawl(seed)
      .resultFor(seed).select("url").as[String].collect().toSet
    assert(urls == Set(seed, s"$h/old-only"), s"got $urls")
    // an as-of before ANY capture: the seed itself is absent ≙ fetch error
    val r2 = new CrawlEngine(spark, mp,
        CrawlConfig(snapshotAsOf = Some("2025-12-31 00:00:00"))).crawl(seed)
      .resultFor(seed).select("url", "result_type").as[(String, String)].collect().toSet
    assert(r2 == Set((seed, "Error")), s"got $r2")
    // asOf on a warc_ts-less table is a config error
    intercept[IllegalArgumentException] {
      new CrawlEngine(spark, pages.drop("warc_ts"),
        CrawlConfig(snapshotAsOf = Some("2026-01-01 00:00:00")))
    }
  }

  test("text column invariant: extract_text(html bytes) == text column, byte-identical") {
    import graft.functions.GraftFunctions
    val mismatches = pages
      .withColumn("t2", GraftFunctions.extract_text_http(col("html")))
      .filter(coalesce(col("t2"), lit("")) =!= col("text"))
      .count()
    assert(mismatches == 0)
  }
}
