package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CrawlApi, CrawlEngine, CrawlHttpApi}
import graft.sources.PagesGen

/** Ports of the api.rs tests (/root/reference/src/api.rs:204-390): bad-seed
  * 400, crawler-error 500 propagation, and the JSON payload shapes of
  * crawl/list/count/status. */
class CrawlApiSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val api = new CrawlApi(spark, PagesGen.fixtures(spark))

  test("bad seed → IllegalArgumentException with the parse-error text (api.rs:266-277)") {
    val e = intercept[IllegalArgumentException] { api.count("not a url") }
    assert(e.getMessage == "relative URL without a base")
  }

  test("400 path: ParseError variants reachable from a seed, message text pinned") {
    // The reference's 400 body is url::ParseError::to_string() verbatim
    // (api.rs:74 + test :266-277). These are the url-crate 2.2.2 Display
    // strings (simple_enum_error! table) for every variant a seed string
    // can trigger — pinned so a UrlKit wording drift fails loudly.
    val cases = Seq(
      "garbage" -> "relative URL without a base",
      "/relative/path" -> "relative URL without a base",
      "http://" -> "empty host",
      "http://exa mple.com/" -> "invalid domain character",
      "http://example.com:99999/" -> "invalid port number",
      "http://1.2.3.4.5/" -> "invalid IPv4 address",
      "http://[::1/x" -> "invalid IPv6 address")
    for ((seed, expected) <- cases) {
      val e = intercept[IllegalArgumentException] { api.count(seed) }
      assert(e.getMessage == expected, s"for seed '$seed'")
    }
  }

  test("crawler error propagates (api.rs:279-289 → 500)") {
    intercept[CrawlEngine.CrawlFailedException] {
      api.crawl(s"${PagesGen.host("robots-failure")}/start")
    }
  }

  test("crawl endpoint JSON shape (api.rs:291-337)") {
    val h = PagesGen.host("multi-links")
    val json = api.crawlJson(s"$h/start")
    assert(json.startsWith("""{"pages": {"""))
    assert(json.contains(s""""$h/link1": {"Crawled":"""))
  }

  test("list endpoint is the url projection (api.rs:339-366)") {
    val h = PagesGen.host("cycle")
    val urls = api.list(s"$h/start").collect().map(_.getString(0)).sorted
    assert(urls.toSeq == Seq(s"$h/link1", s"$h/link2", s"$h/start"))
  }

  test("count endpoint (api.rs:369-389)") {
    assert(api.count("http://127.0.0.1:8000/start") == 6)
  }

  test("the multi-capture probe runs on the first request only: a second runs no probe job") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val callSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      // a query's details hold the driver stack (long call site) that ran it
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => callSites.add(s.details)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def probeQueries(): Int = {
      TestSpark.drainListenerBus()
      val n = callSites.asScala.count(_.contains("multiCaptureOf"))
      callSites.clear()
      n
    }
    // the fixtures carry warc_ts, so "auto" has to probe
    val fresh = new CrawlApi(spark, PagesGen.fixtures(spark))
    val h = PagesGen.host("cycle")
    sc.addSparkListener(listener)
    try {
      assert(fresh.count(s"$h/start") == 3)
      assert(probeQueries() == 1)
      assert(fresh.count("http://127.0.0.1:8000/start") == 6)
      assert(probeQueries() == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("one engine serves every request: a bad config fails at construction; concurrent crawls stay apart") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the facade builds its engine up front, so the engine's checks run there
    intercept[IllegalArgumentException](new CrawlApi(spark, PagesGen.fixtures(spark).drop("warc_ts"),
      graft.operators.CrawlConfig(snapshotAsOf = Some("2026-01-01 00:00:00"))))
    val fresh = new CrawlApi(spark, PagesGen.fixtures(spark))
    val seeds = Seq(s"${PagesGen.host("cycle")}/start", "http://127.0.0.1:8000/start")
    val counts = seeds.map(s => Future(fresh.count(s))).map(Await.result(_, 2.minutes))
    assert(counts == Seq(3L, 6L))
    // each request committed into its own checkpoint dir
    assert(fresh.status == seeds.zip(counts.map(n => (n, 0L))).toMap)
  }

  test("a multi-capture table served through CrawlApi returns the latest capture") {
    import spark.implicits._
    val h = PagesGen.host("multi-snapshot")
    val seed = s"$h/start"
    val mapi = new CrawlApi(spark, PagesGen.multiSnapshotFixtures(spark))
    // the newest /start capture links /new; the stale one links /old-only.
    // Both requests, before and after the probe is settled, serve the newest
    for (_ <- 1 to 2) {
      val urls = mapi.list(seed).as[String].collect().toSet
      assert(urls == Set(seed, s"$h/new"), s"got $urls")
    }
  }

  test("status reflects finished crawls' counters (api.rs:189-202)") {
    val h = PagesGen.host("cycle")
    api.count(s"$h/start")
    val st = api.status
    assert(st(s"$h/start") == ((3L, 0L)))
  }

  test("mid-crawl /status observation: concurrent reads see monotonic progress (crawler.rs:896-951)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a 30-page chain → 30 rounds, so several commits land while we poll
    val h = "https://status-chain.example.com"
    val n = 30
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val links = if (i + 1 < n) Seq(s"$h/p${i + 1}") else Seq.empty
      PagesGen.mkRow(s"$h/p$i", PagesGen.okHtml(PagesGen.htmlWithLinks(links)), i.toLong)
    }
    val chainApi = new CrawlApi(spark, spark.createDataset(rows).toDF())
    val seed = s"$h/p0"
    val crawl = Future(chainApi.count(seed))
    // poll /status from this thread while the crawl runs on the other one —
    // the reference choreographs the same interleaving with barriers; here
    // every read is a committed-manifest read, safe at any time
    var observed = Vector.empty[(Long, Long)]
    while (!crawl.isCompleted) {
      chainApi.status.get(seed).foreach { dt =>
        if (!observed.lastOption.contains(dt)) observed :+= dt
      }
      Thread.sleep(20)
    }
    assert(Await.result(crawl, 1.minute) == n.toLong)
    // saw genuinely-mid-crawl states (not just the final one), monotone done
    assert(observed.size >= 3, s"only observed $observed")
    assert(observed.exists(_._1 < n), "never saw an in-progress state")
    assert(observed.map(_._1).zip(observed.map(_._1).tail).forall { case (a, b) => a <= b },
      s"done not monotonic: $observed")
    // and the final observation matches the finished crawl
    assert(chainApi.status(seed) == ((n.toLong, 0L)))
  }

  test("HTTP wire surface: the reference's routes served end to end (api.rs, lib.rs:46)") {
    val http = new CrawlHttpApi(new CrawlApi(spark, PagesGen.fixtures(spark))).start()
    try {
      val port = http.boundPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      // percent-encoding, as the reference tests do (urlencoding::encode)
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

      // 400: ParseError text verbatim in a text/plain body (api.rs:266-277)
      val bad = get(s"/crawl/${enc("not a url")}")
      assert(bad.statusCode == 400 && bad.body == "relative URL without a base")
      // crawl: the serde JSON payload over the wire (api.rs:291-337)
      val h = PagesGen.host("multi-links")
      val ok = get(s"/crawl/${enc(s"$h/start")}")
      assert(ok.statusCode == 200)
      assert(ok.headers.firstValue("Content-Type").orElse("") == "application/json")
      assert(ok.body.startsWith("""{"pages": {"""))
      assert(ok.body.contains(s""""$h/link1": {"Crawled":"""))
      // list (api.rs:339-366)
      val hc = PagesGen.host("cycle")
      val lst = get(s"/crawl/${enc(s"$hc/start")}/list")
      assert(lst.statusCode == 200 && lst.body.startsWith("""{"pages": ["""))
      Seq("link1", "link2", "start").foreach(p =>
        assert(lst.body.contains(s""""$hc/$p""""), s"missing $p in ${lst.body}"))
      // count (api.rs:369-389)
      val cnt = get(s"/crawl/${enc("http://127.0.0.1:8000/start")}/count")
      assert(cnt.statusCode == 200 && cnt.body == """{"page_count": 6}""")
      // 500: the crawl-failure text (api.rs:279-289)
      val fail = get(s"/crawl/${enc(s"${PagesGen.host("robots-failure")}/start")}")
      assert(fail.statusCode == 500 && fail.body.nonEmpty)
      // status reflects the crawls above (crawler.rs:154-174 shape)
      val st = get("/status")
      assert(st.statusCode == 200 && st.body.startsWith("""{"crawls": ["""))
      assert(st.body.contains(""""seed": """) && st.body.contains(""""done": """))
      assert(get("/nope").statusCode == 404)
      // unmatched crawl routes are 404s (the reference's router), not
      // 400s from a garbage seed: extra segments, trailing slash, empty
      assert(get(s"/crawl/${enc("http://x.test/")}/list/extra").statusCode == 404)
      assert(get(s"/crawl/${enc("http://x.test/")}/").statusCode == 404)
      assert(get("/crawl/").statusCode == 404)
      // request-scoped ids (better_logging.rs analogue): every response —
      // including error paths — carries a distinct 4-char base64 X-REQ-ID
      val ids = Seq(st, bad, fail, get("/status")).map(_.headers.firstValue("X-REQ-ID").orElse(""))
      assert(ids.forall(_.matches("[A-Za-z0-9+/]{4}")), s"bad request ids: $ids")
      assert(ids.distinct.size == ids.size, s"request ids must be unique: $ids")
    } finally http.stop()
  }

  test("HTTP /status answers while /crawl runs (pooled handlers, not serialized)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val h = "https://http-status-chain.example.com"
    val n = 30
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val links = if (i + 1 < n) Seq(s"$h/p${i + 1}") else Seq.empty
      PagesGen.mkRow(s"$h/p$i", PagesGen.okHtml(PagesGen.htmlWithLinks(links)), i.toLong)
    }
    val http = new CrawlHttpApi(new CrawlApi(spark, spark.createDataset(rows).toDF())).start()
    try {
      val port = http.boundPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
      val crawl = Future(get(s"/crawl/${enc(s"$h/p0")}/count"))
      // a single-threaded server would park this GET behind the crawl and
      // never answer while it's in flight
      var sawWhileRunning = 0
      while (!crawl.isCompleted) {
        val st = get("/status")
        assert(st.statusCode == 200)
        if (!crawl.isCompleted) sawWhileRunning += 1
        Thread.sleep(20)
      }
      assert(sawWhileRunning >= 1, "/status never answered while the crawl was in flight")
      assert(Await.result(crawl, 1.minute).body == s"""{"page_count": $n}""")
    } finally http.stop()
  }
}
