package graft.operators

import graft.htmlkit.HtmlKit
import graft.httpkit.HttpKit
import graft.robotskit.RobotsKit
import graft.sources.TableIO
import graft.urlkit.UrlKit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The distributed URL frontier — the Spark-native reimplementation of the
 * reference's crawl fixpoint (/root/reference/src/crawler.rs:332-382,
 * 212-329) per the BASELINE.json north rule.
 *
 * One crawl round ≙ one micro-batch:
 *
 *   frontier_r (host-shard partitioned on disk)
 *     → per-host politeness budget (salted window rank over depth,url
 *       within (seed, host, salt) — a skewed domain splits across salt
 *       buckets; robots Crawl-delay honored; deferred rows stay queued)
 *     → fetch: join against the pages table on url
 *     → classify raw HTTP bytes (http_client.rs:64-94 semantics)
 *     → tokenize + extract links in one mapPartitions pass (document order,
 *       duplicates preserved; link_extractor.rs:26-62)
 *     → candidates: fragment-stripped internal links (crawler.rs:276-279)
 *       + same-domain redirect targets, NOT stripped (crawler.rs:297-309)
 *     → intra-round dedup + one exact (seed, url) check against `seen` —
 *       the per-crawl seen set (crawler.rs:204, 233-246 / D1)
 *     → robots gate at enqueue time: denied urls recorded as
 *       ExcludedByRobotsTxt, never fetched (crawler.rs:223-243 / P4)
 *     → checkpoint commit (results_r, frontier_{r+1} partitioned by
 *       host_shard, counters + lineage) via TableIO: both tables in ONE
 *       write — kill between commits resumes exactly from the last
 *       committed round. The seen set is not stored separately: every seen
 *       (seed, url) is either a result of a committed round or still
 *       queued, so seen_r = results(≤ r) ∪ frontier_{r+1}
 *   until the frontier is empty  (≙ pages.len()==seen.len(), crawler.rs:342)
 *
 * Each round picks one of three strategies by the size of its fetch set
 * (the frontier minus the rows politeness defers), named in its job label:
 *  - local (at most min(LocalRoundMaxRows, broadcastFrontierMaxRows) rows):
 *    the fetch set is collected, broadcast into the pages scan and stepped
 *    on the executors, and only the step output comes back — page bodies
 *    never reach the driver. Dedup, the seen check (one semi-join of seen
 *    against the broadcast candidate keys, collected), the robots gate and
 *    host/shard run on the driver, as the reference's add_link does per
 *    candidate. Six single-stage jobs without a politeness budget, no
 *    shuffle: a tiny round pays no partitioned exchange it does not need.
 *  - broadcast (up to broadcastFrontierMaxRows): the frontier is broadcast
 *    into the pages scan; the step output is cached and the dedup, seen
 *    anti-join and robots gate run as Spark plans over it, all inside the
 *    one commit write's SQL execution.
 *  - shuffle (larger): the same plan over a shuffle left-outer join, AQE
 *    picking the physical strategy and splitting skewed urls.
 * All three commit through the same write and counter code.
 *
 * Crawl identity: the engine runs MANY crawls in one job (`seeds`), the
 * north-star generalization of the reference's one-seed API. Each frontier
 * row carries its `seed`; seen/dedup/robots are scoped per seed exactly as
 * one reference crawl is (crawler.rs:204: per-crawl seen set; :353: robots
 * fetched once for the seed's host).
 */
/** What a caller sets per crawl: `CrawlMain`'s flags, the gate and the
  * benchmark set each field. Everything else about a crawl is fixed: the
  * user agent (the reference's `MikesCrawler`, http_client.rs:10), the
  * host-shard and politeness salt counts ([[CrawlEngine.NumShards]],
  * [[CrawlEngine.SaltBuckets]]) and how a multi-capture pages table
  * resolves (one count-vs-distinct probe per engine; see the fetch join). */
final case class CrawlConfig(
    /** per-host fetches per round before politeness defers (Int.MaxValue = off) */
    perHostBudgetPerRound: Int = Int.MaxValue,
    /** wall-clock seconds a round "represents" for Crawl-delay budgeting */
    roundSeconds: Double = 30.0,
    maxRounds: Int = 10000,
    /** Fetch-set row-count under which the fetch join broadcasts the
      * frontier; it also bounds the local rounds (see the header), which
      * run only at or under min(LocalRoundMaxRows, this). Scale-dependent
      * (guide §3.1): broadcasting saves any shuffle of the pages side —
      * decisive on a cluster where the pages
      * table is the 100 TB side — but the broadcast relation itself costs
      * rows×~120 B built serially on the driver and resident on every
      * executor. Measured on this single-box bench: a 1.4M-row frontier
      * broadcast (~170 MB relation) made the big crawl rounds 30-40%
      * slower than the shuffle join (round 6: 8.0-10.4 s → 5.8-6.5 s;
      * whole crawl 26-35 s → 22-31 s), so the local default caps the
      * broadcast near the conventional tens-of-MB relation size.
      * Production clusters should raise it (`CrawlMain --frontier-bcast-max`)
      * to whatever relation size their executors comfortably hold, because
      * the alternative there is re-shuffling a table orders of magnitude
      * larger than any frontier. 0 makes every round a shuffle round. */
    broadcastFrontierMaxRows: Long = 200L * 1000,
    /** optional SQL expression over the frontier columns (seed, url, host,
      * depth) scored DESCENDING ahead of the default (depth, url) order in
      * the politeness priority window — the north-star "window rank over
      * depth/score within host partitions". Only observable under a
      * politeness budget (without one every frontier row is fetched this
      * round anyway). Example: "1.0 / (depth + 1)" or "-char_length(url)". */
    priorityScore: Option[String] = None,
    /** Crawl "as of" a capture instant (ISO timestamp string, session
      * zone = UTC): captures with `warc_ts` AFTER this instant are
      * invisible — the fetch serves the latest capture AT OR BEFORE it,
      * and a url whose only captures are newer is absent (≙ 404).
      * Time-travel over a Common-Crawl-style multi-capture table;
      * requires a warc_ts column. None (default) = the full table. */
    snapshotAsOf: Option[String] = None
) {
  /** The user agent robots.txt groups are matched against (http_client.rs:10). */
  def userAgent: String = "MikesCrawler"
}

final case class RoundCounters(
    round: Int, fetched: Long, discovered: Long, deduped: Long,
    robotsDenied: Long, deferred: Long, done: Long, todo: Long)

object CrawlEngine {
  /** result_type values — serde external tags of PageResult (crawler.rs:30-79). */
  val ServerFailure = "ServerFailure"
  val Error = "Error"
  val Redirect = "Redirect"
  val Crawled = "Crawled"
  val OtherContent = "OtherContent"
  val Excluded = "ExcludedByRobotsTxt"

  /** Largest fetch set a round runs locally (see the header): its step
    * output, candidates and new frontier rows pass through the driver. */
  private val LocalRoundMaxRows = 1024L

  /** Host-hash shards of the frontier's partition lineage (north rule). */
  val NumShards = 32

  /** Salt buckets a skewed host splits over inside the politeness window. */
  val SaltBuckets = 4

  /** The logger each committed round reports to at INFO: its strategy,
    * frontier size and phase wall seconds. `CrawlMain` raises it to INFO. */
  val RoundLogger = "graft.crawl"
  private lazy val roundLog = org.apache.logging.log4j.LogManager.getLogger(RoundLogger)

  private[operators] final case class FrontierRow(seed: String, url: String, host: String, depth: Int, host_shard: Int)
  private val frontierCols = Seq("seed", "url", "host", "depth", "host_shard")
  private[operators] final case class StepIn(seed: String, url: String, host: String, depth: Int, html: Array[Byte])
  private[operators] final case class StepOut(
      seed: String, url: String, depth: Int,
      result_type: String, status: Option[Int], body: Option[String],
      location: Option[String], content_type: Option[String], error: Option[String],
      internal_links: Option[Seq[String]], external_links: Option[Seq[String]],
      candidates: Seq[String])

  /** Pure per-url step (crawler.rs:261-329), minus the robots gate which is
    * applied to candidates after dedup, as the reference's add_link does. */
  private[operators] def step(in: StepIn): StepOut = {
    val c = HttpKit.classify(in.url, in.html)
    c.kind match {
      case HttpKit.Kind.Html =>
        val links = HtmlKit.extractLinksStr(in.url, c.body.getOrElse(""))
        val internal = links.filter(_.internal).map(_.url)
        val external = links.filterNot(_.internal).map(_.url)
        // enqueue-keys: fragment-stripped internal links (crawler.rs:276-279);
        // the recorded arrays keep their fragments
        val candidates = internal.map(UrlKit.stripFragmentStr)
        StepOut(in.seed, in.url, in.depth, Crawled, None, None, None, None, None,
          Some(internal), Some(external), candidates)
      case HttpKit.Kind.Redirect =>
        val target = c.location.get
        // follow only same-domain redirects — null-safe domain equality
        // including the None==None IP quirk (crawler.rs:299-302)
        val follow = UrlKit.sameDomain(in.url, target)
        StepOut(in.seed, in.url, in.depth, Redirect, c.status, None, Some(target), None, None,
          None, None, if (follow) Seq(target) else Seq.empty)
      case HttpKit.Kind.Other =>
        StepOut(in.seed, in.url, in.depth, OtherContent, None, None, None, c.contentType, None,
          None, None, Seq.empty)
      case HttpKit.Kind.Failure =>
        StepOut(in.seed, in.url, in.depth, ServerFailure, c.status, c.body, None, None, None,
          None, None, Seq.empty)
      case _ =>
        StepOut(in.seed, in.url, in.depth, Error, None, None, None, None, c.error,
          None, None, Seq.empty)
    }
  }

  /** The result row of a url the robots gate refused. */
  private def excluded(seed: String, url: String, depth: Int): StepOut =
    StepOut(seed, url, depth, Excluded, None, None, None, None, None, None, None, Seq.empty)

  /** The enqueue-time robots gate (crawler.rs:223-243), per seed. */
  private def robotsAllow(robots: Map[String, RobotsKit.Parsed], seed: String, url: String): Boolean =
    RobotsKit.allowedByRules(robots.get(seed).fold(Vector.empty[RobotsKit.Rule])(_.effectiveRules),
      RobotsKit.pathParamsQuery(url))

  private def hostOf(url: String): String = UrlKit.hostPortStr(url)

  private[operators] def hostShardOf(host: String, numShards: Int): Int = {
    val h = graft.textkit.TextKit.fnv64(host)
    (((h % numShards) + numShards) % numShards).toInt
  }

  final class CrawlFailedException(val seed: String, msg: String) extends RuntimeException(msg)

  /** Does `pagesAt` hold several captures of some url? A table without
    * warc_ts cannot; otherwise a url-column-pruned count-vs-distinct probe
    * answers: two scan aggregates over the whole table. */
  private def multiCaptureOf(pagesAt: DataFrame): Boolean =
    pagesAt.columns.contains("warc_ts") && {
      val r = pagesAt.agg(count(lit(1)).as("n"), countDistinct(col("url")).as("d")).head()
      r.getLong(0) != r.getLong(1)
    }

  /** Temp dirs made by one owner, deleted together by `deleteAll`. */
  private[graft] final class TempDirs(prefix: String) {
    private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    def create(name: String = prefix): String = {
      val d = java.nio.file.Files.createTempDirectory(name)
      dirs.add(d)
      d.toString
    }
    def deleteAll(): Unit =
      Iterator.continually(dirs.poll()).takeWhile(_ != null).foreach(TableIO.deleteRecursively)
  }

  private[graft] object TempDirs {
    /** Temp dirs named `prefix…` that one shutdown hook deletes at JVM exit. */
    def deletedAtExit(prefix: String): TempDirs = {
      val t = new TempDirs(prefix)
      sys.addShutdownHook(t.deleteAll())
      t
    }
  }

  /** Checkpoint dirs the crawl code makes itself — an engine's without a
    * `checkpointDir`, each CrawlApi request's — deleted at JVM exit. An
    * explicit checkpoint dir is the caller's and is never touched. */
  private[operators] lazy val tempCheckpoints: TempDirs = TempDirs.deletedAtExit("graft-crawl-")
}

final class CrawlEngine(
    spark: SparkSession,
    pages: DataFrame,
    cfg: CrawlConfig = CrawlConfig(),
    checkpointDir: String = null,
    // the storage boundary: every commit/read goes through this (driver-
    // side only, hence transient); swap for a real catalog without
    // touching the engine
    @transient private val catalog: graft.sources.TableCatalog = TableIO
) extends Serializable {
  import CrawlEngine._
  import spark.implicits._

  // config checks run before anything is created or committed: a bad value
  // fails here, naming its field, not mid-crawl inside Spark
  require(cfg.perHostBudgetPerRound > 0,
    s"perHostBudgetPerRound must be > 0, got ${cfg.perHostBudgetPerRound}")
  require(cfg.roundSeconds > 0, s"roundSeconds must be > 0, got ${cfg.roundSeconds}")
  require(cfg.maxRounds >= 0, s"maxRounds must be >= 0, got ${cfg.maxRounds}")
  require(cfg.broadcastFrontierMaxRows >= 0,
    s"broadcastFrontierMaxRows must be >= 0, got ${cfg.broadcastFrontierMaxRows}")

  // made on first use: an engine that only crawls into given dirs (CrawlApi)
  // never creates one
  private lazy val ckptDir: String = Option(checkpointDir).getOrElse(tempCheckpoints.create())

  private val hasWarcTs = pages.columns.contains("warc_ts")

  require(cfg.snapshotAsOf.isEmpty || hasWarcTs,
    "snapshotAsOf requires the pages table to carry a warc_ts column")

  /** `pages` at the capture horizon `snapshotAsOf`. The filter sits directly
    * on the scan (predicate pushdown; partition-prunes when the table is
    * partitioned on warc_ts), so every downstream path — the capture probe,
    * the fetch join, robots lookups — sees one consistent time-travel view. */
  private val pagesAt: DataFrame =
    cfg.snapshotAsOf.fold(pages)(t => pages.filter(col("warc_ts") <= to_timestamp(lit(t))))

  /** Resolved once per engine, amortized over every round of every crawl;
    * forced before a crawl's first round, so its jobs carry the caller's
    * label, not a round's. */
  private lazy val multiCapture: Boolean = multiCaptureOf(pagesAt)

  // explicit column pruning: the fetch join only ever needs (url, html) —
  // plus warc_ts when the table is multi-capture, because latest-capture
  // resolution happens AFTER the frontier join (see resolveLatest in
  // runLoop): aggregating the whole table per round would shuffle 100 TB
  // every round, while the post-join aggregation only ever shuffles
  // frontier-matched rows (frontier-sized × captures-per-url).
  private lazy val pagesSlim: DataFrame =
    if (multiCapture) pagesAt.select(col("url"), col("html"), col("warc_ts"))
    else pagesAt.select(col("url"), col("html"))

  graft.functions.UrlExpressions.registerAll(spark)

  /** One batched lookup for ALL robots.txt urls: a single isin scan /
    * Spark job regardless of seed count (a per-seed filter+collect would
    * issue O(seeds) jobs — round-2 VERDICT #5). Multi-capture robots rows
    * resolve to max-warc_ts DRIVER-side over the collected handful (one
    * row per seed-ish) — no extra Spark job, same latest-snapshot
    * semantics and tie-break as the fetch join. */
  private[graft] def robotsBytesFor(robotsUrls: Seq[String]): Map[String, Array[Byte]] = {
    if (robotsUrls.isEmpty) return Map.empty
    val projected =
      if (hasWarcTs) pagesAt.select(col("url"), col("html"), col("warc_ts"))
      else pagesAt.select(col("url"), col("html"), lit(null).cast("timestamp").as("warc_ts"))
    projected
      .filter(col("url").isin(robotsUrls.distinct: _*))
      .collect()
      .groupBy(_.getString(0))
      .map { case (u, rows) =>
        val best = rows.reduceLeft { (a, b) =>
          val ta = Option(a.getTimestamp(2)).map(_.getTime).getOrElse(Long.MinValue)
          val tb = Option(b.getTimestamp(2)).map(_.getTime).getOrElse(Long.MinValue)
          if (ta != tb) { if (ta > tb) a else b }
          else if (java.util.Arrays.compareUnsigned(
            a.getAs[Array[Byte]](1), b.getAs[Array[Byte]](1)) >= 0) a else b
        }
        u -> best.getAs[Array[Byte]](1)
      }
  }

  /** Reference single-seed API: GET /crawl/{seed} (api.rs:119-135). */
  def crawl(seed: String): CrawlRun = crawlAll(Seq(seed))

  def crawlAll(seedInputs: Seq[String]): CrawlRun = crawlInto(ckptDir, seedInputs)

  /** A fresh crawl of `seedInputs` committed under `dir`: one engine serves
    * every CrawlApi request, each into its own dir. */
  private[operators] def crawlInto(dir: String, seedInputs: Seq[String]): CrawlRun = {
    val seeds = seedInputs.map(parseSeed(_).serialize)
    val robotsTxt = robotsOf(seeds)
    val robots = robotsTxt.collect { case (s, Right(p)) => s -> p }
    val failures = robotsTxt.collect { case (s, Left(e)) => s -> e }
    val liveSeeds = seeds.filterNot(failures.contains)

    // seed add_link (crawler.rs:355 → :233-246): seen-insert + robots gate
    val seedRows = liveSeeds.map { s =>
      val host = hostOf(s)
      FrontierRow(s, s, host, 0, hostShardOf(host, NumShards))
    }
    val (allowedSeeds, deniedSeeds) = seedRows.partition(r => robotsAllow(robots, r.seed, r.url))

    val frontier0 = spark.createDataset(allowedSeeds).toDF()
    val excluded0 = spark.createDataset(deniedSeeds.map(r => excluded(r.seed, r.url, 0)))
      .drop("candidates", "depth")

    // round 0 commit: seeds only; seen_0 = denied seeds (results) ∪
    // allowed seeds (frontier) = every seed row
    val counters0 = RoundCounters(0, 0, seedRows.size, 0, deniedSeeds.size, 0,
      deniedSeeds.size, allowedSeeds.size)
    catalog.commit(spark, dir, 0,
      Map("frontier" -> frontier0, "results_inc" -> excluded0),
      liveSeeds, countersToMap(counters0),
      partitionBy = Map("frontier" -> Seq("host_shard")),
      failures = failures)

    runLoop(dir, liveSeeds, failures, robots, startRound = 1)
  }

  /** Resume from the last committed round of `checkpointDir`. */
  def resume(): CrawlRun = {
    val last = catalog.latestRound(ckptDir).getOrElse(
      throw new IllegalStateException(s"no committed rounds under $ckptDir"))
    val seeds = catalog.readSnapshot(ckptDir, last).seeds
    // failures persisted in the round-0 manifest: a seed whose robots fetch
    // failed keeps raising CrawlFailedException after resume (the 500 path)
    val failures = catalog.readSnapshot(ckptDir, 0).failures
    // rules and delays re-derived from the immutable pages table
    runLoop(ckptDir, seeds, failures, robotsOf(seeds).collect { case (s, Right(p)) => s -> p },
      startRound = last + 1)
  }

  /** A seed url, canonicalized; a bad one fails fast (api.rs:40-49 → 400). */
  private def parseSeed(s: String): graft.urlkit.Url =
    UrlKit.parse(s).fold(e => throw new IllegalArgumentException(s"invalid seed url $s: $e"), identity)

  /** Each seed's parsed robots.txt (crawler.rs:353), from ONE batched
    * lookup for all seeds (round-2 VERDICT #5), or the message its crawl
    * fails with. An absent row or a 404 means no rules (FIXTURES.md
    * contract) and a 2xx body is parsed; any other status, or a response
    * that does not parse, fails that seed's crawl (http_client.rs:96-105). */
  private def robotsOf(seeds: Seq[String]): Map[String, Either[String, RobotsKit.Parsed]] = {
    val robotsUrl = seeds.map(s => s -> parseSeed(s).join("/robots.txt").fold(
      e => throw new IllegalArgumentException(s"cannot derive robots url: $e"), _.serialize)).toMap
    val bytes = robotsBytesFor(robotsUrl.values.toSeq)
    seeds.map { seed =>
      // the robots.txt body, "" (no rules) for an absent row or a 404
      val body = bytes.get(robotsUrl(seed)).fold[Either[String, String]](Right("")) { b =>
        HttpKit.parseResponse(b) match {
          case Some(r) if r.status >= 200 && r.status < 300 => Right(r.bodyString)
          case Some(r) if r.status == 404 => Right("")
          case Some(r) => Left(s"Got status ${r.status} for robots.txt")
          case None => Left("Malformed robots.txt response")
        }
      }
      seed -> body.map(RobotsKit.parse(_, cfg.userAgent))
    }.toMap
  }

  private def countersToMap(c: RoundCounters): Map[String, Long] = Map(
    "fetched" -> c.fetched, "discovered" -> c.discovered, "deduped" -> c.deduped,
    "robots_denied" -> c.robotsDenied, "deferred" -> c.deferred,
    "done" -> c.done, "todo" -> c.todo)

  private def mapToCounters(round: Int, m: Map[String, Long]): RoundCounters = RoundCounters(
    round, m.getOrElse("fetched", 0), m.getOrElse("discovered", 0), m.getOrElse("deduped", 0),
    m.getOrElse("robots_denied", 0), m.getOrElse("deferred", 0),
    m.getOrElse("done", 0), m.getOrElse("todo", 0))

  private def runLoop(
      dir: String,
      seeds: Seq[String],
      failures: Map[String, String],
      robots: Map[String, RobotsKit.Parsed],
      startRound: Int
  ): CrawlRun = {
    val sc = spark.sparkContext
    val robotsBc = sc.broadcast(robots)

    // per-SEED politeness budget from robots Crawl-delay (north-star; the
    // reference has no delay handling — documented delta)
    val budgetBySeed: Map[String, Int] = seeds.map { s =>
      val fromDelay = robots.get(s).flatMap(_.crawlDelay)
        .map(d => math.max(1, (cfg.roundSeconds / math.max(d, 1e-9)).toInt))
        .getOrElse(Int.MaxValue)
      s -> math.min(cfg.perHostBudgetPerRound.toLong, fromDelay.toLong).toInt
    }.toMap
    val anyBudget = budgetBySeed.values.exists(_ != Int.MaxValue)
    val budgetBc = sc.broadcast(budgetBySeed)

    // restore state from the last committed round
    val lastCommitted = startRound - 1
    val lastSnap = catalog.readSnapshot(dir, lastCommitted)
    var frontier = catalog.readTable(spark, lastSnap, "frontier")
    // seen after round r = results of rounds ≤ r ∪ frontier_{r+1} (see the
    // header). Lazy parquet reads, (seed, url) pruned: scanned once per
    // round by the anti-join, so no persist. A manifest that still lists a
    // seen_inc table (older checkpoints) satisfies the same invariant; the
    // extra table is never read.
    var snaps = (0 to lastCommitted).map(r => catalog.readSnapshot(dir, r))
    def seenOf(committed: Seq[TableIO.Snapshot], queued: DataFrame): DataFrame =
      catalog.readTables(spark, committed, "results_inc").select("seed", "url")
        .unionByName(queued.select("seed", "url"))
    var seen = seenOf(snaps, frontier)
    // the sizes come from the last manifest, no count job: results and
    // frontier are disjoint, `done` (cumulative fetched + denied) is
    // |results| and `todo` is |frontier|, so |seen| = done + todo
    val lastCounters = mapToCounters(lastCommitted, lastSnap.counters)
    var frontierCount = lastCounters.todo
    var seenCount = lastCounters.done + lastCounters.todo
    var done = lastCounters.done
    var roundsLog = Vector.empty[RoundCounters]

    var round = startRound
    var emptyFrontier = frontierCount == 0

    // Per-round phase telemetry to the RoundLogger at INFO: wall seconds
    // spent in each driver-visible phase — plan (assembly + politeness
    // count), commit (the one frontier + results write + manifest) and read
    // (re-opening frontier and seen from the snapshot; no Spark job, the
    // manifest carries the schemas). Locates the serial (non-scaling)
    // fraction of a round.
    def tickSec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // the pages side of every round's fetch join; building it settles the
    // multi-capture probe here, under the caller's label
    val pagesK = pagesSlim.withColumnRenamed("url", "fetch_url")

    // each round labels its jobs `crawl round=N …`; the caller's label (none,
    // or an API request's) comes back when the loop ends, so the next
    // crawl's robots lookup and round-0 writes never carry this crawl's label
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try while (!emptyFrontier && round < startRound + cfg.maxRounds) {
      val tRound = System.nanoTime()
      def describe(strategy: String): Unit = sc.setJobDescription(
        s"crawl round=$round$strategy seeds=${seeds.size} frontier=$frontierCount seen=$seenCount")
      // the politeness count, when there is one, runs before the strategy
      // is known; every later job of the round carries it
      describe("")
      // ---- politeness: per-host rank within each crawl ----
      val (toFetch, deferred, deferredCount) =
        if (anyBudget) {
          // Salted politeness: a skewed host's frontier rows are split over
          // min(SaltBuckets, budget) salt buckets so no single window
          // partition holds a whole heavy domain; per-bucket budgets sum
          // exactly to the host budget (bucket 0 takes the remainder).
          val budgetCol = udf((seed: String) => budgetBc.value.getOrElse(seed, Int.MaxValue))
          val b = budgetCol(col("seed"))
          val saltCount = least(lit(SaltBuckets), b)
          val salted = frontier
            .withColumn("_salt", pmod(xxhash64(col("url")), saltCount).cast("int"))
            .withColumn("_bb", when(col("_salt") === 0,
              b - (saltCount - 1) * (b.cast("long") / saltCount).cast("int"))
              .otherwise((b.cast("long") / saltCount).cast("int")))
          // priority queue: optional score expression ranks first (desc),
          // then the BFS default (shallowest depth, then url) breaks ties
          val order = cfg.priorityScore.map(e => expr(e).desc).toSeq ++
            Seq(col("depth").asc, col("url").asc)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("seed"), col("host"), col("_salt"))
            .orderBy(order: _*)
          val ranked = salted.withColumn("_rk", row_number().over(w))
          val now = ranked.filter(col("_rk") <= col("_bb")).drop("_rk", "_salt", "_bb")
          val later = ranked.filter(col("_rk") > col("_bb")).drop("_rk", "_salt", "_bb")
            .persist(StorageLevel.MEMORY_AND_DISK)
          val dc = later.count()
          (now, Some(later), dc)
        } else (frontier, None, 0L)

      val fetched = frontierCount - deferredCount
      val strategy =
        if (fetched <= math.min(LocalRoundMaxRows, cfg.broadcastFrontierMaxRows)) "local"
        else if (fetched <= cfg.broadcastFrontierMaxRows) "broadcast"
        else "shuffle"
      describe(s" strategy=$strategy")

      // ---- fetch join ----
      // The wire request never carries a fragment (reqwest strips it), so
      // the lookup key is the fragment-stripped url while the row is still
      // recorded under the original url (fragment seeds / redirect targets).
      // Native codegen expression — no UDF boundary on the per-row hot key.
      def keyed(df: DataFrame): DataFrame = df.withColumn("fetch_url",
        graft.functions.UrlExpressions.url_strip_fragment_native(col("url")))
      // Multi-capture resolution AFTER the frontier restriction: max_by
      // (warc_ts, html) grouped on the frontier row identity (seed, url),
      // so the aggregation shuffles only frontier-matched rows — never the
      // pages table. Ties (equal warc_ts) break on the body bytes,
      // deterministically; a null warc_ts capture loses to any timestamped
      // one; an absent row's (null, null) struct keeps html null. On
      // single-capture tables this is the identity — the audited
      // round-plan is unchanged.
      def resolveLatest(df: DataFrame): DataFrame =
        if (!multiCapture) df
        else df.groupBy(col("seed"), col("url"))
          .agg(max(struct(col("warc_ts"), col("html"))).as("_m"),
            first(col("host")).as("host"), first(col("depth")).as("depth"),
            first(col("host_shard")).as("host_shard"),
            first(col("fetch_url")).as("fetch_url"))
          .select(col("seed"), col("url"), col("host"), col("depth"),
            col("host_shard"), col("_m.html").as("html"), col("fetch_url"))
      val matchCols = Seq(col("seed"), col("url"), col("host"), col("depth"),
        col("host_shard"), col("html"), col("fetch_url")) ++
        (if (multiCapture) Seq(col("warc_ts")) else Nil)
      def stepped(df: DataFrame): DataFrame = df
        .select(col("seed"), col("url"), col("host"), col("depth"), col("html"))
        .as[StepIn]
        .mapPartitions(_.map(step))
        .toDF()
      // step output of the rows of `df` that pages holds: the pages table
      // streams past `df` broadcast, so it is never shuffled
      def hits(df: DataFrame): DataFrame = stepped(resolveLatest(
        pagesK.join(broadcast(keyed(df)), Seq("fetch_url"), "inner").select(matchCols: _*)))

      // cluster on the partition column BEFORE the partitionBy write
      // (guide §6): a dynamic-partitioned write from a K-partition input
      // otherwise fans out to K×NumShards files — measured 4352 frontier
      // files in the 1.4M-url round, which both slows that commit and
      // splinters the NEXT round's frontier scan into thousands of tiny
      // reads. One hash exchange of the (narrow) frontier buys one
      // well-sized file per shard dir.
      def nextFrontierOf(added: DataFrame): DataFrame =
        deferred.fold(added)(d => added.unionByName(d.select(frontierCols.map(col): _*)))
          .repartition(col("host_shard"))

      // Each strategy yields the next frontier, the round's result rows,
      // its (discovered, robots-denied, next-frontier) row counts — read
      // once the commit's write has landed — and the frame it cached.
      val (nextFrontier, resultsRound, tallies, cached) =
        if (strategy == "local") {
          val fetchRows = toFetch.select(frontierCols.map(col): _*).as[FrontierRow].collect()
          val hit = hits(spark.createDataset(fetchRows.toSeq).toDF()).as[StepOut].collect()
          val hitKeys = hit.iterator.map(s => (s.seed, s.url)).toSet
          // an absent page is an Error row with no candidates
          val stepRows = hit.toSeq ++ fetchRows.toSeq.filterNot(f => hitKeys((f.seed, f.url)))
            .map(f => step(StepIn(f.seed, f.url, f.host, f.depth, null)))
          // candidates ((seed, url) -> depth) in step order, deduplicated,
          // then checked against seen in one collect of the seen rows
          // that match their keys
          val cand = stepRows
            .flatMap(s => s.candidates.map(u => (s.seed, u) -> (s.depth + 1)))
            .distinctBy(_._1)
          val known =
            if (cand.isEmpty) Set.empty[(String, String)]
            else seen.join(broadcast(cand.map(_._1).toDF("seed", "url")),
              Seq("seed", "url"), "left_semi").as[(String, String)].collect().toSet
          val (allowedNew, deniedNew) = cand.filterNot(c => known(c._1))
            .partition { case ((seed, url), _) => robotsAllow(robots, seed, url) }
          val addedRows = allowedNew.map { case ((seed, url), depth) =>
            val host = hostOf(url)
            FrontierRow(seed, url, host, depth, hostShardOf(host, NumShards))
          }
          val results = stepRows ++
            deniedNew.map { case ((seed, url), depth) => excluded(seed, url, depth) }
          // one partition each: without deferred rows to join, the write
          // needs no exchange and still leaves one file per shard dir
          val added = spark.createDataset(addedRows).toDF().coalesce(1)
          (if (deferred.isEmpty) added else nextFrontierOf(added),
            spark.createDataset(results).toDF().drop("candidates", "depth").coalesce(1),
            () => (cand.size.toLong, deniedNew.size.toLong, addedRows.size + deferredCount),
            None)
        } else {
          // An outer join can never broadcast its preserved side, so the
          // broadcast-frontier plan is an inner join plus a tiny anti-join:
          //   fetched = hits(frontier)  (cached: its rows feed the
          //             candidates and the results)
          //   missing = step(frontier anti broadcast(fetched (seed, url)))
          //             (absent rows -> Error), keyed against the cached
          //             rows, so pages is scanned once per round
          // A missing row carries no candidates (an absent page has no
          // links). The shuffle plan is one left-outer join instead, AQE
          // picking the physical strategy and splitting skewed urls.
          val (stepOut, missing) =
            if (strategy == "broadcast") {
              val hit = hits(toFetch).persist(StorageLevel.MEMORY_AND_DISK)
              val miss = stepped(toFetch
                .join(broadcast(hit.select("seed", "url")), Seq("seed", "url"), "left_anti")
                .withColumn("html", lit(null).cast("binary")))
              (hit, Some(miss))
            } else
              (stepped(resolveLatest(keyed(toFetch).join(pagesK, Seq("fetch_url"), "left_outer"))
                .drop("fetch_url")).persist(StorageLevel.MEMORY_AND_DISK), None)

          // Round counters ride the commit write as Observations — no extra
          // driver jobs per round (north rule: counters per checkpoint).
          val obsCand = org.apache.spark.sql.Observation()
          val obsDenied = org.apache.spark.sql.Observation()
          val obsFrontier = org.apache.spark.sql.Observation()

          // ---- candidates -> dedup -> robots gate ----
          // The new urls feed both the frontier (allowed) and the results
          // (denied) of the one commit write; no cached anti-join shares
          // them, so each branch plans its own dedup over the cached step
          // output. Each observation therefore sits in ONE branch and
          // counts once: the candidates on the frontier side, the denied
          // urls on the results side.
          val cand = stepOut
            .select(col("seed"), explode(col("candidates")).as("url"), (col("depth") + 1).as("depth"))
            .dropDuplicates("seed", "url")
          def newUrls(c: DataFrame) = c.join(seen, Seq("seed", "url"), "left_anti")
          val allowed = udf((seed: String, url: String) => robotsAllow(robotsBc.value, seed, url))
          val allowedNew = newUrls(cand.observe(obsCand, count(lit(1)).as("n")))
            .filter(allowed(col("seed"), col("url")))
          val deniedNew = newUrls(cand).filter(!allowed(col("seed"), col("url")))
            .observe(obsDenied, count(lit(1)).as("n"))

          // host + shard are native Catalyst expressions (UrlExpressions):
          // the frontier projection stays inside whole-stage codegen with
          // no Scala-UDF serialization boundary (round-2 VERDICT #7)
          val addedNew = allowedNew
            .withColumn("host", graft.functions.UrlExpressions.url_host_port_native(col("url")))
            .withColumn("host_shard",
              graft.functions.UrlExpressions.host_shard_native(col("host"), NumShards))
            .select(frontierCols.map(col): _*)

          val results = (stepOut +: missing.toSeq)
            .map(_.drop("candidates", "depth"))
            .reduce(_ unionByName _)
            .unionByName(
              deniedNew.select(
                col("seed"), col("url"),
                lit(Excluded).as("result_type"),
                lit(null).cast("int").as("status"),
                lit(null).cast("string").as("body"),
                lit(null).cast("string").as("location"),
                lit(null).cast("string").as("content_type"),
                lit(null).cast("string").as("error"),
                lit(null).cast("array<string>").as("internal_links"),
                lit(null).cast("array<string>").as("external_links")))
          def n(o: org.apache.spark.sql.Observation) = o.get("n").asInstanceOf[Long]
          (nextFrontierOf(addedNew).observe(obsFrontier, count(lit(1)).as("n")), results,
            () => (n(obsCand), n(obsDenied), n(obsFrontier)), Some(stepOut))
        }

      // ---- commit (counters evaluated after the data write lands) ----
      val tPlan = tickSec(tRound) // plan assembly, politeness count, local steps
      var counters: RoundCounters = null
      val tCommit0 = System.nanoTime()
      val snap = catalog.commit(spark, dir, round,
        Map("frontier" -> nextFrontier, "results_inc" -> resultsRound),
        seeds, counters = {
          val (discovered, deniedCount, frontierRows) = tallies()
          val newCount = frontierRows - deferredCount + deniedCount
          done += fetched + deniedCount
          counters = RoundCounters(round, fetched, discovered, discovered - newCount,
            deniedCount, deferredCount, done, seenCount + newCount - done)
          countersToMap(counters)
        }, partitionBy = Map("frontier" -> Seq("host_shard")))
      val tCommit = tickSec(tCommit0)

      // frontier and seen are re-read from the committed parquet: constant-
      // depth, disk-backed lineage regardless of round count (without this
      // the plan tree grows exponentially with rounds)
      val tRead0 = System.nanoTime()
      snaps :+= snap
      val committedFrontier = catalog.readTable(spark, snap, "frontier")
      val newSeen = seenOf(snaps, committedFrontier)
      val tRead = tickSec(tRead0)
      if (roundLog.isInfoEnabled) roundLog.info(
        f"[round] r=$round%2d strategy=$strategy%-9s frontier=$frontierCount%8d plan=$tPlan%6.2fs " +
          f"commit=$tCommit%6.2fs read=$tRead%5.2fs total=${tickSec(tRound)}%6.2fs")

      // ---- rotate state ----
      // todo = |frontier_{r+1}| and done + todo = |seen_{r+1}| (header)
      cached.foreach(_.unpersist())
      deferred.foreach(_.unpersist())
      frontier = committedFrontier
      frontierCount = counters.todo
      seen = newSeen
      seenCount = counters.done + counters.todo
      roundsLog :+= counters
      emptyFrontier = frontierCount == 0
      round += 1
    } finally sc.setJobDescription(callerDescription)

    new CrawlRun(spark, dir, seeds, failures, roundsLog, round - 1, catalog)
  }
}

/** Handle over a finished (or resumed-to-finished) crawl job. */
final class CrawlRun(
    spark: SparkSession,
    val checkpointDir: String,
    val seeds: Seq[String],
    val failures: Map[String, String],
    val rounds: Vector[RoundCounters],
    val lastRound: Int,
    catalog: graft.sources.TableCatalog = TableIO
) {
  import org.apache.spark.sql.functions._

  /** All result rows: (seed, url, result_type, status, body, location,
    * content_type, error, internal_links, external_links). */
  def results: DataFrame = catalog.readTables(spark,
    (0 to lastRound).map(r => catalog.readSnapshot(checkpointDir, r)), "results_inc")

  /** Result rows tagged with the round that produced them — the checkpoint
    * lineage (one committed increment per round) surfaced as data. Under a
    * politeness budget this exposes the fetch SCHEDULE: which round each url
    * was actually fetched in, after deferrals and priority ranking. */
  def resultsByRound: DataFrame =
    (0 to lastRound).map { r =>
      catalog.readTable(spark, catalog.readSnapshot(checkpointDir, r), "results_inc")
        .withColumn("round", lit(r))
    }.reduce(_ unionByName _)

  /** Result of one seed's crawl — the reference CrawlResult (crawler.rs:127-135). */
  def resultFor(seed: String): DataFrame = {
    val canonical = UrlKit.canonicalize(seed).getOrElse(seed)
    if (failures.contains(canonical))
      throw new CrawlEngine.CrawlFailedException(canonical, failures(canonical))
    results.filter(col("seed") === canonical).drop("seed")
  }

  /** GET /crawl/{seed}/list (api.rs:145-163). */
  def list(seed: String): DataFrame = resultFor(seed).select("url")

  /** GET /crawl/{seed}/count (api.rs:171-187). */
  def count(seed: String): Long = resultFor(seed).count()

  /** GET /status analogue: per-round counters (crawler.rs:369-382). */
  def status: Vector[RoundCounters] = rounds

  /** serde-shape JSON of one crawl (serializers.rs / crawler.rs:131-149). */
  def toJson(seed: String): String = {
    import graft.Json.{quote => q}
    val rows = resultFor(seed).collect()
    val entries = rows.map { r =>
      val url = r.getAs[String]("url")
      val v = r.getAs[String]("result_type") match {
        case CrawlEngine.Excluded => q("ExcludedByRobotsTxt")
        case CrawlEngine.OtherContent =>
          s"""{${q("OtherContent")}: ${q(r.getAs[String]("content_type"))}}"""
        case CrawlEngine.Error =>
          s"""{${q("Error")}: ${q(r.getAs[String]("error"))}}"""
        case CrawlEngine.Redirect =>
          s"""{${q("Redirect")}: {${q("status")}: ${r.getAs[Int]("status")}, ${q("location")}: ${q(r.getAs[String]("location"))}}}"""
        case CrawlEngine.ServerFailure =>
          s"""{${q("ServerFailure")}: {${q("status")}: ${r.getAs[Int]("status")}, ${q("body")}: ${q(r.getAs[String]("body"))}}}"""
        case CrawlEngine.Crawled =>
          val il = Option(r.getAs[scala.collection.Seq[String]]("internal_links")).getOrElse(Seq.empty)
          val el = Option(r.getAs[scala.collection.Seq[String]]("external_links")).getOrElse(Seq.empty)
          s"""{${q("Crawled")}: {${q("internal_links")}: ${il.map(q).mkString("[", ", ", "]")}, ${q("external_links")}: ${el.map(q).mkString("[", ", ", "]")}}}"""
      }
      s"${q(url)}: $v"
    }
    s"""{${q("pages")}: {${entries.mkString(", ")}}}"""
  }
}
