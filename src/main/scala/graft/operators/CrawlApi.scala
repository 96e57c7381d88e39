package graft.operators

import graft.sources.TableIO
import graft.urlkit.UrlKit
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The reference's HTTP API surface (/root/reference/src/api.rs) mapped to a
 * library facade — a user of the reference can express every endpoint:
 *
 *   GET /crawl/{seed}        → crawl / crawlJson (full CrawlResult, serde shape)
 *   GET /crawl/{seed}/list   → list (π_url of the result, api.rs:145-163)
 *   GET /crawl/{seed}/count  → count (|result|, api.rs:171-187)
 *   GET /status              → status (done/todo per crawl, api.rs:189-202)
 *
 * Error mapping (api.rs:59-117): a non-URL seed throws
 * IllegalArgumentException carrying the parse error (the 400 path); a
 * crawler failure throws CrawlFailedException (the 500 path).
 *
 * Unlike the reference's in-memory mutex registry (crawler.rs:201-209),
 * progress observation is a read of the last committed checkpoint manifest:
 * `status` works from any process, including while the crawl job is still
 * running or after the driver died (north rule St3/St4).
 */
final class CrawlApi(spark: SparkSession, pages: DataFrame, cfg: CrawlConfig = CrawlConfig()) {

  // seed → checkpoint dir of its most recent crawl through this facade.
  // AtomicReference, not a @volatile var: concurrent HTTP handlers
  // (CrawlHttpApi runs a pool) register/deregister concurrently, and a
  // read-modify-write on a volatile Map loses updates under a race.
  private val crawlsRef =
    new java.util.concurrent.atomic.AtomicReference[Map[String, String]](Map.empty)
  private def crawls: Map[String, String] = crawlsRef.get()

  // one engine serves every request, each crawled into its own checkpoint
  // dir; its multi-capture probe runs once, on the first request
  private val engine = new CrawlEngine(spark, pages, cfg)

  private def canonical(seed: String): String =
    UrlKit.parse(seed).fold(
      e => throw new IllegalArgumentException(e), // api.rs:71-79 → 400 with ParseError text
      _.serialize)

  private def runCrawl(seed0: String): CrawlRun = {
    val seed = canonical(seed0)
    // deleted at JVM exit; `status` reads it until then
    val dir = CrawlEngine.tempCheckpoints.create("graft-api-crawl-")
    crawlsRef.updateAndGet(_ + (seed -> dir))
    val run = engine.crawlInto(dir, Seq(seed))
    if (run.failures.contains(seed)) {
      crawlsRef.updateAndGet(_ - seed) // deregistered on failure too (crawler.rs:356-361)
      throw new CrawlEngine.CrawlFailedException(seed, run.failures(seed))
    }
    run
  }

  /** GET /crawl/{seed} — result rows of the crawl. */
  def crawl(seed: String): DataFrame = runCrawl(seed).resultFor(canonical(seed))

  /** GET /crawl/{seed} — the exact serde JSON payload shape. */
  def crawlJson(seed: String): String = runCrawl(seed).toJson(canonical(seed))

  /** GET /crawl/{seed}/list */
  def list(seed: String): DataFrame = runCrawl(seed).list(canonical(seed))

  /** GET /crawl/{seed}/count */
  def count(seed: String): Long = runCrawl(seed).count(canonical(seed))

  /** GET /status — (seed, done, todo) from each crawl's last committed
    * round manifest (readable mid-crawl from any process). */
  def status: Map[String, (Long, Long)] =
    crawls.flatMap { case (seed, dir) =>
      TableIO.latestRound(dir).map { r =>
        val c = TableIO.readSnapshot(dir, r).counters
        seed -> (c.getOrElse("done", 0L), c.getOrElse("todo", 0L))
      }
    }
}
