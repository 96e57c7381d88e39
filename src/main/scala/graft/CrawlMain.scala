package graft

import graft.operators.{CrawlConfig, CrawlEngine}
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for the crawl engine (the north rule's
 * "runs via spark-submit ... resumable from checkpoint" contract):
 *
 *   spark-submit --class graft.CrawlMain <jar> \
 *     --pages <parquet dir> --seeds <url,url,...> --checkpoint <dir> \
 *     [--resume] [--cpus N] [--budget N] [--round-seconds S] [--max-rounds N] \
 *     [--frontier-bcast-max N]
 *
 * Seen-dedup is one exact (seed, url) anti-join per round.
 * `--frontier-bcast-max` caps the fetch-set row count the fetch join
 * broadcasts, and so the local rounds too
 * (CrawlConfig.broadcastFrontierMaxRows).
 *
 * On a cluster nothing changes but the master/executor configs: the engine
 * is partition-parallel throughout (fetch join, tokenization, dedup
 * anti-join, host-shard-partitioned frontier commits). Each round logs one
 * `[round]` line to stderr as it commits (logger `graft.crawl` at INFO:
 * strategy, frontier size, phase seconds). Exit code 0 on a completed
 * crawl; counters echoed per round as JSON lines at the end. A bad argument
 * or config value exits 2 with a one-line message naming it.
 */
object CrawlMain {

  private val ValueFlags = Set("pages", "seeds", "checkpoint", "cpus", "budget",
    "round-seconds", "max-rounds", "frontier-bcast-max")

  /** Flag name → value (`--resume` → "true"). An unknown flag, a flag
    * without its value or a stray argument raises IllegalArgumentException. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--resume" => m += "resume" -> "true"; i += 1
        case flag if flag.startsWith("--") && ValueFlags(flag.drop(2)) =>
          require(i + 1 < args.length, s"$flag needs a value")
          m += flag.drop(2) -> args(i + 1); i += 2
        case flag if flag.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown flag: $flag")
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    m.toMap
  }

  /** Numeric flag value; a non-number raises IllegalArgumentException naming the flag. */
  private def num[T](a: Map[String, String], flag: String)(parse: String => T): Option[T] =
    a.get(flag).map(Cli.num(s"--$flag", _)(parse))

  private[graft] def configOf(a: Map[String, String]): CrawlConfig = {
    val d = CrawlConfig()
    CrawlConfig(
      perHostBudgetPerRound = num(a, "budget")(_.toInt).getOrElse(d.perHostBudgetPerRound),
      roundSeconds = num(a, "round-seconds")(_.toDouble).getOrElse(d.roundSeconds),
      maxRounds = num(a, "max-rounds")(_.toInt).getOrElse(d.maxRounds),
      broadcastFrontierMaxRows =
        num(a, "frontier-bcast-max")(_.toLong).getOrElse(d.broadcastFrontierMaxRows))
  }

  /** The `local[N]` core spec: `--cpus` (an integer >= 1), else every core. */
  private[graft] def coresOf(a: Map[String, String]): String =
    a.get("cpus").map(Cli.cores("--cpus", _).toString).getOrElse("*")

  private[graft] def failedSeedLine(seed: String, error: String): String =
    s"""{"failed_seed":${Json.quote(seed)},"error":${Json.quote(error)}}"""

  private[graft] def completeLine(seeds: Int, results: Long, checkpoint: String): String =
    s"""{"crawl":"complete","seeds":$seeds,"results":$results,"checkpoint":${Json.quote(checkpoint)}}"""

  private def usageError(msg: String): Nothing = Cli.fail("crawl", msg)

  def main(args: Array[String]): Unit = {
    val (a, cfg, cpus) = Cli.orExit("crawl") {
      val a = parseArgs(args)
      (a, configOf(a), coresOf(a))
    }
    val pagesDir = a.getOrElse("pages", usageError("--pages <dir> required"))
    val ckpt = a.getOrElse("checkpoint", usageError("--checkpoint <dir> required"))
    val resume = a.contains("resume")
    val seeds = a.get("seeds").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(if (resume) Seq.empty else usageError("--seeds required unless --resume"))

    // under spark-submit the master comes from the launcher; standalone
    // runs fall back to all local cores
    val builder = SparkSession.builder()
      .appName("graft-crawl")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    if (sys.props.get("spark.master").isEmpty && sys.env.get("MASTER").isEmpty)
      builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // AFTER setLogLevel, which resets every logger to WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      CrawlEngine.RoundLogger, org.apache.logging.log4j.Level.INFO)

    val pages = spark.read.parquet(pagesDir)
    val engine =
      try new CrawlEngine(spark, pages, cfg, ckpt)
      catch { case e: IllegalArgumentException => spark.stop(); usageError(e.getMessage) }
    val run = if (resume) engine.resume() else engine.crawlAll(seeds)

    run.rounds.foreach { c =>
      println(s"""{"round":${c.round},"fetched":${c.fetched},"discovered":${c.discovered},""" +
        s""""deduped":${c.deduped},"robots_denied":${c.robotsDenied},"deferred":${c.deferred},""" +
        s""""done":${c.done},"todo":${c.todo}}""")
    }
    run.failures.foreach { case (seed, msg) => System.err.println(failedSeedLine(seed, msg)) }
    println(completeLine(run.seeds.size, run.results.count(), ckpt))
    spark.stop()
  }
}
