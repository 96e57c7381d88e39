package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CrawlEngine
import graft.sources.PagesGen

/** The bench scale graph: full-coverage crawl, skew present, all result
  * kinds exercised, exactly-once fetch at graph scale. */
class ScaleGraphSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("scale graph: multi-seed crawl covers every page exactly once") {
    val n = 3000L
    val hosts = 3
    val spec = PagesGen.ScaleSpec(n, hosts)
    val pages = PagesGen.scale(spark, n, hosts, 4).cache()

    // skew: host 0 holds ~30%
    assert(spec.blockSize(0) >= (n * 3) / 10)

    val (run, jobs) = TestSpark.jobsOf(new CrawlEngine(spark, pages).crawlAll(spec.seeds))
    // the frontier peaks near 2k rows, past CrawlEngine.LocalRoundMaxRows:
    // the crawl mixes local and broadcast rounds
    val strategies = jobs.flatMap(j => TestSpark.strategyOf(j._1)).toSet
    assert(strategies == Set("local", "broadcast"), strategies)
    val results = run.results.cache()

    // exactly-once: one result row per (seed, url)
    val dups = results.groupBy("seed", "url").count().filter(col("count") > 1).count()
    assert(dups == 0)

    // full coverage: every one of the n page ids has a result row
    // (existing rows are fetched; missing-tail ids are linked → Error rows)
    val resultUrls = results.select("url").distinct()
    val allIds = spark.range(0, n).selectExpr("id")
      .withColumn("url", udf((id: Long) => spec.urlOf(id)).apply(col("id")))
      .select("url")
    val missing = allIds.join(resultUrls, Seq("url"), "left_anti").count()
    assert(missing == 0, s"$missing page ids unreached")

    // all result kinds present
    val kinds = results.select("result_type").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("Crawled", "Redirect", "Error", "OtherContent", "ExcludedByRobotsTxt"))

    // counters add up: done == all results, todo ends at 0
    assert(run.rounds.last.todo == 0)
    assert(run.rounds.map(_.fetched).sum + run.rounds.map(_.robotsDenied).sum == results.count())
    // dedup pressure was real: every fetched parent is rediscovered by its
    // children exactly one round later (siblings collapse intra-round first)
    assert(run.rounds.map(_.deduped).sum > n / 20)
    results.unpersist()
    pages.unpersist()
  }
}
