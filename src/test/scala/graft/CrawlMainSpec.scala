package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** CrawlMain's argument contract and the JSON lines it prints. */
class CrawlMainSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("failed-seed and completion lines parse as JSON whatever the text holds") {
    val msg = "Got \"status\" 500\nfor robots.txt \\ \t\u0001"
    val failed = mapper.readTree(CrawlMain.failedSeedLine("http://a/\"q\"", msg))
    assert(failed.get("failed_seed").asText == "http://a/\"q\"")
    assert(failed.get("error").asText == msg)
    val done = mapper.readTree(CrawlMain.completeLine(2, 7L, "/tmp/ck \"x\"\n"))
    assert(done.get("checkpoint").asText == "/tmp/ck \"x\"\n")
    assert(done.get("results").asLong == 7L)
  }

  test("unknown flags and non-numeric values fail with one line naming the flag") {
    for (flag <- Seq("--seen-buckets", "--bloom-distributed-min", "--no-such-flag")) {
      val e = intercept[IllegalArgumentException](CrawlMain.parseArgs(Array(flag, "8")))
      assert(e.getMessage.contains(flag) && !e.getMessage.contains("\n"), e.getMessage)
    }
    for (flag <- Seq("budget", "round-seconds", "max-rounds", "bloom-expected", "frontier-bcast-max")) {
      val e = intercept[IllegalArgumentException](
        CrawlMain.configOf(CrawlMain.parseArgs(Array(s"--$flag", "ten"))))
      assert(e.getMessage.contains(s"--$flag") && !e.getMessage.contains("\n"), e.getMessage)
    }
    intercept[IllegalArgumentException](CrawlMain.parseArgs(Array("--pages")))
  }

  test("flags map onto CrawlConfig; --frontier-bcast-max sets the broadcast cap") {
    val a = CrawlMain.parseArgs(Array("--pages", "p", "--checkpoint", "c", "--resume",
      "--frontier-bcast-max", "5000", "--budget", "3"))
    assert(a("pages") == "p" && a.contains("resume"))
    val cfg = CrawlMain.configOf(a)
    assert(cfg.broadcastFrontierMaxRows == 5000L && cfg.perHostBudgetPerRound == 3)
    assert(CrawlMain.configOf(Map.empty) == operators.CrawlConfig())
  }
}
