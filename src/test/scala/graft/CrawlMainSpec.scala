package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** CrawlMain's argument contract, the numeric parsing every main shares,
  * and the JSON lines CrawlMain prints. */
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
    for (flag <- Seq("--seen-buckets", "--bloom-distributed-min", "--bloom-expected", "--no-such-flag")) {
      val e = intercept[IllegalArgumentException](CrawlMain.parseArgs(Array(flag, "8")))
      assert(e.getMessage.contains(flag) && !e.getMessage.contains("\n"), e.getMessage)
    }
    for (flag <- Seq("budget", "round-seconds", "max-rounds", "frontier-bcast-max")) {
      val e = intercept[IllegalArgumentException](
        CrawlMain.configOf(CrawlMain.parseArgs(Array(s"--$flag", "ten"))))
      assert(e.getMessage.contains(s"--$flag") && !e.getMessage.contains("\n"), e.getMessage)
    }
    intercept[IllegalArgumentException](CrawlMain.parseArgs(Array("--pages")))
  }

  test("shared numeric parsing: one line naming the argument or env var; defaults when unset") {
    assert(Cli.num("n", "42")(_.toLong) == 42L)
    for ((name, v) <- Seq("n" -> "4M", "cpus" -> "2.5", "SPARK_GRAFT_CRAWL_N" -> "")) {
      val e = intercept[IllegalArgumentException](Cli.num(name, v)(_.toInt))
      assert(e.getMessage == s"$name: not a number: $v")
    }
    val env = Map("SPARK_GRAFT_CRAWL_N" -> "1000", "SPARK_GRAFT_CPUS" -> "four")
    assert(Cli.envNum("SPARK_GRAFT_CRAWL_N", 7L, env.get)(_.toLong) == 1000L)
    assert(Cli.envNum("SPARK_GRAFT_CRAWL_CPUS", 8, env.get)(_.toInt) == 8)
    val e = intercept[IllegalArgumentException](Cli.envNum("SPARK_GRAFT_CPUS", 32, env.get)(_.toInt))
    assert(e.getMessage == "SPARK_GRAFT_CPUS: not a number: four")
    assert(Cli.orExit("bench")(Cli.num("n", "5")(_.toInt)) == 5)
  }

  test("src/main reads only the documented env vars; every other knob is a flag or a CrawlConfig field") {
    // the mains' data dir, core counts and crawl size, and Spark's MASTER
    val documented = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_CRAWL_CPUS",
      "SPARK_GRAFT_CRAWL_N", "SPARK_GRAFT_CRAWL_REPS", "MASTER")
    // a read names a literal, directly or through a Cli helper; only the Cli
    // helpers' default reader (`= sys.env.get`) takes its name as an argument
    val named = """(?:(?:sys\.env|System\.getenv)(?:\.\w+)?|Cli\.env\w+)\(\s*"([^"]*)"""".r
    val anyRead = """sys\.env|System\.getenv""".r
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main", "scala"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(files.size > 10)
    val found = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      bad <- named.findAllMatchIn(line).map(_.group(1)).filterNot(documented).toList ++
        Option.when(anyRead.findFirstIn(line).nonEmpty && named.findFirstIn(line).isEmpty &&
          !line.contains("= sys.env.get"))("<a name that is not a literal>")
    } yield s"$f:${i + 1}: $bad"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("core counts: zero, negative or non-numeric fail with one line, before any Spark") {
    assert(Cli.cores("cpus", "3") == 3)
    for (v <- Seq("0", "-2", "four", "2.5", "")) {
      val e = intercept[IllegalArgumentException](Cli.cores("cpus", v))
      assert(e.getMessage.startsWith("cpus: ") && !e.getMessage.contains("\n"), e.getMessage)
      // Verify and Bench read SPARK_GRAFT_CPUS, CrawlMain --cpus, ScalingBench its argument
      val env = intercept[IllegalArgumentException](
        Cli.envCores("SPARK_GRAFT_CPUS", 4, Map("SPARK_GRAFT_CPUS" -> v).get))
      assert(env.getMessage.startsWith("SPARK_GRAFT_CPUS: "), env.getMessage)
      val flag = intercept[IllegalArgumentException](
        CrawlMain.coresOf(CrawlMain.parseArgs(Array("--cpus", v))))
      assert(flag.getMessage.startsWith("--cpus: "), flag.getMessage)
    }
    assert(Cli.envCores("SPARK_GRAFT_CPUS", 4, Map.empty[String, String].get) == 4)
    assert(CrawlMain.coresOf(Map.empty) == "*" && CrawlMain.coresOf(Map("cpus" -> "2")) == "2")
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
