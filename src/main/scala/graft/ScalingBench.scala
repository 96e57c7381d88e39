package graft

/**
 * The crawl scale ladder: the identical multi-seed crawl over a generated
 * scale pages table at a chosen core count, reporting throughput and the
 * exactly-once counters (`fetched == n` on the 4M/16M graphs).
 *
 * Each phase runs in its OWN JVM (sbt forks per runMain) so the second
 * measurement doesn't inherit the first one's heap/GC state:
 *
 *   sbt "runMain graft.ScalingBench gen 4000000"
 *   sbt "runMain graft.ScalingBench run 4 4000000"
 *
 * Each phase prints one JSON line. A malformed argument exits 2 with a
 * one-line message naming it.
 */
object ScalingBench {

  private val hosts = 8
  private def pagesDir(n: Long) = s"/tmp/graft_scaling_pages_$n"
  private def warmDir = "/tmp/graft_scaling_pages_warm"
  private val warmN = 20000L

  private def arg[T](name: String, v: String)(parse: String => T): T =
    Cli.orExit("scaling")(Cli.num(name, v)(parse))

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: nStr :: Nil =>
      val n = arg("n", nStr)(_.toLong)
      val s = Bench.buildSession(32, "graft-scaling-gen")
      graft.sources.PagesGen.scale(s, n, hosts, 64)
        .write.mode("overwrite").parquet(pagesDir(n))
      graft.sources.PagesGen.scale(s, warmN, hosts, 32)
        .write.mode("overwrite").parquet(warmDir)
      s.stop()
      println(s"""{"metric":"gen","n":$n,"pagesDir":"${pagesDir(n)}"}""")

    case "run" :: cpusStr :: nStr :: Nil =>
      val cpus = Cli.orExit("scaling")(Cli.cores("cpus", cpusStr))
      val n = arg("n", nStr)(_.toLong)
      val s = Bench.buildSession(cpus, s"graft-scaling-$cpus")
      // warm JIT/code paths with a small untimed crawl
      Bench.crawlBench(s, warmDir, warmN, hosts)
      val r = Bench.crawlBench(s, pagesDir(n), n, hosts)
      s.stop()
      val tp = r.processed / r.seconds
      println(
        s"""{"metric":"crawl_throughput","cpus":$cpus,"n":$n,"sec":${f"${r.seconds}%.2f"},""" +
        s""""processed":${r.processed},"urls_per_sec":${f"$tp%.1f"},"rounds":${r.rounds},""" +
        s""""fetched":${r.fetched},"deduped":${r.deduped},"robots_denied":${r.robotsDenied}}""")

    case _ => Cli.fail("scaling", "usage: ScalingBench gen <n> | run <cpus> <n>")
  }
}
