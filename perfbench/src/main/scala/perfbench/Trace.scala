package perfbench

import graft.sources.{TableCatalog, TableIO}
import graft.sources.TableIO.Snapshot
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One traced interval. Times are System.nanoTime values; `key` is the round
  * or request id the span belongs to. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, key: String) {
  def dur: Long = end - start
}

/** In-memory span buffer, written out as JSON lines when the run ends. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  def add(name: String, start: Long, end: Long, key: String = ""): Unit =
    buf.add(Span(ids.incrementAndGet(), name, start, end, 0L, key))
  def all: Vector[Span] = buf.asScala.toVector

  /** Spans with parents filled in: a span's parent is the shortest span of
    * an enclosing layer that contains its start. */
  def resolved: Vector[Span] = {
    val spans = all
    val containers = spans.filter(s => Spans.nesting.contains(s.name))
    spans.map { s =>
      val rank = Spans.nesting.getOrElse(s.name, Int.MaxValue)
      val enclosing = containers.filter(c => Spans.nesting(c.name) < rank && c.start <= s.start && s.start < c.end)
      if (enclosing.isEmpty) s else s.copy(parent = enclosing.minBy(_.dur).id)
    }
  }

  /** Self time per layer: the wall time in which some span of the layer is
    * open and no child of any of its spans is. */
  def selfSeconds: Seq[(String, Double)] = {
    val spans = resolved
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val ids = ss.map(_.id).toSet
      val own = ss.map(s => (s.start, s.end))
      val kids = spans.filter(k => ids(k.parent)).map(k => (k.start, k.end))
      name -> (Spans.unionLength(own ++ kids) - Spans.unionLength(kids)) / 1e9
    }.sortBy(-_._2)
  }

  def writeJsonLines(path: java.nio.file.Path, t0: Long): Unit = {
    val lines = resolved.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${(s.start - t0) / 1e6}%.3f,""" +
        f""""end_ms":${(s.end - t0) / 1e6}%.3f,"parent":${s.parent},"key":${Json.str(s.key)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Spans {
  /** Layer nesting, outermost first: a span's parent is drawn from layers
    * with a lower rank. */
  val nesting: Map[String, Int] = Map(
    "workload.op" -> 0, "http.request" -> 1, "curate.query" -> 1,
    "crawl_engine.round" -> 2, "tableio.commit" -> 3, "tableio.read" -> 3, "spark.job" -> 4)

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Spark execution counters from a listener: per job (keyed by its job
  * description), per stage and per task. Listener times are wall-clock
  * milliseconds; they are shifted onto the nanoTime base of the spans. */
final class SparkStats(spans: Spans) extends SparkListener {
  private val nanoMinusWall = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + nanoMinusWall

  final class Job(val id: Int, val desc: String, val start: Long) {
    @volatile var end: Long = 0L
    val tasks = new AtomicLong(); val taskNs = new AtomicLong()
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new AtomicLong()
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  val runMs, gcMs, inputB, shReadB, shWriteB, spillB = new AtomicLong()
  val events = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, desc, toNano(e.time)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    events.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = toNano(e.time)
      spans.add("spark.job", j.start, j.end, j.desc)
    }
    events.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); events.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    taskIntervals.add((toNano(ti.launchTime), toNano(ti.finishTime)))
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet(); j.taskNs.addAndGet((ti.finishTime - ti.launchTime) * 1000000L)
    }
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime); gcMs.addAndGet(m.jvmGCTime)
      inputB.addAndGet(m.inputMetrics.bytesRead)
      shReadB.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      shWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.diskBytesSpilled)
    }
    events.incrementAndGet()
  }

  /** Wait until the listener bus has delivered everything (no new event for
    * a quiet period). */
  def drain(): Unit = {
    var last = -1L
    var waited = 0
    while (events.get() != last && waited < 50) {
      last = events.get(); Thread.sleep(200); waited += 1
    }
  }

  def metrics(windowNs: Long, cores: Int, ops: Double): Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    val busy = Spans.unionLength(taskIntervals.asScala.toSeq)
    val taskNs = taskIntervals.asScala.toSeq.map(i => i._2 - i._1).sum
    Seq(
      "spark.jobs" -> jobs.size / ops,
      "spark.stages" -> stages.get / ops,
      "spark.tasks" -> taskIntervals.size / ops,
      "spark.task_s" -> runMs.get / 1e3 / ops,
      "spark.gc_s" -> gcMs.get / 1e3 / ops,
      "spark.input_mb" -> inputB.get / mb / ops,
      "spark.shuffle_read_mb" -> shReadB.get / mb / ops,
      "spark.shuffle_write_mb" -> shWriteB.get / mb / ops,
      "spark.spill_mb" -> spillB.get / mb / ops,
      "spark.driver_gap_s" -> math.max(0L, windowNs - busy) / 1e9 / ops,
      "spark.core_busy_share" -> taskNs.toDouble / (windowNs.toDouble * cores))
  }

  /** Per-description rows: jobs, tasks, task seconds, wall seconds. */
  def byDescription(group: String => String): Seq[(String, Int, Long, Double, Double)] =
    jobs.values.asScala.toSeq.groupBy(j => group(j.desc)).toSeq.map { case (g, js) =>
      (g, js.size, js.map(_.tasks.get).sum, js.map(_.taskNs.get).sum / 1e9,
        Spans.unionLength(js.filter(_.end > 0).map(j => (j.start, j.end))) / 1e9)
    }.sortBy(-_._4)
}

/** A TableCatalog that times every call into the wrapped catalog and counts
  * the files and bytes each commit wrote. It is handed to the public
  * CrawlEngine constructor; the engine itself is unchanged. */
final class TimingCatalog(inner: TableCatalog, spans: Spans) extends TableCatalog {
  import TimingCatalog.Commit
  val commits = new ConcurrentLinkedQueue[Commit]()
  val readNs = new AtomicLong()

  private def read[T](dir: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      readNs.addAndGet(t1 - t0); spans.add("tableio.read", t0, t1, dir)
    }
  }

  override def commit(spark: SparkSession, dir: String, round: Int, tables: Map[String, DataFrame],
                      seeds: Seq[String], counters: => Map[String, Long],
                      partitionBy: Map[String, Seq[String]], failures: Map[String, String]): Snapshot = {
    val t0 = System.nanoTime()
    val snap = inner.commit(spark, dir, round, tables, seeds, counters, partitionBy, failures)
    val t1 = System.nanoTime()
    spans.add("tableio.commit", t0, t1, s"round=$round")
    var files, bytes = 0L
    snap.tables.values.foreach { p =>
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try st.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).foreach { f =>
        files += 1; bytes += java.nio.file.Files.size(f)
      } finally st.close()
    }
    commits.add(Commit(dir, round, t0, t1, files, bytes))
    snap
  }
  override def latestRound(dir: String): Option[Int] = read(dir)(inner.latestRound(dir))
  override def readSnapshot(dir: String, round: Int): Snapshot = read(dir)(inner.readSnapshot(dir, round))
  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
    read(name)(inner.readTable(spark, snap, name))
  override def readTables(spark: SparkSession, snaps: Seq[Snapshot], name: String): DataFrame =
    read(name)(inner.readTables(spark, snaps, name))

  /** Round spans derived from consecutive commits of one checkpoint: round r
    * runs from commit r-1's return to commit r's return, and its pre-commit
    * part ends where commit r is called. */
  def rounds: Seq[(Commit, Long, Long)] =
    commits.asScala.toSeq.groupBy(_.dir).values.toSeq.flatMap { cs =>
      val sorted = cs.sortBy(_.round)
      sorted.zip(sorted.drop(1)).map { case (prev, c) => (c, c.end - prev.end, c.start - prev.end) }
    }
}

object TimingCatalog {
  final case class Commit(dir: String, round: Int, start: Long, end: Long, files: Long, bytes: Long)
  def apply(spans: Spans): TimingCatalog = new TimingCatalog(TableIO, spans)
}

/** Old-generation use after a full collection: the heap the workload
  * keeps live. A peak over the window's own collections would follow the
  * timing of G1's marking cycles more than the program. The first collection
  * lets Spark's ContextCleaner drop the broadcasts and shuffles it finds
  * unreachable; the second one measures without them. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / (1024.0 * 1024.0)
  }
}

/** Single-thread kit throughput over a sample of a workload's own pages, no
  * Spark: each kit call is repeated over the sample for `budgetNs` to warm
  * up, then measured for another `budgetNs`. */
object Kits {
  import graft.htmlkit.HtmlKit
  import graft.httpkit.HttpKit
  import graft.robotskit.RobotsKit
  import graft.urlkit.UrlKit

  @volatile private var sink: Long = 0L

  private def rate[A](name: String, items: IndexedSeq[A], budgetNs: Long, spans: Spans)(f: A => Int): Double = {
    var acc = 0L
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < budgetNs) items.foreach(a => acc += f(a))
    val t0 = System.nanoTime()
    var ops = 0L
    while (System.nanoTime() - t0 < budgetNs) {
      var i = 0
      while (i < items.size) { acc += f(items(i)); i += 1 }
      ops += items.size
    }
    val t1 = System.nanoTime()
    sink += acc
    spans.add(s"kit.$name", t0, t1)
    ops / ((t1 - t0) / 1e9)
  }

  def run(pages: IndexedSeq[(String, Array[Byte])], robotsTxt: String, budgetNs: Long,
          spans: Spans): Seq[(String, Double)] = {
    val bodies = pages.flatMap { case (u, b) =>
      val c = HttpKit.classify(u, b)
      if (c.kind == HttpKit.Kind.Html) Some((u, c.body.getOrElse(""))) else None
    }
    val links = bodies.flatMap { case (u, b) => HtmlKit.extractLinksStr(u, b).map(_.url) }
    val rules = RobotsKit.parse(robotsTxt, graft.operators.CrawlConfig().userAgent).effectiveRules
    Seq(
      "httpkit.classify_per_s" -> rate("httpkit.classify", pages, budgetNs, spans) { case (u, b) =>
        HttpKit.classify(u, b).kind.length },
      "htmlkit.extract_links_per_s" -> rate("htmlkit.extract_links", bodies, budgetNs, spans) { case (u, b) =>
        HtmlKit.extractLinksStr(u, b).size },
      "urlkit.parse_per_s" -> rate("urlkit.parse", links, budgetNs, spans)(l =>
        UrlKit.parse(l).fold(_.length, _.serialize.length)),
      "urlkit.strip_fragment_per_s" -> rate("urlkit.strip_fragment", links, budgetNs, spans)(l =>
        UrlKit.stripFragmentStr(l).length),
      "robotskit.allowed_per_s" -> rate("robotskit.allowed", links, budgetNs, spans)(l =>
        if (RobotsKit.allowedByRules(rules, RobotsKit.pathParamsQuery(l))) 1 else 0))
  }

  /** A fixed loop that calls no program code: a noise control for the host. */
  def control(spans: Spans): Double = {
    val rates = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      val t1 = System.nanoTime()
      sink += x
      spans.add("host.control", t0, t1)
      20000000 / ((t1 - t0) / 1e9)
    }
    rates.sorted.apply(1)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
