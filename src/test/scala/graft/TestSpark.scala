package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "4g")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val temps = graft.operators.CrawlEngine.TempDirs.deletedAtExit("graft-test-")

  /** A fresh temp dir named `prefix…`, deleted with its contents when the
    * test JVM exits. */
  def tempDir(prefix: String): String = temps.create(prefix)

  /** Returns once every listener event posted before the call has reached
    * the listeners added with `addSparkListener`: they share one queue,
    * which delivers in order, so it runs one marked job and waits for its
    * start. */
  def drainListenerBus(): Unit = {
    val label = s"graft-drain-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.CountDownLatch(1)
    val marker = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.test.drain") == label) started.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(marker)
    try {
      sc.setLocalProperty("graft.test.drain", label)
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.drain", null)
      assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(marker)
  }

  /** `body`'s value and the (description, stage count, call site) of every
    * Spark job it started, in start order; jobs of other threads are not
    * counted. The call site is the driver stack that started the job's SQL
    * execution (AQE submits a query's jobs from its own threads). */
  def jobsOf[T](body: => T): (T, Seq[(String, Int, String)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val label = s"graft-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, String)]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.test.jobs") == label)
          jobs.add((String.valueOf(e.properties.getProperty("spark.job.description")), e.stageInfos.size,
            String.valueOf(e.properties.getProperty("spark.sql.execution.id"))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId.toString, s.details)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.jobs", label)
      val out = try body finally sc.setLocalProperty("graft.test.jobs", null)
      drainListenerBus()
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq.map { case (d, n, exec) => (d, n, sqlSites.getOrDefault(exec, "")) })
    } finally sc.removeSparkListener(listener)
  }

  /** The strategy a crawl round's job label names, if any. */
  def strategyOf(jobDescription: String): Option[String] =
    "^crawl round=\\d+ strategy=(\\w+) ".r.findFirstMatchIn(jobDescription).map(_.group(1))

  /** `body`'s value and the log lines at `level` or worse, as `logger:
    * message`, logged on this thread while it ran (other threads' noise —
    * heartbeats, block manager — is not the caller's). Only loggers enabled
    * at `level` log such lines. */
  def logsOnThisThread[T](level: org.apache.logging.log4j.Level)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val thread = Thread.currentThread.getName
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(level) && e.getThreadName == thread)
          lines.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val out = try body finally { root.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    (out, lines.asScala.toSeq)
  }
}
