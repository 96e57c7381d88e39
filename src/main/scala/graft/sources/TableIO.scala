package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.Json.{quote => q}

/**
 * Iceberg-style table/checkpoint emulation: partitioned parquet data plus a
 * JSON snapshot manifest per commit. No Iceberg runtime jar ships in this
 * sandbox (/opt/spark/jars), so snapshot isolation is emulated with
 * write-data-first / atomically-rename-manifest-last commits; a real Iceberg
 * catalog becomes a config-only swap behind this object (SURVEY.md §7.1).
 *
 * Manifest carries the north-rule lineage and counters: snapshot id, parent
 * id, round, seeds, per-round counters (fetched, deduped, robots-denied,
 * done, todo), the data paths, and each table's schema (as Iceberg's table
 * metadata does), so reading a committed table back starts no one-task
 * parquet schema-inference job. A read whose listing levels each hold at
 * most 32 paths (Spark's `parallelPartitionDiscovery.threshold`) is then
 * pure driver work; a multi-round [[readTables]] over more uncompacted
 * rounds still lists its files with a Spark job, until [[compact]] folds
 * the span into one path. `latestRound` scans committed manifests only —
 * a job killed mid-write leaves no manifest, so resume restarts from the
 * previous complete round (resume-exactly semantics, SURVEY.md §2.8 St4).
 */
object TableIO extends TableCatalog {

  final case class Snapshot(
      round: Int,
      parentRound: Int,
      seeds: Seq[String],
      counters: Map[String, Long],
      tables: Map[String, String],
      /** seeds whose crawl failed (e.g. non-404 robots fetch) with the
        * failure message — persisted so resume() reproduces the reference's
        * 500 path (crawler.rs:356-361) instead of silently dropping them */
      failures: Map[String, String] = Map.empty,
      /** table name → `StructType.json` of the committed data (optional:
        * absent in pre-schema manifests, whose reads infer the schema) */
      schemas: Map[String, String] = Map.empty
  )

  private def manifestPath(dir: String, round: Int) =
    Paths.get(dir, f"manifest-r$round%05d.json")

  /** `counters` is by-name: evaluated AFTER the data writes land (so it can
    * read Observation metrics attached to those writes) and before the
    * manifest commit. */
  override def commit(
      spark: SparkSession,
      dir: String,
      round: Int,
      tables: Map[String, DataFrame],
      seeds: Seq[String],
      counters: => Map[String, Long],
      partitionBy: Map[String, Seq[String]],
      failures: Map[String, String]
  ): Snapshot = {
    Files.createDirectories(Paths.get(dir))
    def writeOne(name: String, df: DataFrame): (String, String) = {
      val p = Paths.get(dir, f"r$round%05d", name).toString
      // physical per-partition lineage: e.g. frontier written as
      // host_shard=K subdirectories (north rule: lineage = seed, round,
      // host-shard; seed is a column, round is the snapshot dir)
      partitionBy.get(name).filter(_.nonEmpty) match {
        case Some(cols) =>
          df.write.mode("overwrite").partitionBy(cols: _*).parquet(p)
          // a partitioned write of an EMPTY dataset leaves no files at all
          // (unreadable schema); rewrite unpartitioned so readers see the schema
          val hasData = {
            val st = Files.walk(Paths.get(p))
            try st.anyMatch(f => f.toString.endsWith(".parquet")) finally st.close()
          }
          if (!hasData) df.write.mode("overwrite").parquet(p)
        case None =>
          df.write.mode("overwrite").parquet(p)
      }
      name -> p
    }
    // The per-round tables are written CONCURRENTLY (one thread per table):
    // each write is an independent Spark job, and running them together
    // overlaps their scheduling gaps and straggler tails instead of paying
    // them serially once per table per round. Shared upstream frames are
    // persisted by the caller, and Spark's BlockManager computes a cached
    // partition exactly once under concurrent demand (per-block locks), so
    // the write jobs co-compute the round, never re-compute it. Commit
    // semantics are unchanged: ALL data writes land (Await below) before
    // the manifest rename makes any of them visible.
    val paths =
      if (tables.size <= 1) tables.map { case (n, df) => writeOne(n, df) }
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence(tables.toSeq.map { case (n, df) => Future(writeOne(n, df)) }),
          Duration.Inf).toMap
        finally pool.shutdown()
      }
    val schemas = tables.map { case (n, df) => n -> df.schema.json }
    val snap = Snapshot(round, round - 1, seeds, counters, paths, failures, schemas)
    val json = renderJson(snap)
    val tmp = Paths.get(dir, f".manifest-r$round%05d.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(dir, round), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  override def latestRound(dir: String): Option[Int] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return None
    val rounds = Files.list(d).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest-r") && s.endsWith(".json") =>
        s.stripPrefix("manifest-r").stripSuffix(".json").toInt
      }
      .toSeq
    rounds.sorted.lastOption
  }

  override def readSnapshot(dir: String, round: Int): Snapshot =
    parseJson(Files.readString(manifestPath(dir, round)))

  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
    reader(spark, Seq(snap), name).parquet(snap.tables(name))

  /** A parquet reader carrying the manifest schema of `name`, so the scan
    * starts no inference job. Multi-snapshot reads take the latest schema;
    * if any snapshot predates schema recording, Spark infers it as before. */
  private def reader(spark: SparkSession, snaps: Seq[Snapshot], name: String): DataFrameReader = {
    val recorded = snaps.filter(_.tables.contains(name)).map(_.schemas.get(name))
    if (recorded.isEmpty || recorded.exists(_.isEmpty)) spark.read
    else spark.read.schema(DataType.fromJson(recorded.last.get).asInstanceOf[StructType])
  }

  /** Parquet fast path: one multi-path scan instead of a union of reads.
    * Compaction-aware: a span recorded in the checkpoint's
    * `compactions.json` supersedes the per-round increment dirs it covers
    * (see [[compact]]), but ONLY when the requested snapshots fully cover
    * the span — a subset read (e.g. one round) keeps its per-round path so
    * substitution can never smuggle in rows from rounds the caller did not
    * ask for. */
  override def readTables(spark: SparkSession, snaps: Seq[Snapshot], name: String): DataFrame = {
    val withPath = snaps.collect { case s if s.tables.contains(name) => (s.round, s.tables(name)) }
    require(withPath.nonEmpty,
      s"table '$name' is present in none of the ${snaps.size} snapshots")
    val paths = withPath.groupBy { case (_, p) => checkpointDirOf(p) }.toSeq.sortBy(_._1)
      .flatMap { case (dir, rps) =>
        val covered = rps.map(_._1).toSet
        // spans are non-overlapping by construction; substitute each span
        // the requested rounds fully cover, keep per-round paths elsewhere
        val spans = readCompactions(dir)
          .filter(c => c.table == name && (c.from to c.to).forall(covered))
        val inSpan = spans.flatMap(c => c.from to c.to).toSet
        spans.map(_.path) ++ rps.collect { case (r, p) if !inSpan(r) => p }
      }
    reader(spark, snaps, name).parquet(paths: _*)
  }

  // ---- compaction (Iceberg rewrite_data_files / expire_snapshots) ---------

  /** One compacted span: rounds [from, to] of `table` rewritten into a
    * single consolidated parquet dir at `path`. */
  final case class Compaction(table: String, from: Int, to: Int, path: String)

  /** Rewrites the per-round increments of `table` (rounds 0..upToRound;
    * default = latest committed) into ONE consolidated parquet dir, then
    * atomically swaps the checkpoint's `compactions.json` pointer so every
    * subsequent [[readTables]] scans the consolidated files instead of the
    * per-round small-file dirs. The long-crawl maintenance job: at the
    * 10^10-URL scale each round commits another increment dir, so a
    * T-round crawl's cumulative results reads (which the seen set shares)
    * degrade to T × shuffle-partitions small files — compaction runs OFF
    * the hot path and collapses them, exactly Iceberg's `rewrite_data_files`.
    *
    * Crash-safe: data lands first, the single-file pointer swap is an
    * atomic rename, so a crash mid-compaction leaves readers on the old
    * (still present) files with at worst an orphaned `compact-*` dir.
    * Re-compacting after further rounds reads old-span + new increments
    * (the read above is itself compaction-aware) and supersedes the entry.
    *
    * `incremental = true` folds only the rounds PAST the standing spans
    * into a new span (maintenance cost ∝ increment, LSM-segment style) —
    * run it periodically during a long crawl; the default full mode merges
    * everything into one [0, last] span (the occasional major compaction).
    *
    * `expire = true` additionally deletes the superseded per-round dirs
    * and any older compacted dir (Iceberg `expire_snapshots`): reclaims
    * the space but invalidates per-round reads of this table
    * ([[CrawlRun.resultsByRound]]-style lineage queries and any streaming
    * tail of the increment glob) — leave it false while consumers tail
    * the checkpoint. */
  def compact(spark: SparkSession, dir: String, table: String,
      upToRound: Int = -1, targetPartitions: Int = 8,
      expire: Boolean = false, incremental: Boolean = false): Compaction = {
    val last =
      if (upToRound >= 0) upToRound
      else latestRound(dir).getOrElse(
        throw new IllegalStateException(s"no committed rounds under $dir"))
    val prev = readCompactions(dir)
    val mine = prev.filter(_.table == table)
    // incremental: fold only the rounds past the standing spans into a NEW
    // span (cost ∝ increment, like an LSM segment flush) — a long crawl's
    // periodic maintenance. Full (default): merge spans + tail into one
    // [0, last] span (the occasional major compaction). Spans stay
    // contiguous-from-0 and non-overlapping by construction.
    val from = if (incremental) mine.map(_.to + 1).maxOption.getOrElse(0) else 0
    if (incremental && from > last) return mine.maxBy(_.to) // nothing new — no-op
    mine.find(c => c.from == from && c.to == last) match {
      case Some(existing) => existing // this exact span already stands — no-op
      case None =>
        val snaps = (from to last).map(readSnapshot(dir, _)).filter(_.tables.contains(table))
        require(snaps.nonEmpty, s"table '$table' absent from every round $from..$last")
        val out = Paths.get(dir, f"compact-$table-r$from%05d-$last%05d").toString
        // repartition (not coalesce): the maintenance job pays one shuffle
        // to even out per-file sizes; size targetPartitions to the data at
        // real scale (bytes / desired file size). Full mode's read resolves
        // through the standing spans (readTables is compaction-aware);
        // incremental mode's rounds sit outside every span, so it scans the
        // per-round tail directly.
        readTables(spark, snaps, table)
          .repartition(targetPartitions).write.mode("overwrite").parquet(out)
        val entry = Compaction(table, from, last, out)
        val keep = if (incremental) prev else prev.filterNot(_.table == table)
        writeCompactions(dir, keep :+ entry)
        if (expire) {
          snaps.foreach(s => deleteRecursively(Paths.get(s.tables(table))))
          if (!incremental) mine.filter(_.path != out)
            .foreach(c => deleteRecursively(Paths.get(c.path)))
        }
        entry
    }
  }

  private def compactionsPath(dir: String) = Paths.get(dir, "compactions.json")

  def readCompactions(dir: String): Seq[Compaction] = {
    val p = compactionsPath(dir)
    if (!Files.exists(p)) return Seq.empty
    val s = Files.readString(p)
    val lb = s.indexOf('[')
    val body = s.substring(lb + 1, s.lastIndexOf(']'))
    body.split("\\},").toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      def f(k: String): String = {
        val key = "\"" + k + "\":"
        val i = e.indexOf(key)
        require(i >= 0, s"missing $k in compactions entry: $e")
        val rest = e.substring(i + key.length).trim
        if (rest.startsWith("\"")) rest.drop(1).takeWhile(_ != '"')
        else rest.takeWhile(c => c.isDigit || c == '-')
      }
      Compaction(f("table"), f("from").toInt, f("to").toInt, f("path"))
    }
  }

  private def writeCompactions(dir: String, entries: Seq[Compaction]): Unit = {
    // generated paths/table names carry no JSON-special chars, but escape
    // anyway — the parser above only needs to survive our own output
    val json = entries
      .map(c => s"""{"table":${q(c.table)},"from":${c.from},"to":${c.to},"path":${q(c.path)}}""")
      .mkString("""{"entries": [""", ", ", "]}")
    val tmp = Paths.get(dir, ".compactions.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, compactionsPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** checkpoint dir of a per-round table path `dir/rNNNNN/name` */
  private def checkpointDirOf(path: String): String = {
    val p = Paths.get(path).getParent
    if (p != null && p.getFileName != null && p.getFileName.toString.matches("r\\d{5}")
        && p.getParent != null) p.getParent.toString
    else String.valueOf(p)
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally st.close()
    }

  // ---- minimal JSON (flat, controlled keys — no library available) --------

  private[graft] def renderJson(s: Snapshot): String = {
    val counters = s.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val seeds = s.seeds.map(q).mkString("[", ", ", "]")
    def strMap(m: Map[String, String]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    // schemas go last: the parser locates keys with indexOf, and escaped
    // schema text never contains an unescaped quote, so it cannot shadow a key
    s"""{"round": ${s.round}, "parentRound": ${s.parentRound}, "seeds": $seeds, "counters": $counters, "tables": ${strMap(s.tables)}, "failures": ${strMap(s.failures)}, "schemas": ${strMap(s.schemas)}}"""
  }

  // hand-rolled parser for exactly the shape renderJson emits
  private[graft] def parseJson(s: String): Snapshot = {
    def field(name: String): String = {
      val key = q(name) + ":"
      val i = s.indexOf(key)
      require(i >= 0, s"missing $name in manifest")
      s.substring(i + key.length).trim
    }
    def parseStr(t: String): (String, String) = {
      require(t.startsWith("\""), s"expected string at: $t")
      val sb = new StringBuilder
      var i = 1
      while (t.charAt(i) != '"') {
        if (t.charAt(i) == '\\') {
          t.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' => sb.append(Integer.parseInt(t.substring(i + 2, i + 6), 16).toChar); i += 6
            case c   => sb.append(c); i += 2
          }
        } else { sb.append(t.charAt(i)); i += 1 }
      }
      (sb.toString, t.substring(i + 1))
    }
    def parseObj(t0: String, valueIsString: Boolean): (Map[String, String], String) = {
      var t = t0.trim
      require(t.startsWith("{"))
      t = t.drop(1).trim
      var out = Map.empty[String, String]
      while (!t.startsWith("}")) {
        val (k, r1) = parseStr(t)
        t = r1.trim.stripPrefix(":").trim
        if (valueIsString) {
          val (v, r2) = parseStr(t); out += (k -> v); t = r2.trim
        } else {
          val end = t.indexWhere(c => c == ',' || c == '}')
          out += (k -> t.substring(0, end).trim); t = t.substring(end)
        }
        t = t.trim.stripPrefix(",").trim
      }
      (out, t.drop(1))
    }
    def parseArr(t0: String): Seq[String] = {
      var t = t0.trim
      require(t.startsWith("["))
      t = t.drop(1).trim
      var out = Vector.empty[String]
      while (!t.startsWith("]")) {
        val (v, r) = parseStr(t)
        out :+= v
        t = r.trim.stripPrefix(",").trim
      }
      out
    }
    val round = field("round").takeWhile(c => c.isDigit || c == '-').toInt
    val parent = field("parentRound").takeWhile(c => c.isDigit || c == '-').toInt
    val seeds = parseArr(field("seeds"))
    val (counters, _) = parseObj(field("counters"), valueIsString = false)
    val (tables, _) = parseObj(field("tables"), valueIsString = true)
    // optional (absent in pre-failure-persistence / pre-schema manifests)
    def optStrMap(name: String): Map[String, String] =
      if (s.contains(q(name) + ":")) parseObj(field(name), valueIsString = true)._1
      else Map.empty
    Snapshot(round, parent, seeds, counters.map { case (k, v) => k -> v.toLong }, tables,
      optStrMap("failures"), optStrMap("schemas"))
  }
}
