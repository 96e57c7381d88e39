package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/**
 * Iceberg-style table/checkpoint emulation: partitioned parquet data plus a
 * JSON snapshot manifest per commit. No Iceberg runtime jar ships in this
 * sandbox (/opt/spark/jars), so snapshot isolation is emulated with
 * write-data-first / atomically-rename-manifest-last commits; a real Iceberg
 * catalog becomes a config-only swap behind this object (SURVEY.md §7.1).
 *
 * Layout: a commit writes ALL its tables with one `DataFrameWriter` call —
 * one Spark SQL execution, one write job. Each table's rows are tagged with
 * a `table` column and the tables are unioned by name (no shuffle: the
 * union only concatenates partitions), then written under `rNNNNN/`
 * partitioned by `table` plus every table's `partitionBy` columns, e.g.
 * `r00003/table=frontier/host_shard=7/` and
 * `r00003/table=results_inc/host_shard=__HIVE_DEFAULT_PARTITION__/`. The
 * manifest records each table as its own sub-directory
 * (`rNNNNN/table=<name>`), so the engine never sees the shared write.
 *
 * Manifest carries the north-rule lineage and counters: snapshot id, parent
 * id, round, seeds, per-round counters (fetched, deduped, robots-denied,
 * done, todo), the data paths, and each table's schema (as Iceberg's table
 * metadata does). Reads are path-driven and schema-carrying: they return
 * exactly the recorded columns (a table never sees another table's columns
 * or partition keys it does not own) and start no Spark job. A table with
 * no rows gets an empty dir and reads back as an empty frame of its
 * recorded schema. A multi-round [[readTables]] whose listing holds at most
 * 32 paths (Spark's `parallelPartitionDiscovery.threshold`) is pure driver
 * work; over more uncompacted rounds it still lists its files with a Spark
 * job, until [[compact]] folds the span into one path. Checkpoints written
 * before this layout (`rNNNNN/<name>` dirs, manifests without schemas or
 * with a `seen_inc` table) read and resume unchanged. `latestRound` scans
 * committed manifests only — a job killed mid-write leaves no manifest, so
 * resume restarts from the previous complete round (resume-exactly
 * semantics, SURVEY.md §2.8 St4).
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

  /** The partition column naming each row's table in a commit's write. */
  private val TableCol = "table"

  private def manifestPath(dir: String, round: Int) =
    Paths.get(dir, f"manifest-r$round%05d.json")

  /** `counters` is by-name: evaluated AFTER the data write lands (so it can
    * read Observation metrics attached to it) and before the manifest
    * commit. */
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
    require(tables.nonEmpty, s"round $round commits no table")
    tables.foreach { case (n, df) =>
      require(!df.columns.contains(TableCol), s"table '$n' has a reserved '$TableCol' column")
    }
    Files.createDirectories(Paths.get(dir))
    val roundDir = Paths.get(dir, f"r$round%05d")
    // physical per-partition lineage: e.g. frontier rows land in
    // host_shard=K subdirectories (north rule: lineage = seed, round,
    // host-shard; seed is a column, round is the snapshot dir). Rows of a
    // table without that column sit in its __HIVE_DEFAULT_PARTITION__ dir.
    val parts = TableCol +: tables.keys.toSeq.sorted.flatMap(partitionBy.getOrElse(_, Nil)).distinct
    tables.toSeq.sortBy(_._1)
      .map { case (n, df) => df.withColumn(TableCol, lit(n)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .write.mode("overwrite").partitionBy(parts: _*).parquet(roundDir.toString)
    val paths = tables.map { case (n, _) => n -> roundDir.resolve(s"$TableCol=$n").toString }
    // a table without rows gets no dir from the write; an empty one keeps
    // every recorded path a directory (it reads back as an empty frame)
    paths.values.foreach(p => Files.createDirectories(Paths.get(p)))
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
    scan(spark, Seq(snap.tables(name)), schemaOf(Seq(snap), name))

  /** A glob of the dirs that directly hold the data files of every
    * committed round of `name`, under both layouts: `rNNNNN/<name>` of
    * older checkpoints and the partition dirs under `rNNNNN/table=<name>`
    * (e.g. the results rows' `host_shard=__HIVE_DEFAULT_PARTITION__`).
    * Globbing `rNNNNN/table=<name>` itself would make Spark discover those
    * partition dirs under several roots, which it refuses. For readers
    * that tail the checkpoint by path, such as a file stream. */
  def roundFilesGlob(dir: String, name: String): String =
    s"$dir/r*/{$name,$TableCol=$name/*}"

  /** The latest recorded schema of `name`; None only when every snapshot
    * predates schema recording, and then Spark infers it as before. */
  private def schemaOf(snaps: Seq[Snapshot], name: String): Option[StructType] =
    snaps.filter(_.tables.contains(name)).flatMap(_.schemas.get(name)).lastOption
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Dirs under `root` (itself included) that hold data files, each with
    * the names of the partition keys (`k=v` segments) below `root`. */
  private def dataDirs(root: Path): Seq[(String, Set[String])] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("_") &&
          !f.getFileName.toString.startsWith(".") && Files.isRegularFile(f))
        .map(_.getParent).toSeq.distinct
        .map(d => d.toString -> root.relativize(d).iterator().asScala
          .map(_.toString).filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSet)
      finally st.close()
    }

  /** One read of `paths` returning exactly the columns of `schema`:
    *  - no data files anywhere: an empty frame of `schema` (a local
    *    relation, no job);
    *  - no partition key of the listed dirs is a column of `schema` (e.g.
    *    results rows under a host_shard dir they do not own): one flat scan
    *    whose roots are the data dirs, so partition discovery adds nothing
    *    and dirs of different depths (older checkpoints) mix freely;
    *  - otherwise (the frontier's host_shard): partition discovery per path,
    *    unioned when there are several.
    * Without a recorded schema (pre-schema manifests) every partition key
    * counts as a column and Spark infers the schema, as it always did. */
  private def scan(spark: SparkSession, paths: Seq[String], schema: Option[StructType]): DataFrame = {
    val live = paths.map(p => p -> dataDirs(Paths.get(p))).filter(_._2.nonEmpty)
    def read(ps: Seq[String]) = schema.fold(spark.read)(spark.read.schema(_)).parquet(ps: _*)
    val owned = (k: String) => schema.forall(_.fieldNames.contains(k))
    val df =
      if (live.isEmpty) schema.fold(read(paths))(s =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), s))
      else if (live.forall(_._2.forall(_._2.forall(k => !owned(k)))))
        read(live.flatMap(_._2.map(_._1)))
      else live.map { case (p, _) => read(Seq(p)) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
    schema.fold(df)(s => df.select(s.fieldNames.map(col).toSeq: _*))
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
    scan(spark, paths, schemaOf(snaps, name))
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
    val what = s"compactions $p"
    field(mapper.readTree(Files.readString(p)), "entries", what)(_.isArray).asScala.toSeq.map { e =>
      def int(k: String) = field(e, k, what)(v => v.isIntegralNumber && v.canConvertToInt).intValue
      def text(k: String) = field(e, k, what)(_.isTextual).textValue
      Compaction(text("table"), int("from"), int("to"), text("path"))
    }
  }

  private def writeCompactions(dir: String, compactions: Seq[Compaction]): Unit = {
    val o = mapper.createObjectNode()
    val arr = o.putArray("entries")
    compactions.foreach(c =>
      arr.addObject().put("table", c.table).put("from", c.from).put("to", c.to).put("path", c.path))
    val tmp = Paths.get(dir, ".compactions.json.tmp")
    Files.writeString(tmp, oneLine.writeValueAsString(o))
    Files.move(tmp, compactionsPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** checkpoint dir of a per-round table path `dir/rNNNNN/table=name` (or
    * the older `dir/rNNNNN/name`) */
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

  // ---- checkpoint metadata JSON (Jackson tree model) ----------------------

  private val mapper = new ObjectMapper()

  /** One line, `{"k": v, "a": [x, y]}`: the layout manifests have always had. */
  private val oneLine = mapper.writer(new MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
    override def writeArrayValueSeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  })

  /** Field `k` of `o`, which must pass `ok`; `what` names the document. */
  private def field(o: JsonNode, k: String, what: String)(ok: JsonNode => Boolean): JsonNode = {
    val v = o.path(k)
    require(ok(v), s"$what: field '$k' is missing or malformed: $v")
    v
  }

  private def entries(o: JsonNode): Seq[(String, JsonNode)] =
    o.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)

  private[graft] def renderJson(s: Snapshot): String = {
    val o = mapper.createObjectNode().put("round", s.round).put("parentRound", s.parentRound)
    val seeds = o.putArray("seeds")
    s.seeds.foreach(x => seeds.add(x))
    val counters = o.putObject("counters")
    s.counters.toSeq.sorted.foreach { case (k, v) => counters.put(k, v) }
    Seq("tables" -> s.tables, "failures" -> s.failures, "schemas" -> s.schemas).foreach { case (name, m) =>
      val n = o.putObject(name)
      m.toSeq.sorted.foreach { case (k, v) => n.put(k, v) }
    }
    oneLine.writeValueAsString(o)
  }

  private[graft] def parseJson(s: String): Snapshot = {
    val o = mapper.readTree(s)
    def f(k: String)(ok: JsonNode => Boolean) = field(o, k, "manifest")(ok)
    def int(k: String) = f(k)(v => v.isIntegralNumber && v.canConvertToInt).intValue
    // failures and schemas are absent in manifests older than each of them
    def strings(k: String, optional: Boolean): Map[String, String] =
      entries(f(k)(v => v.isObject && v.properties().asScala.forall(_.getValue.isTextual) ||
        optional && v.isMissingNode)).map { case (key, v) => key -> v.textValue }.toMap
    Snapshot(
      int("round"),
      int("parentRound"),
      f("seeds")(v => v.isArray && v.asScala.forall(_.isTextual)).asScala.map(_.textValue).toSeq,
      entries(f("counters")(v => v.isObject &&
        v.properties().asScala.forall(e => e.getValue.isIntegralNumber && e.getValue.canConvertToLong)))
        .map { case (k, v) => k -> v.longValue }.toMap,
      strings("tables", optional = false),
      strings("failures", optional = true),
      strings("schemas", optional = true))
  }
}
