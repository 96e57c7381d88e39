package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The engine ↔ storage boundary (SURVEY.md §7.1): everything the crawl
 * engine needs from a table catalog — snapshot-isolated commits with
 * lineage manifests, latest-round discovery, and table reads. `TableIO`
 * (partitioned parquet + atomic JSON manifests) is the default, Iceberg-
 * emulating implementation; `InMemoryCatalog` is a second implementation
 * proving the boundary really is a swap (a real Iceberg catalog slots in
 * the same way once the runtime jar is available).
 */
trait TableCatalog {
  import TableIO.Snapshot

  /** Commit one round: write every table, THEN evaluate `counters`
    * (by-name, so it can read Observations attached to those writes),
    * then publish the snapshot atomically. */
  def commit(
      spark: SparkSession,
      dir: String,
      round: Int,
      tables: Map[String, DataFrame],
      seeds: Seq[String],
      counters: => Map[String, Long],
      partitionBy: Map[String, Seq[String]] = Map.empty,
      failures: Map[String, String] = Map.empty
  ): Snapshot

  /** Highest fully-committed round under `dir`, if any. */
  def latestRound(dir: String): Option[Int]

  def readSnapshot(dir: String, round: Int): Snapshot

  def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame

  /** One table unioned across snapshots (e.g. every round's results
    * increment, which with the frontier makes up the cumulative seen set). Implementations may override with a single
    * multi-path scan. */
  def readTables(spark: SparkSession, snaps: Seq[Snapshot], name: String): DataFrame = {
    val present = snaps.filter(_.tables.contains(name))
    require(present.nonEmpty,
      s"table '$name' is present in none of the ${snaps.size} snapshots")
    present.map(s => readTable(spark, s, name)).reduce(_ unionByName _)
  }
}

/**
 * In-memory TableCatalog: a commit eagerly materializes each table
 * (localCheckpoint — the lineage-truncation the parquet re-read gives the
 * default path) and snapshots live in process memory. Physical
 * `partitionBy` layout is a storage concern and is ignored here. NOT
 * durable: resume only works inside the committing process — this
 * implementation exists to prove the engine/catalog boundary and as a
 * fast test double.
 */
final class InMemoryCatalog extends TableCatalog {
  import TableIO.Snapshot

  private val snaps = scala.collection.concurrent.TrieMap.empty[(String, Int), Snapshot]
  private val data = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

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
    val keys = tables.map { case (name, df) =>
      val key = s"mem:$dir/r$round/$name"
      data(key) = df.localCheckpoint(true) // the "write": eager + truncated
      name -> key
    }
    val c = counters // after the writes land, same contract as TableIO
    val snap = Snapshot(round, round - 1, seeds, c, keys, failures)
    snaps((dir, round)) = snap
    snap
  }

  override def latestRound(dir: String): Option[Int] = {
    val rs = snaps.keys.collect { case (d, r) if d == dir => r }
    if (rs.isEmpty) None else Some(rs.max)
  }

  override def readSnapshot(dir: String, round: Int): Snapshot = snaps((dir, round))

  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
    data(snap.tables(name))
}
