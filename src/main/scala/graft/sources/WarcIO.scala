package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/**
 * WARC/1.0 source + sink (ISO 28500, the Common-Crawl on-disk format —
 * public spec). The engine's input contract is an Iceberg/parquet table of
 * CC-style pages; this is the ingest edge that turns raw WARC archives
 * into that table, and the export edge back out.
 *
 * Read path: `spark.read.format("binaryFile")` lists and splits WHOLE
 * archives across executors (WARC archives are not record-splittable —
 * Common Crawl ships ~1 GB files precisely so file-granularity is
 * parallelism-granularity), then each file parses locally into records.
 * Plain `.warc` and `.warc.gz` are both handled; gzip decoding loops over
 * CONCATENATED gzip members (Common Crawl compresses each record as its
 * own member so readers can seek; `GZIPInputStream` stops at member
 * boundaries, so the loop re-opens on the remaining bytes).
 *
 * Only `WARC-Type: response` records become rows (request/metadata
 * records are skipped, as a CC ingest does). Malformed trailing garbage
 * ends the file's record iteration rather than throwing: a truncated
 * archive yields its complete prefix.
 */
object WarcIO {

  private val TsFmt = DateTimeFormatter.ISO_INSTANT // 2026-01-01T00:00:00Z

  /** Serialize (url, ts, payload) into one WARC response record. */
  private[graft] def record(url: String, ts: Instant, payload: Array[Byte]): Array[Byte] = {
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: response\r\n" +
        s"WARC-Target-URI: $url\r\n" +
        s"WARC-Date: ${TsFmt.format(ts)}\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
    val out = new ByteArrayOutputStream(header.length + payload.length + 4)
    out.write(header.getBytes(US_ASCII))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(US_ASCII))
    out.toByteArray
  }

  /** Parse every response record of one (possibly gzipped) archive. */
  private[graft] def parse(bytes: Array[Byte], gzipped: Boolean): Iterator[(String, Instant, Array[Byte])] = {
    val raw = if (gzipped) gunzipConcat(bytes) else bytes
    new Iterator[(String, Instant, Array[Byte])] {
      private var pos = 0
      private var nextRec: (String, Instant, Array[Byte]) = advance()

      private def find(sub: String, from: Int): Int = {
        val pat = sub.getBytes(US_ASCII)
        var i = from
        while (i <= raw.length - pat.length) {
          var j = 0
          while (j < pat.length && raw(i + j) == pat(j)) j += 1
          if (j == pat.length) return i
          i += 1
        }
        -1
      }

      @annotation.tailrec
      private def advance(): (String, Instant, Array[Byte]) = {
        val start = find("WARC/1.0\r\n", pos)
        if (start < 0) return null
        val headEnd = find("\r\n\r\n", start)
        if (headEnd < 0) return null
        val head = new String(raw, start, headEnd - start, US_ASCII)
        val fields = head.linesIterator.drop(1).flatMap { l =>
          val i = l.indexOf(':')
          if (i < 0) None else Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim)
        }.toMap
        val len = fields.get("content-length").flatMap(_.toIntOption).getOrElse(-1)
        val bodyStart = headEnd + 4
        if (len < 0 || bodyStart + len > raw.length) return null // truncated
        pos = bodyStart + len
        if (fields.get("warc-type").contains("response") &&
          fields.contains("warc-target-uri") && fields.contains("warc-date")) {
          (fields("warc-target-uri"),
            Instant.parse(fields("warc-date")),
            java.util.Arrays.copyOfRange(raw, bodyStart, bodyStart + len))
        } else advance() // request/metadata record: skip
      }

      def hasNext: Boolean = nextRec != null
      def next(): (String, Instant, Array[Byte]) = {
        val r = nextRec; nextRec = advance(); r
      }
    }
  }

  /** Inflate concatenated gzip members (the CC record-per-member layout).
    * GZIPInputStream already walks multiple members of one stream; the
    * outer loop guards implementations that stop at a member boundary. */
  private[graft] def gunzipConcat(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length * 4)
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes), 64 * 1024)
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  /**
   * Read a directory of `.warc` / `.warc.gz` archives into the engine's
   * pages shape: (url string, warc_ts timestamp, html binary). The
   * archives are listed on the driver and read as explicit paths: a glob
   * path makes Spark probe for a streaming-sink metadata dir and log a
   * WARN with a stack trace on every read.
   */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val archives = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.contains(".warc") && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).map(_.getPath).sorted.toSeq
    require(archives.nonEmpty, s"no .warc or .warc.gz archive under $dir")
    spark.read.format("binaryFile")
      .load(archives: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        parse(content, gzipped = path.endsWith(".gz"))
          .map { case (url, ts, body) => (url, java.sql.Timestamp.from(ts), body) }
      }
      .toDF("url", "warc_ts", "html")
  }

  /**
   * Write (url, warc_ts, payload) as WARC archives, one file per
   * partition (`part-NNNNN.warc` or `.warc.gz` — record-per-gzip-member,
   * the CC layout). Executors write their own shard: `dir` must be
   * storage every executor can reach (local mode: any local path).
   * Returns the file count.
   */
  def write(df: DataFrame, dir: String, gzip: Boolean = false,
            urlCol: String = "url", tsCol: String = "warc_ts",
            payloadCol: String = "html"): Int = {
    val spark = df.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    val ext = if (gzip) ".warc.gz" else ".warc"
    val written = df
      .select(col(urlCol).cast("string"), col(tsCol).cast("timestamp"), col(payloadCol).cast("binary"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .rdd
      .mapPartitionsWithIndex { (i, rows) =>
        if (rows.isEmpty) Iterator.empty
        else {
          val p = Paths.get(dir, f"part-$i%05d$ext")
          val out = new ByteArrayOutputStream(1 << 20)
          rows.foreach { case (url, ts, body) =>
            val rec = record(url, ts.toInstant, if (body == null) Array.emptyByteArray else body)
            if (gzip) {
              val gz = new GZIPOutputStream(out) // one member per record
              gz.write(rec)
              gz.finish()
            } else out.write(rec)
          }
          Files.write(p, out.toByteArray)
          Iterator(p.toString)
        }
      }
      .collect()
    written.length
  }
}
