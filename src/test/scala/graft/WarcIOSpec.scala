package graft

import graft.sources.WarcIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.Files
import java.time.Instant

class WarcIOSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val t0 = Instant.parse("2026-01-01T00:00:00Z")

  test("record/parse round trip, skipping non-response records") {
    val a = WarcIO.record("http://a/", t0, "hello".getBytes(UTF_8))
    val req = ("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: http://a/\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 3\r\n\r\nGET\r\n\r\n").getBytes(US_ASCII)
    val b = WarcIO.record("http://b/", t0.plusMillis(5), Array.emptyByteArray)
    val recs = WarcIO.parse(a ++ req ++ b, gzipped = false).toVector
    assert(recs.map(_._1) == Vector("http://a/", "http://b/"))
    assert(new String(recs(0)._3, UTF_8) == "hello")
    assert(recs(1)._2 == t0.plusMillis(5) && recs(1)._3.isEmpty)
  }

  test("truncated archive yields its complete prefix, never throws") {
    val a = WarcIO.record("http://a/", t0, "payload-a".getBytes(UTF_8))
    val b = WarcIO.record("http://b/", t0, "payload-b".getBytes(UTF_8))
    val cut = (a ++ b).dropRight(12) // cut inside b's payload
    val recs = WarcIO.parse(cut, gzipped = false).toVector
    assert(recs.map(_._1) == Vector("http://a/"))
  }

  test("concatenated gzip members inflate to the full archive") {
    val bos = new java.io.ByteArrayOutputStream()
    Seq("alpha", "beta").foreach { s =>
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(WarcIO.record(s"http://$s/", t0, s.getBytes(UTF_8)))
      gz.finish()
    }
    val recs = WarcIO.parse(bos.toByteArray, gzipped = true).toVector
    assert(recs.map(_._1) == Vector("http://alpha/", "http://beta/"))
    assert(recs.map(r => new String(r._3, UTF_8)) == Vector("alpha", "beta"))
  }

  test("spark write/read round trip preserves every row (plain and gzip)") {
    val pages = (0L until 200L).map(i =>
      (s"http://site-${i % 7}.org/p$i",
        java.sql.Timestamp.from(t0.plusMillis(i)),
        s"<html>page $i</html>".getBytes(UTF_8)))
      .toDF("url", "warc_ts", "html").repartition(5)
    for (gzip <- Seq(false, true)) {
      val dir = TestSpark.tempDir("warc-spec-")
      val nFiles = WarcIO.write(pages, dir, gzip = gzip)
      assert(nFiles == 5)
      val back = WarcIO.read(spark, dir)
      assert(back.count() == 200)
      val diff = pages.select(col("url"), col("warc_ts"), md5(col("html")).as("m"))
        .exceptAll(back.select(col("url"), col("warc_ts"), md5(col("html")).as("m")))
      assert(diff.isEmpty)
    }
  }

  test("read lists its archives on the driver: no WARN logged, other files ignored") {
    val dir = TestSpark.tempDir("warc-spec-warn-")
    val pages = (0L until 20L).map(i =>
      (s"http://site.org/p$i", java.sql.Timestamp.from(t0.plusMillis(i)), s"page $i".getBytes(UTF_8)))
      .toDF("url", "warc_ts", "html").repartition(2)
    assert(WarcIO.write(pages, dir) == 2)
    Files.writeString(java.nio.file.Paths.get(dir, "notes.txt"), "not an archive")
    val (n, warns) = TestSpark.logsOnThisThread(org.apache.logging.log4j.Level.WARN)(WarcIO.read(spark, dir).count())
    assert(warns.isEmpty, warns.toString)
    assert(n == 20)
  }
}
