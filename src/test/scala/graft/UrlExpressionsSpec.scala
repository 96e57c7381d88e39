package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{TextExpressions, UrlExpressions}
import graft.urlkit.UrlKit

/** Native Catalyst expressions: equivalence with the kit functions in
  * both codegen and interpreted eval, absence of a UDF boundary, and the
  * shared per-name registration. */
class UrlExpressionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def urlsDf = {
    import spark.implicits._
    Seq(
      "https://example.com/a#frag", "https://example.com/a", "http://h/x?q=1#y",
      "https://e.com/##double", "mailto:x@y.com", "http://127.0.0.1:8000/p#z",
      "", "#onlyfrag", "https://sub.example.org/deep/path"
    ).toDF("url")
  }

  test("url_strip_fragment_native matches UrlKit.stripFragmentStr") {
    UrlExpressions.registerAll(spark)
    val rows = urlsDf
      .select(col("url"), UrlExpressions.url_strip_fragment_native(col("url")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == UrlKit.stripFragmentStr(r.getString(0)), s"for ${r.getString(0)}")
    }
    // null-safe
    val n = spark.sql("SELECT url_strip_fragment_native(CAST(NULL AS STRING))").collect()
    assert(n.head.isNullAt(0))
  }

  test("url_domain_native matches UrlKit.domainStr incl. the IP-None case") {
    UrlExpressions.registerAll(spark)
    val rows = urlsDf
      .select(col("url"), UrlExpressions.url_domain_native(col("url")).as("d"))
      .collect()
    rows.foreach { r =>
      val expected = UrlKit.domainStr(r.getString(0))
      val got = if (r.isNullAt(1)) None else Some(r.getString(1))
      assert(got == expected, s"for ${r.getString(0)}")
    }
  }

  test("url_host_port_native + host_shard_native match the kit semantics") {
    UrlExpressions.registerAll(spark)
    val rows = urlsDf
      .select(col("url"),
        UrlExpressions.url_host_port_native(col("url")).as("hp"),
        UrlExpressions.host_shard_native(
          UrlExpressions.url_host_port_native(col("url")), 16).as("shard"))
      .collect()
    rows.foreach { r =>
      val url = r.getString(0)
      val expectedHost = UrlKit.hostPortStr(url)
      assert(r.getString(1) == expectedHost, s"host for $url")
      val h = graft.textkit.TextKit.fnv64(expectedHost)
      val expectedShard = (((h % 16) + 16) % 16).toInt
      assert(r.getInt(2) == expectedShard, s"shard for $url")
      assert(r.getInt(2) >= 0 && r.getInt(2) < 16)
    }
    // explicit-port and empty-host cases
    assert(UrlKit.hostPortStr("http://127.0.0.1:8000/p") == "127.0.0.1:8000")
    assert(UrlKit.hostPortStr("mailto:x@y.com") == "")
    // the frontier projection plan has no Scala-UDF boundary
    val plan = urlsDf
      .select(UrlExpressions.url_host_port_native(col("url")).as("host"))
      .select(UrlExpressions.host_shard_native(col("host"), 8))
      .queryExecution.executedPlan.toString
    assert(plan.contains("host_shard_native") && !plan.contains("UDF"))
  }

  test("registration is per name: a foreign function keeps its name, the rest still register") {
    val s2 = spark.newSession() // own function registry, shared SparkContext
    s2.udf.register("url_domain_native", (_: String) => "foreign")
    s2.udf.register("minhash_sig_native", (_: String, _: Int, _: Int) => "foreign")
    for (_ <- 1 to 2) { UrlExpressions.registerAll(s2); TextExpressions.registerAll(s2) }
    val r = s2.sql("SELECT url_domain_native('https://a.example.com/x'), " +
      "minhash_sig_native('abc', 3, 4), url_strip_fragment_native('http://h/p#f'), " +
      "url_host_port_native('http://h:81/p'), host_shard_native('h', 4)").head()
    assert(r.getString(0) == "foreign" && r.getString(1) == "foreign")
    assert(r.getString(2) == "http://h/p" && r.getString(3) == "h:81")
    assert(r.getInt(4) >= 0 && r.getInt(4) < 4)
  }

  test("native expression stays out of the UDF boundary in the plan") {
    UrlExpressions.registerAll(spark)
    val plan = urlsDf.select(UrlExpressions.url_strip_fragment_native(col("url")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("url_strip_fragment_native"))
    assert(!plan.contains("UDF"))
  }
}
