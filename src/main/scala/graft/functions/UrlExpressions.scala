package graft.functions

import graft.urlkit.UrlKit
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSession

/**
 * Native Catalyst expressions for the hottest URL scalars — stay inside
 * whole-stage codegen instead of the UDF serialization boundary.
 *
 * `UrlStripFragment` (crawler.rs:276-279 semantics over already-canonical
 * urls: cut at the first '#') keys the fetch join of every crawl round, and
 * `UrlHostPort` / `HostShard` place every new frontier row; all generate
 * straight-line Java. The heavyweight kit functions (parse/join/tokenize)
 * stay as UDFs on purpose — their cost is the algorithm, not the call
 * boundary.
 */
case class UrlStripFragment(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val idx = s.toString.indexOf('#')
    if (idx < 0) s else UTF8String.fromString(s.toString.substring(0, idx))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |UTF8String ${ev.value}_in = $c;
         |int ${ev.value}_idx = ${ev.value}_in.toString().indexOf('#');
         |${ev.value} = ${ev.value}_idx < 0 ? ${ev.value}_in
         |  : UTF8String.fromString(${ev.value}_in.toString().substring(0, ${ev.value}_idx));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_strip_fragment_native"
}

/** WHATWG `domain()` as an expression: null for IPs / no-host / unparseable. */
case class UrlDomain(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UrlKit.domainStr(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull

  // non-codegen body (kit call), but still avoids the UDF encoder boundary
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kit = UrlKit.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |scala.Option ${ev.value}_d = $kit.domainStr($c.toString());
         |if (${ev.value}_d.isEmpty()) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = null;
         |} else {
         |  ${ev.value} = UTF8String.fromString((String) ${ev.value}_d.get());
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_domain_native"
}

/** Frontier host key (host[:port], "" fallback) as an expression — the
  * politeness partition key computed without a UDF encoder boundary. */
case class UrlHostPort(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UrlKit.hostPortStr(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kit = UrlKit.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = UTF8String.fromString($kit.hostPortStr($c.toString()));")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_host_port_native"
}

/** FNV-64 host shard in [0, numShards) — the frontier's physical partition
  * column, fully codegen'd (straight-line hash + mod, no kit call). */
case class HostShard(child: Expression, numShards: Int) extends UnaryExpression {
  require(numShards > 0, "numShards must be positive")
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val h = graft.textkit.TextKit.fnv64(input.asInstanceOf[UTF8String].toString)
    (((h % numShards) + numShards) % numShards).toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kit = graft.textkit.TextKit.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |long ${ev.value}_h = $kit.fnv64($c.toString());
         |${ev.value} = (int) (((${ev.value}_h % $numShards) + $numShards) % $numShards);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "host_shard_native"
}

object UrlExpressions {

  /** Register the native expressions; use them as columns via
    * `functions.call_function("url_strip_fragment_native", c)` (see
    * `NativeFunctions.register`: names already registered are skipped). */
  def registerAll(spark: SparkSession): Unit = {
    def reg(name: String, builder: Seq[Expression] => Expression): Unit =
      NativeFunctions.register(spark, name, builder)
    reg("url_strip_fragment_native", exprs => UrlStripFragment(exprs.head))
    reg("url_domain_native", exprs => UrlDomain(exprs.head))
    reg("url_host_port_native", exprs => UrlHostPort(exprs.head))
    reg("host_shard_native", { exprs =>
      require(exprs.length == 2,
        s"host_shard_native(host, numShards) takes 2 arguments, got ${exprs.length}")
      require(exprs(1).foldable,
        "host_shard_native: numShards must be a literal (the shard count is a plan-time constant)")
      HostShard(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
    })
  }

  def url_strip_fragment_native(c: Column): Column =
    org.apache.spark.sql.functions.call_function("url_strip_fragment_native", c)
  def url_domain_native(c: Column): Column =
    org.apache.spark.sql.functions.call_function("url_domain_native", c)
  def url_host_port_native(c: Column): Column =
    org.apache.spark.sql.functions.call_function("url_host_port_native", c)
  def host_shard_native(c: Column, numShards: Int): Column =
    org.apache.spark.sql.functions.call_function("host_shard_native", c,
      org.apache.spark.sql.functions.lit(numShards))
}
