package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one registration path for the custom Catalyst expressions. The
  * Column companion is private to Spark in 4.x, so SQL registration plus
  * `functions.call_function` is the public bridge to a custom expression. */
private[functions] object NativeFunctions {

  // names registered here, per session — so the skip-if-exists guard can
  // tell its own earlier registration (silent, expected) from a foreign
  // function squatting on the name (warned: it shadows ours until the
  // session ends, and re-registering cannot repair it)
  private val registeredBy = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Registers `name` unless it already exists — per name, so a foreign
    * registration of one name cannot suppress the rest, and without the
    * "replaced a previously registered function" WARN a re-register logs. */
  def register(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit = {
    val sess = System.identityHashCode(spark).toString
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name))) {
      registry.createOrReplaceTempFunction(name, builder, "built-in")
      registeredBy.add((sess, name))
    } else if (!registeredBy.contains((sess, name)))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"'$name' is already registered by something else in this session; keeping the existing function")
  }
}
