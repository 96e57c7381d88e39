package graft

/** Argument and env-var parsing shared by the program mains: a malformed
  * value fails with one line naming it and exit code 2, never with a
  * stack trace. */
object Cli {

  /** `v` parsed by `parse`; a non-number raises IllegalArgumentException
    * naming `name`. */
  def num[T](name: String, v: String)(parse: String => T): T =
    try parse(v)
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"$name: not a number: $v") }

  /** Env var `name` parsed by `parse`, or `default` when it is unset. */
  def envNum[T](name: String, default: T, env: String => Option[String] = sys.env.get)(
      parse: String => T): T =
    env(name).fold(default)(num(name, _)(parse))

  /** `v` as a core count for `local[N]`: an integer >= 1, else an
    * IllegalArgumentException naming `name`. */
  def cores(name: String, v: String): Int = {
    val n = num(name, v)(_.toInt)
    if (n < 1) throw new IllegalArgumentException(s"$name: core count must be >= 1: $v")
    n
  }

  /** Env var `name` as a core count ([[cores]]), or `default` when it is unset. */
  def envCores(name: String, default: Int, env: String => Option[String] = sys.env.get): Int =
    env(name).fold(default)(cores(name, _))

  /** Prints `prog: msg` to stderr and exits 2. */
  def fail(prog: String, msg: String): Nothing = {
    System.err.println(s"$prog: $msg")
    sys.exit(2)
  }

  /** `body`, with an IllegalArgumentException turned into `fail(prog, …)`. */
  def orExit[T](prog: String)(body: => T): T =
    try body
    catch { case e: IllegalArgumentException => fail(prog, e.getMessage) }
}
