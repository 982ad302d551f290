package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level ratchet: library code must not change a caller's
  * session-global conf as a side effect. A `conf.set(` (or `unset`,
  * `setConfString`, or the typed `SQLConf` setter `setConf(`) in code
  * under `src/main/scala` — the `org.apache.spark` bridges included — is
  * allowed only in the files below. A new file fails the first test, and
  * a listed file that no longer sets conf fails it too. Library code also
  * never writes a session's function registry: it builds graft's
  * expressions as typed Columns (`graft.functions.GraftFunctions`).
  */
class ConfMutationLintSpec extends AnyFunSuite {

  /** Path under src/main/scala → why it sets conf. */
  private val allowed = Map(
    "graft/GraftSession.scala" -> "sets conf only on a child session it created")

  private val confMutation = """\bconf\.(?:set|unset|setConfString)\(|\bsetConf\(""".r

  private val registryWrite =
    """\bcreateOrReplaceTempFunction\b|\bfunctionRegistry\b|\budf\.register\(""".r

  test("only the allowlisted files set session conf in src/main/scala, and graft/ingest sets none") {
    val found = SourceLint.matches(new java.io.File("src/main/scala"), confMutation)
    val files = found.map(_.takeWhile(_ != ':')).toSet
    assert(!files.exists(_.startsWith("graft/ingest/")), found.mkString(", "))
    assert((files -- allowed.keySet).isEmpty, s"new conf mutation: ${found.mkString(", ")}")
    assert(allowed.keySet -- files === Set.empty, "allowlisted file no longer sets conf: drop it")
  }

  test("the lint fires on a planted conf.set and skips comments") {
    val planted =
      """package graft.ingest
        |
        |/** Mentions spark.conf.set(k, v) in a doc comment only. */
        |object Probe {
        |  // spark.conf.set("a", "b") in a line comment
        |  def f(s: SparkSession): Unit = s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        |  def g(s: SparkSession): String = s.conf.get("spark.sql.shuffle.partitions")
        |  def h(s: SparkSession): Unit = s.sessionState.conf.setConfString("k", "v")
        |  def i(s: SparkSession): Unit = s.sessionState.conf.setConf(SQLConf.ANSI_ENABLED, false)
        |  def j(s: SparkSession): Boolean = s.sessionState.conf.getConf(SQLConf.ANSI_ENABLED)
        |}
        |""".stripMargin
    assert(SourceLint.codeLines(planted, confMutation) === Seq(6, 8, 9))
  }

  test("no code in src/main/scala writes a session's function registry") {
    val found = SourceLint.matches(new java.io.File("src/main/scala"), registryWrite)
    assert(found.isEmpty, s"function registry write: ${found.mkString(", ")}")
  }

  test("the registry lint fires on planted writes and skips injectFunction") {
    val planted =
      """package graft.ops
        |
        |/** Mentions spark.udf.register("f", g) in a doc comment only. */
        |object Probe {
        |  // s.sessionState.functionRegistry in a line comment
        |  def f(s: SparkSession): Unit = s.udf.register("f", (x: Int) => x)
        |  def g(s: SparkSession): Unit = s.sessionState.functionRegistry.dropFunction(id)
        |  def h(s: SparkSession): Unit = s.sessionState.catalog.createOrReplaceTempFunction("h", b, "scala_udf")
        |  def i(e: SparkSessionExtensions): Unit = e.injectFunction((FunctionIdentifier("i"), info, b))
        |  def j(s: SparkSession): Boolean = s.catalog.functionExists("cosine_sim")
        |}
        |""".stripMargin
    assert(SourceLint.codeLines(planted, registryWrite) === Seq(6, 7, 8))
  }
}
