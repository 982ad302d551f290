package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level ratchet: library code must not change a caller's
  * session-global conf as a side effect. A `conf.set(` (or `unset`,
  * `setConfString`, or the typed `SQLConf` setter `setConf(`) in code
  * under `src/main/scala` — the `org.apache.spark` bridges included — is
  * allowed only in the files below. A new file fails the first test, and
  * a listed file that no longer sets conf fails it too.
  */
class ConfMutationLintSpec extends AnyFunSuite {

  /** Path under src/main/scala → why it sets conf. */
  private val allowed = Map(
    "graft/GraftSession.scala" -> "sets conf only on a child session it created")

  private val confMutation = """\bconf\.(?:set|unset|setConfString)\(|\bsetConf\(""".r

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
}
