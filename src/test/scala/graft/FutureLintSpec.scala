package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level ratchet: library code runs its Spark jobs on the calling
  * thread. A job started from a `Future` can still be running, and
  * writing, after its call has returned or thrown, and its failure
  * surfaces only where someone awaits it. A `Future` in code under
  * `src/main/scala` fails the first test.
  */
class FutureLintSpec extends AnyFunSuite {

  private val future = """\bFuture\b""".r

  test("no code under src/main/scala uses a Future") {
    val found = SourceLint.matches(new java.io.File("src/main/scala"), future)
    assert(found.isEmpty, s"Future in library code: ${found.mkString(", ")}")
  }

  test("the lint fires on a planted Future and skips comments") {
    val planted =
      """package graft.ops
        |
        |/** Counts in a Future, in a doc comment only. */
        |object Probe {
        |  import scala.concurrent.{Await, Future}
        |  // val n = Future { df.count() } in a line comment
        |  def f(df: DataFrame): Future[Long] = Future { df.count() }
        |  def g(df: DataFrame): Long = df.count() // not a Future
        |}
        |""".stripMargin
    assert(SourceLint.codeLines(planted, future) === Seq(5, 7))
  }
}
