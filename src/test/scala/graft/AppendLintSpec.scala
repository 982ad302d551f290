package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level ratchet: `BandIndex` commits a generation in one place,
  * its `meta/gen-<n>` file. Each of its writes overwrites the
  * generation's own `ver=<n>` directory, so a killed attempt is
  * invisible and its retry replaces it. An append has no such owner: a
  * retry adds to what the killed attempt left. A `SaveMode.Append` (or
  * `.mode("append")`) in `graft/ops/BandIndex.scala` fails the first
  * test.
  */
class AppendLintSpec extends AnyFunSuite {

  private val append = """\bSaveMode\.Append\b|\.mode\("(?i:append)"\)""".r

  test("BandIndex writes in no append mode") {
    val f = new java.io.File("src/main/scala/graft/ops/BandIndex.scala")
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val found = SourceLint.codeLines(text, append)
    assert(found.isEmpty, s"append mode in BandIndex.scala at lines ${found.mkString(", ")}")
  }

  test("the lint fires on a planted append and skips comments") {
    val planted =
      """package graft.ops
        |
        |/** Appends with SaveMode.Append, in a doc comment only. */
        |object Probe {
        |  // ids.write.mode(SaveMode.Append) in a line comment
        |  def f(df: DataFrame, p: String): Unit = df.write.mode(SaveMode.Append).parquet(p)
        |  def g(df: DataFrame, p: String): Unit = df.write.mode(SaveMode.Overwrite).parquet(p)
        |  def h(df: DataFrame, p: String): Unit = df.write.mode("append").parquet(p)
        |  def i(df: DataFrame, p: String): Unit = df.write.mode("overwrite").parquet(p)
        |}
        |""".stripMargin
    assert(SourceLint.codeLines(planted, append) === Seq(6, 8))
  }
}
