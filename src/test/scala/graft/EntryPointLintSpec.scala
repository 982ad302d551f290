package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint: the library jar ships exactly the two driver-contract
  * entry points, `graft.Verify` and `graft.Bench`. One-off measurement
  * mains (plan dumps, job censuses, decade probes) belong outside
  * `src/main/scala`; the traced benchmark run (`perfbench/run.py --trace 1`)
  * covers plan time, job/stage census and warm runs. A new `def main` or
  * `extends App` object in main source fails this spec.
  */
class EntryPointLintSpec extends AnyFunSuite {

  private val allowed = Set("graft.Verify", "graft.Bench")

  private val packageDecl = """^package\s+([\w.]+)""".r
  private val objectDecl = """^\s*object\s+(\w+)""".r.unanchored
  private val entryLine = """^\s*(?:override\s+)?def\s+main\s*\(|\bobject\s+\w+\s+extends\s+App\b""".r.unanchored

  /** Fully qualified objects in `text` that define an entry point. */
  private def entryPoints(text: String): Seq[String] = {
    val lines = text.linesIterator.toVector
    val pkg = lines.collectFirst { case packageDecl(p) => p }.getOrElse("")
    lines.zipWithIndex.collect {
      case (ln, i) if entryLine.matches(ln) =>
        val obj = (i to 0 by -1).iterator.map(lines(_))
          .collectFirst { case objectDecl(o) => o }.getOrElse("<toplevel>")
        if (pkg.isEmpty) obj else s"$pkg.$obj"
    }
  }

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("only graft.Verify and graft.Bench define a main in src/main/scala") {
    val found = sources(new java.io.File("src/main/scala")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      entryPoints(text).map(_ -> f.getPath)
    }
    val extra = found.filterNot { case (o, _) => allowed(o) }
    assert(extra.isEmpty, s"entry points outside the driver contract: " +
      extra.map { case (o, p) => s"$o ($p)" }.mkString(", "))
    assert(found.map(_._1).toSet === allowed)
  }

  test("the lint fires on a planted main and a planted App object") {
    val planted =
      """package graft
        |
        |/** Mentions def main(args) in a comment only. */
        |object Probe {
        |  def main(args: Array[String]): Unit = ()
        |}
        |object Tool extends App { println("x") }
        |""".stripMargin
    assert(entryPoints(planted) === Seq("graft.Probe", "graft.Tool"))
  }
}
