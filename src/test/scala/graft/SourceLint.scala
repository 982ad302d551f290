package graft

import java.io.File

import scala.util.matching.Regex

/** Shared scan of the source-level ratchets: which code lines of the
  * `.scala` files under a directory match a pattern. Doc comments and
  * `//` comments do not count. */
object SourceLint {

  /** 1-based numbers of the code lines in `text` that match `re`. */
  def codeLines(text: String, re: Regex): Seq[Int] =
    text.linesIterator.zipWithIndex.collect {
      case (ln, i) if !ln.trim.startsWith("*") && !ln.trim.startsWith("/*") &&
          re.findFirstIn(ln.split("//", 2)(0)).isDefined => i + 1
    }.toSeq

  /** `path:line` (path relative to `root`) of every matching code line. */
  def matches(root: File, re: Regex): Seq[String] =
    sources(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      codeLines(text, re).map(n => s"$rel:$n")
    }

  private def sources(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
}
