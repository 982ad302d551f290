package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

/** [[ReportFormat.blocks]] on plain strings: the per-file fold's edge
  * cases, checked without a Spark job.
  */
class ReportBlocksSpec extends AnyFunSuite {
  import ReportFormat.blocks

  test("a leading BOM is stripped, one mid-text is kept on its key") {
    assert(blocks("\uFEFFa: 1\nstatus: ok\n\uFEFFb: 2\nstatus: ok") === Seq(
      Map("a" -> "1", "status" -> "ok"), Map("\uFEFFb" -> "2", "status" -> "ok")))
  }

  test("CRLF line endings parse like LF") {
    assert(blocks("a: 1\r\nstatus: ok\r\n") === blocks("a: 1\nstatus: ok\n"))
    assert(blocks("a: 1\r\nstatus: ok\r\n") === Seq(Map("a" -> "1", "status" -> "ok")))
  }

  test("empty and space-only lines are skipped; tabs are not trimmed") {
    assert(blocks("a: 1\n   \n\nstatus: ok") === Seq(Map("a" -> "1", "status" -> "ok")))
    assert(blocks("\tk:  v\t \nstatus: ok") === Seq(Map("\tk" -> "v\t", "status" -> "ok")))
  }

  test("a colon-less line maps to \"\"; a leading ':' gives the key \"\"") {
    assert(blocks("no colon here\n: lead\nurl: hdfs://nn:8020/x\nstatus: ok") === Seq(Map(
      "no colon here" -> "", "" -> "lead", "url" -> "hdfs://nn:8020/x", "status" -> "ok")))
  }

  test("a duplicate key keeps its last value, at its first position") {
    val b = blocks("a: first\nb: 2\na: second\nstatus: ok")
    assert(b === Seq(Map("a" -> "second", "b" -> "2", "status" -> "ok")))
    assert(b.head.keys.toSeq === Seq("a", "b", "status"))
  }

  test("'status-final' ends a block, 'status_code' does not; a trailing unterminated block is dropped") {
    assert(blocks("status_code: 200\nstatus-final: done\nk: v\nstatus: ok\ntail: dropped") === Seq(
      Map("status_code" -> "200", "status-final" -> "done"), Map("k" -> "v", "status" -> "ok")))
  }

  test("text without a terminated block gives no blocks") {
    assert(blocks("") === Nil)
    assert(blocks("  \n\r\n") === Nil)
    assert(blocks("k: v\nstatuses: no") === Nil)
  }
}
