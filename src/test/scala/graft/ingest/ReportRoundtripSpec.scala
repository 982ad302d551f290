package graft.ingest

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property: render(blocks) → parse ≡ identity (modulo trim), at any
  * partition count of the one-row-per-file frame — the guarantee the
  * reference only gets from repartition(1) (SURVEY §5.2 item 3).
  */
class ReportRoundtripSpec extends SparkSpec {

  private val keyGen: Gen[String] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
      .suchThat(k => k.nonEmpty && k != ReportFormat.BlockTerminatorKey)

  private val valGen: Gen[String] = Gen.listOfN(12,
    Gen.frequency(8 -> Gen.alphaNumChar, 1 -> Gen.const(':'), 1 -> Gen.const(' ')))
    .map(_.mkString.trim)

  private val blockGen: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(1, 8)
    keys <- Gen.listOfN(n, keyGen).map(_.distinct)
    vals <- Gen.listOfN(keys.size, valGen)
    endVal <- valGen
  } yield keys.zip(vals) :+ (ReportFormat.BlockTerminatorKey -> endVal)

  test("parse(render(blocks)) == blocks as key→value maps, at any partition count") {
    val prop = Prop.forAll(Gen.choose(1, 6).flatMap(Gen.listOfN(_, blockGen)), Gen.choose(1, 7)) {
      (blocks: List[Seq[(String, String)]], parts: Int) =>
        val dir = Fixtures.tmpDir()
        Fixtures.writeReport(dir, "p.TXT", ReportPipeline.renderReport(blocks))
        val files = ReportFormat.readReportFiles(spark, dir.toString)
        val parsed = ReportFormat.assembleBlocks(files.repartition(parts))
          .orderBy("block_id").collect()
          .map(_.getAs[Map[String, String]]("kv"))
        val expected = blocks.map(_.toMap)
        parsed.toSeq == expected
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  // --------------------------------------------------------------------------
  // Adversarial keys: the terminator predicate is the regex \b(status)\b on
  // the KEY (reference Proof.scala:126). Two classes of key must NOT end a
  // block: (a) keys full of regex metacharacters (the key rides INTO rlike
  // as data, not pattern — metachars must be inert), and (b) keys that
  // contain "status" only inside a word (\w is [A-Za-z0-9_], so 'statuses',
  // 'status_code', 'mystatus' have no boundary around 'status').
  private val adversarialKeys = Seq(
    "a.b", "x(y)", "[key]", "k*v", "a+b", "c^d", "e$f", "q?r", "s|t",
    "br\\ace", "{n}", "statuses", "mystatus", "status_code", "estatus")

  private val advBlockGen: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(1, 6)
    keys <- Gen.listOfN(n, Gen.oneOf(adversarialKeys)).map(_.distinct)
    vals <- Gen.listOfN(keys.size, valGen)
    endVal <- valGen
  } yield keys.zip(vals) :+ (ReportFormat.BlockTerminatorKey -> endVal)

  test("regex-metacharacter and status-substring keys never terminate a block early") {
    val prop = Prop.forAll(Gen.choose(1, 5).flatMap(Gen.listOfN(_, advBlockGen)), Gen.choose(1, 7)) {
      (blocks: List[Seq[(String, String)]], parts: Int) =>
        val dir = Fixtures.tmpDir()
        Fixtures.writeReport(dir, "adv.TXT", ReportPipeline.renderReport(blocks))
        val files = ReportFormat.readReportFiles(spark, dir.toString)
        val parsed = ReportFormat.assembleBlocks(files.repartition(parts))
          .orderBy("block_id").collect()
          .map(_.getAs[Map[String, String]]("kv"))
        parsed.toSeq == blocks.map(_.toMap)
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("word-boundary terminator semantics: 'status-final'/'file status' end a block, 'statuses'/'status_code' do not") {
    val dir = Fixtures.tmpDir()
    // non-word chars (-, space) form boundaries, so blocks 1-2 terminate on
    // the embedded-word variants exactly as the reference regex would;
    // 'statuses'/'status_code' ride through block 1 as ordinary keys
    Fixtures.writeReport(dir, "wb.TXT",
      """statuses: not_an_end
        |status_code: 200
        |status-final: done
        |mystatus: not_an_end
        |file status: also_done
        |k: trailing_unterminated""".stripMargin)
    val parsed = ReportFormat.parseDirectory(spark, dir.toString)
      .orderBy("block_id").collect()
      .map(_.getAs[Map[String, String]]("kv"))
    assert(parsed.length === 2) // trailing block without terminator dropped
    assert(parsed(0) === Map(
      "statuses" -> "not_an_end", "status_code" -> "200", "status-final" -> "done"))
    assert(parsed(1) === Map("mystatus" -> "not_an_end", "file status" -> "also_done"))
  }
}
