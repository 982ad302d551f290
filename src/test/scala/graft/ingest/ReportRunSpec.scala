package graft.ingest

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** `ReportPipeline.run` across runs over one landing directory: which files
  * a run opens, what the CSV holds, and the inputs that commit nothing. */
class ReportRunSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import Fixtures._

  private def report(dir: Path, name: String, blocks: Int*): Unit =
    writeReport(dir, name, ReportPipeline.renderReport(blocks.map(erpBlock(_))))

  private def parquetFiles(dir: String): Seq[String] =
    Files.list(Path.of(dir)).iterator.asScala.map(_.getFileName.toString).toSeq.sorted

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** Runs `body` (one `run`) and returns its result with the number of
    * report files its Parquet append write opened: the binaryFile scans'
    * `numFiles` in the executed plan of the write into `_attempt-*`. */
  private def withFilesOpened(body: => Long): (Long, Long) = {
    val writes = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("_attempt-")) writes.synchronized { writes += qe.executedPlan; () }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = body
      // listener delivery is async — poll until the append write lands
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (writes.synchronized(writes.isEmpty) && System.nanoTime() < deadline) Thread.sleep(50)
      val plans = writes.synchronized(writes.toVector)
      assert(plans.size === 1, plans.mkString("\n"))
      val opened = collect(plans.head) {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
          s.metrics("numFiles").value
      }
      assert(opened.size === 1, plans.head.toString)
      (n, opened.head)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a run opens only the report files that have no committed record") {
    val in = tmpDir()
    val out = tmpDir()
    val csv = out.resolve("csv").toString
    val pq = out.resolve("pq").toString
    report(in, "a[01-01-2020T00_00_00].TXT", 1, 2)
    report(in, "b[01-01-2020T00_00_01].TXT", 3)
    assert(withFilesOpened(ReportPipeline.run(spark, in.toString, csv, pq)) === ((3L, 2L)))
    report(in, "c[01-01-2020T00_00_02].TXT", 4)
    assert(withFilesOpened(ReportPipeline.run(spark, in.toString, csv, pq)) === ((1L, 1L)))
    val committed = parquetFiles(pq)
    assert(withFilesOpened(ReportPipeline.run(spark, in.toString, csv, pq)) === ((0L, 0L)))
    assert(parquetFiles(pq) === committed)
    assert(!committed.exists(_.startsWith("_attempt-")), committed)
    assert(spark.read.parquet(pq).count() === 4)
  }

  test("the CSV mirrors the committed Parquet, GENERATION_DATE included") {
    val in = tmpDir()
    val out = tmpDir()
    val csv = out.resolve("csv").toString
    val pq = out.resolve("pq").toString
    report(in, "a[01-01-2020T00_00_00].TXT", 1, 2)
    ReportPipeline.run(spark, in.toString, csv, pq)
    // a later second, so a's and b's GENERATION_DATE differ
    Thread.sleep(1100)
    report(in, "b[01-01-2020T00_00_01].TXT", 3)
    // run 2 appends b, run 3 has nothing new, and before run 4 a's file is
    // removed from the input: its committed records stay in both sinks
    for ((expected, i) <- Seq(1L, 0L, 0L).zipWithIndex) {
      if (i == 2) Files.delete(in.resolve("a[01-01-2020T00_00_00].TXT"))
      assert(ReportPipeline.run(spark, in.toString, csv, pq) === expected)
      val csvRows = spark.read.option("header", "true").csv(csv)
      val pqRows = spark.read.parquet(pq)
      assert(csvRows.columns.toSeq === ReportSchemas.erpColumns.map(_._1))
      assert(pqRows.columns.toSeq === csvRows.columns.toSeq)
      assert(pqRows.count() === 3)
      assert(pqRows.select("GENERATION_DATE").distinct().count() === 2)
      assert(multiset(csvRows) === multiset(pqRows))
    }
  }

  test("the CSV keeps the record column order over part files with the key column first") {
    val in = tmpDir()
    val out = tmpDir()
    val csv = out.resolve("csv").toString
    val pq = out.resolve("pq").toString
    report(in, "a[01-01-2020T00_00_00].TXT", 1, 2)
    // the layout the former left-anti join appended: join key first
    val records = ReportPipeline.ingest(spark, in.toString)
    records.select("RUTA_DE_REPORTE", records.columns.filter(_ != "RUTA_DE_REPORTE").toSeq: _*)
      .write.parquet(pq)
    assert(ReportPipeline.run(spark, in.toString, csv, pq) === 0L)
    val csvRows = spark.read.option("header", "true").csv(csv)
    assert(csvRows.columns.toSeq === ReportSchemas.erpColumns.map(_._1))
    assert(multiset(csvRows) === multiset(spark.read.parquet(pq).select(csvRows.columns.map(col).toSeq: _*)))
  }

  test("a directory with only an unterminated block commits nothing and writes the same CSV") {
    val in = tmpDir()
    val out = tmpDir()
    val pq = out.resolve("pq").toString
    writeReport(in, "u[01-01-2020T00_00_00].TXT",
      ReportPipeline.renderReport(Seq(erpBlock(1).takeWhile(_._1 != "status"))))
    assert(ReportPipeline.run(spark, in.toString, out.resolve("csv").toString, pq) === 0L)
    val dataFiles = if (!Files.exists(Path.of(pq))) Nil
      else Files.walk(Path.of(pq)).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(dataFiles.isEmpty, dataFiles)
    // the CSV that writing the ingested records directly gives
    Sinks.writeCsv(ReportPipeline.ingest(spark, in.toString), out.resolve("direct").toString)
    def csvText(name: String): Seq[String] =
      Files.list(out.resolve(name)).iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
        .map(Files.readString).toSeq.sorted
    assert(csvText("csv") === csvText("direct"))
    assert(csvText("csv").mkString.startsWith("\"MODULO\","), csvText("csv"))
  }

  test("a leftover _attempt directory of a killed run is never read") {
    val in = tmpDir()
    val out = tmpDir()
    val pq = out.resolve("pq").toString
    val csv = out.resolve("csv").toString
    report(in, "a[01-01-2020T00_00_00].TXT", 1, 2)
    // what a run killed before its publish leaves: b's records, staged
    // under the output; then b is taken away until the second run
    report(in, "b[01-01-2020T00_00_01].TXT", 3)
    ReportPipeline.ingest(spark, in.toString).filter(col("RUTA_DE_REPORTE").endsWith("b[01-01-2020T00_00_01].TXT"))
      .write.parquet(s"$pq/_attempt-x")
    Files.delete(in.resolve("b[01-01-2020T00_00_01].TXT"))
    assert(Files.list(Path.of(s"$pq/_attempt-x")).iterator.asScala
      .exists(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet")))
    assert(ReportPipeline.run(spark, in.toString, csv, pq) === 2L)
    // b arrives again: its staged rows must not count as committed
    report(in, "b[01-01-2020T00_00_01].TXT", 3)
    assert(ReportPipeline.run(spark, in.toString, csv, pq) === 1L)
    val files = spark.read.parquet(pq).select("RUTA_DE_REPORTE", "ARCHIVO_PROCESADO").collect()
      .map { case Row(f: String, a: String) => (f.substring(f.lastIndexOf('/') + 1), a) }.sorted.toSeq
    assert(files === Seq(
      "a[01-01-2020T00_00_00].TXT" -> "data_1.csv", "a[01-01-2020T00_00_00].TXT" -> "data_2.csv",
      "b[01-01-2020T00_00_01].TXT" -> "data_3.csv"))
    assert(ReportPipeline.run(spark, in.toString, csv, pq) === 0L)
  }
}
