package graft.ingest

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.functions._

object Fixtures {
  /** A complete ERP block's key→value pairs, in file order. */
  def erpBlock(n: Int, equalsHeaders: String = "true",
               antCols: Int = 10, antRows: Int = 1000,
               cols: Int = 10, rows: Int = 1000): Seq[(String, String)] = Seq(
    "file" -> s"data_$n.csv",
    "tableNameFromFile" -> s"tbl_$n",
    "tableNameFromJson" -> s"tbl_json_$n",
    "headersFromJson" -> "a,b,c",
    "countHeadersFromJson" -> "3",
    "countHeadersFromFile" -> "3",
    "headersFromFile" -> "a,b,c",
    "equalsHeaders" -> equalsHeaders,
    "fileDirectory" -> s"/landing/dir_$n",
    // colon INSIDE the value — reference quirk Q3 would truncate this
    "filePath" -> s"hdfs://nn:8020/landing/raw/data_$n.csv",
    "fileSize" -> s"${1000 + n}",
    "fileValidSha" -> "OK",
    "fileColForSchema" -> "parquet",
    "fileTableName" -> s"official_tbl_$n",
    "fileColForPathTable" -> s"/landing/raw/official/tbl_$n",
    "fileAntColForCountColumns" -> antCols.toString,
    "fileAntColForCountRows" -> antRows.toString,
    "fileColForCountColumns" -> cols.toString,
    "fileColForCountRows" -> rows.toString,
    "status" -> "FINISHED")

  def writeReport(dir: Path, name: String, text: String): Unit =
    Files.writeString(dir.resolve(name), text)

  def tmpDir(): Path = Files.createTempDirectory("graft_reports")

  /** A zip archive at `zip` holding one rendered report entry per (name, blocks). */
  def writeZip(zip: Path, entries: (String, Seq[Seq[(String, String)]])*): Unit = {
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    try entries.foreach { case (name, blocks) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(ReportPipeline.renderReport(blocks).getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }
}

class ReportIngestSpec extends SparkSpec {
  import Fixtures._

  private def parseText(text: String) = {
    val dir = tmpDir()
    writeReport(dir, "r[01-02-2021T10_20_30].TXT", text)
    ReportFormat.parseDirectory(spark, dir.toString)
  }

  test("assembles one record per status-terminated block") {
    val text = ReportPipeline.renderReport(Seq(erpBlock(1), erpBlock(2), erpBlock(3)))
    val blocks = ReportFormat.parseDirectory(spark, {
      val d = tmpDir(); writeReport(d, "a.TXT", text); d.toString
    })
    assert(blocks.count() === 3)
    val kv = blocks.orderBy("block_id").collect()(1).getAs[Map[String, String]]("kv")
    assert(kv("file") === "data_2.csv")
    assert(kv("status") === "FINISHED")
  }

  test("reads *.TXT files recursively and skips other extensions") {
    val dir = tmpDir()
    Files.createDirectories(dir.resolve("sub"))
    writeReport(dir, "a.TXT", ReportPipeline.renderReport(Seq(erpBlock(1))))
    writeReport(dir, "sub/b.TXT", ReportPipeline.renderReport(Seq(erpBlock(2))))
    // decoys: another extension, and the right one in the wrong case
    writeReport(dir, "c.csv", ReportPipeline.renderReport(Seq(erpBlock(3))))
    writeReport(dir, "d.txt", ReportPipeline.renderReport(Seq(erpBlock(4))))
    val root = dir.getFileName.toString + "/"
    val got = ReportFormat.parseDirectory(spark, dir.toString).collect()
      .map { r =>
        val f = r.getAs[String]("file")
        (f.substring(f.indexOf(root) + root.length), r.getAs[Map[String, String]]("kv")("file"))
      }
      .sorted.toSeq
    assert(got === Seq("a.TXT" -> "data_1.csv", "sub/b.TXT" -> "data_2.csv"))
  }

  test("values containing ':' survive intact (Q3 fix)") {
    val blocks = parseText(ReportPipeline.renderReport(Seq(erpBlock(7))))
    val kv = blocks.collect()(0).getAs[Map[String, String]]("kv")
    assert(kv("filePath") === "hdfs://nn:8020/landing/raw/data_7.csv")
  }

  test("trailing unterminated block is dropped") {
    val full = erpBlock(1)
    val partial = full.takeWhile(_._1 != "status") // no status line
    val blocks = parseText(ReportPipeline.renderReport(Seq(full, partial)))
    assert(blocks.count() === 1)
  }

  test("parse is partition-count invariant (the reference guarantee that required repartition(1))") {
    val text = ReportPipeline.renderReport((1 to 20).map(erpBlock(_)))
    val dir = tmpDir()
    (1 to 5).foreach(i => writeReport(dir, s"f$i.TXT", text))
    val files = ReportFormat.readReportFiles(spark, dir.toString)
    val one = ReportFormat.assembleBlocks(files.repartition(1))
      .select("file", "block_id", "kv").collect().toSet
    val many = ReportFormat.assembleBlocks(files.repartition(13))
      .select("file", "block_id", "kv").collect().toSet
    assert(one === many)
    assert(one.size === 100)
  }

  test("duplicate key within a block keeps the last value") {
    val b = erpBlock(1) ++ Seq.empty
    val withDup = b.patch(1, Seq("tableNameFromFile" -> "first", "tableNameFromFile" -> "second"), 1)
    val blocks = parseText(ReportPipeline.renderReport(Seq(withDup)))
    val kv = blocks.collect()(0).getAs[Map[String, String]]("kv")
    assert(kv("tableNameFromFile") === "second")
  }

  test("ERP normalization: 27 columns, metadata, SI/NO, real diffs") {
    val dir = tmpDir()
    writeReport(dir, "REPORT_PARQUET_DATE_OF_PROCESSS[04-08-2019T13_51_30].TXT",
      ReportPipeline.renderReport(Seq(
        erpBlock(1, equalsHeaders = "true", antCols = 10, cols = 12, antRows = 1000, rows = 900),
        erpBlock(2, equalsHeaders = "false"))))
    val rec = ReportPipeline.ingest(spark, dir.toString, "ERP", generationDate = lit("2026-01-01 00:00:00"))
      .orderBy("ARCHIVO_PROCESADO")
    assert(rec.columns.toSeq === ReportSchemas.erpColumns.map(_._1))
    val rows = rec.collect()
    assert(rows.length === 2)
    val r1 = rows(0)
    assert(r1.getAs[String]("MODULO") === "ERP")
    assert(r1.getAs[String]("TIPO_DE_REPORTE") === "parquet")
    assert(r1.getAs[String]("RUTA_DE_REPORTE").endsWith("[04-08-2019T13_51_30].TXT"))
    assert(r1.getAs[String]("FECHA_DE_GENERACION_DE_REPORTE") === "2019-08-04 13:51:30")
    assert(r1.getAs[String]("CABECERAS_IGUALES") === "SI")
    assert(rows(1).getAs[String]("CABECERAS_IGUALES") === "NO")
    assert(r1.getAs[String]("DIFERENCIA_TOTAL_COLUMNAS") === "2")
    assert(r1.getAs[String]("DIFERENCIA_TOTAL_REGISTROS") === "-100")
    assert(r1.getAs[String]("ARCHIVO_PROCESADO") === "data_1.csv")
    assert(r1.getAs[String]("ESTADO_DEL_PROCESO") === "FINISHED")
    assert(r1.getAs[String]("GENERATION_DATE") === "2026-01-01 00:00:00")
    // typed layer
    val typed = Normalize.typedErp(rec)
    assert(typed.schema("TAMANO_DE_ARCHIVO_BYTES").dataType.typeName === "long")
    assert(typed.schema("CABECERAS_IGUALES").dataType.typeName === "boolean")
    assert(typed.filter(col("CABECERAS_IGUALES")).count() === 1)
  }

  test("ISU normalization: 32 columns including zip fields") {
    val dir = tmpDir()
    val isuBlock = Seq(
      "infoFile" -> "info.txt", "zipName" -> "batch.zip",
      "zipDirectory" -> "/zips", "zipPath" -> "/zips/batch.zip",
      "zipSize" -> "2048") ++ erpBlock(1)
    writeReport(dir, "isu[01-01-2020T00_00_00].TXT", ReportPipeline.renderReport(Seq(isuBlock)))
    val rec = ReportPipeline.ingest(spark, dir.toString, "ISU", generationDate = lit("2026-01-01 00:00:00"))
    assert(rec.columns.length === 32)
    val r = rec.collect()(0)
    assert(r.getAs[String]("NOMBRE_ZIP") === "batch.zip")
    assert(r.getAs[String]("TAMANO_ZIP") === "2048")
    assert(r.getAs[String]("MODULO") === "ISU")
  }

  test("zip-wrapped ISU ingest: entries extracted, wrapper metadata attached") {
    val dir = tmpDir()
    val zipFile = dir.resolve("batch_01.zip")
    writeZip(zipFile, "r1.TXT" -> Seq(erpBlock(1), erpBlock(2)), "r2.TXT" -> Seq(erpBlock(3)))
    val rec = ReportPipeline.ingestZipped(spark, dir.toString,
      generationDate = org.apache.spark.sql.functions.lit("2026-01-01 00:00:00"))
    assert(rec.count() === 3)
    assert(rec.columns.length === 32)
    val r1 = rec.filter(col("ARCHIVO_PROCESADO") === "data_1.csv").collect()(0)
    assert(r1.getAs[String]("NOMBRE_ZIP") === "batch_01.zip")
    assert(r1.getAs[String]("RUTA_ZIP").endsWith("batch_01.zip"))
    assert(r1.getAs[String]("TAMANO_ZIP").toLong > 0)
    assert(r1.getAs[String]("MODULO") === "ISU")
    // entries from the same zip, different TXT files → distinct report paths
    assert(rec.select("RUTA_DE_REPORTE").distinct().count() === 2)
    // the archive's own size, and the same file:/// key form as a report file's
    assert(r1.getAs[String]("TAMANO_ZIP") === Files.size(zipFile).toString)
    assert(r1.getAs[String]("RUTA_ZIP").startsWith("file:///"), r1.getAs[String]("RUTA_ZIP"))
    assert(r1.getAs[String]("RUTA_DE_REPORTE") === r1.getAs[String]("RUTA_ZIP") + "!r1.TXT")
    // archives are found recursively, like report files
    Files.createDirectories(dir.resolve("sub"))
    writeZip(dir.resolve("sub/batch_02.zip"), "r3.TXT" -> Seq(erpBlock(4)))
    val nested = ReportPipeline.ingestZipped(spark, dir.toString,
      generationDate = org.apache.spark.sql.functions.lit("2026-01-01 00:00:00"))
      .filter(col("ARCHIVO_PROCESADO") === "data_4.csv").collect()
    assert(nested.map(_.getAs[String]("RUTA_DE_REPORTE")).toSeq ===
      Seq("file://" + dir.resolve("sub/batch_02.zip") + "!r3.TXT"))
    assert(nested.map(_.getAs[String]("NOMBRE_ZIP")).toSeq === Seq("batch_02.zip"))
  }

  test("a zip entry inflating past MaxEntryBytes fails naming archive!entry; one of exactly MaxEntryBytes reads") {
    def zeros(dir: Path, bytes: Int): Unit = {
      val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(dir.resolve("big.zip")))
      try {
        zos.putNextEntry(new java.util.zip.ZipEntry("big.TXT"))
        val chunk = new Array[Byte](1 << 20)
        var left = bytes
        while (left > 0) { val n = math.min(left, chunk.length); zos.write(chunk, 0, n); left -= n }
        zos.closeEntry()
      } finally zos.close()
    }
    val over = tmpDir()
    zeros(over, ReportFormat.MaxEntryBytes + 1)
    val e = intercept[Exception](ReportPipeline.ingestZipped(spark, over.toString).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[java.io.IOException] &&
      c.getMessage.startsWith("file://" + over.resolve("big.zip") + "!big.TXT")), causes.mkString("\n"))
    val exact = tmpDir()
    zeros(exact, ReportFormat.MaxEntryBytes)
    val read = ReportFormat.readZippedReports(spark, exact.toString)
      .select(col("file"), length(col("text"))).collect()
    assert(read.map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("file://" + exact.resolve("big.zip") + "!big.TXT", ReportFormat.MaxEntryBytes)))
  }

  test("zip wrapper keys win over a same-named key in the entry's text") {
    val dir = tmpDir()
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(dir.resolve("w.zip")))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry("r.TXT"))
      zos.write(ReportPipeline.renderReport(Seq(("zipName" -> "inner.zip") +: erpBlock(1))).getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    val rec = ReportPipeline.ingestZipped(spark, dir.toString, generationDate = lit("2026-01-01 00:00:00"))
      .collect()
    assert(rec.map(_.getAs[String]("NOMBRE_ZIP")).toSeq === Seq("w.zip"))
  }

  test("parsing leaves the session conf alone and plans no window or aggregate") {
    val session = spark.newSession()
    val dir = tmpDir()
    writeReport(dir, "a.TXT", ReportPipeline.renderReport(Seq(erpBlock(1), erpBlock(2))))
    val blocks = ReportFormat.parseDirectory(session, dir.toString)
    assert(blocks.count() === 2)
    assert(session.conf.get("spark.sql.mapKeyDedupPolicy") === "EXCEPTION")
    val windowsOrAggregates = blocks.queryExecution.optimizedPlan.collect {
      case p @ (_: Window | _: Aggregate) => p.nodeName
    }
    assert(windowsOrAggregates.isEmpty, blocks.queryExecution.optimizedPlan.treeString)
  }

  test("prototype-20 records: golden header incl. paren spelling, raw equalsHeaders, skipped-index quirk") {
    val blocks = parseText(ReportPipeline.renderReport(Seq(erpBlock(1, equalsHeaders = "true"))))
    val rec = Normalize.protoRecords(blocks)
    // golden: the reference's 20-column header string verbatim
    // (Main.scala:16-26) — incl. TAMANO_DE_ARCHIVO_(BYTES) with parens
    val golden = ("ARCHIVO_PROCESADO;NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO;" +
      "NOMBRE_DE_TABLA_ASIGNADO_EN_LOS_PARAMETROS;CABECERA_ASIGNADA;" +
      "CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA;CONTEO_CABECERA_POR_ARCHIVO;" +
      "CABECERA_IDENTIFICADA_EN_EL_ARCHIVO;CABECERAS_IGUALES;NOMBRE_DE_DIRECTORIO;" +
      "RUTA_EN_LANDING_RAW_ARCHIVO_SIN_TRANSFORMAR;TAMANO_DE_ARCHIVO_(BYTES);" +
      "VALIDACION_SHA;FORMATO_DE_ALMACENAMIENTO_DE_ARCHIVO_TRANSFORMADO;NOMBRE_TABLA;" +
      "RUTA_EN_LANDINGRAW;TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS;" +
      "TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS;TOTAL_COLUMNAS_OFICIAL;" +
      "TOTAL_REGISTROS_OFICIAL;ESTADO_DEL_PROCESO").split(";").toSeq
    assert(rec.columns.toSeq === golden)
    val r = rec.collect()(0)
    // prototype has NO SI/NO caster (Main.scala readFiles) — raw value rides
    assert(r.getAs[String]("CABECERAS_IGUALES") === "true")
    assert(r.getAs[String]("ARCHIVO_PROCESADO") === "data_1.csv")
    assert(r.getAs[String]("TAMANO_DE_ARCHIVO_(BYTES)") === "1001")
    assert(r.getAs[String]("ESTADO_DEL_PROCESO") === "FINISHED")
    // the positionally-skipped value indices 9-10 (Main.scala:109-112) have
    // no keyed mapping — no metadata column sneaks into the 20-col shape
    assert(!rec.columns.exists(c => c == "MODULO" || c == "GENERATION_DATE"))
  }

  test("legacy-fidelity CSV header is byte-identical to the reference config string (Proof.scala:27)") {
    val dir = tmpDir()
    writeReport(dir, "r1[01-01-2020T00_00_00].TXT",
      ReportPipeline.renderReport(Seq(erpBlock(1))))
    val rec = ReportPipeline.ingest(spark, dir.toString, "ERP",
      generationDate = lit("2026-01-01 00:00:00"))
    val out = tmpDir().resolve("legacy_csv").toString
    Sinks.writeCsv(Normalize.withLegacyHeader(rec), out)
    // the reference's exact `;`-separated header config (Proof.scala:27),
    // incl. the GEBERATION_DATE misspelling, as a quoteAll CSV header line
    val legacy = "MODULO;TIPO_DE_REPORTE;RUTA_DE_REPORTE;FECHA_DE_GENERACION_DE_REPORTE;" +
      "ARCHIVO_PROCESADO;NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO;" +
      "NOMBRE_DE_TABLA_ASIGNADO_EN_LOS_PARAMETROS;CABECERA_ASIGNADA;" +
      "CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA;CONTEO_CABECERA_POR_ARCHIVO;" +
      "CABECERA_IDENTIFICADA_EN_EL_ARCHIVO;CABECERAS_IGUALES;NOMBRE_DE_DIRECTORIO;" +
      "RUTA_EN_LANDING_RAW_ARCHIVO_SIN_TRANSFORMAR;TAMANO_DE_ARCHIVO_BYTES;" +
      "VALIDACION_SHA;FORMATO_DE_ALMACENAMIENTO_DE_ARCHIVO_TRANSFORMADO;NOMBRE_TABLA;" +
      "RUTA_EN_LANDINGRAW;TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS;" +
      "TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS;DIFERENCIA_TOTAL_COLUMNAS;" +
      "DIFERENCIA_TOTAL_REGISTROS;TOTAL_COLUMNAS_OFICIAL;TOTAL_REGISTROS_OFICIAL;" +
      "ESTADO_DEL_PROCESO;GEBERATION_DATE"
    val expectedHeader = legacy.split(";").map(c => "\"" + c + "\"").mkString(",")
    assert(ReportSchemas.legacyErpHeader === legacy.split(";").toSeq)
    val headerLine = spark.sparkContext.textFile(out).collect()
      .find(_.startsWith("\"MODULO\"")).get
    assert(headerLine === expectedHeader)
  }

  test("colon-less and garbage lines don't crash the parse (ANSI element_at regression)") {
    val text = "-----\n" + ReportPipeline.renderReport(Seq(erpBlock(1))) +
      "\nseparator line without colon\n" + ReportPipeline.renderReport(Seq(erpBlock(2)))
    val blocks = parseText(text)
    assert(blocks.count() === 2)
    // the colon-less line becomes a key with empty value inside its block
    val kv = blocks.orderBy("block_id").collect()(1).getAs[Map[String, String]]("kv")
    assert(kv.contains("separator line without colon"))
    assert(kv("separator line without colon") === "")
  }

  test("missing or garbage numeric fields yield null counts, not an ANSI crash") {
    val noCounts = erpBlock(1).filterNot { case (k, _) =>
      k == "fileSize" || k == "fileColForCountRows" }
      .map { case ("fileAntColForCountRows", _) => ("fileAntColForCountRows", "not_a_number")
             case kv => kv }
    val dir = tmpDir()
    writeReport(dir, "x[01-01-2020T00_00_00].TXT", ReportPipeline.renderReport(Seq(noCounts)))
    val rec = ReportPipeline.ingest(spark, dir.toString, "ERP",
      generationDate = org.apache.spark.sql.functions.lit("2026-01-01 00:00:00"))
    val typed = Normalize.typedErp(rec).collect()(0)
    assert(typed.isNullAt(typed.fieldIndex("TAMANO_DE_ARCHIVO_BYTES")))
    assert(typed.isNullAt(typed.fieldIndex("DIFERENCIA_TOTAL_REGISTROS")))
  }

  test("'+' in report filenames survives path decoding") {
    val dir = tmpDir()
    // names whose URI form differs from the raw name, and a nested file;
    // the key must stay byte-identical to the former input_file_name()
    // key, or Parquet outputs written before stop deduplicating
    val names = Seq("a+b[01-01-2020T00_00_00].TXT", "r[01-01-2020T00_00_01].TXT", "a b.TXT",
      "p%41.TXT", "h#1.TXT", "sub/n.TXT")
    Files.createDirectories(dir.resolve("sub"))
    names.zipWithIndex.foreach { case (n, i) =>
      writeReport(dir, n, ReportPipeline.renderReport(Seq(erpBlock(i)))) }
    val rec = ReportPipeline.ingest(spark, dir.toString, "ERP",
      generationDate = org.apache.spark.sql.functions.lit("2026-01-01 00:00:00"))
      .select(col("RUTA_DE_REPORTE"), col("ARCHIVO_PROCESADO"),
        url_decode(regexp_replace(input_file_name(), "\\+", "%2B")).as("legacy"))
      .collect()
    assert(rec.length === names.size)
    rec.foreach { r =>
      val path = r.getAs[String]("RUTA_DE_REPORTE")
      val name = names(r.getAs[String]("ARCHIVO_PROCESADO").stripPrefix("data_").stripSuffix(".csv").toInt)
      assert(path.endsWith("/" + name), path)
      assert(path === r.getAs[String]("legacy"))
    }
    assert(rec.exists(_.getAs[String]("RUTA_DE_REPORTE").contains("a+b[")))
  }

  test("a report file deleted after listing is skipped, not a failed batch") {
    val dir = tmpDir()
    writeReport(dir, "a.TXT", ReportPipeline.renderReport(Seq(erpBlock(1), erpBlock(2))))
    writeReport(dir, "b.TXT", ReportPipeline.renderReport(Seq(erpBlock(3))))
    val listed = ReportPipeline.ingest(spark, dir.toString, generationDate = lit("2026-01-01 00:00:00"))
    Files.delete(dir.resolve("b.TXT"))
    val got = listed.collect()
    assert(got.map(_.getAs[String]("ARCHIVO_PROCESADO")).sorted.toSeq === Seq("data_1.csv", "data_2.csv"))
    assert(got.map(_.getAs[String]("RUTA_DE_REPORTE")).distinct.toSeq === Seq("file://" + dir.resolve("a.TXT")))
    val onlyA = ReportPipeline.ingest(spark, dir.toString, generationDate = lit("2026-01-01 00:00:00")).collect()
    assert(got.toSeq.map(_.toSeq).sortBy(_.toString) === onlyA.toSeq.map(_.toSeq).sortBy(_.toString))
  }

  test("UTF-8 BOM and CRLF line endings parse identically to a clean file") {
    val clean = ReportPipeline.renderReport(Seq(erpBlock(1), erpBlock(2)))
    val dirty = "﻿" + clean.replace("\n", "\r\n") // Windows-exported flavor
    val a = parseText(clean).orderBy("block_id").collect()
      .map(_.getAs[Map[String, String]]("kv"))
    val b = parseText(dirty).orderBy("block_id").collect()
      .map(_.getAs[Map[String, String]]("kv"))
    assert(a.toSeq === b.toSeq)
    assert(a.length === 2)
  }

  test("PERMISSIVE JSON read quarantines corrupt records instead of failing (R22 semantics)") {
    val dir = tmpDir()
    Fixtures.writeReport(dir, "mixed.json",
      """{"event_id": 1, "value": 10.5}
        |{"event_id": 2, "value": 20.0}
        |{this is not json at all
        |{"event_id": "not_a_number", "value": 1.0}
        |{"event_id": 4, "value": 40.0}""".stripMargin)
    val df = spark.read
      .schema("event_id LONG, value DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
      .cache()
    try {
      val good = df.filter(col("_corrupt_record").isNull)
      val quarantined = df.filter(col("_corrupt_record").isNotNull)
      assert(good.count() === 3)
      assert(quarantined.count() === 2)
      assert(quarantined.collect().forall(_.getAs[String]("_corrupt_record").nonEmpty))
    } finally { df.unpersist(); () }
  }

  test("sinks: quoteAll CSV and idempotent parquet append") {
    val dir = tmpDir()
    writeReport(dir, "r1[01-01-2020T00_00_00].TXT",
      ReportPipeline.renderReport(Seq(erpBlock(1))))
    val out = tmpDir()
    val csvOut = out.resolve("csv").toString
    val pqOut = out.resolve("pq").toString
    val n1 = ReportPipeline.run(spark, dir.toString, csvOut, pqOut)
    assert(n1 === 1)
    // re-run same input → nothing new appended (Q6/Q8 fixed)
    val n2 = ReportPipeline.run(spark, dir.toString, csvOut, pqOut)
    assert(n2 === 0)
    assert(spark.read.parquet(pqOut).count() === 1)
    // new file → appended
    writeReport(dir, "r2[01-01-2020T00_00_01].TXT",
      ReportPipeline.renderReport(Seq(erpBlock(2))))
    val n3 = ReportPipeline.run(spark, dir.toString, csvOut, pqOut)
    assert(n3 === 1)
    assert(spark.read.parquet(pqOut).count() === 2)
    // quoteAll: every field quoted, header present
    val csvLines = spark.sparkContext.textFile(csvOut).collect()
    assert(csvLines.exists(_.startsWith("\"MODULO\"")))
    assert(csvLines.filterNot(_.startsWith("\"MODULO\"")).forall(l => l.startsWith("\"") && l.endsWith("\"")))
  }
}
