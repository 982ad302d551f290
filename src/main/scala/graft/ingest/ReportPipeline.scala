package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end report ingestion: directory of `*.TXT` report files →
  * normalized records → CSV + parquet (the reference's whole program,
  * Proof.scala:50-154, as one declarative pipeline).
  */
object ReportPipeline {

  /** Module dispatch (reference Proof.scala:80-81). */
  private val normalizers: Map[String, (DataFrame, Column) => DataFrame] = Map(
    "ERP" -> ((b, ts) => Normalize.erpRecords(b, "ERP", ts)),
    "ISU" -> ((b, ts) => Normalize.isuRecords(b, "ISU", ts)))

  def ingest(spark: SparkSession, inputDir: String, module: String = "ERP",
             generationDate: Column = date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")): DataFrame = {
    val normalize = normalizers.getOrElse(module,
      throw new IllegalArgumentException(s"unknown module '$module' (expected ${normalizers.keys.mkString("/")})"))
    normalize(ReportFormat.parseDirectory(spark, inputDir), generationDate)
  }

  /** Zip-wrapped ISU ingest: archives of report TXT entries → 32-column
    * ISU records with wrapper metadata (zip name/dir/path/size).
    */
  def ingestZipped(spark: SparkSession, inputDir: String,
                   generationDate: Column = date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")): DataFrame =
    Normalize.isuRecords(ReportFormat.parseZippedDirectory(spark, inputDir), "ISU", generationDate)

  /** Run ingest and persist to both sinks; returns #records newly appended
    * to parquet (idempotent across re-runs of the same input files).
    *
    * Order: first the records of the report files that have no committed
    * record are parsed once and appended to `parquetOut`
    * ([[Sinks.appendNewReportsOnly]]; committed files are not opened), then
    * the CSV is rewritten from the committed Parquet table. The CSV is
    * therefore a snapshot of everything committed so far: each record's
    * `GENERATION_DATE` is the time of the run that committed it, and the
    * records of a file since removed from `inputDir` stay in it. Before the
    * first commit it is written from an empty frame of the record columns.
    */
  def run(spark: SparkSession, inputDir: String, csvOut: String, parquetOut: String,
          module: String = "ERP"): Long = {
    val records = ingest(spark, inputDir, module)
    val n = Sinks.appendNewReportsOnly(spark, records, parquetOut)
    // select pins the record column order: part files appended by the
    // earlier anti-join design carry the key column first
    val committed =
      if (!Sinks.parquetExists(spark, parquetOut)) records.limit(0)
      else spark.read.parquet(parquetOut).select(records.columns.map(col): _*)
    Sinks.writeCsv(committed, csvOut)
    n
  }

  /** Render blocks back to report-file text — fixture generator for tests
    * and the self-contained demo query (inverse of the parser; property
    * tests roundtrip through it).
    */
  def renderReport(blocks: Seq[Seq[(String, String)]]): String =
    blocks.map(_.map { case (k, v) => s"$k: $v" }.mkString("\n")).mkString("\n")

  /** Fixed fixture location shared between [[demoQuery]] (which writes +
    * ingests it) and [[q50Sql]] (whose DuckDB twin re-reads the same file
    * via read_text). An absolute pinned path — not java.io.tmpdir — because
    * the oracle runs in a separate process with its own properties. */
  val demoDir = "/tmp/graft_demo_reports"

  /** Self-contained driver-contract query: writes a deterministic ERP
    * fixture to [[demoDir]], ingests it, returns the typed records. The
    * DuckDB oracle ([[q50Sql]]) reads the SAME report file and replays the
    * parse independently, so the whole text → blocks → normalize → typed
    * chain is hash-checked, not just rows>0. RUTA_DE_REPORTE is projected
    * to the file's basename: Spark reports a `file:///…` URI and DuckDB a
    * bare path, and the basename is the scheme-independent identity.
    */
  def demoQuery(spark: SparkSession): DataFrame = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(demoDir)
    Files.createDirectories(dir)
    val blocks = (1 to 5).map { i =>
      Seq(
        "file" -> s"data_$i.csv", "tableNameFromFile" -> s"tbl_$i",
        "tableNameFromJson" -> s"tbl_json_$i", "headersFromJson" -> "a,b,c",
        "countHeadersFromJson" -> "3", "countHeadersFromFile" -> "3",
        "headersFromFile" -> "a,b,c", "equalsHeaders" -> (if (i % 2 == 0) "true" else "false"),
        "fileDirectory" -> s"/landing/dir_$i",
        "filePath" -> s"hdfs://nn:8020/landing/raw/data_$i.csv",
        "fileSize" -> s"${1000 + i}", "fileValidSha" -> "OK",
        "fileColForSchema" -> "parquet", "fileTableName" -> s"official_tbl_$i",
        "fileColForPathTable" -> s"/landing/raw/official/tbl_$i",
        "fileAntColForCountColumns" -> "10", "fileAntColForCountRows" -> "1000",
        "fileColForCountColumns" -> "10", "fileColForCountRows" -> (1000 + i * 7).toString,
        "status" -> "FINISHED")
    }
    Files.writeString(dir.resolve("DEMO_REPORT[04-08-2019T13_51_30].TXT"), renderReport(blocks))
    Normalize.typedErp(ingest(spark, dir.toString, "ERP", generationDate = lit("2026-01-01 00:00:00")))
      .withColumn("RUTA_DE_REPORTE",
        regexp_extract(col("RUTA_DE_REPORTE"), "([^/]+)$", 1))
      .orderBy(col("ARCHIVO_PROCESADO"))
  }

  /** DuckDB twin of [[demoQuery]], generated from the SAME column mapping
    * (`ReportSchemas.erpColumns`) the Spark side binds: read_text the
    * fixture file, split lines, first-colon key/value split, running-count
    * block assembly terminated by the `\bstatus\b` key (the semantics of
    * the per-file fold `ReportFormat.blocks`, written independently as a
    * window), LAST-value-wins pivot (arg_max by line number), then the
    * `Normalize` metadata + typing rules. This is the q50 correctness oracle.
    */
  val q50Sql: String = {
    // columns typedErp promotes from string (must TRY_CAST in the twin)
    val longCols = Set(
      "CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA",
      "CONTEO_CABECERA_POR_ARCHIVO", "TAMANO_DE_ARCHIVO_BYTES",
      "TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS",
      "TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS",
      "TOTAL_COLUMNAS_OFICIAL", "TOTAL_REGISTROS_OFICIAL")
    // one last-value-wins pivot aggregate per source key (arg_max by
    // line_no — a duplicate key keeps its last value, as in the fold)
    val sourceKeys = ReportSchemas.erpColumns.collect { case (_, Some(k)) => k } ++
      Seq("fileAntColForCountColumns", "fileAntColForCountRows",
        "fileColForCountColumns", "fileColForCountRows")
    val pivots = sourceKeys.distinct.map(k =>
      s"    arg_max(val, line_no) FILTER (key = '$k') AS k_$k")
    val select = ReportSchemas.erpColumns.map {
      case ("MODULO", None) => "'ERP' AS MODULO"
      case ("TIPO_DE_REPORTE", None) => "'parquet' AS TIPO_DE_REPORTE"
      case ("RUTA_DE_REPORTE", None) => "fname AS RUTA_DE_REPORTE"
      case ("FECHA_DE_GENERACION_DE_REPORTE", None) =>
        """try_strptime(regexp_extract(fname,
          |    '\[(\d{2}-\d{2}-\d{4}T\d{2}_\d{2}_\d{2})\]', 1),
          |    '%d-%m-%YT%H_%M_%S') AS FECHA_DE_GENERACION_DE_REPORTE""".stripMargin
      case ("DIFERENCIA_TOTAL_COLUMNAS", None) =>
        "TRY_CAST(k_fileColForCountColumns AS BIGINT) - " +
          "TRY_CAST(k_fileAntColForCountColumns AS BIGINT) AS DIFERENCIA_TOTAL_COLUMNAS"
      case ("DIFERENCIA_TOTAL_REGISTROS", None) =>
        "TRY_CAST(k_fileColForCountRows AS BIGINT) - " +
          "TRY_CAST(k_fileAntColForCountRows AS BIGINT) AS DIFERENCIA_TOTAL_REGISTROS"
      case ("GENERATION_DATE", None) =>
        "TIMESTAMP '2026-01-01 00:00:00' AS GENERATION_DATE"
      case ("CABECERAS_IGUALES", _) =>
        "COALESCE(k_equalsHeaders, '') = 'true' AS CABECERAS_IGUALES"
      case (name, Some(k)) if longCols(name) => s"TRY_CAST(k_$k AS BIGINT) AS $name"
      case (name, Some(k)) => s"COALESCE(k_$k, '') AS $name"
      case (name, None) => s"'' AS $name"
    }
    s"""WITH files AS (
       |  SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname, content
       |  FROM read_text('$demoDir/*.TXT')),
       |lines AS (
       |  SELECT fname, i AS line_no, l[i] AS line
       |  FROM (SELECT fname, string_split(content, chr(10)) AS l FROM files),
       |       UNNEST(generate_series(1, len(l))) AS u(i)
       |  WHERE TRIM(l[i]) <> ''),
       |kv AS (
       |  SELECT fname, line_no,
       |    TRIM(CASE WHEN strpos(line, ':') > 0
       |              THEN substr(line, 1, strpos(line, ':') - 1) ELSE line END) AS key,
       |    TRIM(CASE WHEN strpos(line, ':') > 0
       |              THEN substr(line, strpos(line, ':') + 1) ELSE '' END) AS val
       |  FROM lines),
       |marked AS (
       |  SELECT *, CASE WHEN regexp_matches(key, '\\b(status)\\b') THEN 1 ELSE 0 END AS is_end
       |  FROM kv),
       |blocks AS (
       |  SELECT *, SUM(is_end) OVER (PARTITION BY fname ORDER BY line_no
       |    ROWS UNBOUNDED PRECEDING) - is_end AS block_id
       |  FROM marked),
       |b AS (
       |  SELECT fname, block_id, MAX(is_end) AS has_end,
       |${pivots.mkString(",\n")}
       |  FROM blocks GROUP BY fname, block_id)
       |SELECT
       |  ${select.mkString(",\n  ")}
       |FROM b WHERE has_end = 1 ORDER BY ARCHIVO_PROCESADO""".stripMargin
  }
}
