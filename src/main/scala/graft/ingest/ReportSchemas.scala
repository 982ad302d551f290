package graft.ingest

/** Report record shapes for the ERP / ISU / prototype-20 variants.
  *
  * The reference binds parser output to columns POSITIONALLY (block value
  * index i → header i, skipping indices 9-10 — reference Proof.scala:157-214,
  * Main.scala:109-112). The rebuild instead extracts by KEY: each output
  * column maps to the `key` of its `key: value` source line, which kills the
  * silent skipped-index fragility (SURVEY §2.3).
  *
  * Output header lists come from the reference's `;`-separated config string
  * (Proof.scala:27). `GEBERATION_DATE` is the reference's misspelling
  * (SURVEY Q5); the rebuild defaults to the canonical `GENERATION_DATE` and
  * keeps the original available for byte-identical fidelity.
  */
object ReportSchemas {

  /** Output column name → source block key, in reference output order
    * (reference module/ERP.scala:2-31 field order = Proof.scala:159-213).
    * Metadata columns (no source key) are marked with None.
    */
  val erpColumns: Seq[(String, Option[String])] = Seq(
    "MODULO" -> None,
    "TIPO_DE_REPORTE" -> None,
    "RUTA_DE_REPORTE" -> None,
    "FECHA_DE_GENERACION_DE_REPORTE" -> None,
    "ARCHIVO_PROCESADO" -> Some("file"),
    "NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO" -> Some("tableNameFromFile"),
    "NOMBRE_DE_TABLA_ASIGNADO_EN_LOS_PARAMETROS" -> Some("tableNameFromJson"),
    "CABECERA_ASIGNADA" -> Some("headersFromJson"),
    "CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA" -> Some("countHeadersFromJson"),
    "CONTEO_CABECERA_POR_ARCHIVO" -> Some("countHeadersFromFile"),
    "CABECERA_IDENTIFICADA_EN_EL_ARCHIVO" -> Some("headersFromFile"),
    "CABECERAS_IGUALES" -> Some("equalsHeaders"),
    "NOMBRE_DE_DIRECTORIO" -> Some("fileDirectory"),
    "RUTA_EN_LANDING_RAW_ARCHIVO_SIN_TRANSFORMAR" -> Some("filePath"),
    "TAMANO_DE_ARCHIVO_BYTES" -> Some("fileSize"),
    "VALIDACION_SHA" -> Some("fileValidSha"),
    "FORMATO_DE_ALMACENAMIENTO_DE_ARCHIVO_TRANSFORMADO" -> Some("fileColForSchema"),
    "NOMBRE_TABLA" -> Some("fileTableName"),
    "RUTA_EN_LANDINGRAW" -> Some("fileColForPathTable"),
    "TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS" -> Some("fileAntColForCountColumns"),
    "TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS" -> Some("fileAntColForCountRows"),
    "DIFERENCIA_TOTAL_COLUMNAS" -> None,
    "DIFERENCIA_TOTAL_REGISTROS" -> None,
    "TOTAL_COLUMNAS_OFICIAL" -> Some("fileColForCountColumns"),
    "TOTAL_REGISTROS_OFICIAL" -> Some("fileColForCountRows"),
    "ESTADO_DEL_PROCESO" -> Some("status"),
    "GENERATION_DATE" -> None)

  /** ISU adds the zip-wrapper fields (reference module/ISU.scala:9-13);
    * parser bodies are empty in the reference (Proof.scala:215-224) so the
    * column naming below extends the ERP convention.
    */
  val isuColumns: Seq[(String, Option[String])] = {
    val zipCols = Seq(
      "INFO_ARCHIVO" -> Some("infoFile"),
      "NOMBRE_ZIP" -> Some("zipName"),
      "DIRECTORIO_ZIP" -> Some("zipDirectory"),
      "RUTA_ZIP" -> Some("zipPath"),
      "TAMANO_ZIP" -> Some("zipSize"))
    val (head, tail) = erpColumns.splitAt(4) // metadata prefix, then file fields
    head ++ zipCols ++ tail
  }

  /** The 20-column prototype variant (reference Main.scala:16-26 header
    * string; Main.scala:109-112 `splitInfo`). The prototype maps block
    * values POSITIONALLY, silently skipping value indices 9-10 (as the
    * shipped ERP parser also does — Proof.scala:172-181), has NO metadata
    * columns, NO SI/NO re-encoding of equalsHeaders (raw true/false
    * passes through), and spells the size column with parens:
    * `TAMANO_DE_ARCHIVO_(BYTES)`. Keyed extraction reproduces exactly the
    * columns it emits — the skipped positions simply have no mapping.
    */
  val protoColumns: Seq[(String, String)] = Seq(
    "ARCHIVO_PROCESADO" -> "file",
    "NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO" -> "tableNameFromFile",
    "NOMBRE_DE_TABLA_ASIGNADO_EN_LOS_PARAMETROS" -> "tableNameFromJson",
    "CABECERA_ASIGNADA" -> "headersFromJson",
    "CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA" -> "countHeadersFromJson",
    "CONTEO_CABECERA_POR_ARCHIVO" -> "countHeadersFromFile",
    "CABECERA_IDENTIFICADA_EN_EL_ARCHIVO" -> "headersFromFile",
    "CABECERAS_IGUALES" -> "equalsHeaders",
    "NOMBRE_DE_DIRECTORIO" -> "fileDirectory",
    "RUTA_EN_LANDING_RAW_ARCHIVO_SIN_TRANSFORMAR" -> "filePath",
    "TAMANO_DE_ARCHIVO_(BYTES)" -> "fileSize",
    "VALIDACION_SHA" -> "fileValidSha",
    "FORMATO_DE_ALMACENAMIENTO_DE_ARCHIVO_TRANSFORMADO" -> "fileColForSchema",
    "NOMBRE_TABLA" -> "fileTableName",
    "RUTA_EN_LANDINGRAW" -> "fileColForPathTable",
    "TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS" -> "fileAntColForCountColumns",
    "TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS" -> "fileAntColForCountRows",
    "TOTAL_COLUMNAS_OFICIAL" -> "fileColForCountColumns",
    "TOTAL_REGISTROS_OFICIAL" -> "fileColForCountRows",
    "ESTADO_DEL_PROCESO" -> "status")

  /** The reference's misspelled final header (Proof.scala:27), for
    * byte-identical header fidelity when required.
    */
  val legacyGenerationDateSpelling = "GEBERATION_DATE"

  /** ERP header exactly as the reference's `;`-separated config string
    * emits it (Proof.scala:27) — identical to [[erpColumns]] except the
    * misspelled final column.
    */
  val legacyErpHeader: Seq[String] =
    erpColumns.map(_._1).map {
      case "GENERATION_DATE" => legacyGenerationDateSpelling
      case other => other
    }
}
