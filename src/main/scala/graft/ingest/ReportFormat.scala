package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Partition-parallel reformulation of the reference's stateful block
  * assembler (reference Proof.scala:104-133: a `var concat` closure over an
  * RDD forced to one partition by `repartition(1)`).
  *
  * A report file is a sequence of `key: value` lines; a block ends at the
  * line whose key matches `\bstatus\b` (Proof.scala:126). Here block
  * boundaries are recovered with a running-count window per file, then each
  * block folds into a key→value map — no mutable state, correct at any
  * partition count (property-tested), one shuffle for the groupBy.
  *
  * Deviations from the reference, all deliberate (SURVEY §2.4):
  *  - split on the FIRST ':' only (limit 2) — the reference's unlimited
  *    split truncates values containing ':' such as hdfs:// URIs (Q3);
  *  - keyed (not positional) records — robust to reordered/missing lines;
  *  - a trailing block with no status line is dropped, matching the
  *    reference's observable output (it never emits an unterminated block).
  */
object ReportFormat {

  val BlockTerminatorKey = "status"

  /** Report file extension (case-sensitive), inside directories and zips. */
  val ReportExt = ".TXT"

  /** Read report files under `dir` (recursively, `*.TXT` like the
    * reference's extension filter, Proof.scala:69-83) as one row per file.
    * Executor-side read — the reference materializes whole files on the
    * driver (Q7). `wholetext` keeps per-file line order fully deterministic
    * (report files are KB-scale; one row per file parallelizes per-file).
    */
  def readReportFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", s"*$ReportExt")
      .text(dir)
      // input_file_name() is URI-encoded ('[' → %5B) — decode so filename
      // regexes (e.g. the [dd-MM-yyyyTHH_mm_ss] timestamp) see raw names.
      // url_decode is form-decoding where literal '+' means space, but URI
      // path encoding leaves '+' as-is — protect it first.
      .select(
        url_decode(regexp_replace(input_file_name(), "\\+", "%2B")).as("file"),
        col("value").as("text"))

  /** Explode whole-file text into ordered lines: (file, line_no, line). */
  def toLines(files: DataFrame): DataFrame =
    files
      // a UTF-8 BOM would otherwise ride on the first line's key and make
      // it miss every key match; CRLF is absorbed by the \r?\n split
      .select(col("file"),
        posexplode(split(regexp_replace(col("text"), "^\\uFEFF", ""), "\r?\n")))
      .withColumnRenamed("pos", "line_no")
      .withColumnRenamed("col", "line")
      .filter(trim(col("line")) =!= "")

  /** Assemble `key: value` lines into one row per status-terminated block:
    * (file, block_id, kv map<string,string>, n_lines).
    *
    * Scale: the window partitions by file (reports are small and numerous —
    * ideal parallelism unit); the groupBy reuses the same (file) clustering
    * so AQE coalesces; duplicate keys within a block keep the LAST value
    * (explicitly configured — default would throw).
    */
  def assembleBlocks(lines: DataFrame): DataFrame = {
    val kvSplit = split(col("line"), ":", 2)
    val w = Window.partitionBy(col("file")).orderBy(col("line_no"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isEnd = col("key").rlike(s"\\b($BlockTerminatorKey)\\b")

    lines.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    lines
      .withColumn("key", trim(kvSplit.getItem(0)))
      // get() is 0-based and null-safe out of bounds (ANSI element_at
      // throws on colon-less lines, killing the whole ingest)
      .withColumn("val", trim(coalesce(get(kvSplit, lit(1)), lit(""))))
      .withColumn("is_end", isEnd.cast("int"))
      // terminator stays in its own block: running count minus self
      .withColumn("block_id", sum(col("is_end")).over(w) - col("is_end"))
      .groupBy(col("file"), col("block_id"))
      .agg(
        map_from_entries(collect_list(struct(col("key"), col("val")))).as("kv"),
        count(lit(1)).as("n_lines"),
        max(col("is_end")).as("has_end"))
      .filter(col("has_end") === 1)
      .drop("has_end")
  }

  /** Full text → blocks pipeline over a directory. */
  def parseDirectory(spark: SparkSession, dir: String): DataFrame =
    assembleBlocks(toLines(readReportFiles(spark, dir)))

  /** Zip-wrapped reports (the ISU shape the reference declares but never
    * implements — Proof.scala:215-224; zip name/dir/path/size fields at
    * module/ISU.scala:9-13). Executor-side `binaryFiles` + ZipInputStream:
    * each archive's `*.TXT` entries become report files whose `file` id is
    * `zipPath!entry`, and the wrapper metadata rides along as columns
    * (zip_name, zip_directory, zip_path, zip_size).
    *
    * Scale: one task per archive (binaryFiles is not splittable) — right
    * for many-small-archives ingest; entries are materialized per archive,
    * bounded by archive size.
    */
  def readZippedReports(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(s"$dir/*.zip")
      .flatMap { case (zipPath, pds) =>
        val zis = new java.util.zip.ZipInputStream(pds.open())
        try {
          Iterator.continually(zis.getNextEntry)
            .takeWhile(_ != null)
            .filter(e => !e.isDirectory && e.getName.endsWith(ReportExt))
            .map { e =>
              val bytes = zis.readAllBytes()
              (zipPath, e.getName, bytes.length.toLong, new String(bytes, "UTF-8"))
            }
            .toList // materialize before the stream closes
        } finally zis.close()
      }
      .toDF("zip_path", "entry", "entry_bytes", "text")
  }

  /** Blocks from zip-wrapped reports, with the wrapper metadata injected
    * into each block's kv map under the reference ISU field keys
    * (zipName/zipDirectory/zipPath/zipSize) so [[Normalize.isuRecords]]
    * extracts them like any other field.
    */
  def parseZippedDirectory(spark: SparkSession, dir: String): DataFrame = {
    val files = readZippedReports(spark, dir)
      .withColumn("file", concat(col("zip_path"), lit("!"), col("entry")))
    val meta = files.select(
      col("file"),
      map(
        lit("zipName"), regexp_extract(col("zip_path"), "([^/]+)$", 1),
        lit("zipDirectory"), regexp_replace(col("zip_path"), "/[^/]+$", ""),
        lit("zipPath"), col("zip_path"),
        lit("zipSize"), col("entry_bytes").cast("string")).as("zip_kv"))
    assembleBlocks(toLines(files.select(col("file"), col("text"))))
      .join(meta, "file")
      .withColumn("kv", map_concat(col("kv"), col("zip_kv")))
      .drop("zip_kv")
  }
}
