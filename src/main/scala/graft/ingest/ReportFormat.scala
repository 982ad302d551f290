package graft.ingest

import java.util.regex.Pattern

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.commons.lang3.StringUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-parallel reformulation of the reference's stateful block
  * assembler (reference Proof.scala:104-133: a `var concat` closure over an
  * RDD forced to one partition by `repartition(1)`).
  *
  * A report file is a sequence of `key: value` lines; a block ends at the
  * line whose key matches `\bstatus\b` (Proof.scala:126). The only state
  * that crosses lines lives inside one file, and the reader yields one row
  * per file, so the reference's sequential fold runs as a plain function
  * ([[blocks]]) on each file's text: no shuffle, no session conf, correct
  * at any partition count (property-tested).
  *
  * Deviations from the reference, all deliberate (SURVEY §2.4):
  *  - split on the FIRST ':' only — the reference's unlimited split
  *    truncates values containing ':' such as hdfs:// URIs (Q3);
  *  - keyed (not positional) records — robust to reordered/missing lines;
  *  - a trailing block with no status line is dropped, matching the
  *    reference's observable output (it never emits an unterminated block).
  */
object ReportFormat {

  val BlockTerminatorKey = "status"

  /** Report file extension (case-sensitive), inside directories and zips. */
  val ReportExt = ".TXT"

  private val terminator = Pattern.compile(s"\\b($BlockTerminatorKey)\\b")

  /** Largest inflated zip entry in bytes: a zip bomb fails the read instead of the heap. */
  val MaxEntryBytes: Int = 64 << 20

  /** One row per file under `dir` (recursively) named like `glob`: `file`
    * (its key), `length` and `content`. Report directories and zip archives
    * share this one scan, listing rule and key. `binaryFile` opens each file
    * once, where `wholetext` copied a Hadoop `JobConf` per file. A file
    * deleted after listing is skipped. Callers cast `content` to string,
    * which keeps the bytes as they are (no decoding, BOM or line-ending
    * handling: [[blocks]] does that). The key uses built-in functions of
    * `_metadata.file_path` only, so a filter on it (the committed-report
    * filter of [[Sinks.appendNewReportsOnly]]) runs while the files are
    * listed and a committed file is never opened; a filter on
    * `input_file_name()` or a UDF runs per row after every file was read.
    */
  private def listFiles(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .option("ignoreMissingFiles", "true")
      .load(dir)
      // The key stays byte-identical to the former input_file_name() key,
      // so outputs written before keep deduplicating: `file:/x` becomes
      // `file:///x`, then the URI-encoded path ('[' → %5B) is decoded so
      // filename regexes (e.g. the [dd-MM-yyyyTHH_mm_ss] timestamp) see raw
      // names. url_decode is form-decoding where literal '+' means space,
      // but URI path encoding leaves '+' as-is — protect it first.
      .select(
        url_decode(regexp_replace(
          regexp_replace(col("_metadata.file_path"), "^([a-zA-Z][a-zA-Z0-9+.-]*):/(?!/)", "$1:///"),
          "\\+", "%2B")).as("file"),
        col("length"), col("content"))

  /** Report files under `dir` (recursively, `*.TXT` like the reference,
    * Proof.scala:69-83) as (`file`, `text`), one row per file, read on the
    * executors (the reference reads whole files on the driver, Q7). */
  def readReportFiles(spark: SparkSession, dir: String): DataFrame =
    listFiles(spark, dir, s"*$ReportExt").select(col("file"), col("content").cast("string").as("text"))

  /** One file's text → its status-terminated blocks, in file order, each a
    * key→value map. A leading UTF-8 BOM is dropped (it would ride on the
    * first key); lines split on `\r?\n`; space-only lines are skipped; key
    * and value split at the first ':' (no colon → value ""); the terminator
    * line belongs to the block it ends; a duplicate key keeps its last
    * value; a trailing unterminated block is dropped.
    */
  def blocks(text: String): Seq[Map[String, String]] = {
    // ASCII spaces only, like Spark `trim` and DuckDB `TRIM` (String.trim
    // would also strip tabs and control characters)
    def trim(s: String) = StringUtils.strip(s, " ")
    val kv = mutable.LinkedHashMap.empty[String, String]
    text.stripPrefix("\uFEFF").split("\r?\n").iterator.filter(trim(_).nonEmpty).flatMap { line =>
      val i = line.indexOf(':')
      val key = trim(if (i < 0) line else line.substring(0, i))
      kv(key) = if (i < 0) "" else trim(line.substring(i + 1))
      if (!terminator.matcher(key).find()) None
      else { val block = ListMap.from(kv); kv.clear(); Some(block) }
    }.toVector
  }

  private val blocksUdf = udf(blocks _)

  /** One-row-per-file frame (a `text` column plus any others) → one row per
    * status-terminated block: the other columns, `block_id` (the block's
    * 0-based position in its file) and `kv` map<string,string>.
    */
  def assembleBlocks(files: DataFrame): DataFrame =
    files.select(col("*"), posexplode(blocksUdf(col("text"))).as(Seq("block_id", "kv")))
      .drop("text")

  /** Full text → blocks pipeline over a directory. */
  def parseDirectory(spark: SparkSession, dir: String): DataFrame =
    assembleBlocks(readReportFiles(spark, dir))

  /** (`archive!entry`, bytes) of each `*.TXT` entry of one archive, in order;
    * an entry inflating past [[MaxEntryBytes]] throws an `IOException`. */
  private def zipEntries(archive: String, bytes: Array[Byte]): Seq[(String, Array[Byte])] =
    scala.util.Using.resource(new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))) { zis =>
      Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
        .filter(e => !e.isDirectory && e.getName.endsWith(ReportExt))
        .map { e =>
          val entry = zis.readNBytes(MaxEntryBytes + 1)
          val key = s"$archive!${e.getName}"
          if (entry.length <= MaxEntryBytes) (key, entry)
          else throw new java.io.IOException(s"$key: inflates past $MaxEntryBytes bytes")
        }.toVector // materialize before the stream closes
    }

  /** Zip-wrapped reports (the ISU shape the reference declares but never
    * implements — Proof.scala:215-224; zip fields at module/ISU.scala:9-13):
    * each `*.zip` under `dir` (recursively) exploded into its `*.TXT`
    * entries as `zip_path` (the archive's key), `zip_size` (its length),
    * `file` (`zip_path!entry`) and `text`. One task reads a whole archive.
    */
  def readZippedReports(spark: SparkSession, dir: String): DataFrame =
    listFiles(spark, dir, "*.zip")
      .select(col("file").as("zip_path"), col("length").as("zip_size"),
        explode(udf(zipEntries _).apply(col("file"), col("content"))).as("e"))
      .select(col("zip_path"), col("zip_size"), col("e._1").as("file"), col("e._2").cast("string").as("text"))

  /** Blocks from zip-wrapped reports, with the wrapper metadata injected
    * into each block's kv map under the reference ISU field keys
    * (zipName/zipDirectory/zipPath/zipSize) so [[Normalize.isuRecords]]
    * extracts them like any other field. The wrapper's values win over a
    * same-named key in the entry's own text.
    */
  def parseZippedDirectory(spark: SparkSession, dir: String): DataFrame = {
    val zipKv = Seq(
      "zipName" -> regexp_extract(col("zip_path"), "([^/]+)$", 1),
      "zipDirectory" -> regexp_replace(col("zip_path"), "/[^/]+$", ""),
      "zipPath" -> col("zip_path"),
      "zipSize" -> col("zip_size").cast("string"))
    assembleBlocks(readZippedReports(spark, dir))
      .select(col("file"), col("block_id"), map_concat(
        map_filter(col("kv"), (k, _) => !k.isin(zipKv.map(_._1): _*)),
        map(zipKv.flatMap { case (k, v) => Seq(lit(k), v) }: _*)).as("kv"))
  }
}
