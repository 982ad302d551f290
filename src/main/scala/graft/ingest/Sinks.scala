package graft.ingest

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Report sinks + idempotency (reference R19-R21, fixing quirks Q6/Q8).
  *
  * The reference writes via `repartition(1)` twice per file and flips a
  * mutable overwrite flag after the first file (Proof.scala:45,147-151) —
  * a crash mid-run loses prior output. Here: an append of the records
  * whose report file has no committed record yet, one pass over them, no
  * cache and no join.
  */
object Sinks {

  /** Quoted, headered CSV — exact reference options (Proof.scala:140-145). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("quoteAll", "true")
      .csv(path)

  /** Idempotency key: the report file each record came from. */
  private val KeyCol = "RUTA_DE_REPORTE"

  /** The reference's intended-but-stubbed idempotency check (Q6: it re-reads
    * the whole output per input file and ignores the result,
    * Proof.scala:225-234). Real version: the committed report paths are
    * collected to the driver, and the records of those reports are filtered
    * out with `isin`. On a fresh [[ReportFormat.readReportFiles]] read the
    * filter is applied while the files are listed, so committed files are
    * never opened; on an already-materialized frame it runs row by row.
    *
    * The new records are written once, into `path/_attempt-<uuid>` (Parquet
    * readers skip names that start with `_`), and counted on that write
    * with `observe`. Their part files are then moved into `path`; the
    * attempt directory is always deleted, so a run with nothing new leaves
    * `path` as it was. Returns the number of records appended.
    */
  def appendNewReportsOnly(spark: SparkSession, records: DataFrame, path: String): Long = {
    val fresh =
      if (!parquetExists(spark, path)) records
      else {
        val keys = spark.read.parquet(path).select(col(KeyCol)).distinct().collect().map(_.getString(0))
        records.filter(!col(KeyCol).isin(keys.toSeq: _*))
      }
    val out = new Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val attempt = new Path(out, s"_attempt-${UUID.randomUUID()}")
    val appended = Observation("appended")
    try {
      fresh.observe(appended, count(lit(1)).as("n")).write.parquet(attempt.toString)
      val n = appended.get("n").asInstanceOf[Long]
      if (n > 0)
        fs.listStatus(attempt).map(_.getPath).filter(_.getName.startsWith("part-"))
          .foreach { p =>
            if (!fs.rename(p, new Path(out, p.getName)))
              throw new java.io.IOException(s"could not move $p into $out")
          }
      n
    } finally { fs.delete(attempt, true); () }
  }

  /** True once `path` holds a top-level Parquet data file; a leftover
    * `_attempt-*` directory alone does not count. */
  def parquetExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }
}
