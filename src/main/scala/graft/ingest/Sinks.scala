package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Report sinks + idempotency (reference R19-R21, fixing quirks Q6/Q8).
  *
  * The reference writes via `repartition(1)` twice per file and flips a
  * mutable overwrite flag after the first file (Proof.scala:45,147-151) —
  * a crash mid-run loses prior output. Here: idempotent append gated by an
  * anti-join on the report path, single output pass.
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
    * Proof.scala:225-234). Real version: ONE left-anti join of incoming
    * records against the already-persisted report paths, then a parquet
    * append in natural partitioning (no repartition(1) like the reference).
    *
    * Scale: the distinct path set is small relative to the data; Catalyst
    * broadcasts it, so the anti-join adds no shuffle to the incoming side.
    */
  def appendNewReportsOnly(spark: SparkSession, records: DataFrame, path: String): Long = {
    val fresh =
      if (!parquetExists(spark, path)) records
      else {
        val seen = spark.read.parquet(path).select(col(KeyCol)).distinct()
        records.join(broadcast(seen), Seq(KeyCol), "left_anti")
      }
    val cached = fresh.cache()
    try {
      val n = cached.count()
      if (n > 0) cached.write.mode(SaveMode.Append).parquet(path)
      n
    } finally { cached.unpersist(); () }
  }

  def parquetExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
