package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under `\$dir/<name>.parquet`.
  * All reads go through `spark.read.parquet` so Catalyst gets schema
  * from the footer and can push filters / prune columns into the scan.
  */
object Tables {
  /** Every driver-generated table (TESTDATA.md). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize a timestamp-bearing column to TimestampType whatever unit
    * the generator last wrote (the round-5 drift class — see `events`):
    * NANOS parquet surfaces as LongType under the session's nanosAsLong
    * flag and is integer-divided down to µs (`div`, NOT double `/` —
    * ns-since-epoch ≈ 1.7e18 exceeds double's 53-bit mantissa); MICROS
    * without tz surfaces as TIMESTAMP_NTZ and is re-tagged as the same
    * UTC instant (session TZ is pinned UTC); tz-tagged MICROS passes
    * through. Applied to EVERY timestamp column the catalog consumes, so
    * a future unit change in any table flips zero query results.
    */
  private def tsNormalized(df: DataFrame, column: String): DataFrame =
    if (!df.columns.contains(column)) df // minimal spec fixtures project it away
    else df.schema(column).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(column, timestamp_micros(expr(s"$column div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(column, col(column).cast("timestamp"))
      case _ => df
    }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame =
    tsNormalized(table(spark, dir, "orders"), "o_orderdate")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    tsNormalized(table(spark, dir, "lineitem"), "l_shipdate")
  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across driver data drops (NANOS throws
    * [PARQUET_TYPE_ILLEGAL] without the legacy nanosAsLong flag, which
    * `GraftSession.builder` sets for every session it builds) — the round-5
    * silent-loss incident. The µs truncation on the nanos path is safe
    * vs. the DuckDB oracle: the ms-aligned order/window boundaries we
    * compare against are never crossed by sub-microsecond truncation.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    tsNormalized(table(spark, dir, "events"), "ts")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
