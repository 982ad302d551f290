package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Loader drift contract — the round-5 failure class, pinned for ALL 10
  * tables: the driver regenerates /root/testdata between rounds and has
  * already changed a column's physical type once (events.ts NANOS→MICROS),
  * which silently dropped 38 catalog entries from the correctness gate.
  *
  * For each table this spec round-trips synthetic parquet written in every
  * plausible drift variant along four axes —
  *   - timestamp unit/annotation: tz-tagged MICROS, tz-less MICROS
  *     (surfaces as TIMESTAMP_NTZ), and NANOS (surfaces as LongType under
  *     the session's nanosAsLong flag; written here as a raw ns long,
  *     which is byte- and surface-identical to a NANOS footer read under
  *     that flag),
  *   - integer width: int32 ↔ int64 on every integral column,
  *   - float width: float32 ↔ float64 on doubles and on the embedding
  *     vector,
  *   - nullability: all columns written optional with planted NULLs in
  *     the non-key string columns —
  * and asserts the loader yields the SAME canonical facts: timestamp
  * columns surface as TimestampType holding the planted instant, numeric
  * aggregates equal the planted totals, and vector math over the cast
  * path (`transform(embedding, cast double)`) is unchanged. A future data
  * drop then either changes zero catalog results or fails ONE named test
  * here instead of silently vanishing from CORRECTNESS.
  */
class TablesContractSpec extends SparkSpec {

  private val instantMicros = 1704164645123456L // 2024-01-02T03:04:05.123456Z

  private def freshDir(): String =
    Files.createTempDirectory("graft_contract").toString

  /** Write `df` as `<dir>/<table>.parquet` (same layout as the driver). */
  private def write(dir: String, tableName: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$tableName.parquet")

  // ---- drift mutators ------------------------------------------------------

  /** int64 → int32 (values all fit) and int32 → int64, every integral col. */
  private def flipIntWidths(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType    => d.withColumn(f.name, col(f.name).cast(IntegerType))
        case IntegerType => d.withColumn(f.name, col(f.name).cast(LongType))
        case _           => d
      }
    }

  /** double → float32 on scalar doubles (values chosen exactly
    * representable in float, so facts are width-invariant). */
  private def narrowDoubles(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case DoubleType => d.withColumn(f.name, col(f.name).cast(FloatType))
        case _          => d
      }
    }

  private def tsVariants(tsCol: String): Seq[(String, DataFrame => DataFrame)] = Seq(
    "micros-tz"  -> identity[DataFrame] _,
    "micros-ntz" -> ((d: DataFrame) =>
      d.withColumn(tsCol, col(tsCol).cast(TimestampNTZType))),
    "nanos-long" -> ((d: DataFrame) =>
      d.withColumn(tsCol, (unix_micros(col(tsCol)) * 1000L).cast(LongType))))

  // ---- per-table fixtures + probes ----------------------------------------

  private def s: SparkSession = spark
  import org.apache.spark.sql.Row

  private def df(schema: StructType, rows: Row*): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def nullable(schema: StructType): StructType =
    StructType(schema.fields.map(_.copy(nullable = true)))

  case class Fixture(tableName: String, base: DataFrame,
                     load: (SparkSession, String) => DataFrame,
                     tsCol: Option[String], probe: DataFrame => Unit)

  private lazy val fixtures: Seq[Fixture] = {
    val ts = new java.sql.Timestamp(instantMicros / 1000)
    ts.setNanos(((instantMicros % 1000000) * 1000).toInt)

    Seq(
      Fixture("region",
        df(nullable(StructType(Seq(
          StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))),
          Row(1, "AMERICA"), Row(2, null)),
        Tables.region, None,
        d => assert(d.agg(sum(col("r_regionkey"))).head.get(0).toString === "3")),

      Fixture("nation",
        df(nullable(StructType(Seq(
          StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))),
          Row(7, "PERU", 1), Row(8, null, 2)),
        Tables.nation, None,
        d => assert(d.agg(sum(col("n_nationkey") + col("n_regionkey")))
          .head.get(0).toString === "18")),

      Fixture("customer",
        df(nullable(StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType)))),
          Row(10L, "a", 1, 12.5, "BUILDING"), Row(11L, null, 2, -0.25, null)),
        Tables.customer, None,
        d => assert(d.agg(sum(col("c_acctbal").cast("double")))
          .head.getDouble(0) === 12.25)),

      Fixture("supplier",
        df(nullable(StructType(Seq(
          StructField("s_suppkey", LongType), StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))),
          Row(3L, "sup", 1, 100.5), Row(4L, null, 2, 0.5)),
        Tables.supplier, None,
        d => assert(d.agg(sum(col("s_acctbal").cast("double")))
          .head.getDouble(0) === 101.0)),

      Fixture("part",
        df(nullable(StructType(Seq(
          StructField("p_partkey", LongType), StructField("p_name", StringType),
          StructField("p_brand", StringType), StructField("p_type", StringType),
          StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))),
          Row(5L, "part", "B#1", "SHINY", 7, 901.5), Row(6L, null, null, null, 9, 0.5)),
        Tables.part, None,
        d => assert(d.agg(sum(col("p_size") * col("p_retailprice").cast("double")))
          .head.getDouble(0).toString === (7 * 901.5 + 9 * 0.5).toString)),

      Fixture("orders",
        df(nullable(StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", TimestampType),
          StructField("o_orderpriority", StringType)))),
          Row(20L, 10L, "O", 10.5, ts, "1-URGENT"), Row(21L, 11L, null, 1.5, ts, null)),
        Tables.orders, Some("o_orderdate"),
        d => {
          assert(d.schema("o_orderdate").dataType === TimestampType)
          assert(d.select(unix_micros(col("o_orderdate"))).head.getLong(0)
            === instantMicros)
          // a representative date consumer must keep working
          assert(d.select(date_trunc("day", col("o_orderdate"))).distinct.count === 1)
        }),

      Fixture("lineitem",
        df(nullable(StructType(Seq(
          StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
          StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
          StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
          StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
          StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
          StructField("l_shipdate", TimestampType)))),
          Row(20L, 5L, 3L, 1, 4.0, 100.25, 0.5, 0.25, "R", "F", ts),
          Row(20L, 6L, 4L, 2, 2.0, 50.5, 0.0, 0.125, null, null, ts)),
        Tables.lineitem, Some("l_shipdate"),
        d => {
          assert(d.schema("l_shipdate").dataType === TimestampType)
          assert(d.select(unix_micros(col("l_shipdate"))).head.getLong(0)
            === instantMicros)
          assert(d.agg(sum(col("l_quantity").cast("double"))).head.getDouble(0) === 6.0)
        }),

      Fixture("events",
        df(nullable(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))),
          Row(1L, ts, 42L, "click", 1.5, """{"k":1}"""), Row(2L, ts, 43L, null, 0.5, null)),
        Tables.events, Some("ts"),
        d => {
          assert(d.schema("ts").dataType === TimestampType)
          assert(d.select(unix_micros(col("ts"))).head.getLong(0) === instantMicros)
          // the streaming/watermark surface rejects NTZ — a watermark
          // attach is the canary for the round-5 class
          d.withWatermark("ts", "1 hour")
        }),

      Fixture("documents",
        df(nullable(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))),
          Row(1L, "hello world", "en", "src0", 11L), Row(2L, null, null, null, 0L)),
        Tables.documents, None,
        d => assert(d.agg(sum(col("n_chars"))).head.get(0).toString === "11")),

      Fixture("embeddings",
        df(nullable(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType)))),
          Row(0L, (0 until 64).map(i => (if (i % 2 == 0) 0.5f else -0.25f)), 1),
          Row(1L, (0 until 64).map(i => (if (i % 2 == 0) 0.5f else -0.25f)), 2)),
        Tables.embeddings, None,
        d => {
          val a = d.filter(col("vec_id") === 0)
            .select(expr("transform(embedding, x -> cast(x as double))").as("va"))
          val b = d.filter(col("vec_id") === 1)
            .select(expr("transform(embedding, x -> cast(x as double))").as("vb"))
          // identical planted vectors (exactly representable at BOTH
          // widths) → cosine exactly 1.0 whatever the file stored
          assert(a.crossJoin(b).select(expr("cosine_sim(va, vb)"))
            .head.getDouble(0) === 1.0)
        }))
  }

  // ---- the sweep -----------------------------------------------------------

  for (f <- fixtures) {
    test(s"${f.tableName}: loader facts survive int/float width + nullability drift") {
      val variants: Seq[(String, DataFrame)] = Seq(
        "as-generated" -> f.base,
        "int-width-flipped" -> flipIntWidths(f.base)) ++
        (if (f.base.schema.fields.exists(_.dataType == DoubleType))
          Seq("doubles-as-float32" -> narrowDoubles(f.base)) else Nil) ++
        (if (f.tableName == "embeddings")
          Seq("embedding-as-float64" -> f.base.withColumn(
            "embedding", col("embedding").cast(ArrayType(DoubleType)))) else Nil)
      for ((label, variant) <- variants) {
        val dir = freshDir()
        write(dir, f.tableName, variant)
        try f.probe(f.load(s, dir))
        catch { case e: Throwable =>
          fail(s"${f.tableName} variant '$label' broke the loader contract: " +
            s"${e.getMessage}", e)
        }
      }
    }
  }

  for (f <- fixtures; tsCol <- f.tsCol) {
    test(s"${f.tableName}: $tsCol survives micros-tz / micros-ntz / nanos drift") {
      for ((label, mutate) <- tsVariants(tsCol)) {
        val dir = freshDir()
        write(dir, f.tableName, mutate(f.base))
        try f.probe(f.load(s, dir))
        catch { case e: Throwable =>
          fail(s"${f.tableName} ts variant '$label' broke the loader contract: " +
            s"${e.getMessage}", e)
        }
      }
    }
  }
}
