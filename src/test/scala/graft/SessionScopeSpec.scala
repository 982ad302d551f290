package graft

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import graft.ops.Checkpoints
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** `GraftSession.withConf` plans a build on a reused child session: the
  * caller's conf, temp views and streaming query names never change, two
  * callers of one session cannot see each other's scope, and a repeated
  * scoped build reuses the classes its first call generated.
  */
class SessionScopeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def temporaryViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Order-free digest of a query's rows. */
  private def digest(q: String): String =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.mkString("\n")

  test("q122 leaves the caller's conf and temp views as they were") {
    val conf = spark.conf.getAll
    val views = temporaryViews
    assert(digest("q122_file_stream").nonEmpty)
    assert(!spark.catalog.tableExists("graft_q122_result"))
    assert(temporaryViews === views)
    assert(spark.conf.getAll === conf)
  }

  test("a withConf body plans with the scope's conf while the caller keeps its own") {
    val key = "spark.sql.shuffle.partitions"
    val outer = spark.conf.get(key)
    val conf = spark.conf.getAll
    val input = spark.range(1000).toDF("id").localCheckpoint()
    val counts = GraftSession.withConf(spark, key -> "3",
        "spark.sql.adaptive.enabled" -> "false") { child =>
      assert(child.conf.get(key) === "3")
      assert(spark.conf.get(key) === outer)
      GraftSession.bind(child, input).groupBy((col("id") % 10).as("k")).count()
        .localCheckpoint()
    }
    assert(counts.sparkSession eq spark)
    assert(counts.rdd.getNumPartitions === 3)
    assert(counts.join(input, col("k") === col("id")).count() === 10)
    assert(spark.conf.getAll === conf)
    Checkpoints.releaseAll(spark)
  }

  test("concurrent q122, q255 and q350 on one session match their serial runs") {
    val names = Seq("q122_file_stream", "q122_file_stream", "q255_dbscan", "q350_hits")
    val serial = names.distinct.map(q => q -> digest(q)).toMap
    val pool = Executors.newFixedThreadPool(names.size)
    try (1 to 3).foreach { trial =>
      val runs = names.map(q => (() => q -> digest(q)): Callable[(String, String)])
      pool.invokeAll(runs.asJava).asScala.map(_.get()).foreach { case (q, d) =>
        assert(d === serial(q), s"trial $trial: $q differs from its serial run")
      }
    } finally { pool.shutdown(); Checkpoints.releaseAll(spark) }
  }

  test("a second q350 call compiles no generated class") {
    digest("q350_hits")
    Checkpoints.releaseAll(spark)
    awaitIdle()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    digest("q350_hits")
    val compiled = compiles.getCount - before
    Checkpoints.releaseAll(spark)
    assert(compiled === 0L, s"the second q350 call compiled $compiled classes")
  }
}
