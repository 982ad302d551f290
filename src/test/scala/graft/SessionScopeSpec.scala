package graft

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import graft.ops.Checkpoints
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** `GraftSession.withConf` plans a build on a reused child session: the
  * caller's conf, temp views, temp functions and streaming query names
  * never change, two
  * callers of one session cannot see each other's scope, and a repeated
  * scoped build reuses the classes its first call generated.
  */
class SessionScopeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def temporaryViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Each temporary function, with the class its definition names: a
    * name that was defined again reads as changed. */
  private def temporaryFunctions(s: SparkSession): Map[String, String] = {
    val catalog = s.sessionState.catalog
    catalog.listTemporaryFunctions()
      .map(f => f.funcName -> catalog.lookupFunctionInfo(f).getClassName).toMap
  }

  /** Order-free digest of a query's rows. */
  private def digest(q: String, s: SparkSession = spark): String =
    SparkEntry.queries(q)(s, dir).collect().map(_.toString).sorted.mkString("\n")

  /** q122 names a streaming result view; q23, q25, q147 and q146 read SQL
    * temp views; the rest build graft's native expressions (one operator
    * from each file that builds them for a catalog operator). */
  Seq("q122_file_stream", "q23_grouping_sets", "q25_subqueries", "q147_lateral_topk",
    "q146_recursive_cte", "q37_fingerprint", "q452_incremental_vector_index",
    "q218_unicode_normalize", "q235_jaro_winkler_match", "q247_geohash",
    "q428_lsh_bucket_forecast", "q106_decontaminate", "q44_cosine_topk_native",
    "q203_curation_funnel", "q427_source_type_overlap").foreach { q =>
    val id = q.takeWhile(_ != '_')
    test(s"$id leaves the caller's conf and temp views as they were") {
      // a fresh session: the shared one may already hold the names
      val s = spark.newSession()
      val conf = s.conf.getAll
      val views = temporaryViews(s)
      val functions = temporaryFunctions(s)
      assert(digest(q, s).nonEmpty)
      assert(!s.catalog.tableExists(s"graft_${id}_result"))
      assert(temporaryViews(s) === views)
      assert(temporaryFunctions(s) === functions)
      assert(s.conf.getAll === conf)
      Checkpoints.releaseAll(s)
    }
  }

  test("operators build graft's expressions on a session without its SQL names") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    Seq("cosine_sim", "unaccent", "jaro_winkler", "geohash_q").foreach { f =>
      assert(registry.dropFunction(FunctionIdentifier(f)), f)
    }
    Seq("q45_ann_ivf", "q104_cosine_neardup_lsh", "q218_unicode_normalize",
      "q235_jaro_winkler_match", "q247_geohash", "q452_incremental_vector_index").foreach { q =>
      assert(digest(q, s) === digest(q), q)
    }
    Checkpoints.releaseAll(s)
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
