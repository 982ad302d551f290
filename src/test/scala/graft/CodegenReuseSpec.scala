package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import graft.ops.Checkpoints
import org.apache.spark.metrics.source.CodegenMetrics

/** A warm curation pass reuses the classes Spark generated for the pass
  * before it: `GraftSession` sizes the codegen cache to hold every body a
  * pass generates, so the second pass compiles nothing. With Spark's
  * default of 100 entries the cache evicts the first pass's classes before
  * they are reused, and this spec fails.
  */
class CodegenReuseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val curation = Seq(
    "q37_fingerprint", "q40_cosine_topk", "q110_kmeans", "q452_incremental_vector_index")

  /** Builder, Parquet write and checkpoint release per operator, as one
    * scheduled curation pass runs them. */
  private def pass(out: Path): Unit = curation.foreach { q =>
    SparkEntry.queries(q)(spark, dir)
      .write.mode("overwrite").parquet(out.resolve(q).toString)
    Checkpoints.releaseAll(spark)
  }

  test("a warm curation pass compiles no generated class") {
    val out = Files.createTempDirectory("graft_codegen_reuse")
    try {
      pass(out)
      awaitIdle()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      pass(out)
      val compiled = compiles.getCount - before
      assert(compiled === 0L, s"the warm pass compiled $compiled classes")
    } finally {
      val walk = Files.walk(out)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
