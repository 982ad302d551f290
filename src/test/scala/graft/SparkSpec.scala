package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy; local[4], UTC, small shuffle count). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Orphaned tasks of earlier suites compile code of their own, so a
    * spec that counts compiled classes first waits until no job has been
    * active for 20 polls in a row (within 60 s). */
  def awaitIdle(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var idle = 0
    while (idle < 20 && System.nanoTime() < deadline) {
      idle = if (tracker.getActiveJobIds.isEmpty) idle + 1 else 0
      Thread.sleep(50)
    }
    assert(idle === 20, s"jobs still active: ${tracker.getActiveJobIds.mkString(",")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the library session factory IS the unit under test here — every
    // suite runs on a GraftSession-configured session
    val s = GraftSession.localBuilder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
