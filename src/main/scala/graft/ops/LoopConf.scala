package graft.ops

import org.apache.spark.sql.SparkSession

/** Shared narrow-shuffle scope for iterative operators whose per-round
  * frames are BOUNDED (a grid, a label table over a dimension-sized
  * vertex set) rather than data-sized: plans constructed inside the scope
  * get `spark.sql.shuffle.partitions` = [[Partitions]] and AQE off, so a
  * loop of k rounds stops paying 32 reduce tasks × k × stages of pure
  * scheduling overhead at local[32], and stops paying AQE's per-exchange
  * re-plan bookkeeping on frames whose partition counts are already
  * pinned (measured on q350 HITS: 5.8 s → 2.8 s at sf0.1; same effect on
  * q255's DBSCAN assembly). Its two callers are q350 (HITS) and q255.
  *
  * Callers must (a) materialize every DATA-SIZED frame (edge lists,
  * posting streams) BEFORE entering the scope — eager localCheckpoint or
  * equivalent — and (b) only pass loops whose in-scope frames stay
  * bounded at any corpus size.
  *
  * NOT THREAD-SAFE across a shared SparkSession: the conf is
  * session-global, so any concurrent planning on the same session during
  * the scope would be built narrow with AQE off (results unaffected —
  * only split counts and re-plan behavior). Same contract as
  * [[graft.ops.StreamingOps]]'s withStatePartitions; for concurrent use,
  * plan on `spark.newSession()` (shared catalog, isolated conf).
  */
private[ops] object LoopConf {
  /** Shuffle partitions inside the scope. */
  val Partitions = 4

  def withNarrowShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val prevAqe = spark.conf.get(aqeKey)
    spark.conf.set(key, Partitions.toString)
    spark.conf.set(aqeKey, "false")
    try body
    finally {
      spark.conf.set(key, prev)
      spark.conf.set(aqeKey, prevAqe)
    }
  }
}
