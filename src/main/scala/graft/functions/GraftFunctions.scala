package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftPlanBridge.{columnExpr, exprColumn}

/** Typed Column constructors for graft's native expressions: library code
  * builds them here, so it never reads or writes a session's function
  * registry and works on any session. `GraftExtensions` injects the SQL
  * names of the first four for SQL text that users write.
  */
object GraftFunctions {
  /** `cosine_sim(a, b)` over two array<double> columns. */
  def cosineSim(a: Column, b: Column): Column =
    exprColumn(CosineSimilarity(columnExpr(a), columnExpr(b)))

  /** `unaccent(s)`: NFD, drop non-spacing marks, NFC. */
  def unaccent(s: Column): Column = exprColumn(StripAccentsExpr(columnExpr(s)))

  /** `jaro_winkler(a, b)` over two strings. */
  def jaroWinkler(a: Column, b: Column): Column =
    exprColumn(JaroWinklerExpr(columnExpr(a), columnExpr(b)))

  /** `geohash_q(latq, lonq)`: 8-char geohash of two quantized bigints. */
  def geohashQ(latq: Column, lonq: Column): Column =
    exprColumn(GeohashExpr(columnExpr(latq), columnExpr(lonq)))

  /** Distinct word `k`-gram shingles of an array<string> token column. */
  def wordShingles(tokens: Column, k: Int): Column =
    exprColumn(WordShingles(columnExpr(tokens), k))

  /** One sign-pattern bucket per band of `planesPerBand` hyperplanes;
    * `planes` is the plane matrix, one row per hyperplane. */
  def lshBands(v: Column, planes: Seq[Seq[Double]], planesPerBand: Int): Column =
    exprColumn(LshBands(columnExpr(v), planes.flatten.toArray, planesPerBand, planes.head.length))
}
