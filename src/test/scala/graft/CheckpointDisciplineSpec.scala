package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint for the eager-vs-lazy localCheckpoint rule
  * (round-13 verdict item 8; the q82/q255 rule, SURVEY §8.26-8.27).
  *
  * The measured hazard: `localCheckpoint(false)` captures the plan
  * BEFORE AQE's final re-optimization pass, so a lazily-checkpointed
  * DATA-SIZED loop frame consumed round-after-round under session AQE
  * keeps full pre-AQE shuffle width for every downstream read — q82's
  * propagation loop measured 4.7 s lazy vs 3.0 s eager in the same JVM.
  * Eager (`localCheckpoint(true)`) is the default for data-sized loop
  * frames under AQE; lazy is legitimate only in one of these measured
  * categories:
  *
  *   - `fanout-fusion`: no loop. The frame feeds ≥2 branches of ONE
  *     action's plan; the checkpoint exists to stop Catalyst duplicating
  *     the subtree per consumer (a union/self-join consumes its input
  *     twice — 2^k blowup when chained). The frame is materialized by
  *     the single consuming action itself; AQE width is paid once.
  *   - `fused-loop`: every round's 1-row stats are UNIONed into one
  *     lazy plan executed as a SINGLE final action with RDD-level stage
  *     reuse (kcorePeel 8.3→2.6 s, lpaCommunities 9.0→4.8 s at sf0.1).
  *     Eager would cost 2·rounds+1 blocking jobs for the same answer.
  *   - `narrow-scope`: inside a `GraftSession.withConf` scope that turns
  *     AQE OFF, so there is no final pass to miss, and the frames are
  *     dimension-bounded by the caller's contract.
  *   - `first-action-materializer`: the convergence aggregate is the
  *     frame's FIRST action, so one job both materializes the round and
  *     answers the check (vs eager-checkpoint-then-collect = 2 jobs per
  *     round, the q255 scheduler floor). Used where the loop frame is
  *     contraction-bounded and the fusion was A/B-measured cheaper.
  *
  * Every `.localCheckpoint(false)` call site in main source must map to
  * an allowlist entry keyed by (file, enclosing top-level def) naming
  * its category; a new lazy site fails this spec until its author
  * classifies it — the same gate shape as PlanLint's SortAggregate
  * allowlist. Stale entries also fail, so the list tracks the code.
  */
class CheckpointDisciplineSpec extends AnyFunSuite {

  private val categories =
    Set("fanout-fusion", "fused-loop", "narrow-scope", "first-action-materializer")

  /** (file relative to graft/, top-level def) → (category, note). */
  private val allowlist: Map[(String, String), (String, String)] = Map(
    ("ops/CorpusOps.scala", "q257SplitLeakage") ->
      ("fanout-fusion", "split assignment feeds all three leakage probes"),
    ("ops/CorpusOps.scala", "q429InterleaveAudit") ->
      ("fanout-fusion", "feeds both sides of the prev-row join"),
    ("ops/CorpusStatOps.scala", "capPricing") ->
      ("fanout-fusion", "df table feeds every cap variant's aggregate"),
    ("ops/CorpusStatOps.scala", "tokenYield") ->
      ("fanout-fusion", "feeds keeper derivation AND both ledgers"),
    ("ops/CorpusStatOps.scala", "q427SourceTypeOverlap") ->
      ("fanout-fusion", "feeds the per-source aggregate AND the total"),
    ("ops/CorpusStatOps.scala", "q438ContaminationAttribution") ->
      ("fanout-fusion", "df frame feeds every grid cell of the sweep"),
    ("ops/CorpusStatOps.scala", "q279DsirWeighting") ->
      ("fanout-fusion", "1024-cell bucket grid feeds totals AND the lr map"),
    ("ops/CurateOps.scala", "q198MarketBasket") ->
      ("fanout-fusion", "basket sets feed the order total, item counts AND the pair expansion"),
    ("ops/EncodeOps.scala", "q174Triangles") ->
      ("fanout-fusion", "grid-bounded edge table (≤ C(100,2)) feeds all three triangle-join sides + node/edge censuses"),
    ("ops/EvalReplayOps.scala", "dupProvenance") ->
      ("fanout-fusion", "bounded source-pair grid feeds census + top-10"),
    ("ops/EvalReplayOps.scala", "q325TopkChurn") ->
      ("fanout-fusion", "k-bounded top set feeds sizes AND the overlap self-join"),
    ("ops/GraphMiningOps.scala", "kcorePeel") ->
      ("fused-loop", "all rounds' stats union into one final action; measured 8.3→2.6 s"),
    ("ops/GraphMiningOps.scala", "lpaCommunities") ->
      ("fused-loop", "half-round label frames feed one unioned trajectory action; measured 9.0→4.8 s"),
    ("ops/GraphMiningOps.scala", "hits") ->
      ("narrow-scope", "grid-sized score rounds inside withConf (4 partitions, AQE off)"),
    ("ops/InferenceTestOps.scala", "hlShift") ->
      ("fanout-fusion", "grid-bounded hist feeds a/b/na/nb; diff feeds the rank probe AND tot"),
    ("ops/InferenceTestOps.scala", "rouge2Pairs") ->
      ("fanout-fusion", "candidate pairs feed precision AND recall sides"),
    ("ops/Metrics.scala", "q232Conformal") ->
      ("fanout-fusion", "calibration scores feed the quantile AND the coverage join"),
    ("ops/RagOps.scala", "q205PqEncode") ->
      ("fanout-fusion", "subvector fan-out feeds the codebook fit AND the final assignment"),
    ("ops/RagOps.scala", "q213IvfPqSearch") ->
      ("fanout-fusion", "full vectors feed seeds/coarse/queries; subvectors feed both PQ assigns"),
    ("ops/SpatialOps.scala", "epsCosPairs") ->
      ("fanout-fusion", "grid cells feed probe explode AND build side AND vector fetch"),
    ("ops/SpatialOps.scala", "q255Dbscan") ->
      ("narrow-scope", "core/cluster assembly inside withConf (4 partitions, AQE off); pre-scope frames are supplier-bounded"),
    ("ops/TextOps.scala", "connectedComponentsStar") ->
      ("first-action-materializer", "fingerprint aggregate is the round's first action; contraction-bounded edge set; A/B'd r13"),
    ("ops/TextOps.scala", "incrementalDedup") ->
      ("fanout-fusion", "new-batch signatures feed the corpus join AND the batch self-join"),
    ("ops/TextOps.scala", "q242PrefixFilterJoin") ->
      ("fanout-fusion", "token prefixes feed both join sides"),
    ("ops/TextOps.scala", "q414ThresholdSensitivity") ->
      ("fanout-fusion", "feeds both scope projections"),
    ("ops/TextOps.scala", "q417SourceCopyMatrix") ->
      ("fanout-fusion", "feeds the global-df aggregate AND the rank join"),
    ("ops/TextOps.scala", "q418ChainAudit") ->
      ("fanout-fusion", "feeds the histogram AND the paired count"),
    ("ops/TextOps.scala", "q426SurvivorRetention") ->
      ("fanout-fusion", "feeds the rep aggregate AND the drop join (q431's rule)"),
    ("ops/TextOps.scala", "q431SurvivorRuleSensitivity") ->
      ("fanout-fusion", "pair set feeds both passes' both sides + df guard"),
    ("ops/TextOps.scala", "q437DedupScopePlanner") ->
      ("fanout-fusion", "source map feeds clustering AND the direct count"),
    ("ops/TrendStatOps.scala", "dailyPairs") ->
      ("fanout-fusion", "day series feeds both pair-join sides"),
    ("ops/VectorOps.scala", "q172SemanticDedup") ->
      ("fanout-fusion", "assigned feeds band join + anti-join + both cluster aggregates; keyed feeds both self-join sides"),
    ("ops/VectorOps.scala", "q280Int8Quant") ->
      ("fanout-fusion", "emb feeds unit AND the exact-cosine side; unit feeds amax AND the quantizer; codes feed both int8 sides"),
    ("ops/VectorOps.scala", "q411LabelMargin") ->
      ("fanout-fusion", "feeds the own-sim AND rival-sim passes"),
    ("ops/VectorOps.scala", "q424NprobeCurve") ->
      ("fanout-fusion", "cell assignment feeds per-nprobe hit join AND the denominator"),
    ("ops/VectorOps.scala", "q444MaxsimAnnRerank") ->
      ("fanout-fusion", "ANN shortlist feeds the rerank AND the baseline ranking"),
    ("ops/VectorOps.scala", "q446PoolingAudit") ->
      ("fanout-fusion", "feeds both rankings' corpus and query sides"))

  private def mainSources: Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    walk(new java.io.File("src/main/scala/graft"))
  }

  /** Top-level object members are indented exactly 2 spaces; nested
    * helper defs sit deeper, so scanning upward for the first 2-space
    * `def` yields the enclosing catalog operator, not a local helper.
    */
  private val topDef = """^  (?:private\s+)?(?:final\s+)?def\s+(\w+)""".r

  /** Lenient UTF-8 read: one ingest file carries Latin-1 bytes (the
    * reference's `Ç` block delimiter), which a strict decoder rejects. */
  private def readText(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  private def lazySites: Seq[(String, String, Int)] =
    mainSources.flatMap { f =>
      val rel = f.getPath.replaceFirst("^src/main/scala/graft/", "")
      val lines = readText(f.getPath).linesIterator.toVector
      lines.zipWithIndex.collect {
        case (ln, i) if ln.contains("localCheckpoint(false)") =>
          val defName = (i to 0 by -1).iterator
            .map(j => topDef.findFirstMatchIn(lines(j)))
            .collectFirst { case Some(m) => m.group(1) }
            .getOrElse("<toplevel>")
          (rel, defName, i + 1)
      }
    }

  test("every lazy localCheckpoint(false) site is classified in the allowlist") {
    val unclassified = lazySites.filterNot { case (f, d, _) => allowlist.contains((f, d)) }
    assert(unclassified.isEmpty,
      s"lazy checkpoint sites with no allowlist classification (eager is the default " +
        s"for data-sized loop frames under AQE — see this spec's scaladoc for the " +
        s"legitimate lazy categories): ${unclassified.map { case (f, d, l) => s"$f:$l ($d)" }.mkString(", ")}")
  }

  test("allowlist entries are current (no stale defs) and use known categories") {
    val present = lazySites.map { case (f, d, _) => (f, d) }.toSet
    val stale = allowlist.keySet -- present
    assert(stale.isEmpty, s"allowlist entries with no matching lazy site (remove them): $stale")
    val badCat = allowlist.filter { case (_, (cat, _)) => !categories.contains(cat) }
    assert(badCat.isEmpty, s"unknown categories: $badCat")
    val emptyNote = allowlist.filter { case (_, (_, note)) => note.trim.isEmpty }
    assert(emptyNote.isEmpty, s"entries without a rationale note: ${emptyNote.keySet}")
  }

  test("narrow-scope entries really have an AQE-off withConf scope") {
    val narrowFiles = allowlist.collect { case ((f, _), ("narrow-scope", _)) => f }.toSet
    narrowFiles.foreach { rel =>
      val text = readText(s"src/main/scala/graft/$rel")
      assert(text.contains("GraftSession.withConf(") &&
          text.contains("\"spark.sql.adaptive.enabled\" -> \"false\""),
        s"$rel is allowlisted as narrow-scope but has no withConf scope that turns AQE off")
    }
  }
}
