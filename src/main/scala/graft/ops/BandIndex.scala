package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED band-signature index with SUB-LINEAR ingest (q447, SURVEY
  * §8.28) — the storage layer the round-13 verdict flagged: the previous
  * upsert read and rewrote the ENTIRE index every batch, O(corpus) IO per
  * ingest, exactly the cost the operator exists to eliminate. This is the
  * LSM-shaped replacement. Layout under one root, where generation `n`
  * writes only its own `ver=<n>` partition directories:
  *
  *   - `rows/ver=<n>/`  — the batch's signatures (doc_id, band, band_sig).
  *     Nothing older is rewritten. Write IO = O(batch).
  *   - `ids/ver=<n>/`   — slim doc-census sidecar (doc_id): the batch's
  *     NOVEL ids. Membership probes read THIS (1 narrow column, 1/16th
  *     the rows of `rows/`), never the wide index.
  *   - `tombs/ver=<n>/` — tombstones (doc_id), written only when a batch
  *     RE-ingests existing doc_ids (upsert-by-replacement): a tomb in
  *     `ver=<g>` kills its doc's rows with ver < g. Bounded by the
  *     re-ingest volume since the last compaction, so reads resolve them
  *     with a BROADCAST filter — the big `rows/` side never shuffles.
  *   - `meta/gen-<n>` — one tiny file per generation ("gen nDocs
  *     deltasSinceCompact"). The doc census is maintained INCREMENTALLY
  *     (prev + novel), never by re-scanning the index.
  *
  * `meta/gen-<n>` is the ONLY commit point. It is written under a temp
  * name and renamed into place, so it is whole or absent. Every index
  * read prunes to `ver <=` the committed generation (a partition filter:
  * no later file is even listed for reading), so the directories of a
  * generation that never committed are invisible, and its retry
  * overwrites them. A kill at any step before the rename — in the
  * `rows/`, `tombs/` or `ids/` write, with a part file missing or a
  * `_temporary` left in a `ver=<n>` directory, or in the temp meta write
  * — leaves the index reading exactly as the previous generation.
  *
  * Every 8 generations (`CompactEvery`) the committed live rows are
  * rewritten once and tombstones cleared — classic LSM amortization:
  * per-batch cost stays O(batch) + O(corpus / 8).
  *
  * What still touches the index per batch, by design: (a) the candidate
  * join reads `rows/` BY KEY (band, band_sig) — on a cluster that table
  * is bucketed by its key so the probe is a co-located join, and locally
  * it is a column-pruned scan; (b) the membership probe reads the slim
  * `ids/` sidecar under a broadcast semi-join (batch ids broadcast, ids
  * stream — no shuffle). Neither WRITES anything corpus-sized; the
  * upsert plans scan no index file at all (spec-asserted in
  * IncrementalIndexSpec).
  */
object BandIndex {

  /** Threaded generation state — pass the previous ingest's `state` back
    * in to skip the (tiny) meta read. */
  case class State(gen: Long, nDocs: Long, deltasSinceCompact: Long)

  case class IngestResult(incoming: Long, nearDup: Long, novel: Long,
      indexDocs: Long, state: State)

  private val CompactEvery = 8

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation `gen`'s directory of part `part` (rows, ids or tombs). */
  private def genDir(root: String, part: String, gen: Long): String =
    s"$root/$part/ver=$gen"

  /** Part `part` as of committed generation `gen`. */
  private def committed(spark: SparkSession, root: String, part: String,
      gen: Long): DataFrame =
    spark.read.parquet(s"$root/$part").filter(col("ver") <= gen)

  /** Seed the index from an initial document set. */
  def seed(spark: SparkSession, root: String, docs: DataFrame): State =
    seedSigs(spark, root, TextOps.bandedSignatures(docs))

  /** Generic seed from a prebuilt (doc_id, band, band_sig) signature
    * frame — the storage layer is signature-family-agnostic (tombstones,
    * census, and compaction only ever touch doc_id/ver), so the SAME LSM
    * index serves minhash-banded text (q447) and hyperplane-bucketed
    * vectors (q452). The root is cleared first: a reused root must not
    * leak a previous index life (stale meta would win readState's maxBy,
    * stale tombs would kill fresh rows — ADVICE r14). Then generation 0
    * is written like any other: `rows/ver=0`, then the `ids/ver=0`
    * sidecar distilled from the written rows, whose write counts its own
    * rows — that count is the census `nDocs` — then `meta/gen-0`. */
  def seedSigs(spark: SparkSession, root: String, sigs: DataFrame): State = {
    deleteRoot(spark, root)
    sigs.write.mode(SaveMode.Overwrite).parquet(genDir(root, "rows", 0L))
    val nDocs = writeCounted(
      spark.read.parquet(genDir(root, "rows", 0L)).select("doc_id").distinct(),
      genDir(root, "ids", 0L))
    val st = State(0L, nDocs, 0L)
    writeMeta(spark, root, st)
    st
  }

  /** Overwrite `path` with `df` as parquet and return the number of rows
    * the write itself saw (`observe`, no separate count job). */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("n")).write.mode(SaveMode.Overwrite).parquet(path)
    written.get("n").asInstanceOf[Long]
  }

  // The generation metadata is THREE LONGS — one plain filesystem file
  // per generation, written and read with Hadoop FS calls only, no Spark
  // job. The rename makes it appear whole: a kill mid-write leaves only
  // the temp file, which readState ignores and the retry overwrites.
  private def writeMeta(spark: SparkSession, root: String, st: State): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(s"$root/meta/tmp-gen-${st.gen}")
    val out = f.create(tmp, true)
    try out.write(s"${st.gen} ${st.nDocs} ${st.deltasSinceCompact}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(s"$root/meta/gen-${st.gen}")
    // rename never replaces a file: a re-run of a generation that had
    // already committed (a stale `prev`) deletes the old file first
    require(f.rename(tmp, dst) || (f.delete(dst, false) && f.rename(tmp, dst)),
      s"could not commit $dst")
  }

  def readState(spark: SparkSession, root: String): State = {
    val f = fs(spark, root)
    val metaDir = new Path(s"$root/meta")
    val gens =
      if (f.exists(metaDir))
        f.listStatus(metaDir).filter(_.getPath.getName.startsWith("gen-"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    // fail loud on a root persisted by the pre-r14 parquet meta layout
    // (or a non-index directory) instead of maxBy's bare
    // UnsupportedOperationException (ADVICE r14)
    require(gens.nonEmpty,
      s"unrecognized index meta format under $root/meta: no gen-<n> files " +
        "(a pre-r14 parquet-meta root must be re-seeded)")
    val latest = gens.maxBy(_.getPath.getName.stripPrefix("gen-").toLong)
    val in = f.open(latest.getPath)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val Array(g, n, d) = txt.trim.split(" ").map(_.toLong)
    State(g, n, d)
  }

  /** Live index rows (doc_id, band, band_sig, ver) of the committed
    * generation. */
  def read(spark: SparkSession, root: String): DataFrame =
    live(spark, root, readState(spark, root).gen)

  /** Rows of generations <= `gen`, with tombstoned rows filtered out
    * under a BROADCAST anti-condition (tombs are bounded by re-ingest
    * volume since the last compaction). A tomb's own `ver` is the
    * generation below which its doc's rows are dead. */
  private def live(spark: SparkSession, root: String, gen: Long): DataFrame = {
    val rows = committed(spark, root, "rows", gen)
    val tombs = new Path(s"$root/tombs")
    val f = fs(spark, root)
    val tombed = f.exists(tombs) && f.listStatus(tombs).exists(s =>
      s.getPath.getName.startsWith("ver=") && s.getPath.getName.stripPrefix("ver=").toLong <= gen)
    val alive = if (!tombed) rows else {
      val tomb = committed(spark, root, "tombs", gen)
        .groupBy("doc_id").agg(max(col("ver")).as("dead_from"))
      rows.join(broadcast(tomb), Seq("doc_id"), "left_outer")
        .filter(col("dead_from").isNull || col("ver") >= col("dead_from"))
        .drop("dead_from")
    }
    // partition discovery infers `ver` as int
    alive.withColumn("ver", col("ver").cast("long"))
  }

  /** One incremental-ingest step against the persisted index at `root`:
    * near-dup `batchDocs` against the INDEX (never the corpus), then
    * upsert by writing a delta + tombstoning any replaced doc_ids.
    * `allDocs` supplies text for exact-Jaccard verification — only
    * candidate ids are ever shingled from it. Write IO is O(batch);
    * every 8 generations one compaction rewrites live rows.
    */
  def ingest(spark: SparkSession, root: String, batchDocs: DataFrame,
      allDocs: DataFrame, prev: Option[State] = None,
      incomingHint: Option[Long] = None): IngestResult = {
    // exact-Jaccard verification over CANDIDATE docs only: semi-join the
    // raw docs to the candidate id set before shingling, so the verify
    // grind is O(candidates) at any corpus size
    def verify(cand: DataFrame): DataFrame = {
      val needIds = cand.select(col("doc_id").as("vid"))
        .union(cand.select(col("id_ex").as("vid"))).distinct()
      val vsh = TextOps.shingleArrays(
          allDocs.join(needIds, col("doc_id") === col("vid"), "left_semi"))
        .localCheckpoint(true)
      broadcast(cand)
        .join(vsh.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
        .join(vsh.select(col("doc_id").as("id_ex"), col("sh").as("sh_b")), "id_ex")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .filter(col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.5)
    }
    ingestSigs(spark, root, TextOps.bandedSignatures(batchDocs), verify,
      incomingHint.getOrElse(batchDocs.count()), prev)
  }

  /** Generic incremental-ingest step from a prebuilt (doc_id, band,
    * band_sig) signature frame. `verify` maps the band-collision
    * candidate pairs (doc_id, id_ex) to the CONFIRMED near-dup pairs —
    * exact Jaccard for text signatures, exact cosine for vector buckets
    * — and must touch only candidate ids, never the corpus. The storage
    * flow (per-generation deltas, tombstones, incremental census,
    * compaction) is identical for every signature family.
    *
    * Generation n = prev.gen + 1 is one sequential pass, in three phases:
    *   1. reads, all pruned to ver <= prev.gen — the candidate join
    *      against the index, `verify` and the near-dup count, and the
    *      membership probe of the `ids/` sidecar;
    *   2. writes, each overwriting its own `ver=<n>` directory — the
    *      delta into `rows/`, then the tombstones (re-ingest only) into
    *      `tombs/`, then the novel ids into `ids/`, whose write counts
    *      its own rows (`novel`);
    *   3. commit — the atomic `meta/gen-<n>`; every 8th generation then
    *      compacts the committed content.
    * Every job has finished when this returns or throws. A failure or a
    * kill anywhere before the commit leaves the index reading as
    * generation n-1, and a retry with the same `prev` gives the result of
    * an uninterrupted run (IncrementalIndexSpec kills it at each step).
    */
  def ingestSigs(spark: SparkSession, root: String, batchSigs: DataFrame,
      verify: DataFrame => DataFrame, incoming: Long,
      prev: Option[State] = None): IngestResult = {
    val st = prev.getOrElse(readState(spark, root))
    val gen = st.gen + 1
    // reads. Batch signatures feed the candidate join AND the delta —
    // one build
    val bsig = batchSigs.localCheckpoint(true)
    // candidates: batch × index band collisions (self excluded: on
    // re-ingest the batch's own rows are already in the index)
    val cand = bsig.join(live(spark, root, st.gen).select(col("band"), col("band_sig"),
        col("doc_id").as("id_ex")), Seq("band", "band_sig"))
      .filter(col("doc_id") =!= col("id_ex"))
      .select(col("doc_id"), col("id_ex")).dropDuplicates("doc_id", "id_ex")
      .localCheckpoint(true)
    val pairs = verify(cand)
    val nearDup = pairs.select(col("doc_id")).distinct().count()
    // membership probe: batch ids (slim, broadcast) semi-join the ids
    // SIDECAR — a 1-column stream, no shuffle, and NOT the wide index
    val batchIds = bsig.select("doc_id").distinct()
    val probe = committed(spark, root, "ids", st.gen).select("doc_id")
      .join(broadcast(batchIds), Seq("doc_id"), "left_semi")
    // slow path (re-ingest): materialize the replaced ids once for the
    // tombstone delta and the novel-ids anti-join
    val presentIds = if (probe.count() > 0) Some(probe.localCheckpoint(true)) else None
    // writes: delta rows of this generation; any REPLACED doc gets a
    // tombstone killing its older generations. No write plan reads an
    // index file (IncrementalIndexSpec asserts it).
    bsig.write.mode(SaveMode.Overwrite).parquet(genDir(root, "rows", gen))
    val novelIds = presentIds match {
      case Some(p) =>
        p.write.mode(SaveMode.Overwrite).parquet(genDir(root, "tombs", gen))
        batchIds.join(broadcast(p), Seq("doc_id"), "left_anti")
      case None =>
        // fast path (no id re-ingested): every batch id is novel, and no
        // tomb of an earlier attempt at this generation may commit with it
        fs(spark, root).delete(new Path(genDir(root, "tombs", gen)), true)
        batchIds
    }
    // census maintained incrementally — no full-index re-scan
    val novel = writeCounted(novelIds, genDir(root, "ids", gen))
    // commit. The committed count is already 0 when compaction is due, so
    // a kill inside the compaction (bar its rows/ swap) only skips it
    // until the next 8
    val since = (st.deltasSinceCompact + 1) % CompactEvery
    val next = State(gen, st.nDocs + novel, since)
    writeMeta(spark, root, next)
    if (since == 0L) compact(spark, root, gen)
    // pairs' plan reaches every checkpoint the verify closure made (vsh
    // for text, the candidate-vector fetch for vectors) — release via the
    // plan so the closure needs no lifecycle protocol of its own
    (Seq(pairs, bsig, cand) ++ presentIds).foreach(Checkpoints.release)
    IngestResult(incoming, nearDup, novel, next.nDocs, next)
  }

  /** LSM compaction of committed generation `gen`: rewrite its live rows
    * once (each row keeps its `ver`), clear tombstones, prune superseded
    * meta files. Amortized over 8 ingests. */
  private def compact(spark: SparkSession, root: String, gen: Long): Unit = {
    val f = fs(spark, root)
    live(spark, root, gen).write.partitionBy("ver").mode(SaveMode.Overwrite)
      .parquet(s"$root/rows_c")
    // not atomic: a kill between these two leaves no rows/
    f.delete(new Path(s"$root/rows"), true)
    f.rename(new Path(s"$root/rows_c"), new Path(s"$root/rows"))
    f.delete(new Path(s"$root/tombs"), true)
    // meta/ is one file per generation — compaction is the amortization
    // point, so drop all but the current one (ADVICE r14: meta/
    // otherwise grows one file per generation forever)
    f.listStatus(new Path(s"$root/meta")).filter(_.getPath.getName != s"gen-$gen")
      .foreach(s => f.delete(s.getPath, false))
  }

  /** Recursive local cleanup for temp index roots (ADVICE r13: q447 used
    * to leave ~4 index snapshots under /tmp per Verify/Bench run). */
  def deleteRoot(spark: SparkSession, root: String): Unit = {
    fs(spark, root).delete(new Path(root), true); ()
  }
}
