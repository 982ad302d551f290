package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED band-signature index with SUB-LINEAR ingest (q447, SURVEY
  * §8.28) — the storage layer the round-13 verdict flagged: the previous
  * upsert read and rewrote the ENTIRE index every batch, O(corpus) IO per
  * ingest, exactly the cost the operator exists to eliminate. This is the
  * LSM-shaped replacement. Layout under one root:
  *
  *   - `rows/`  — append-only parquet deltas (doc_id, band, band_sig,
  *     ver). Each ingest APPENDS its batch's signatures stamped with the
  *     generation number; nothing is rewritten. Write IO = O(batch).
  *   - `ids/`   — slim doc-census sidecar (doc_id), one row per indexed
  *     doc, appended NOVEL ids only. Membership probes read THIS (1
  *     narrow column, 1/16th the rows of `rows/`), never the wide index.
  *   - `tombs/` — tombstones (doc_id, dead_below): rows for doc_id with
  *     ver < dead_below are dead. Written only when a batch RE-ingests
  *     existing doc_ids (upsert-by-replacement). Bounded by the re-ingest
  *     volume since the last compaction, so reads resolve them with a
  *     BROADCAST filter — the big `rows/` side never shuffles.
  *   - `meta/`  — one tiny row per generation (gen, n_docs,
  *     deltas_since_compact). The doc census is maintained INCREMENTALLY
  *     (prev + novel), never by re-scanning the index.
  *
  * Every `compactEvery` generations the live rows are rewritten once and
  * tombstones cleared — classic LSM amortization: per-batch cost stays
  * O(batch) + O(corpus / compactEvery).
  *
  * Each generation is one sequential pass on the calling thread: reads,
  * then writes, then commit ([[ingestSigs]]). No job outlives the call.
  * The commit moves the staged delta into `rows/` and then writes
  * `meta/gen-<n>`, which makes the generation current. A failure before
  * the writes leaves every directory as it was. A failure during the
  * writes leaves a `rows_in/` stage that a retry replaces. It can also
  * leave `tombs/` and `ids/` appends, which are not staged yet.
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

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def parquetDirExists(spark: SparkSession, p: String): Boolean = {
    val path = new Path(p)
    val f = fs(spark, p)
    f.exists(path) && f.listStatus(path).exists(s =>
      s.getLen > 0 || s.getPath.getName.endsWith(".parquet"))
  }

  /** Seed the index from an initial document set. */
  def seed(spark: SparkSession, root: String, docs: DataFrame): State =
    seedSigs(spark, root, TextOps.bandedSignatures(docs))

  /** Generic seed from a prebuilt (doc_id, band, band_sig) signature
    * frame — the storage layer is signature-family-agnostic (tombstones,
    * census, and compaction only ever touch doc_id/ver), so the SAME LSM
    * index serves minhash-banded text (q447) and hyperplane-bucketed
    * vectors (q452). Two writes, then the meta file: `rows/`, then the
    * `ids/` sidecar distilled from the written rows, whose write counts
    * its own rows — that count is the census `nDocs`. */
  def seedSigs(spark: SparkSession, root: String, sigs: DataFrame): State = {
    // a reused root must not leak state from a previous index life:
    // rows/ and ids/ are overwritten below, but stale meta/ files would
    // win readState's maxBy and stale tombs/ would kill fresh rows
    // (ADVICE r14) — clear everything the overwrites below don't
    val f = fs(spark, root)
    Seq("meta", "tombs", "rows_in").foreach(d =>
      f.delete(new Path(s"$root/$d"), true))
    sigs.withColumn("ver", lit(0L)).write.mode(SaveMode.Overwrite).parquet(s"$root/rows")
    val nDocs = writeCounted(spark.read.parquet(s"$root/rows").select("doc_id").distinct(),
      s"$root/ids", SaveMode.Overwrite)
    val st = State(0L, nDocs, 0L)
    writeMeta(spark, root, st)
    st
  }

  /** Write `df` as parquet at `path` and return the number of rows the
    * write itself saw (`observe`, no separate count job). */
  private def writeCounted(df: DataFrame, path: String, mode: SaveMode): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("n")).write.mode(mode).parquet(path)
    written.get("n").asInstanceOf[Long]
  }

  // The generation metadata is THREE LONGS — writing it through a Spark
  // parquet job cost one full job latency per generation (and reading it
  // back another); it is now one plain filesystem file per generation
  // (`meta/gen-<n>`, content "gen nDocs deltasSinceCompact"), written
  // and read with Hadoop FS calls only. Still one immutable file per
  // generation (same append-only discipline as `rows/`), no Spark job.
  private def writeMeta(spark: SparkSession, root: String, st: State): Unit = {
    val f = fs(spark, root)
    val out = f.create(new Path(s"$root/meta/gen-${st.gen}"), true)
    try out.write(s"${st.gen} ${st.nDocs} ${st.deltasSinceCompact}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
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

  /** Live index rows: union of deltas with tombstoned generations
    * filtered out under a BROADCAST anti-condition (tombs are bounded by
    * re-ingest volume since the last compaction). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val rows = spark.read.parquet(s"$root/rows")
    if (!parquetDirExists(spark, s"$root/tombs")) rows
    else {
      val tomb = spark.read.parquet(s"$root/tombs")
        .groupBy("doc_id").agg(max(col("dead_below")).as("dead_below"))
      rows.join(broadcast(tomb), Seq("doc_id"), "left_outer")
        .filter(col("dead_below").isNull || col("ver") >= col("dead_below"))
        .drop("dead_below")
    }
  }

  /** One incremental-ingest step against the persisted index at `root`:
    * near-dup `batchDocs` against the INDEX (never the corpus), then
    * upsert by APPENDING a delta + tombstoning any replaced doc_ids.
    * `allDocs` supplies text for exact-Jaccard verification — only
    * candidate ids are ever shingled from it. Write IO is O(batch);
    * every `compactEvery` generations one compaction rewrites live rows.
    */
  def ingest(spark: SparkSession, root: String, batchDocs: DataFrame,
      allDocs: DataFrame, prev: Option[State] = None,
      incomingHint: Option[Long] = None, compactEvery: Int = 8): IngestResult = {
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
      incomingHint.getOrElse(batchDocs.count()), prev, compactEvery)
  }

  /** Generic incremental-ingest step from a prebuilt (doc_id, band,
    * band_sig) signature frame. `verify` maps the band-collision
    * candidate pairs (doc_id, id_ex) to the CONFIRMED near-dup pairs —
    * exact Jaccard for text signatures, exact cosine for vector buckets
    * — and must touch only candidate ids, never the corpus. The storage
    * flow (append-only deltas, tombstones, incremental census,
    * compaction) is identical for every signature family.
    *
    * One generation is one sequential pass, in three phases:
    *   1. reads — the candidate join against the index, `verify` and the
    *      near-dup count, and the membership probe of the `ids/` sidecar;
    *   2. writes — the delta into the `rows_in/` stage, then the
    *      tombstones (re-ingest only) and the novel ids, whose write
    *      counts its own rows (`novel`);
    *   3. commit — [[commitDelta]] moves the stage into `rows/`, then the
    *      `meta/gen-<n>` file makes the generation current.
    * Every job has finished when this returns or throws. A failure in
    * the reads leaves the index exactly as it was. A failure during the
    * writes can leave this generation's `tombs/` and `ids/` appends in
    * place (they are not staged yet); its `rows_in/` stage is replaced
    * by a retry.
    */
  def ingestSigs(spark: SparkSession, root: String, batchSigs: DataFrame,
      verify: DataFrame => DataFrame, incoming: Long,
      prev: Option[State] = None, compactEvery: Int = 8): IngestResult = {
    val st = prev.getOrElse(readState(spark, root))
    val gen = st.gen + 1
    // reads. Batch signatures feed the candidate join AND the delta —
    // one build
    val bsig = batchSigs.localCheckpoint(true)
    // candidates: batch × index band collisions (self excluded: on
    // re-ingest the batch's own rows are already in the index)
    val cand = bsig.join(read(spark, root).select(col("band"), col("band_sig"),
        col("doc_id").as("id_ex")), Seq("band", "band_sig"))
      .filter(col("doc_id") =!= col("id_ex"))
      .select(col("doc_id"), col("id_ex")).dropDuplicates("doc_id", "id_ex")
      .localCheckpoint(true)
    val pairs = verify(cand)
    val nearDup = pairs.select(col("doc_id")).distinct().count()
    // membership probe: batch ids (slim, broadcast) semi-join the ids
    // SIDECAR — a 1-column stream, no shuffle, and NOT the wide index
    val batchIds = bsig.select("doc_id").distinct()
    val probe = spark.read.parquet(s"$root/ids")
      .join(broadcast(batchIds), Seq("doc_id"), "left_semi")
    // slow path (re-ingest): materialize the replaced ids once for the
    // tombstone delta and the novel-ids anti-join
    val presentIds = if (probe.count() > 0) Some(probe.localCheckpoint(true)) else None
    // writes. UPSERT = append-only: delta rows stamped with this
    // generation; any REPLACED doc gets a tombstone killing its older
    // generations. No write plan reads an index file (IncrementalIndexSpec
    // asserts it). The delta lands in a STAGE dir (rows_in/, Overwrite):
    // a reader never lists a half-committed delta, and a RETRIED
    // generation overwrites the stage and replaces its own gen-files
    // instead of appending duplicates with equal ver — which tombstones
    // (ver < dead_below) could never kill (ADVICE r14).
    bsig.withColumn("ver", lit(gen)).write.mode(SaveMode.Overwrite)
      .parquet(s"$root/rows_in")
    val novelIds = presentIds match {
      case Some(p) =>
        p.withColumn("dead_below", lit(gen))
          .write.mode(SaveMode.Append).parquet(s"$root/tombs")
        batchIds.join(broadcast(p), Seq("doc_id"), "left_anti")
      case None => batchIds // fast path (pure append): every batch id is novel
    }
    // census maintained incrementally — no full-index re-scan
    val novel = writeCounted(novelIds, s"$root/ids", SaveMode.Append)
    // commit: the staged delta into rows/, then the meta file
    commitDelta(spark, root, gen)
    var next = State(gen, st.nDocs + novel, st.deltasSinceCompact + 1)
    if (next.deltasSinceCompact >= compactEvery) next = compact(spark, root, next)
    writeMeta(spark, root, next)
    // pairs' plan reaches every checkpoint the verify closure made (vsh
    // for text, the candidate-vector fetch for vectors) — release via the
    // plan so the closure needs no lifecycle protocol of its own
    (Seq(pairs, bsig, cand) ++ presentIds).foreach(Checkpoints.release)
    IngestResult(incoming, nearDup, novel, next.nDocs, next)
  }

  /** Move the staged generation delta into rows/ under gen-named files.
    * Idempotent: a previous attempt of the SAME generation is replaced
    * (its gen-files deleted first), never duplicated. Called only after
    * every read this generation makes of rows/ has completed. */
  private def commitDelta(spark: SparkSession, root: String, gen: Long): Unit = {
    val f = fs(spark, root)
    val stage = new Path(s"$root/rows_in")
    val rows = new Path(s"$root/rows")
    f.listStatus(rows).filter(_.getPath.getName.startsWith(s"gen-$gen-"))
      .foreach(s => f.delete(s.getPath, false))
    f.listStatus(stage).filter(_.getPath.getName.startsWith("part-"))
      .foreach(s => f.rename(s.getPath,
        new Path(rows, s"gen-$gen-${s.getPath.getName}")))
    f.delete(stage, true); ()
  }

  /** LSM compaction: rewrite live rows once, dedup the ids sidecar,
    * clear tombstones, prune superseded meta generations. Amortized over
    * `compactEvery` ingests. */
  def compact(spark: SparkSession, root: String, st: State): State = {
    val f = fs(spark, root)
    read(spark, root).write.mode(SaveMode.Overwrite).parquet(s"$root/rows_c")
    spark.read.parquet(s"$root/ids").distinct()
      .write.mode(SaveMode.Overwrite).parquet(s"$root/ids_c")
    Seq("rows", "ids").foreach { d =>
      f.delete(new Path(s"$root/$d"), true)
      f.rename(new Path(s"$root/${d}_c"), new Path(s"$root/$d"))
    }
    f.delete(new Path(s"$root/tombs"), true)
    // meta/ is one immutable file per generation — compaction is the
    // amortization point, so prune all but the newest (ADVICE r14:
    // meta/ otherwise grows one file per generation forever)
    val metaDir = new Path(s"$root/meta")
    if (f.exists(metaDir)) {
      val gens = f.listStatus(metaDir).filter(_.getPath.getName.startsWith("gen-"))
      if (gens.nonEmpty) {
        val keep = gens.maxBy(_.getPath.getName.stripPrefix("gen-").toLong)
          .getPath.getName
        gens.filter(_.getPath.getName != keep)
          .foreach(s => f.delete(s.getPath, false))
      }
    }
    State(st.gen, st.nDocs, 0L)
  }

  /** Recursive local cleanup for temp index roots (ADVICE r13: q447 used
    * to leave ~4 index snapshots under /tmp per Verify/Bench run). */
  def deleteRoot(spark: SparkSession, root: String): Unit = {
    fs(spark, root).delete(new Path(root), true); ()
  }
}
