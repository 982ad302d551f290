package graft.ops

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** q447's persisted band-signature index (BandIndex): the maintenance
  * contract a growing corpus needs — ingest WRITE IO O(batch) (delta +
  * tombstone, never a full-index rewrite — the round-13 `weak`),
  * idempotent re-ingest, census maintained incrementally, candidates
  * generated against the INDEX rather than the corpus, and a generation
  * killed before its meta commit left invisible. */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** The `ver=<n>` directories of one index part. */
  private def verDirs(root: String, part: String): Set[String] =
    Option(new java.io.File(s"$root/$part").list()).toSet.flatten.filter(_.startsWith("ver="))

  test("re-ingesting the same batch is idempotent on the index") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    val docs = graft.Tables.documents(spark, dir).withColumn("batch",
      expr("cast(conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 4"))
    val st0 = BandIndex.seed(spark, root, docs.filter(col("batch") === 0))
    val batch1 = docs.filter(col("batch") === 1)
    val r1 = BandIndex.ingest(spark, root, batch1, docs, prev = Some(st0))
    val live1 = BandIndex.read(spark, root)
      .select("doc_id", "band", "band_sig").localCheckpoint(true)
    // ingest the SAME batch against the index that already contains it
    val r2 = BandIndex.ingest(spark, root, batch1, docs, prev = Some(r1.state))
    assert(r2.indexDocs == r1.indexDocs,
      s"re-ingest grew the census: ${r1.indexDocs} -> ${r2.indexDocs}")
    assert(r2.novel == 0L, s"re-ingest reported ${r2.novel} novel docs")
    // the LIVE index content (tombstone-resolved) is identical, not just
    // the doc count — the old generation is dead, the new one replaces it
    val live2 = BandIndex.read(spark, root).select("doc_id", "band", "band_sig")
    assert(live2.exceptAll(live1).isEmpty && live1.exceptAll(live2).isEmpty,
      "re-ingest changed live index rows")
    assert(r2.incoming == r1.incoming)
    // census matches a ground-truth distinct count over the live rows
    assert(live2.select("doc_id").distinct().count() == r2.indexDocs)
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
  }

  test("candidates come from the index state, not the whole corpus") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_spec2").toString
    // seed with doc A; batch carries a near-dup of A (B) and a near-dup
    // pair (C, D) that is NOT in the index — C/D must NOT flag each
    // other (only index collisions count), so near_dup = 1 (just B)
    val mk = (id: Long, text: String) => (id, text)
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"zz$i").mkString(" ")
    val seedDocs = Seq(mk(1L, common)).toDF("doc_id", "text")
    val batchDocs = Seq(
      mk(2L, common + " extra"),
      mk(3L, other),
      mk(4L, other + " tail")).toDF("doc_id", "text")
    val st0 = BandIndex.seed(spark, root, seedDocs)
    val all = seedDocs.unionByName(batchDocs)
    val r = BandIndex.ingest(spark, root, batchDocs, all, prev = Some(st0))
    assert(r.incoming == 3L)
    assert(r.nearDup == 1L,
      s"expected only the index near-dup (doc 2), got ${r.nearDup} — intra-batch pairs must not count")
    assert(r.indexDocs == 4L)
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
  }

  test("upsert write plans scan NOTHING under the index root (O(batch) IO)") {
    // the round-13 weak: the old upsert read + rewrote the FULL index per
    // batch. The LSM layout's delta/tombstone/ids/meta writes must be
    // built from batch-side frames only — capture every write execution
    // during an ingest and assert no file scan under the index root.
    val captured = ArrayBuffer[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.synchronized { captured += ((funcName, qe.executedPlan)); () }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    val root = java.nio.file.Files.createTempDirectory("graft_idx_spec3").toString
    val docs = graft.Tables.documents(spark, dir).withColumn("batch",
      expr("cast(conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 4"))
    val st0 = BandIndex.seed(spark, root, docs.filter(col("batch") === 0))
    // re-ingest a 50/50 mix of already-present and new docs so BOTH the
    // tombstone and the novel-ids paths are exercised
    val mixed = docs.filter(col("batch") === 0 || col("batch") === 1)
    spark.listenerManager.register(listener)
    try {
      BandIndex.ingest(spark, root, mixed, docs, prev = Some(st0))
      // listener delivery is async — poll until the write commands land
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def writes() = captured.synchronized {
        captured.filter(_._2.toString.contains("InsertIntoHadoopFsRelationCommand")).toVector
      }
      // rows delta + tombs + ids = 3 write commands (meta is a plain
      // filesystem file since r14 — no Spark write job at all)
      while (writes().size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      val w = writes()
      assert(w.size >= 3, s"expected >=3 write executions, saw ${w.size}")
      w.foreach { case (fn, plan) =>
        val idxScans = plan.collectWithSubqueries {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(root)) => f
        }
        assert(idxScans.isEmpty,
          s"write execution '$fn' scans the index it is upserting:\n$plan")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      Checkpoints.releaseAll(spark)
      BandIndex.deleteRoot(spark, root)
    }
  }

  test("vector index (q452): readout equals the exact cross-batch cosine baseline") {
    // the LSH candidate path + exact-cosine verify must reproduce what a
    // brute-force per-batch sweep finds — same recall argument as q104's
    // oracle, checked here in-engine over the full sf0.001 corpus
    val got = VectorOps.q452IncrementalVectorIndex(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val corpus = VectorOps.plantedTwinCorpus(spark, dir)
      .withColumn("batch", expr(VectorOps.viBatchExpr)).localCheckpoint(true)
    val a = corpus.select(col("vec_id"), col("embedding").as("va"), col("batch"))
    val ex = corpus.select(col("vec_id").as("id_ex"), col("embedding").as("vb"),
      col("batch").as("batch_ex"))
    val exact = a.filter(col("batch") >= 1).crossJoin(ex)
      .filter(col("batch_ex") < col("batch"))
      .filter(expr("cosine_sim(va, vb)") >= 0.9)
      .select(col("batch"), col("vec_id")).distinct()
      .groupBy(col("batch")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val sizes = corpus.groupBy(col("batch")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var cum = sizes(0L)
    (1L to 3L).zip(got).foreach { case (b, (gb, gInc, gNd, gIdx)) =>
      cum += sizes(b)
      assert(gb == b)
      assert(gInc == sizes(b), s"batch $b incoming: $gInc != ${sizes(b)}")
      assert(gNd == exact(b), s"batch $b near_dup: LSH path $gNd != exact ${exact(b)}")
      assert(gIdx == cum, s"batch $b census: $gIdx != $cum")
    }
    Checkpoints.releaseAll(spark)
  }

  test("vector index (q452): re-ingesting the same signature batch is idempotent") {
    // the shared LSM storage must honor its contract under the vector
    // signature schema too (int band_sig, no text verify)
    val root = java.nio.file.Files.createTempDirectory("graft_vecidx_spec").toString
    val corpus = VectorOps.plantedTwinCorpus(spark, dir)
      .withColumn("batch", expr(VectorOps.viBatchExpr))
    val noPairs = (cand: org.apache.spark.sql.DataFrame) => cand.filter(lit(false))
    val st0 = BandIndex.seedSigs(spark, root,
      VectorOps.vecSignatures(corpus.filter(col("batch") === 0)))
    val sig1 = VectorOps.vecSignatures(corpus.filter(col("batch") === 1))
    val r1 = BandIndex.ingestSigs(spark, root, sig1, noPairs, incoming = 0L, prev = Some(st0))
    val live1 = BandIndex.read(spark, root)
      .select("doc_id", "band", "band_sig").localCheckpoint(true)
    val r2 = BandIndex.ingestSigs(spark, root, sig1, noPairs, incoming = 0L, prev = Some(r1.state))
    assert(r2.novel == 0L, s"re-ingest reported ${r2.novel} novel vectors")
    assert(r2.indexDocs == r1.indexDocs,
      s"re-ingest grew the census: ${r1.indexDocs} -> ${r2.indexDocs}")
    val live2 = BandIndex.read(spark, root).select("doc_id", "band", "band_sig")
    assert(live2.exceptAll(live1).isEmpty && live1.exceptAll(live2).isEmpty,
      "re-ingest changed live vector index rows")
    assert(live2.select("doc_id").distinct().count() == r2.indexDocs)
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
  }

  test("a RETRIED generation replaces its own delta instead of duplicating it") {
    // ADVICE r14: a crash after the delta lands but before the meta
    // commit makes a retry reuse the same gen; equal-ver duplicates can
    // never be killed by tombstones (only rows older than the tomb die).
    // The retry must overwrite its own ver=<n> directories.
    val root = java.nio.file.Files.createTempDirectory("graft_idx_retry").toString
    val corpus = VectorOps.plantedTwinCorpus(spark, dir)
      .withColumn("batch", expr(VectorOps.viBatchExpr))
    val noPairs = (cand: org.apache.spark.sql.DataFrame) => cand.filter(lit(false))
    val st0 = BandIndex.seedSigs(spark, root,
      VectorOps.vecSignatures(corpus.filter(col("batch") === 0)))
    val sig1 = VectorOps.vecSignatures(corpus.filter(col("batch") === 1))
    BandIndex.ingestSigs(spark, root, sig1, noPairs, incoming = 0L, prev = Some(st0))
    val rowsAfter1 = spark.read.parquet(s"$root/rows").count()
    val liveAfter1 = BandIndex.read(spark, root)
      .select("doc_id", "band", "band_sig").localCheckpoint(true)
    // retry of the SAME generation: same prev state, same signatures
    BandIndex.ingestSigs(spark, root, sig1, noPairs, incoming = 0L, prev = Some(st0))
    assert(spark.read.parquet(s"$root/rows").count() == rowsAfter1,
      "retried generation duplicated its delta rows")
    val liveRetry = BandIndex.read(spark, root).select("doc_id", "band", "band_sig")
    assert(liveRetry.exceptAll(liveAfter1).isEmpty && liveAfter1.exceptAll(liveRetry).isEmpty,
      "retried generation changed live index content")
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
  }

  test("a generation whose verify fails leaves the index as it was; its retry matches an uninterrupted run") {
    // the failing verify's frame throws only when it runs. Every job of
    // the call must be over when the exception arrives, and no write of
    // the failed generation may land: a leaked ids/ append makes the
    // retry see its own batch as present (novel 0, census too low)
    val corpus = VectorOps.plantedTwinCorpus(spark, dir)
      .withColumn("batch", expr(VectorOps.viBatchExpr)).localCheckpoint(true)
    val verify = VectorOps.cosineVerify(corpus, 0.9) _
    val boom = udf((id: Long) => {
      if (id >= 0L) throw new IllegalStateException(s"verify failed on $id"); id
    })
    val failing = (cand: org.apache.spark.sql.DataFrame) =>
      cand.withColumn("doc_id", boom(col("doc_id")))
    val sig0 = VectorOps.vecSignatures(corpus.filter(col("batch") === 0))
    // batches 0 and 1: a re-ingest, so the tombstone path runs as well
    val mixed = VectorOps.vecSignatures(corpus.filter(col("batch") <= 1))
    val root = java.nio.file.Files.createTempDirectory("graft_idx_failed").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_idx_clean").toString
    val st0 = BandIndex.seedSigs(spark, root, sig0)
    def listing() = Seq("rows", "ids", "tombs", "meta").map(d =>
      d -> Option(new java.io.File(s"$root/$d").list()).map(_.toSet).getOrElse(Set.empty[String])).toMap
    val before = listing()
    intercept[Exception] {
      BandIndex.ingestSigs(spark, root, mixed, failing, incoming = 0L, prev = Some(st0))
    }
    // no active job for 20 polls in a row, within 60 s
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var idle = 0
    while (idle < 20 && System.nanoTime() < deadline) {
      idle = if (tracker.getActiveJobIds.isEmpty) idle + 1 else 0
      Thread.sleep(50)
    }
    assert(idle === 20, s"jobs still active after the failure: ${tracker.getActiveJobIds.mkString(",")}")
    assert(listing() === before, "the failed generation wrote into the index")
    val retry = BandIndex.ingestSigs(spark, root, mixed, verify, incoming = 0L, prev = Some(st0))
    val clean = BandIndex.ingestSigs(spark, ref, mixed, verify, incoming = 0L,
      prev = Some(BandIndex.seedSigs(spark, ref, sig0)))
    // the uninterrupted run confirms near-dups, so the candidate frame
    // the failing verify got had rows to throw on
    assert(clean.nearDup > 0L)
    assert((retry.state.gen, retry.state.nDocs) === ((clean.state.gen, clean.state.nDocs)))
    assert(retry.novel === clean.novel)
    val got = BandIndex.read(spark, root)
    val want = BandIndex.read(spark, ref)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the retried generation's index differs from an uninterrupted run")
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
    BandIndex.deleteRoot(spark, ref)
  }

  test("a generation killed at any step before its meta commit is invisible; its retry matches an uninterrupted run") {
    // each case kills a re-ingest generation (batches 0 and 1: the
    // tombstone and the novel-ids paths both run) by failing one file
    // write part-way (KillFs), then may plant what a kill inside a job
    // commit leaves: a part file still under _temporary, missing from
    // its ver=<n> directory
    spark.sparkContext.hadoopConfiguration.set("fs.killfs.impl", classOf[KillFs].getName)
    val corpus = VectorOps.plantedTwinCorpus(spark, dir)
      .withColumn("batch", expr(VectorOps.viBatchExpr)).localCheckpoint(true)
    val verify = VectorOps.cosineVerify(corpus, 0.9) _
    val sig0 = VectorOps.vecSignatures(corpus.filter(col("batch") === 0))
    val mixed = VectorOps.vecSignatures(corpus.filter(col("batch") <= 1))
    val ref = java.nio.file.Files.createTempDirectory("graft_idx_clean").toString
    val refSt0 = BandIndex.seedSigs(spark, ref, sig0)
    val seeded = BandIndex.read(spark, ref).localCheckpoint(true)
    val clean = BandIndex.ingestSigs(spark, ref, mixed, verify, incoming = 0L, prev = Some(refSt0))
    val want = BandIndex.read(spark, ref)
    assert(clean.nearDup > 0L && clean.novel > 0L)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def strandPart(local: String): Unit = Seq("rows", "tombs", "ids").foreach { part =>
      val gen1 = new java.io.File(s"$local/$part/ver=1")
      val stranded = new java.io.File(gen1, "_temporary/0/task_0")
      stranded.mkdirs()
      val part0 = gen1.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      java.nio.file.Files.move(part0.toPath, new java.io.File(stranded, part0.getName).toPath)
      new java.io.File(gen1, "_SUCCESS").delete()
    }
    // (case, fault path, bytes kept, plant, parts whose ver=1 holds a part file)
    val kills = Seq[(String, String, Int, String => Unit, Set[String])](
      ("after the rows/ write", "/tombs/", 0, _ => (), Set("rows")),
      ("after the tombs/ write", "/ids/", 0, _ => (), Set("rows", "tombs")),
      ("after the ids/ write", "/meta/", 0, _ => (), Set("rows", "tombs", "ids")),
      ("inside a job commit", "/meta/", 0, strandPart, Set("rows", "tombs", "ids")),
      ("inside the meta write", "/meta/", 3, _ => (), Set("rows", "tombs", "ids")))
    kills.foreach { case (at, fault, keep, plant, written) =>
      val local = java.nio.file.Files.createTempDirectory("graft_idx_kill").toString
      val root = s"killfs://$local"
      val st0 = BandIndex.seedSigs(spark, root, sig0)
      KillFs.arm(fault, keep)
      intercept[Exception] {
        BandIndex.ingestSigs(spark, root, mixed, verify, incoming = 0L, prev = Some(st0))
      }
      assert(KillFs.fired, s"$at: the fault never fired")
      assert(Seq("rows", "tombs", "ids").filter(p => Option(new java.io.File(s"$local/$p/ver=1")
        .list()).exists(_.exists(_.endsWith(".parquet")))).toSet === written, at)
      plant(local)
      assert(BandIndex.readState(spark, root) === st0, s"$at: the killed generation committed")
      assert(same(BandIndex.read(spark, root), seeded), s"$at: the killed generation is visible")
      val retry = BandIndex.ingestSigs(spark, root, mixed, verify, incoming = 0L, prev = Some(st0))
      assert((retry.state.gen, retry.state.nDocs) === ((clean.state.gen, clean.state.nDocs)), at)
      assert((retry.novel, retry.nearDup) === ((clean.novel, clean.nearDup)), at)
      assert(same(BandIndex.read(spark, root), want), s"$at: the retry's index differs")
      BandIndex.deleteRoot(spark, root)
    }
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, ref)
  }

  test("re-seeding a used root clears stale meta, tombstones and stage") {
    // ADVICE r14: seedSigs over a previously used root left higher-gen
    // meta files that win readState's maxBy, and stale tombs that kill
    // fresh rows. The stage is now an uncommitted generation's ver=<n>
    // directory, planted here as a copy of generation 1's delta
    val root = java.nio.file.Files.createTempDirectory("graft_idx_reseed").toString
    val corpus = VectorOps.plantedTwinCorpus(spark, dir)
      .withColumn("batch", expr(VectorOps.viBatchExpr))
    val noPairs = (cand: org.apache.spark.sql.DataFrame) => cand.filter(lit(false))
    val st0 = BandIndex.seedSigs(spark, root,
      VectorOps.vecSignatures(corpus.filter(col("batch") === 0)))
    val sig1 = VectorOps.vecSignatures(corpus.filter(col("batch") === 1))
    // two ingests, the second re-ingesting the first: tombstones + gen-2 meta exist
    val r1 = BandIndex.ingestSigs(spark, root, sig1, noPairs, incoming = 0L, prev = Some(st0))
    BandIndex.ingestSigs(spark, root, sig1, noPairs, incoming = 0L, prev = Some(r1.state))
    assert(verDirs(root, "tombs").nonEmpty)
    val stale = new java.io.File(s"$root/rows/ver=3")
    stale.mkdirs()
    new java.io.File(s"$root/rows/ver=1").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(stale, f.getName).toPath))
    // re-seed the same root from batch 0 only
    val reseeded = BandIndex.seedSigs(spark, root,
      VectorOps.vecSignatures(corpus.filter(col("batch") === 0)))
    assert(reseeded.gen == 0L)
    assert(BandIndex.readState(spark, root).gen == 0L,
      "stale higher-gen meta file still wins readState after re-seed")
    assert(verDirs(root, "tombs").isEmpty, "stale tombstones survive a re-seed")
    assert(verDirs(root, "rows") === Set("ver=0"), "a stale generation survives a re-seed")
    val live = BandIndex.read(spark, root).select("doc_id").distinct().count()
    assert(live == reseeded.nDocs)
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
  }

  test("readState fails with an explicit message on an unrecognized root") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_badmeta").toString
    val e = intercept[IllegalArgumentException] {
      BandIndex.readState(spark, root)
    }
    assert(e.getMessage.contains("unrecognized index meta format"))
    BandIndex.deleteRoot(spark, root)
  }

  test("compaction preserves live content and clears tombstones") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_spec4").toString
    val docs = graft.Tables.documents(spark, dir).withColumn("batch",
      expr("cast(conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 4"))
    val st0 = BandIndex.seed(spark, root, docs.filter(col("batch") === 0))
    // eight ingests, the later ones re-ingesting the first (tombstones
    // exist); compaction runs every 8 generations, so the eighth
    // triggers it
    val b1 = docs.filter(col("batch") === 1)
    val r1 = BandIndex.ingest(spark, root, b1, docs, prev = Some(st0))
    val liveBefore = BandIndex.read(spark, root)
      .select("doc_id", "band", "band_sig").localCheckpoint(true)
    val r7 = (2 to 7).foldLeft(r1) { (r, _) =>
      BandIndex.ingest(spark, root, b1, docs, prev = Some(r.state))
    }
    assert(r7.state.deltasSinceCompact == 7L && verDirs(root, "tombs").nonEmpty)
    val r8 = BandIndex.ingest(spark, root, b1, docs, prev = Some(r7.state))
    assert(r8.state.deltasSinceCompact == 0L, "compaction did not trigger")
    assert(verDirs(root, "tombs").isEmpty, "compaction left tombstones behind")
    val liveAfter = BandIndex.read(spark, root).select("doc_id", "band", "band_sig")
    assert(liveAfter.exceptAll(liveBefore).isEmpty && liveBefore.exceptAll(liveAfter).isEmpty,
      "compaction changed live index content")
    assert(r8.indexDocs == r1.indexDocs)
    Checkpoints.releaseAll(spark)
    BandIndex.deleteRoot(spark, root)
  }
}
