package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{jaroWinkler, unaccent, wordShingles}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** LLM-training-data text operators over the `documents` table: exact and
  * near deduplication, language ID, quality scoring, token accounting,
  * fingerprinting (north-star extensions — SURVEY §2.2; no reference
  * counterpart, the reference is an ingest ETL only).
  *
  * Tokenization contract (shared with every DuckDB oracle): lowercase,
  * split on single spaces, drop empties. Shingles are word 3-grams over
  * that token stream, de-duplicated per document.
  *
  * Portability: md5 (both engines implement the same RFC) is the only
  * content hash the oracles recompute — q33's simhash token hash is the
  * first 60 bits of md5 for exactly that reason. xxhash64 (Spark-only)
  * appears only in q32's minhash signatures, whose oracle checks the
  * output pair set against q31's exact result rather than the hashes.
  */
object TextOps {

  /** Stop-shingle df cap shared by the capped near-dup family (q31, q415)
    * AND their SQL oracles — the cap is expressed in `q31Sql`/`q415Sql`
    * from this one constant, so a corpus with a shingle df above the cap
    * cannot silently diverge Spark-vs-oracle: both engines drop the same
    * hot postings. 25 = the measured max shingle df at sf0.1 (9 at
    * sf0.001, 7 at sf0.01), so the cap drops nothing at any driver SF;
    * TextOpsSpec pins capped ≡ exact on real data and proves the guard
    * fires on a planted hot shingle.
    */
  val StopShingleDf = 25

  /** tokens: array<string> from `text`. */
  val toks: Column = expr("filter(split(lower(text), ' '), t -> t != '')")
  val toksSqlD = "list_filter(string_split(lower(text), ' '), t -> t != '')"

  /** Distinct word-`k`-gram shingles of [[toks]], computed ROW-LOCALLY by
    * the native [[graft.functions.WordShingles]] expression — no token
    * explode, no window sort, no distinct shuffle. (History: the transform/
    * array_distinct HOF paid ~15µs/eval interpreted lambdas; the
    * posexplode + window-lead + distinct reformulation escaped the lambdas
    * but shuffled and sorted the whole token stream per query — at 100 TB
    * the dominant cost of the near-dup family. The native expression
    * removes both.)
    */
  private[ops] def shingles(k: Int): Column = wordShingles(toks, k)

  /** (doc_id, sh: array<string>) distinct word-3-gram shingle sets —
    * one row-local projection, shuffle-free. */
  private[ops] def shingleArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(3).as("sh"))

  /** (doc_id, pos, w) exploded token stream — row-level filter stays in
    * whole-stage codegen (unlike an array-lambda filter).
    */
  private def tokenEdges(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .filter(col("col") =!= "")
      .withColumnRenamed("col", "w")

  /** (doc_id, shingle) DISTINCT inverted-index edge list — a row-local
    * shingle-array explode; the first shuffle in every consumer is its own
    * join/aggregate, not the shingling.
    *
    * Scale: this is the standard shape for distributed near-dup — explode,
    * then joins group by shingle. At 100 TB add a stop-shingle frequency
    * cap to bound the quadratic per-shingle pair blowup; at test
    * vocabulary it's exact.
    */
  private[ops] def shingleEdges(docs: DataFrame): DataFrame =
    shingleArrays(docs).select(col("doc_id"), explode(col("sh")).as("s"))

  /** Positional word-3-grams: (doc_id, pos, s), one row per occurrence —
    * window-lead over the token stream; only positional consumers (q39
    * winnowing) pay this shuffle. */
  private def kgramEdges(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tokenEdges(docs)
      .withColumn("w1", lead(col("w"), 1).over(w))
      .withColumn("w2", lead(col("w"), 2).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("pos"), concat_ws(" ", col("w"), col("w1"), col("w2")).as("s"))
  }

  // --------------------------------------------------------------------------
  // q30 — exact dedup by content hash: keep the lowest doc_id per distinct
  // text, count copies. Scale: hash-groupBy with map-side partial agg;
  // md5(text) as the shuffle key keeps wide text off the wire... (here we
  // group by the hash and carry min(doc_id)).
  def q30ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val q30Sql: String =
    """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // --------------------------------------------------------------------------
  // q31 — exact n-gram Jaccard near-dup pairs via inverted-index self-join:
  // explode shingles → join on shingle (a.doc_id < b.doc_id) → count
  // intersection → Jaccard = inter / (|A| + |B| - inter) ≥ 0.5.
  // Integer-ratio double division is bit-deterministic — oracle-safe.
  // Each doc's shingle-set size is ROW-LOCAL (size of the shingle array —
  // no aggregate, no join-back), so candidate pairs are size-pruned IN
  // the join: jac ≥ 0.5 ⇒ 3·inter ≥ na+nb and inter ≤ min(na,nb) ⇒
  // max ≤ 2·min. Exact (no candidate at the threshold is lost), and
  // sizes ride the groupBy keys so no re-joins afterwards.
  //
  // Measured alternative, rejected: a PPJoin-style prefix filter (index
  // only the first n-⌈t·n⌉+1 shingles in global-df order) was implemented
  // and oracle-verified, but benched 9.5s vs ~2-4s for this shape at
  // sf0.1 — the global-frequency shuffle + per-doc rank window + candidate
  // re-join outweigh the pruning on this small-vocabulary corpus. At a
  // web-scale vocabulary (shingle df ≪ |docs|, pair blowup quadratic)
  // prefix filtering is the right move; revisit when the corpus grows.
  //
  // Posting-list guard (round-10, q176's discipline promoted here): the
  // SHIPPED form drops shingles with df > `stopShingleDf` from the index
  // before the self-join — pair mass is then ≤ cap·|postings| (linear in
  // the corpus) instead of Σ df² (quadratic on a templated/saturated
  // corpus, where the length-band prune alone does not bound the hot
  // posting lists — SURVEY §8.18's measured n²). At cap = [[StopShingleDf]]
  // (= the measured max shingle df at sf0.1; 9 at sf0.001, 7 at sf0.01)
  // the cap drops NOTHING at any driver SF, so the catalog entry stays
  // EXACT and every downstream consumer (q82/q408/q412/q414) keeps its
  // oracle hash; TextOpsSpec pins capped ≡ exact on real data AND proves
  // the guard fires on a planted hot shingle. On capped corpora the
  // semantics are the standard stop-shingle approximation: a pair whose
  // only shared shingles are hot is not a candidate, and `inter` counts
  // only uncapped shingles against the FULL set sizes (jaccard is
  // underestimated, never overestimated — dedup stays conservative).
  // The SAME cap is expressed in `q31Sql` (round-11): Spark and oracle
  // implement identical capped semantics on EVERY corpus, so the guard
  // firing can never open a silent Spark-vs-oracle divergence.
  def q31NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir), stopShingleDf = Some(StopShingleDf))

  /** The exact (uncapped) twin — spec-only: proves the shipped cap drops
    * nothing at driver SFs, and remains the reference semantics on
    * corpora where the full quadratic pair set is wanted.
    */
  private[graft] def q31NgramJaccardExact(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir), stopShingleDf = None)

  /** q31's library surface. `stopShingleDf` = the inverted-index
    * stop-shingle guard (None = exact).
    */
  private[graft] def ngramJaccardPairs(docs: DataFrame,
      stopShingleDf: Option[Int]): DataFrame = {
    val withN0 = shingleStream(docs)
    // pair events (id_a < id_b, band-pruned, one row per shared shingle)
    val pairEvents = stopShingleDf match {
      case Some(cap) =>
        cappedPairEvents(withN0, cap)
          .select(col("id_a"), col("id_b"), col("na"), col("nb"))
      case None =>
        // exact twin: posting lists are unbounded, so the inverted-index
        // self-join is the only safe shape (a hot shingle would OOM a
        // collected list; the join just fans out)
        val a = withN0.as("a"); val b = withN0.as("b")
        a.join(b,
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
              col("a.n_sh") <= col("b.n_sh") * 2 && col("b.n_sh") <= col("a.n_sh") * 2)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
    }
    pairEvents
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), Num.pround(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Capped pair-event stream shared by the near-dup family and the cap
    * planners: one row per (ordered band-pruned pair, shared shingle),
    * carrying the shingle's posting-list size as `df` so a consumer can
    * re-evaluate ANY cap ≤ the one passed (q440's recall frontier).
    *
    * Posting-list pair expansion (round 11): the df guard bounds every
    * posting list at `cap` entries, so the pairs can be generated
    * ROW-LOCALLY from a per-shingle collected list — emit the C(df,2)
    * ordered band-pruned pairs with a bounded nested transform instead
    * of the inverted-index self-join. Buffer safety on HOT shingles:
    * a row_number prefix keeps only cap+1 postings per shingle BEFORE
    * collect_list ever buffers them (the sort is external/spill-safe;
    * an unguarded collect would materialize the full hot list in the
    * aggregation buffer — the exact OOM the guard exists to prevent),
    * and any list that hits the cap+1 sentinel is dropped whole by
    * the size filter — identical semantics to the df aggregate (a hot
    * shingle contributes nothing either way). One exchange carries
    * the posting stream (window + collect reuse its partitioning) and
    * one carries the pair counts, vs four in the old guarded-join
    * form — measured ~2x on the whole q31-consumer family at sf0.1.
    *
    * `withN0` = the (doc_id, n_sh, s) exploded shingle stream.
    */
  private[ops] def cappedPairEvents(withN0: DataFrame, cap: Int): DataFrame = {
    val width = withN0.sparkSession.sparkContext.defaultParallelism
    val wS = Window.partitionBy(col("s")).orderBy(col("doc_id"))
    // explicit-width exchange on the posting key: HashPartitioning(s, width)
    // satisfies the window's and the posting groupBy's distribution, so this
    // REPLACES the window's own exchange rather than adding one — but, being
    // explicit, it is not AQE-coalescible. Byte-based coalescing squeezes
    // this CPU-dense stage (posting sort + bounded pair fan-out) to ~3 tasks
    // at test-SF byte sizes (measured 0.9 s of q31's 2.0 s serialized there);
    // bytes per row here are tiny relative to CPU, so the byte heuristic
    // undersizes it at ANY scale. Width derives from the session.
    val posts = withN0.repartition(width, col("s"))
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= cap + 1)
      .groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id").as("d"), col("n_sh").as("n"))).as("ps"))
      .filter(size(col("ps")) >= 2 && size(col("ps")) <= cap)
    posts.select(size(col("ps")).cast("long").as("df"), explode(expr(
      """flatten(transform(ps, (x, i) ->
        |  filter(transform(slice(ps, i + 2, size(ps)), y ->
        |    if(x.d < y.d,
        |       named_struct('id_a', x.d, 'id_b', y.d, 'na', x.n, 'nb', y.n),
        |       named_struct('id_a', y.d, 'id_b', x.d, 'na', y.n, 'nb', x.n))),
        |    p -> p.na <= p.nb * 2L AND p.nb <= p.na * 2L)))""".stripMargin)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.na").as("na"), col("p.nb").as("nb"), col("df"))
  }

  /** The exploded (doc_id, n_sh, s) shingle stream q31's family and the
    * cap planners share. The explicit-width repartition spreads the
    * row-local tokenize + shingle + explode grind across the session
    * width BEFORE it runs (q32's rule): a test-SF corpus scans as ONE
    * parquet split, so without it the whole CPU-dense pass serializes on
    * a single task (measured 0.6 s of q31's 2.0 s at sf0.1) — and a
    * column-only repartition is AQE-coalescible right back to that one
    * task at these byte sizes. Width derives from the session, never a
    * constant. */
  private[ops] def shingleStream(docs: DataFrame): DataFrame = {
    val width = docs.sparkSession.sparkContext.defaultParallelism
    shingleArrays(docs.repartition(width, col("doc_id")))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        explode(col("sh")).as("s"))
      .filter(col("n_sh") > 0)
  }

  val q31Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |shc AS (
       |  SELECT sh.doc_id, sh.s FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $StopShingleDf) ok
       |    USING (s)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  FLOOR((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------------
  // q32 — MinHash + LSH banding near-dup (the scale path: candidates come
  // from equality joins on band signatures — no quadratic shingle blowup —
  // then only candidates pay the exact-Jaccard verification).
  // k=32 minhashes, 16 bands × r=2 → P(candidate | j=0.5) ≈ 0.99.
  // Hash family (round 12): 32-bit slices of md5(s || '#0') ++ … ++
  // md5(s || '#7') — portable (both engines implement the same RFC,
  // unlike xxhash64) — so the WHOLE query replays in DuckDB and q32
  // carries its own independent signature-replay oracle (previously
  // checkable only by pair-set identity to q31). Recall vs exact q31
  // stays asserted in TextOpsSpec.
  def q32MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Stay inside whole-stage codegen: explode shingles once, hash each
    // shingle EIGHT times (md5(s || '#k'), k = 0..7 → 8 × 32 hex chars =
    // 1024 pseudorandom bits), then the 32 minhash functions are 32
    // codegen'd MIN aggregates over disjoint 8-hex-char (32-bit) slices
    // of that digest — the standard split-one-wide-hash minhash family
    // at a quarter of the 32-md5-per-shingle hashing cost (which
    // measured 3.4 s vs the old xxhash form's 0.8 s at sf0.1).
    // Lexicographic min on fixed-length lowercase hex is identical in
    // both engines. One shuffle of 32 8-char partial aggregates per
    // doc; the hashes themselves never hit the wire.
    // shingle arrays are row-local, so the verification side (base) is a
    // plain projection — no collect_list re-aggregation of exploded edges.
    // Lazy checkpoints (§8.22): base feeds the signature build AND both
    // sides of the verification join, sig feeds both sides of the banded
    // candidate self-join — without the flatten each consumer re-runs the
    // shingle + 8-md5 pipeline (measured 9 s vs ~1.3 s at sf0.1). The
    // The repartition spreads the row-local shingle + 8-md5 grind across
    // the session width BEFORE the checkpoints materialize it (a single
    // test-SF parquet file otherwise scans as ONE task and serializes
    // the whole pass). The width is EXPLICIT: a column-only repartition
    // is AQE-coalescible, and at ~10 MB of text AQE folds it back to one
    // partition — re-serializing the grind it exists to spread
    // (measured: the signature aggregate as a single 8 s task).
    val width = docs.sparkSession.sparkContext.defaultParallelism
    val base = shingleArrays(docs.repartition(width, col("doc_id")))
      .localCheckpoint(true)
    val sig = minhashSignatures(base).localCheckpoint(true)
    // 16 bands × r=2: band signature = hash of the band's two minhashes
    // (longs rendered base-10 — identical in both engines, no padding)
    val bandCols = array(Seq.tabulate(16)(b =>
      md5(concat(col(s"m${2 * b}").cast("string"), lit(":"),
        col(s"m${2 * b + 1}").cast("string")))): _*)
    val banded = sig.select(col("doc_id"), posexplode(bandCols))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact-Jaccard verification only for the (few) candidates. Only the
    // SLIM pair-key frame (two longs per row) is ever broadcast — once
    // per side — so `base` streams in place both times and its shingle
    // ARRAYS are never broadcast (left to itself the planner picked
    // `base` as build side: an 8 s single-build-thread stage at sf0.1)
    // and never shuffled. The final zip of the two candidate-sized
    // array-carrying frames is hinted SHUFFLE_HASH, NOT broadcast: a
    // broadcast there would collect O(pairs × shingle arrays) on the
    // driver — exactly the frame that explodes if banding ever degrades
    // toward all-pairs (the failure mode MinhashSignatureSpec
    // documents); a shuffle-hash join degrades to a distributed shuffle
    // of candidate rows instead.
    // Both broadcasts share the identical `cand` child plan, so AQE's
    // runtime stage dedup materializes the pair-key broadcast ONCE
    // (MinhashSignatureSpec asserts the builds are canonically shared
    // and that NO broadcast in this plan carries an array column) — no
    // checkpoint needed and the banded join runs a single time.
    val withA = broadcast(cand)
      .join(base.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
    val withB = broadcast(cand)
      .join(base.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("sh_b"))
    val pairs = withA.hint("shuffle_hash")
      .join(withB, Seq("id_a", "id_b"))
    pairs
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), Num.pround(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** (doc_id, m0..m31 BIGINT) — q32's 32-slice md5 minhash signature
    * frame, factored out so MinhashSignatureSpec can pin non-degeneracy:
    * every slice must be a real 32-bit value with cross-doc variation (a
    * slice offset past the concatenated digest's length silently yields
    * the same value for EVERY doc, collapsing its bands to one all-docs
    * bucket and the candidate join to all-pairs — correctness survives
    * the exact-Jaccard verify, but the 100 TB shape dies). */
  private[graft] def minhashSignatures(base: DataFrame): DataFrame = {
    // Each slice converts hex → BIGINT before the MIN (order-preserving
    // for fixed-length hex): a StringType aggregation buffer is not
    // UnsafeRow-mutable, so min-over-string silently planned as
    // SortAggregate — a full sort of the 256-char digest stream per run
    // (measured 6 s at sf0.1); long buffers keep all 32 mins in one
    // codegen'd HashAggregate. No repartition here: the hash grind and
    // the partial aggregate run on the CALLER's layout (q32 pre-spreads
    // the single test-SF parquet partition), and map-side combine means
    // the one exchange carries 32 longs per doc — never the exploded
    // 256-hex-char digest stream (an exchange of that stream was the
    // 3.6 s version of this aggregate).
    val edges = base.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        concat(Seq.tabulate(8)(k =>
          md5(concat(col("s"), lit(s"#$k")))): _*).as("h"))
    val minCols = Seq.tabulate(32)(i =>
      min(conv(substring(col("h"), 8 * i + 1, 8), 16, 10).cast("long")).as(s"m$i"))
    edges.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** (doc_id, band, band_sig) — q32's 16-band signature rows for a
    * document frame, factored for the incremental index family (q447):
    * the same 32-slice md5 minhash signatures, banded 16 × r=2. No
    * checkpoints here — callers decide materialization. */
  private[graft] def bandedSignatures(docs: DataFrame): DataFrame = {
    val width = docs.sparkSession.sparkContext.defaultParallelism
    val sig = minhashSignatures(
      shingleArrays(docs.repartition(width, col("doc_id"))))
    val bandCols = array(Seq.tabulate(16)(b =>
      md5(concat(col(s"m${2 * b}").cast("string"), lit(":"),
        col(s"m${2 * b + 1}").cast("string")))): _*)
    sig.select(col("doc_id"), posexplode(bandCols))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")
  }

  // --------------------------------------------------------------------------
  // q447 — INCREMENTAL BANDED-INDEX INGEST: the maintenance shape a
  // GROWING 100 TB corpus actually needs — q32's (band, band_sig,
  // doc_id) signature index PERSISTED as a table, and each ingest batch
  // deduped against the INDEX, not the corpus:
  //   1. candidate generation = batch signatures ⋈ persisted index on
  //      (band, band_sig) — O(batch × collisions), never O(corpus);
  //   2. exact-Jaccard verification on candidate docs ONLY (shingles
  //      recomputed for the candidate id set, not the corpus);
  //   3. index UPSERT by APPEND + tombstone (BandIndex's LSM layout) —
  //      O(batch) write IO, idempotent re-ingest (IncrementalIndexSpec),
  //      census maintained incrementally, never by re-scanning.
  // Readout: per-batch incoming / near-dup / novel counts + the index
  // doc-count growth curve. Batch assignment is a deterministic md5
  // split (batch 0 seeds the index; 1..3 ingest in order).
  //
  // Oracle: DuckDB replays the identical signature family end-to-end;
  // "index state before batch b" = seed ∪ batches < b (deterministic
  // batches), so the sequential loop flattens into one query.
  //
  // Scale: per-batch cost is the batch's signature build + a key join
  // against the index + candidate-only verification + an O(batch) delta
  // append (measured on both axes, SURVEY §8.27/§8.28: batch-count
  // decades — per-batch 4.61 s → 0.75 s at 1 → 100 batches — and a
  // 1×/10×/100× corpus axis at fixed batch size). The temp index root is
  // deleted after the readout is collected (ADVICE r13).
  def q447IncrementalBandIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("batch",
      expr("cast(conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 4), 16, 10) as bigint) % 4"))
    val idxRoot = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    try {
      var st = BandIndex.seed(spark, idxRoot, docs.filter(col("batch") === 0))
      // all three batch sizes in ONE aggregate up front — a count job per
      // ingest step was pure scheduler floor
      val incoming = docs.filter(col("batch") >= 1).groupBy(col("batch"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val out = (1 to 3).map { b =>
        val r = BandIndex.ingest(spark, idxRoot, docs.filter(col("batch") === b),
          docs, prev = Some(st), incomingHint = Some(incoming(b.toLong)))
        st = r.state
        (b.toLong, r.incoming, r.nearDup, r.incoming - r.nearDup, r.indexDocs)
      }
      import spark.implicits._
      out.toDF("batch", "incoming", "near_dup", "novel", "index_docs")
        .orderBy(col("batch"))
    } finally BandIndex.deleteRoot(spark, idxRoot)
  }

  val q447Sql: String = {
    val pivot = (0 until 32)
      .map(i => s"MIN(('0x' || substring(h, ${8 * i + 1}, 8))::BIGINT) AS m$i")
      .mkString(",\n       |    ")
    val bands = (0 until 16).map { b =>
      val e = s"md5(m${2 * b}::VARCHAR || ':' || m${2 * b + 1}::VARCHAR)"
      if (b == 0) s"SELECT doc_id, 0 AS band, $e AS bsig FROM sig"
      else s"SELECT doc_id, $b, $e FROM sig"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    ('0x' || substr(md5('batch:' || doc_id::VARCHAR), 1, 4))::BIGINT % 4
       |      AS batch
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM d),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |hs AS (
       |  SELECT doc_id,
       |    ${(0 until 8).map(k => s"md5(s || '#$k')").mkString(" || ")} AS h
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $pivot
       |  FROM hs GROUP BY doc_id),
       |banded AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT da.batch, a.doc_id, b.doc_id AS id_ex
       |  FROM banded a JOIN d da ON da.doc_id = a.doc_id
       |  JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
       |    AND a.doc_id <> b.doc_id
       |  JOIN d db ON db.doc_id = b.doc_id
       |  WHERE da.batch >= 1 AND db.batch < da.batch),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |nears AS (
       |  SELECT DISTINCT c.batch, c.doc_id FROM (
       |    SELECT c.batch, c.doc_id, c.id_ex, COUNT(*) AS inter
       |    FROM cand c
       |    JOIN sh x ON x.doc_id = c.doc_id
       |    JOIN sh y ON y.doc_id = c.id_ex AND y.s = x.s
       |    GROUP BY 1, 2, 3) c
       |  JOIN sizes sa ON sa.doc_id = c.doc_id
       |  JOIN sizes sb ON sb.doc_id = c.id_ex
       |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
       |per AS (
       |  SELECT batch, COUNT(*) AS incoming FROM d WHERE batch >= 1
       |  GROUP BY batch),
       |nd AS (SELECT batch, COUNT(*) AS near_dup FROM nears GROUP BY batch),
       |ix AS (
       |  SELECT p.batch, COUNT(DISTINCT s.doc_id) AS index_docs
       |  FROM (SELECT DISTINCT batch FROM d WHERE batch >= 1) p
       |  JOIN d dd ON dd.batch <= p.batch
       |  JOIN sh s ON s.doc_id = dd.doc_id
       |  GROUP BY p.batch)
       |SELECT p.batch, p.incoming,
       |  CAST(COALESCE(nd.near_dup, 0) AS BIGINT) AS near_dup,
       |  CAST(p.incoming - COALESCE(nd.near_dup, 0) AS BIGINT) AS novel,
       |  ix.index_docs
       |FROM per p
       |LEFT JOIN nd ON nd.batch = p.batch
       |JOIN ix ON ix.batch = p.batch
       |ORDER BY p.batch""".stripMargin
  }

  /** q32's FULL independent replay (round 12): DuckDB rebuilds the same
    * 32 md5 minhashes, the same 16 band signatures, the same banded
    * candidate join, and the same exact-Jaccard verification — so the
    * oracle now checks the signature pipeline itself, not just the final
    * pair set's identity to q31. A hash/banding divergence OR a recall
    * miss both surface as a hash mismatch. */
  val q32Sql: String = {
    val pivot = (0 until 32)
      .map(i => s"MIN(('0x' || substring(h, ${8 * i + 1}, 8))::BIGINT) AS m$i")
      .mkString(",\n       |    ")
    val bands = (0 until 16).map { b =>
      val expr = s"md5(m${2 * b}::VARCHAR || ':' || m${2 * b + 1}::VARCHAR)"
      if (b == 0) s"SELECT doc_id, 0 AS band, $expr AS bsig FROM sig"
      else s"SELECT doc_id, $b, $expr FROM sig"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |hs AS (
       |  SELECT doc_id,
       |    ${(0 until 8).map(k => s"md5(s || '#$k')").mkString(" || ")} AS h
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $pivot
       |  FROM hs GROUP BY doc_id),
       |banded AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT id_a, id_b, COUNT(*) AS inter
       |  FROM cand
       |  JOIN sh x ON x.doc_id = id_a
       |  JOIN sh y ON y.doc_id = id_b AND y.s = x.s
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  FLOOR((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q33 — SimHash near-dup: 60-bit signature from unigram hash bit votes;
  // candidates via 4×15-bit band equality (any pair within hamming ≤ 3
  // shares at least one intact band — pigeonhole), verified by bit_count.
  // Token hash = first 15 hex chars of md5 (60 bits, fits signed BIGINT in
  // both engines) — engine-portable, unlike xxhash64, so the whole query
  // is DuckDB-oracle-expressible.
  def q33Simhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Bit votes as 60 codegen'd SUM aggregates over exploded tokens —
    // whole-stage-codegen HashAggregate instead of nested interpreted
    // lambda folds (measured 11.8s → sub-second at sf0.1).
    val bitSums = Seq.tabulate(60)(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"b$b"))
    val toLong = Seq.tabulate(60)(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    // explicit-width spread of the single-split scan (q32's rule): the
    // tokenize + per-token md5 + 60-way partial vote aggregate otherwise
    // serializes on one task at test-SF byte sizes
    val width = docs.sparkSession.sparkContext.defaultParallelism
    val sig = tokenEdges(docs.repartition(width, col("doc_id")))
      .withColumn("h", expr("cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", toLong)
      .select(col("doc_id"), col("simhash"))
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (simhash >> (b * 15)) & 32767)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_bits")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_bits") === col("b.band_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q33Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(t) AS w
       |  FROM (SELECT doc_id, $toksSqlD AS t FROM documents)),
       |h AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(w), 1, 15))::UBIGINT AS BIGINT) AS h
       |  FROM tok),
       |votes AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN range(60) AS r(b) GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
       |  FROM votes GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, simhash, b AS band,
       |    (simhash >> (b * 15)) & 32767 AS band_bits
       |  FROM sig CROSS JOIN range(4) AS r(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_bits = b.band_bits
       |   AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------------
  // q34 — language ID by stopword-set voting (n-gram-heuristic family):
  // count hits per language set, argmax with fixed tie-break en>es>de.
  private val enSet = "array('the', 'a', 'of', 'and', 'to', 'is')"
  private val esSet = "array('el', 'la', 'de', 'y', 'que', 'en')"
  private val deSet = "array('der', 'die', 'das', 'und', 'ist', 'ein')"

  def q34LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("en_hits", expr(s"size(filter(toks, t -> array_contains($enSet, t)))"))
      .withColumn("es_hits", expr(s"size(filter(toks, t -> array_contains($esSet, t)))"))
      .withColumn("de_hits", expr(s"size(filter(toks, t -> array_contains($deSet, t)))"))
      .withColumn("guess",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") && col("en_hits") >= 1, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= 1, "es")
          .when(col("de_hits") >= 1, "de")
          .otherwise("unk"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("guess"))

  val q34Sql: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(list_filter(string_split(lower(text), ' '), t -> t != ''),
      |        t -> list_contains(['the','a','of','and','to','is'], t))) AS en_hits,
      |    len(list_filter(list_filter(string_split(lower(text), ' '), t -> t != ''),
      |        t -> list_contains(['el','la','de','y','que','en'], t))) AS es_hits,
      |    len(list_filter(list_filter(string_split(lower(text), ' '), t -> t != ''),
      |        t -> list_contains(['der','die','das','und','ist','ein'], t))) AS de_hits
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= 1 THEN 'en'
      |       WHEN es_hits >= de_hits AND es_hits >= 1 THEN 'es'
      |       WHEN de_hits >= 1 THEN 'de'
      |       ELSE 'unk' END AS guess,
      |  COUNT(*) AS n
      |FROM scored GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin

  // --------------------------------------------------------------------------
  // q35 — quality scoring: token count, average token length, stopword
  // ratio, punctuation count, composite score. All per-row arithmetic on
  // integers → exact cross-engine doubles.
  def q35Quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("char_sum", expr("aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)"))
      .withColumn("stop_hits", expr(s"size(filter(toks, t -> array_contains($enSet, t)))"))
      .withColumn("n_punct", length(regexp_replace(col("text"), "[^.!?,;:]", "")))
      .filter(col("n_tokens") > 0)
      .select(
        col("doc_id"),
        col("n_tokens"),
        Num.pround(col("char_sum").cast("double") / col("n_tokens"), 6).as("avg_token_len"),
        Num.pround(col("stop_hits").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
        col("n_punct"),
        Num.pround(
          least(col("n_tokens"), lit(50)).cast("double") / 50.0 * 0.6 +
            col("stop_hits").cast("double") / col("n_tokens") * 0.4, 6).as("quality_score"))
      .orderBy(col("doc_id"))

  val q35Sql: String =
    s"""WITH t AS (SELECT doc_id, text, $toksSqlD AS toks FROM documents),
       |m AS (SELECT doc_id,
       |    len(toks) AS n_tokens,
       |    list_sum(list_transform(toks, t -> length(t))) AS char_sum,
       |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to','is'], t))) AS stop_hits,
       |    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  FLOOR((CAST(char_sum AS DOUBLE) / n_tokens) * 1e6 + 0.5) / 1e6 AS avg_token_len,
       |  FLOOR((CAST(stop_hits AS DOUBLE) / n_tokens) * 1e6 + 0.5) / 1e6 AS stop_ratio,
       |  CAST(n_punct AS INT) AS n_punct,
       |  FLOOR((CAST(LEAST(n_tokens, 50) AS DOUBLE) / 50.0 * 0.6 +
       |        CAST(stop_hits AS DOUBLE) / n_tokens * 0.4) * 1e6 + 0.5) / 1e6 AS quality_score
       |FROM m WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q36 — token accounting per source: whitespace tokens + a deterministic
  // chars/4 BPE-ish token estimate (integer arithmetic only).
  def q36TokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).as("total_tokens"),
        sum(expr("(n_chars + 3) div 4")).as("est_bpe_tokens"),
        Num.pround(sum(size(col("toks"))).cast("double") / count(lit(1)), 6).as("avg_tokens"))
      .orderBy(col("source"))

  val q36Sql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len($toksSqlD)) AS BIGINT) AS total_tokens,
       |  CAST(SUM((n_chars + 3) // 4) AS BIGINT) AS est_bpe_tokens,
       |  FLOOR((CAST(SUM(len($toksSqlD)) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS avg_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // q37 — document fingerprint: lexicographic-min md5 over the document's
  // shingles (a 1-of-winnowing scheme; md5 is identical in both engines).
  def q37Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    shingleEdges(docs)
      .groupBy(col("doc_id"))
      .agg(min(md5(col("s"))).as("fingerprint"), count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  val q37Sql: String =
    s"""SELECT doc_id, MIN(md5(s)) AS fingerprint, COUNT(*) AS n_shingles
       |FROM (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i)))
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q39 — winnowing fingerprints (Schleimer/Wilkerson/Aiken scheme over word
  // 3-grams): hash every positional k-gram, take the minimum hash of each
  // 4-wide sliding window, keep the distinct selected hashes per document.
  // Guarantees any shared run of ≥6 tokens yields a shared fingerprint.
  // md5 (identical in both engines) with lexicographic min → oracle-exact.
  def q39Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, 3)
    kgramEdges(docs)
      .withColumn("h", md5(col("s")))
      .withColumn("wmin", min(col("h")).over(w))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      .orderBy(col("doc_id"))
  }

  val q39Sql: String =
    s"""WITH kg AS (
       |  SELECT doc_id, i AS pos, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
       |  FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
       |sel AS (
       |  SELECT DISTINCT doc_id,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |  FROM kg)
       |SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp
       |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q65 — TF-IDF: term frequency per (doc, term) × inverse document
  // frequency, top-5 terms per doc. Log arithmetic is per-row on identical
  // integer ratios → round(,6) absorbs any last-ulp libm differences; exact
  // score ties (same tf, same df) break on the term string.
  def q65TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // corpus size as a broadcast 1-row aggregate inside the SAME lazy plan
    // — not an eager driver-side count() job. Counts ALL docs (incl.
    // token-less ones, which the tf lineage can't see), over a
    // doc_id-pruned scan.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = tokenEdges(docs).groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    // rank on the ROUNDED score: ln() is not correctly rounded, so a
    // last-ulp libm difference between engines could otherwise flip ranks
    // at near-ties; rounding makes near-ties exact ties, broken by term.
    // df as a COUNT window over the single tf lineage, NOT a separate
    // aggregate joined back — Catalyst does not reuse common subplans, so
    // the join shape scans + explodes the corpus twice (q87 lesson, §8.5).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w").asc)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", Num.pround(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("rn"), col("w").as("term"), col("score").as("tfidf"))
      .orderBy(col("doc_id"), col("rn"))
  }

  val q65Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSqlD) AS w FROM documents),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, w, FLOOR((tf * ln(CAST(n.n AS DOUBLE) / df.df)) * 1e6 + 0.5) / 1e6 AS score
       |  FROM tf JOIN df USING (w) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, w, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, w ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, CAST(rn AS INT) AS rn, w AS term, FLOOR((score) * 1e6 + 0.5) / 1e6 AS tfidf
       |FROM ranked WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin

  // --------------------------------------------------------------------------
  // q66 — corpus n-gram statistics: top-20 bigrams by frequency (count desc,
  // bigram asc). One explode + window lead + hash agg + TakeOrdered.
  def q66NgramCounts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tokenEdges(Tables.documents(spark, dir))
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(concat_ws(" ", col("w"), col("w1")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)
  }

  val q66Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, i AS pos, t[i] AS w, t[i+1] AS w1
       |  FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |       UNNEST(generate_series(1, len(t) - 1)) AS u(i))
       |SELECT w || ' ' || w1 AS bigram, COUNT(*) AS n
       |FROM tok GROUP BY 1 ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // q72 — fuzzy matching / dirty-dimension dedup by edit distance. Standard
  // scale shape: DISTINCT-project the (huge) fact column down to its
  // vocabulary first, then pair the vocabulary — 100 TB of parts collapses
  // to |vocab| rows before the quadratic step. Here the vocabulary is
  // all-pairs'd (broadcast nested-loop on a vocabulary-sized side) — the
  // BASELINE TWIN for q105 below, which blocks the vocabulary with an
  // exact q-gram count filter before the edit-distance verify and is the
  // large-vocabulary primary path (result-identical, same oracle).
  def q72FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
    val a = names.select(col("p_name").as("name_a"), col("n").as("n_a"))
    val b = names.select(col("p_name").as("name_b"), col("n").as("n_b"))
    a.join(broadcast(b),
        col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 2 &&
          levenshtein(col("name_a"), col("name_b")) <= 2)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  val q72Sql: String =
    """WITH names AS (SELECT p_name, COUNT(*) AS n FROM part GROUP BY 1)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
      |       a.n AS n_a, b.n AS n_b
      |FROM names a JOIN names b
      |  ON a.p_name < b.p_name
      | AND abs(len(a.p_name) - len(b.p_name)) <= 2
      | AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  // --------------------------------------------------------------------------
  // q105 — blocked fuzzy matching: the large-vocabulary scale path for
  // q72's semantics (same oracle). Exact q-gram count filtering (Gravano
  // et al., VLDB'01): strings within edit distance k share at least
  // max(|a|,|b|) − q + 1 − q·k q-grams AS A MULTISET. With q=2, k=2 the
  // bound is max_len − 5. Candidates come from an inverted-index
  // EQUI-join on occurrence-tagged 2-grams — tagging the i-th occurrence
  // of a repeated gram makes the multiset-intersection size a plain
  // join + group-count, the same shape as q31 — then the exact
  // levenshtein ≤ 2 verify runs only on pairs passing the count bound.
  // No all-pairs join anywhere (PlanSpec-asserted).
  //
  // The bound is vacuous when max(|a|,|b|) ≤ 5 (such pairs may share zero
  // grams), so strings ≤ 5 chars take a separate branch blocked on the
  // length pair (la, lb ∈ la±2) — an equi-join on length whose blocks are
  // bounded by the alphabet (|Σ|^5 distinct short strings), empty on this
  // data (min name length 7). Gram-frequency skew at a 100 TB vocabulary
  // is the AQE skew-join case; the count bound caps verify work per pair.
  def q105FuzzyBlocked(spark: SparkSession, dir: String): DataFrame =
    fuzzyBlockedPairs(
      Tables.part(spark, dir).groupBy(col("p_name")).agg(count(lit(1)).as("n")))

  /** names (p_name, n) → (name_a, name_b, dist, n_a, n_b): the q105 body,
    * factored so specs can feed synthetic vocabularies (the short-string
    * branch is empty on the test tables). */
  def fuzzyBlockedPairs(namesIn: DataFrame): DataFrame = {
    val names = namesIn.withColumn("len", length(col("p_name")))
    // occurrence-tagged 2-grams: (g, occ) identifies the occ-th copy of
    // gram g, so the equi-join below counts min(count_a(g), count_b(g))
    val grams = names.filter(col("len") >= 2)
      .select(col("p_name"), col("n"), col("len"),
        posexplode(expr("transform(sequence(1, len - 1), i -> substring(p_name, i, 2))")))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col("p_name"), col("col")).orderBy(col("pos"))))
      .select(col("p_name"), col("n"), col("len"), col("col").as("g"), col("occ"))
    val ga = grams.select(col("p_name").as("name_a"), col("n").as("n_a"),
      col("len").as("len_a"), col("g"), col("occ"))
    val gb = grams.select(col("p_name").as("name_b"), col("n").as("n_b"),
      col("len").as("len_b"), col("g"), col("occ"))
    val longPairs = ga.join(gb, Seq("g", "occ"))
      .filter(col("name_a") < col("name_b") &&
        abs(col("len_a") - col("len_b")) <= 2 &&
        greatest(col("len_a"), col("len_b")) >= 6)
      .groupBy(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
        col("len_a"), col("len_b"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= greatest(col("len_a"), col("len_b")) - 5)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"))
    // short class (max len ≤ 5): equi-join on the probed length pair
    val short = names.filter(col("len") <= 5)
    val probes = short.select(col("p_name").as("name_a"), col("n").as("n_a"),
        col("len").as("len_a"),
        explode(expr("sequence(greatest(len - 2, 1), least(len + 2, 5))")).as("len"))
    val shortPairs = probes
      .join(short.select(col("p_name").as("name_b"), col("n").as("n_b"), col("len")),
        Seq("len"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"))
    longPairs.union(shortPairs)
      .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .orderBy(col("name_a"), col("name_b"))
  }

  // --------------------------------------------------------------------------
  // q73 — Gopher-style repetition quality filter: per document, the share
  // of the top unigram and top bigram in the token stream; documents
  // dominated by one n-gram are boilerplate/spam. One explode + two
  // hash aggregations per grain (all codegen'd except the bigram window
  // sort, which reuses the shingling lesson from §8.5).
  def q73Repetition(spark: SparkSession, dir: String): DataFrame = {
    val te = tokenEdges(Tables.documents(spark, dir))
    val uni = te.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), max(col("c")).as("top_uni"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = te.withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w1")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_big"))
    uni.join(big, Seq("doc_id"))
      .select(
        col("doc_id"), col("n_words"),
        Num.pround(col("top_uni") / col("n_words"), 6).as("top_word_share"),
        Num.pround(col("top_big") / col("n_bigrams"), 6).as("top_bigram_share"),
        when(col("top_uni") / col("n_words") <= 0.10 &&
             col("top_big") / col("n_bigrams") <= 0.04, 1).otherwise(0).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q73Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, i AS pos, t[i] AS w, t[i+1] AS w1
       |  FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |       UNNEST(generate_series(1, len(t))) AS u(i)),
       |uni AS (
       |  SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_uni
       |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2)
       |  GROUP BY 1),
       |big AS (
       |  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_big
       |  FROM (SELECT doc_id, w || ' ' || w1 AS bg, COUNT(*) AS c FROM tok
       |        WHERE w1 IS NOT NULL GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT u.doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  FLOOR((top_uni / n_words) * 1e6 + 0.5) / 1e6 AS top_word_share,
       |  FLOOR((top_big / n_bigrams) * 1e6 + 0.5) / 1e6 AS top_bigram_share,
       |  CASE WHEN top_uni / n_words <= 0.10 AND top_big / n_bigrams <= 0.04
       |       THEN 1 ELSE 0 END AS keep
       |FROM uni u JOIN big USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q75 — mixture re-sampling: per-language keep rates (downsample the
  // majority language) with 1/rate loss re-weighting — the corpus-mixture
  // op every multilingual training pipeline runs. Sampling is a
  // DETERMINISTIC content hash (md5 prefix vs a hex threshold — the same
  // trick as q27, so reruns and engines agree), rates live in a tiny
  // broadcast dimension, and the filter is row-local: no shuffle at all,
  // any corpus size streams through map-side.
  // Threshold semantics: keep iff md5[0:2) < thresh; '40' = 64/256 = 25%,
  // 'zz' sorts above every hex digit = keep-all.
  def q75MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = Seq(
      ("en", "40", 4.0), // 25% of English, reweighted 4x
      ("de", "zz", 1.0), ("es", "zz", 1.0), ("fr", "zz", 1.0), ("zh", "zz", 1.0))
      .toDF("lang", "thresh", "weight")
    Tables.documents(spark, dir)
      .join(broadcast(rates), Seq("lang"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < col("thresh"))
      .select(col("doc_id"), col("lang"), col("weight"))
      .orderBy(col("doc_id"))
  }

  val q75Sql: String =
    """WITH rates(lang, thresh, weight) AS (VALUES
      |  ('en', '40', 4.0), ('de', 'zz', 1.0), ('es', 'zz', 1.0),
      |  ('fr', 'zz', 1.0), ('zh', 'zz', 1.0))
      |SELECT doc_id, d.lang, CAST(weight AS DOUBLE) AS weight
      |FROM documents d JOIN rates r ON d.lang = r.lang
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < thresh
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q79 — BPE-style pre-tokenization: GPT-2-family pre-tokenizers split on
  // a regex (letter runs / digit runs / punctuation runs, each with an
  // optional leading space) BEFORE byte-pair merging; counting those
  // pieces is the standard fast token estimator. Pattern kept in the
  // backreference-free subset so Java regex (Spark) and RE2 (DuckDB)
  // agree byte-for-byte. Row-local → codegen'd, shuffle only for the
  // per-source rollup.
  private val bpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"

  def q79BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0))).as("n_pieces"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_pieces")).as("total_pieces"),
        Num.pround(sum(col("n_chars")).cast("double") / sum(col("n_pieces")), 6)
          .as("chars_per_piece"))
      .orderBy(col("source"))

  val q79Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +'))) AS BIGINT) AS total_pieces,
      |  FLOOR((CAST(SUM(n_chars) AS DOUBLE)
      |        / SUM(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')))) * 1e6 + 0.5) / 1e6 AS chars_per_piece
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // q81 — BM25 scoring (k1=1.2, b=0.75) of the corpus against a fixed term
  // query: the standard retrieval primitive for training-data curation
  // (query-targeted subset selection). Three int-exact aggregations (tf,
  // df, doc length) then row-local double math — deterministic cross-
  // engine; only ln() could differ in the last ulp, absorbed by ROUND(,6).
  // Scale: df/avgdl are scalar broadcasts; tf is one explode + hash agg on
  // (doc, term) — no shuffle beyond the aggregations.
  private val bm25Terms = Seq("spark", "table")

  def q81Bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // doc length is row-local (size of the token array) — no explode, no
    // shuffle; the exploded stream is only built for the filtered query
    // terms. Was: dlen aggregated from a second full token explode.
    val dlenAll = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val dlen = dlenAll.filter(col("dl") > 0)
    // ONE broadcast 1-row aggregate carries BOTH scalars: avgdl over the
    // tokenized docs (exact long sum / count — incremental double
    // accumulation is order-dependent and engine-specific) and the corpus
    // size n over ALL docs. Was: a separate eager docs.count() driver job
    // = one extra full corpus scan per execution.
    val stats = dlenAll.agg(
      (sum(when(col("dl") > 0, col("dl"))).cast("double") /
        count(when(col("dl") > 0, lit(1)))).as("avgdl"),
      count(lit(1)).as("n"))
    val tf = tokenEdges(docs).filter(col("w").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    // term df as a window over the single tf lineage (q87 lesson, §8.5)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score",
        col("idf") * col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(Num.pround(sum(col("score")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  val q81Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, t[i] AS w
       |  FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |       UNNEST(generate_series(1, len(t))) AS u(i)),
       |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlen),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
       |       WHERE w IN ('spark', 'table') GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, FLOOR((SUM(
       |    ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |    * tf.tf * 2.2
       |    / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl)))) * 1e6 + 0.5) / 1e6 AS bm25
       |FROM tf JOIN df USING (w) JOIN dlen USING (doc_id), stats, n
       |GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // q82 — near-dup CLUSTERS from pair output: connected components by
  // min-label propagation (each round: every vertex takes the min label in
  // its neighborhood; converges in graph-diameter rounds — dup clusters
  // are shallow). This is the step that turns pairwise dedup (q31/q32/q49)
  // into canonical-document selection. Lineage is truncated per round with
  // an eager localCheckpoint; at 100 TB use the same loop with
  // reliable checkpointing, or large-star/small-star (Kiveris et al.) to
  // bound rounds at O(log n) on high-diameter graphs.
  /** edges: two Long columns (a, b), undirected. Returns (id, label).
    *
    * Convergence check: labels only ever DECREASE under min-propagation
    * and the id set is fixed, so the fixpoint is reached exactly when
    * sum(label) stops changing — one cheap aggregate per round instead of
    * a join-and-compare against the previous labels.
    *
    * Stalled-round guard: min-label propagation needs graph-diameter
    * rounds; dup clusters are shallow (2-4) but a pathological
    * high-diameter input (a chain of borderline near-dups) would balloon
    * the round count. After `maxPropagationRounds` unconverged rounds the
    * loop abandons its labels and restarts on [[connectedComponentsStar]]
    * (O(log² n) rounds on any graph) — same (id, label) contract.
    */
  def connectedComponents(edges: DataFrame, maxPropagationRounds: Int = 5): DataFrame = {
    val e = edges.toDF("a", "b")
    // EAGER checkpoints in the propagation loop — measured both ways in
    // round 13: the lazy fuse-materialize-into-the-sum form saves one
    // job per round, but a lazily-checkpointed frame is captured BEFORE
    // the final AQE pass, so every round's |vertices|-sized frame stays
    // at the full shuffle width instead of AQE-coalescing to a few
    // right-sized partitions — and q82 (data-sized vertex set, AQE on)
    // paid 4.7 s vs 3.0 s for it. Eager wins for DATA-SIZED loop frames
    // under AQE; the lazy fusion wins only inside a narrow-shuffle
    // AQE-off scope.
    val sym = e.union(e.select(col("b"), col("a"))) // positional union = swap
      .distinct()
      .localCheckpoint(true)
    // star contraction + full-vertex re-attach: star only emits vertices
    // incident to a REAL edge, so vertices whose only incidences are
    // self-loops (singleton components) are restored with label = own id.
    // Caught by a ScalaCheck graph mixing a diameter-7 path with
    // self-loop-only vertices.
    def starEscape(): DataFrame = {
      val star = connectedComponentsStar(e)
      sym.select(col("a").as("id")).distinct()
        .join(star, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    }
    // initialize with the first propagation hop folded in: label =
    // min(id, neighbors) is exactly what round 1 would compute from
    // label = id, at the cost of one groupBy instead of a
    // join + union + groupBy + checkpoint round
    var labels = sym.groupBy(col("a"))
      .agg(min(least(col("a"), col("b"))).as("label"))
      .withColumnRenamed("a", "id")
      .localCheckpoint(true)
    def labelSum(df: DataFrame): BigDecimal =
      // exact decimal sum: immune to long overflow on huge id spaces;
      // null (empty vertex set) folds to 0 so empty input converges
      Option(df.agg(sum(col("label").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      if (rounds > maxPropagationRounds) {
        // escape hatch for graphs that turn out high-diameter
        Checkpoints.release(labels) // abandoned labels only pin memory now
        return starEscape()
      }
      val prop = sym.join(labels.withColumnRenamed("id", "b_id"), col("b") === col("b_id"))
        .select(col("a").as("id"), col("label"))
      val next = labels.union(prop)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true) // eager: see the AQE-coalescing note above
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      // next is now materialized, so round k-1's frame is garbage —
      // free it now or the loop pins O(rounds) × |vertices| blocks
      Checkpoints.release(labels)
      labels = next
    }
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log² n) rounds on ANY graph, vs
    * graph-diameter rounds for [[connectedComponents]]' min-label
    * propagation. Same contract: edges (a, b) undirected → (id, label)
    * with label = min id of the component. This is the 100 TB path for
    * high-diameter graphs (long chains); q82 keeps label propagation
    * because near-dup clusters are shallow.
    *
    * Large-star hangs every neighbor LARGER than the center onto the
    * center's minimum neighbor; small-star re-hangs the smaller ones.
    * Each op is one groupBy + one row-local rewrite — two shuffles per
    * round, edge count never grows beyond the symmetric closure.
    */
  def connectedComponentsStar(edges: DataFrame): DataFrame = {
    val e0 = edges.toDF("a", "b")
    // lazy checkpoint + count-as-materializer (vs eager + isEmpty —
    // two sequential jobs for one frame): the full count both
    // materializes the deduped edge set and answers the emptiness check
    var e = e0.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(false)
    if (e.count() == 0L) return e0.select(col("a").as("id"), col("a").as("label")).limit(0)

    // one star op: group the symmetric edge list by center, attach each
    // selected neighbor to min(center, its neighbors). Both the
    // symmetrization and the small-star re-hang are written as ONE-pass
    // explodes, NOT self-unions: a union consumes its input twice, so a
    // chain of k stars would duplicate subtrees 2^k× when planned as one
    // query (measured: 5 s per 4-star batch at sf0.1 in the self-union
    // form) — the explode form keeps chained stars a LINEAR plan.
    def star(edgesUV: DataFrame, large: Boolean): DataFrame = {
      val sym = edgesUV.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val withMin = sym
        .withColumn("m", least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
      val out =
        if (large) withMin.filter(col("v") > col("u"))
          .select(col("v").as("u2"), col("m").as("v2"))
        else withMin.select(explode(
            when(col("v") <= col("u"), array(
              struct(col("v").as("x"), col("m")),
              struct(col("u").as("x"), col("m"))))
            .otherwise(array(struct(col("u").as("x"), col("m"))))).as("p"))
          .select(col("p.x").as("u2"), col("p.m").as("v2"))
      out.filter(col("u2") =!= col("v2"))
        .select(least(col("u2"), col("v2")).as("u"), greatest(col("u2"), col("v2")).as("v"))
        .distinct()
    }

    var fingerprint = BigDecimal(-1)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds < 64, "star contraction failed to converge in 64 rounds")
      // LAZY checkpoint + fingerprint-as-materializer (round 13): the
      // full-aggregate fingerprint is the first action on the round's
      // frame, so ONE job both materializes the contraction and reads
      // the convergence fingerprint — halving the per-round scheduler
      // cost vs eager-checkpoint-then-collect (the q255 job floor).
      // TWO large/small rounds per check: each check costs a job plus
      // its plan compilation (~0.3-0.4 s of pure driver/scheduler time
      // measured at sf0.1), while an extra contraction round past the
      // fixpoint is idempotent and nearly free — so probing every other
      // round trades ≤1 wasted round for half the checks. Convergence
      // is still exact: the fingerprint is a function of the edge set,
      // and the edge set is fixed once contraction stops changing it.
      // the explode-form star consumes its input ONCE, so the 4-star
      // batch plans as a single linear query — one plan compilation and
      // one checkpoint per check instead of four
      val next = star(star(star(star(
        e, large = true), large = false), large = true), large = false)
        .localCheckpoint(false)
      // order-independent edge-set fingerprint: exact decimal sum of a
      // per-edge hash + the edge count
      val row = next.agg(
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("c")).collect()(0)
      val fp = Option(row.getDecimal(0)).map(BigDecimal(_)).getOrElse(BigDecimal(0)) +
        BigDecimal(row.getLong(1))
      converged = fp == fingerprint
      fingerprint = fp
      // next is now materialized — the superseded round's edge set
      // is unreachable garbage; free it as the contraction advances
      Checkpoints.release(e)
      e = next
    }
    // fixpoint: edges are (root, child) after least/greatest normalization —
    // children take the root's id, roots label themselves
    e.select(col("u").as("id"), col("u").as("label"))
      .union(e.select(col("v").as("id"), col("u").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
  }

  /** [[connectedComponentsStar]] with the contraction loop on RAW RDDs —
    * the iterative-tail lever the round-13 verdict named: inside a
    * narrow-shuffle scope (AQE off, dimension-bounded frames) the
    * DataFrame loop's residual cost is per-check Catalyst work (~0.3-0.4s
    * of plan compilation per 4-star batch, SURVEY §8.27), which an RDD
    * loop does not pay — the DAG is built directly, one action per
    * check. Same star semantics op-for-op (m = min(center ∪ neighbors);
    * large-star re-hangs the bigger neighbors, small-star the smaller
    * ones + the center; normalize, dedup), same (id, label) contract,
    * proven label-identical to the DataFrame form on every
    * ConnectedComponentsSpec graph. Use ONLY where the vertex set is
    * dimension-bounded: `groupByKey` materializes per-center neighbor
    * lists, which is fine at |suppliers| and wrong at |documents| — the
    * DataFrame form stays the default and the 100 TB path.
    */
  def connectedComponentsStarRdd(edges: DataFrame, parts: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.toDF("a", "b")
    val norm = e0
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).cast("long").as("u"),
        greatest(col("a"), col("b")).cast("long").as("v"))
      .distinct()
    var e = norm.as[(Long, Long)].rdd.coalesce(parts, shuffle = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def star(in: org.apache.spark.rdd.RDD[(Long, Long)],
        large: Boolean): org.apache.spark.rdd.RDD[(Long, Long)] = {
      in.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .groupByKey(parts)
        .flatMap { case (u, vs) =>
          var m = u
          vs.foreach(v => if (v < m) m = v)
          val mm = m
          if (large) vs.iterator.filter(_ > u).map(v => (mm, v))
          else vs.iterator
            .flatMap(v => if (v <= u) Iterator((mm, v), (mm, u)) else Iterator((mm, u)))
            .filter(_._2 != mm)
        }
        .distinct(parts)
    }
    var fingerprint: (BigInt, Long) = (BigInt(-1), -1L)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds < 64, "star contraction failed to converge in 64 rounds")
      // same cadence as the DataFrame loop: 4 star ops per convergence
      // check, the check's aggregate doubling as the materializer
      val next = star(star(star(star(
          e, large = true), large = false), large = true), large = false)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fp = next.mapPartitions { it =>
        var h = BigInt(0); var c = 0L
        it.foreach { p =>
          h += BigInt(scala.util.hashing.MurmurHash3.productHash(p)); c += 1
        }
        Iterator((h, c))
      }.fold((BigInt(0), 0L)) { case ((h1, c1), (h2, c2)) => (h1 + h2, c1 + c2) }
      converged = fp == fingerprint
      fingerprint = fp
      e.unpersist(blocking = false)
      e = next
    }
    if (fingerprint._2 == 0L) {
      e.unpersist(blocking = false)
      return e0.select(col("a").cast("long").as("id"), col("a").cast("long").as("label")).limit(0)
    }
    e.flatMap { case (u, v) => Iterator((u, u), (v, u)) }
      .reduceByKey(math.min(_, _), parts)
      .toDF("id", "label")
  }

  /** pairs (id_a, id_b) → (doc_id, cluster, cluster_size): the q82 body,
    * factored out so specs can drive the full entry-point logic (incl. the
    * stalled-round escape to star contraction) with synthetic edge sets. */
  def clusterPairs(pairs: DataFrame, maxPropagationRounds: Int = 5): DataFrame = {
    val labels = connectedComponents(pairs, maxPropagationRounds)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(broadcast(sizes), "label")
      .select(col("id").as("doc_id"), col("label").as("cluster"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  def q82DedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterPairs(q31NgramJaccard(spark, dir).select(col("id_a"), col("id_b")))

  val q82Sql: String =
    s"""WITH RECURSIVE sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |shc AS (
       |  SELECT sh.doc_id, sh.s FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $StopShingleDf) ok
       |    USING (s)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (
       |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a)
       |SELECT l.doc_id, l.cluster, c.cluster_size
       |FROM labels l
       |JOIN (SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY 1) c
       |  USING (cluster)
       |ORDER BY l.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q152 — dedup SURVIVORSHIP (cluster-representative selection): the step
  // after clustering — keep exactly one document per near-dup cluster and
  // account for the drops. Representative = longest document, ties to the
  // smallest doc_id, chosen by a single-pass max_by over an EXACT packed
  // integer key (n_chars·1e8 − doc_id — q68's trick, so the cross-engine
  // comparison is integer, never double). Completes the dedup story:
  // detect (q31) → cluster (q82) → select survivor → drop the rest.
  // Scale: one slim join of cluster labels to (doc_id, n_chars) + one
  // hash aggregate per cluster; no window sort.
  def q152ClusterReps(spark: SparkSession, dir: String): DataFrame = {
    val byLen = expr("n_chars * 100000000 - doc_id")
    q82DedupClusters(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster"), col("cluster_size"))
      .agg(
        max_by(col("doc_id"), byLen).as("rep_doc_id"),
        max(col("n_chars")).as("rep_n_chars"))
      .select(col("cluster"), col("cluster_size"), col("rep_doc_id"),
        col("rep_n_chars"), (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("cluster"))
  }

  val q152Sql: String = {
    val prefix = q82Sql.substring(0, q82Sql.indexOf("SELECT l.doc_id"))
    prefix +
      """SELECT l.cluster, c.cluster_size,
        |  ARG_MAX(l.doc_id, d.n_chars * 100000000 - l.doc_id) AS rep_doc_id,
        |  MAX(d.n_chars) AS rep_n_chars,
        |  c.cluster_size - 1 AS n_dropped
        |FROM labels l
        |JOIN documents d ON d.doc_id = l.doc_id
        |JOIN (SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY 1) c
        |  USING (cluster)
        |GROUP BY l.cluster, c.cluster_size
        |ORDER BY l.cluster""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q426 — PER-SOURCE SURVIVOR RETENTION (round 11): what the full dedup
  // sweep — near-dup detection (q31), clustering (q82), survivorship
  // (q152) — actually COSTS each source: docs and token mass before vs
  // after dropping every non-representative cluster member, with ppm
  // retention rates. The post-sweep accounting every mixture plan
  // (q210/q329) must be re-weighted by: a source that loses 40% of its
  // token mass to dedup contributes 40% less than its raw share says,
  // and this is the table that says so.
  //
  // Scale: the shared (capped) pair pipeline + q152's rep selection —
  // one slim join of cluster labels to (doc_id, n_chars), one max_by per
  // cluster, one anti-join-shaped flag join on doc_id, one per-source
  // hash aggregate. The retention guard mirrors q422: a source whose
  // every doc is empty (zero token mass) reads as fully retained, not a
  // div-by-zero.
  def q426SurvivorRetention(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("size(filter(split(lower(text), ' '), t -> t != ''))")
          .cast("long").as("ntok"))
    val labeled = clusterPairs(
      q31NgramJaccard(spark, dir).select(col("id_a"), col("id_b")))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .localCheckpoint(false) // feeds the rep aggregate AND the drop join (q431's rule)
    val reps = labeled.groupBy(col("cluster"))
      .agg(max_by(col("doc_id"), expr("n_chars * 100000000 - doc_id")).as("rep"))
    val dropped = labeled.join(reps, "cluster")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"), lit(1).as("is_dropped"))
    docs.join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_before"), sum(col("ntok")).as("tokens_before"),
        count_if(col("is_dropped").isNull).as("docs_after"),
        sum(when(col("is_dropped").isNull, col("ntok")).otherwise(0L)).as("tokens_after"))
      .select(col("source"), col("docs_before"), col("tokens_before"),
        col("docs_after"), col("tokens_after"),
        expr("(1000000L * docs_after) div docs_before").as("docs_kept_ppm"),
        when(col("tokens_before") === 0, lit(1000000L))
          .otherwise(expr("(1000000L * tokens_after) div tokens_before"))
          .as("tokens_kept_ppm"))
      .orderBy(col("source"))
  }

  val q426Sql: String = {
    val prefix = q82Sql.substring(0, q82Sql.indexOf("SELECT l.doc_id"))
    prefix +
      s""",reps AS (
         |  SELECT cluster,
         |    ARG_MAX(l.doc_id, d.n_chars * 100000000 - l.doc_id) AS rep
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
         |  GROUP BY cluster),
         |dropped AS (
         |  SELECT l.doc_id FROM labels l JOIN reps r USING (cluster)
         |  WHERE l.doc_id <> r.rep),
         |base AS (
         |  SELECT doc_id, source, CAST(len($toksSqlD) AS BIGINT) AS ntok
         |  FROM documents)
         |SELECT source, COUNT(*) AS docs_before,
         |  CAST(SUM(ntok) AS BIGINT) AS tokens_before,
         |  CAST(COUNT(*) FILTER (dr.doc_id IS NULL) AS BIGINT) AS docs_after,
         |  CAST(COALESCE(SUM(ntok) FILTER (dr.doc_id IS NULL), 0) AS BIGINT)
         |    AS tokens_after,
         |  CAST((1000000 * COUNT(*) FILTER (dr.doc_id IS NULL)) // COUNT(*)
         |    AS BIGINT) AS docs_kept_ppm,
         |  CAST(CASE WHEN SUM(ntok) = 0 THEN 1000000
         |    ELSE (1000000 * COALESCE(SUM(ntok) FILTER (dr.doc_id IS NULL), 0))
         |      // SUM(ntok) END AS BIGINT) AS tokens_kept_ppm
         |FROM base b LEFT JOIN dropped dr ON dr.doc_id = b.doc_id
         |GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q431 — SURVIVOR-RULE SENSITIVITY (round 11): q426 prices ONE
  // survivorship rule (keep-longest); this prices the CHOICE of rule.
  // Per source: token mass kept under keep-first (min doc_id — what an
  // incremental pipeline does for free), keep-longest (q152's shipped
  // rule) and keep-stable-hash (min md5(doc_id) — order-independent
  // random pick), plus the max-minus-min swing in ppm of the source's
  // token mass. A source with a large swing is one whose mixture weight
  // silently depends on a dedup implementation detail — the number to
  // check BEFORE declaring per-source token budgets rule-independent.
  //
  // Scale: the shared capped pair pipeline + clustering; the rule
  // comparison itself is three aggregates over the labeled docs (a tiny
  // subset), one broadcast-sized rep join, one per-source hash aggregate.
  def q431SurvivorRuleSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        col("n_chars"), size(toks).cast("long").as("ntok"))
    val labeled = clusterPairs(
      q31NgramJaccard(spark, dir).select(col("id_a"), col("id_b")))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("cluster"), col("n_chars"))
      .localCheckpoint(false) // feeds the rep aggregate AND the flag join
    val reps = labeled.groupBy(col("cluster")).agg(
      min(col("doc_id")).as("rep_first"),
      max_by(col("doc_id"), expr("n_chars * 100000000 - doc_id")).as("rep_longest"),
      min_by(col("doc_id"), md5(col("doc_id").cast("string"))).as("rep_hash"))
    val flags = labeled.join(reps, "cluster")
      .select(col("doc_id"),
        (col("doc_id") === col("rep_first")).as("k_first"),
        (col("doc_id") === col("rep_longest")).as("k_longest"),
        (col("doc_id") === col("rep_hash")).as("k_hash"))
    docs.join(flags, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_before"), sum(col("ntok")).as("tokens_before"),
        sum(when(col("k_first").isNull || col("k_first"), col("ntok"))
          .otherwise(0L)).as("tok_first"),
        sum(when(col("k_longest").isNull || col("k_longest"), col("ntok"))
          .otherwise(0L)).as("tok_longest"),
        sum(when(col("k_hash").isNull || col("k_hash"), col("ntok"))
          .otherwise(0L)).as("tok_hash"))
      .withColumn("swing_ppm",
        when(col("tokens_before") === 0, lit(0L)).otherwise(expr(
          """(1000000L * (greatest(tok_first, tok_longest, tok_hash)
            |            - least(tok_first, tok_longest, tok_hash)))
            |  div tokens_before""".stripMargin)))
      .orderBy(col("source"))
  }

  val q431Sql: String = {
    val prefix = q82Sql.substring(0, q82Sql.indexOf("SELECT l.doc_id"))
    prefix +
      s""",reps AS (
         |  SELECT cluster,
         |    MIN(l.doc_id) AS rep_first,
         |    ARG_MAX(l.doc_id, d.n_chars * 100000000 - l.doc_id) AS rep_longest,
         |    ARG_MIN(l.doc_id, md5(l.doc_id::VARCHAR)) AS rep_hash
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
         |  GROUP BY cluster),
         |flags AS (
         |  SELECT l.doc_id,
         |    l.doc_id = r.rep_first AS k_first,
         |    l.doc_id = r.rep_longest AS k_longest,
         |    l.doc_id = r.rep_hash AS k_hash
         |  FROM labels l JOIN reps r USING (cluster)),
         |base AS (
         |  SELECT doc_id, source, CAST(len($toksSqlD) AS BIGINT) AS ntok
         |  FROM documents)
         |SELECT source, COUNT(*) AS docs_before,
         |  CAST(SUM(ntok) AS BIGINT) AS tokens_before,
         |  CAST(SUM(CASE WHEN f.k_first IS NULL OR f.k_first THEN ntok ELSE 0 END)
         |    AS BIGINT) AS tok_first,
         |  CAST(SUM(CASE WHEN f.k_longest IS NULL OR f.k_longest THEN ntok ELSE 0 END)
         |    AS BIGINT) AS tok_longest,
         |  CAST(SUM(CASE WHEN f.k_hash IS NULL OR f.k_hash THEN ntok ELSE 0 END)
         |    AS BIGINT) AS tok_hash,
         |  CAST(CASE WHEN SUM(ntok) = 0 THEN 0 ELSE
         |    (1000000 * (GREATEST(
         |        SUM(CASE WHEN f.k_first IS NULL OR f.k_first THEN ntok ELSE 0 END),
         |        SUM(CASE WHEN f.k_longest IS NULL OR f.k_longest THEN ntok ELSE 0 END),
         |        SUM(CASE WHEN f.k_hash IS NULL OR f.k_hash THEN ntok ELSE 0 END))
         |      - LEAST(
         |        SUM(CASE WHEN f.k_first IS NULL OR f.k_first THEN ntok ELSE 0 END),
         |        SUM(CASE WHEN f.k_longest IS NULL OR f.k_longest THEN ntok ELSE 0 END),
         |        SUM(CASE WHEN f.k_hash IS NULL OR f.k_hash THEN ntok ELSE 0 END))))
         |    // SUM(ntok) END AS BIGINT) AS swing_ppm
         |FROM base b LEFT JOIN flags f ON f.doc_id = b.doc_id
         |GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q432 — NEAR-DUP INGEST-GAP HISTOGRAM (round 11): how far apart (in
  // ingest order = doc_id) do near-dup pairs land? The log2-bucketed gap
  // distribution with a cumulative ppm prices the CACHE WINDOW an
  // incremental dedup (q415's shape) must hold: if 99% of pair mass sits
  // within gap < 2^k, a sliding index of the last 2^k docs catches 99%
  // of dups without ever re-scanning the corpus. The bucket boundary is
  // an exact-integer CASE chain (NOT float log2 — a power-of-two gap must
  // land in one bucket on both engines).
  //
  // Scale: the shared capped pair pipeline; the histogram is a hash
  // aggregate over ≤41 buckets and the cumulative window runs over that
  // bounded grid only.
  def q432DupIngestGap(spark: SparkSession, dir: String): DataFrame = {
    val buckets = q31NgramJaccard(spark, dir)
      .select(log2BucketCase("id_b - id_a").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    val total = buckets.agg(sum(col("n_pairs")).as("tot"))
    buckets.crossJoin(broadcast(total))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_ppm", expr("(1000000L * cum_pairs) div tot"))
      .select(col("bucket"), col("n_pairs"), col("cum_pairs"), col("cum_ppm"))
      .orderBy(col("bucket"))
  }

  val q432Sql: String = {
    val prefix = q82Sql.substring(0, q82Sql.indexOf("edges AS"))
    prefix +
      s"""hist AS (
         |  SELECT ${log2BucketCaseSql("id_b - id_a")} AS bucket,
         |    COUNT(*) AS n_pairs
         |  FROM pairs GROUP BY 1)
         |SELECT bucket, n_pairs,
         |  CAST(SUM(n_pairs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
         |    AS BIGINT) AS cum_pairs,
         |  CAST((1000000 * SUM(n_pairs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))
         |    // (SUM(n_pairs) OVER ()) AS BIGINT) AS cum_ppm
         |FROM hist ORDER BY bucket""".stripMargin
  }

  /** Exact-integer floor(log2(e)) for a positive BIGINT expression as a
    * CASE chain over power-of-two boundaries — shared verbatim between the
    * Spark plan and the DuckDB oracle so a boundary value (gap = 2^k)
    * buckets identically on both engines (float log2 would not guarantee
    * that). Covers gaps up to 2^40 (a trillion docs); larger lands in the
    * terminal bucket.
    */
  private def log2BucketCaseStr(e: String): String =
    (1 to 40).map(p => s"WHEN ($e) < ${1L << p} THEN ${p - 1}")
      .mkString("CASE ", " ", " ELSE 40 END")
  private def log2BucketCase(e: String): Column = expr(log2BucketCaseStr(e))
  private def log2BucketCaseSql(e: String): String = log2BucketCaseStr(e)

  // --------------------------------------------------------------------------
  // q437 — DEDUP SCOPE PLANNER (round 11): does this corpus need a GLOBAL
  // dedup sweep, or does per-source dedup (embarrassingly parallel, no
  // cross-source shuffle, runs inside each ingest partition) capture most
  // of the duplicate mass? Under the keep-first rule a doc is losable iff
  // it has a near-dup partner with a smaller doc_id; restricting partners
  // to the same source gives the per-source-only figure. capture_ppm =
  // within-scope losable token mass over global losable token mass — the
  // single number that decides the sweep topology (q417 shows WHERE the
  // cross-source mass sits; this prices whether it matters).
  //
  // Scale: the shared capped pair pipeline re-used for both scopes (one
  // localCheckpoint, two distinct-projections), two slim doc_id joins to
  // the (doc_id, source, ntok) projection, one global aggregate.
  def q437DedupScopePlanner(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks).cast("long").as("ntok"))
    val pairs = q31NgramJaccard(spark, dir)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(false) // feeds both scope projections
    val losGlobal = pairs.select(col("id_b").as("doc_id")).distinct()
      .withColumn("g", lit(1))
    val losWithin = pairs
      .join(docs.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .filter(col("sa") === col("sb"))
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("w", lit(1))
    docs.join(losGlobal, Seq("doc_id"), "left")
      .join(losWithin, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("docs_total"), sum(col("ntok")).as("tokens_total"),
        count_if(col("g").isNotNull).as("global_losable_docs"),
        sum(when(col("g").isNotNull, col("ntok")).otherwise(0L))
          .as("global_losable_tok"),
        count_if(col("w").isNotNull).as("within_losable_docs"),
        sum(when(col("w").isNotNull, col("ntok")).otherwise(0L))
          .as("within_losable_tok"))
      .withColumn("capture_ppm",
        when(col("global_losable_tok") === 0, lit(1000000L))
          .otherwise(expr("(1000000L * within_losable_tok) div global_losable_tok")))
  }

  val q437Sql: String = {
    val prefix = q82Sql.substring(0, q82Sql.indexOf("edges AS"))
    prefix +
      s"""base AS (
         |  SELECT doc_id, source, CAST(len($toksSqlD) AS BIGINT) AS ntok
         |  FROM documents),
         |los_g AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
         |los_w AS (
         |  SELECT DISTINCT p.id_b AS doc_id FROM pairs p
         |  JOIN base a ON a.doc_id = p.id_a
         |  JOIN base b ON b.doc_id = p.id_b
         |  WHERE a.source = b.source)
         |SELECT COUNT(*) AS docs_total, CAST(SUM(ntok) AS BIGINT) AS tokens_total,
         |  CAST(COUNT(*) FILTER (g.doc_id IS NOT NULL) AS BIGINT)
         |    AS global_losable_docs,
         |  CAST(COALESCE(SUM(ntok) FILTER (g.doc_id IS NOT NULL), 0) AS BIGINT)
         |    AS global_losable_tok,
         |  CAST(COUNT(*) FILTER (w.doc_id IS NOT NULL) AS BIGINT)
         |    AS within_losable_docs,
         |  CAST(COALESCE(SUM(ntok) FILTER (w.doc_id IS NOT NULL), 0) AS BIGINT)
         |    AS within_losable_tok,
         |  CAST(CASE WHEN COALESCE(SUM(ntok) FILTER (g.doc_id IS NOT NULL), 0) = 0
         |    THEN 1000000
         |    ELSE (1000000 * COALESCE(SUM(ntok) FILTER (w.doc_id IS NOT NULL), 0))
         |      // SUM(ntok) FILTER (g.doc_id IS NOT NULL) END AS BIGINT)
         |    AS capture_ppm
         |FROM base d
         |LEFT JOIN los_g g ON g.doc_id = d.doc_id
         |LEFT JOIN los_w w ON w.doc_id = d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q441 — NEAR-DUP EDIT-LOCUS CENSUS (round 11): WHERE do near-dup pairs
  // differ? Per pair: common token prefix (cp) and suffix (cs, capped so
  // cp + cs ≤ min length), and the census — end-only pairs (cp + cs
  // covers the shorter doc: a header/footer/append variant that a
  // prefix/suffix-trim normalizer would collapse into an EXACT dup,
  // downgrading the shingle sweep to an md5 semi-join for them), full
  // rewrites (no common ends), and the common-end token share. The
  // number that prices a cheap trim normalizer (q84/q87's family)
  // against the full near-dup pipeline.
  //
  // First-mismatch is computed as min-over-mismatch-INDICES (array_min /
  // list_min skip NULLs in both engines, all-equal → NULL → coalesce to
  // minl) — deliberately NOT array_position/list_position, whose
  // not-found result (0 vs NULL) is an engine-version hazard.
  //
  // Scale: the capped pair set with two slim token-array joins; the
  // prefix/suffix scan is row-local and bounded by doc length.
  def q441EditLocus(spark: SparkSession, dir: String): DataFrame = {
    val toksById = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
    val pairs = q31NgramJaccard(spark, dir)
      .select(col("id_a"), col("id_b"))
      .join(toksById.select(col("doc_id").as("id_a"), col("t").as("ta")), "id_a")
      .join(toksById.select(col("doc_id").as("id_b"), col("t").as("tb")), "id_b")
      .withColumn("la", size(col("ta")).cast("long"))
      .withColumn("lb", size(col("tb")).cast("long"))
      .withColumn("minl", least(col("la"), col("lb")))
      // reverse() hoisted OUT of the per-index lambda: inside it the
      // interpreted HOF re-materializes the reversed array per element
      // (O(len²) per pair)
      .withColumn("ra", reverse(col("ta")))
      .withColumn("rb", reverse(col("tb")))
      .withColumn("cp", expr(
        """coalesce(array_min(transform(sequence(1L, minl),
          |  i -> if(element_at(ta, cast(i as int)) != element_at(tb, cast(i as int)), i, null))) - 1L, minl)""".stripMargin))
      .withColumn("csr", expr(
        """coalesce(array_min(transform(sequence(1L, minl),
          |  i -> if(element_at(ra, cast(i as int)) != element_at(rb, cast(i as int)), i, null))) - 1L, minl)""".stripMargin))
      .withColumn("cs", least(col("csr"), col("minl") - col("cp")))
    pairs.agg(count(lit(1)).as("n_pairs"),
        count_if(col("cp") + col("cs") >= col("minl")).as("end_only_pairs"),
        count_if(col("cp") === 0 && col("cs") === 0).as("rewrite_pairs"),
        coalesce(sum(col("cp")), lit(0L)).as("sum_cp"),
        coalesce(sum(col("cs")), lit(0L)).as("sum_cs"),
        coalesce(sum(col("minl")), lit(0L)).as("sum_minl"))
      .select(col("n_pairs"), col("end_only_pairs"),
        when(col("n_pairs") === 0, lit(0L))
          .otherwise(expr("(1000000L * end_only_pairs) div n_pairs"))
          .as("end_only_ppm"),
        col("rewrite_pairs"), col("sum_cp"), col("sum_cs"),
        when(col("sum_minl") === 0, lit(0L))
          .otherwise(expr("(1000000L * (sum_cp + sum_cs)) div sum_minl"))
          .as("common_end_share_ppm"))
  }

  lazy val q441Sql: String = {
    val prefix = q82Sql.substring(0, q82Sql.indexOf("edges AS"))
    prefix +
      s"""base AS (SELECT doc_id, $toksSqlD AS t FROM documents),
         |pe AS (
         |  SELECT LEAST(len(a.t), len(b.t)) AS minl,
         |    COALESCE(list_min(list_transform(generate_series(1, LEAST(len(a.t), len(b.t))),
         |      i -> CASE WHEN a.t[i] <> b.t[i] THEN i END)) - 1,
         |      LEAST(len(a.t), len(b.t))) AS cp,
         |    COALESCE(list_min(list_transform(generate_series(1, LEAST(len(a.t), len(b.t))),
         |      i -> CASE WHEN list_reverse(a.t)[i] <> list_reverse(b.t)[i] THEN i END)) - 1,
         |      LEAST(len(a.t), len(b.t))) AS csr
         |  FROM pairs p
         |  JOIN base a ON a.doc_id = p.id_a
         |  JOIN base b ON b.doc_id = p.id_b),
         |pc AS (
         |  SELECT minl, cp, LEAST(csr, minl - cp) AS cs FROM pe)
         |SELECT COUNT(*) AS n_pairs,
         |  CAST(COUNT(*) FILTER (cp + cs >= minl) AS BIGINT) AS end_only_pairs,
         |  CAST(CASE WHEN COUNT(*) = 0 THEN 0
         |    ELSE (1000000 * COUNT(*) FILTER (cp + cs >= minl)) // COUNT(*) END
         |    AS BIGINT) AS end_only_ppm,
         |  CAST(COUNT(*) FILTER (cp = 0 AND cs = 0) AS BIGINT) AS rewrite_pairs,
         |  CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS sum_cp,
         |  CAST(COALESCE(SUM(cs), 0) AS BIGINT) AS sum_cs,
         |  CAST(CASE WHEN COALESCE(SUM(minl), 0) = 0 THEN 0
         |    ELSE (1000000 * (SUM(cp) + SUM(cs))) // SUM(minl) END AS BIGINT)
         |    AS common_end_share_ppm
         |FROM pc""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q84 — text normalization/cleaning: collapse whitespace runs, strip
  // non-alphanumerics, lowercase — the canonicalization step BEFORE exact
  // dedup hashing (q30) so formatting variants collapse to one hash.
  // Patterns stay in the shared Java-regex/RE2 subset. Row-local →
  // whole-stage codegen; output is the canonical hash, not the cleaned
  // text, so wide strings stay off the shuffle.
  def q84TextClean(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ").as("clean"))
      .select(
        col("doc_id"),
        md5(col("clean")).as("clean_hash"),
        length(col("clean")).as("clean_len"))
      .orderBy(col("doc_id"))

  val q84Sql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean_hash,
      |  CAST(len(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS INT) AS clean_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q218 — UNICODE NORMALIZATION for dedup keys: accent-fold text with the
  // native `unaccent` expression (graft.functions.StripAccentsExpr — NFD,
  // drop combining marks, NFC) so 'café'/'café'(decomposed)/'cafe' hash to
  // ONE exact-dup key — the step q84's ASCII canonicalizer cannot do on
  // multilingual corpora. The driver corpus is pure ASCII, so the entry
  // first SYNTHESIZES accented text deterministically in-plan
  // (translate 'aeinouc' → composed accented forms — same function both
  // engines), then proves the fold restores it: the oracle runs DuckDB's
  // utf8proc strip_accents over the identically-dirtied text, and the
  // hash compare pins JDK-Normalizer ≡ utf8proc on this alphabet.
  //
  // Scale: row-local, single codegen'd static call per row, inside
  // whole-stage codegen — no shuffle, wide strings never leave the scan.
  /** Composed accented forms for a-e-i-n-o-u-c, as explicit escapes so
    * source-encoding normalization can never silently diverge the Spark
    * and oracle translate tables.
    */
  private val accentedAlphabet = "\u00e1\u00e9\u00ed\u00f1\u00f3\u00fa\u00e7"

  def q218UnicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("dirty", translate(lower(col("text")), "aeinouc", accentedAlphabet))
      .select(col("doc_id"),
        md5(unaccent(col("dirty"))).as("restored_hash"),
        (length(col("dirty")) - length(translate(col("dirty"), accentedAlphabet, "")))
          .as("n_accented"))
      .orderBy(col("doc_id"))
  }

  val q218Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, translate(lower(text), 'aeinouc', '$accentedAlphabet') AS dirty
      |  FROM documents)
      |SELECT doc_id,
      |  md5(strip_accents(nfc_normalize(dirty))) AS restored_hash,
      |  CAST(length(dirty) - length(translate(dirty, '$accentedAlphabet', '')) AS INT)
      |    AS n_accented
      |FROM d ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // q235 — JARO-WINKLER BLOCKED NAME MATCH with the native codegen'd
  // `jaro_winkler` expression (graft.functions.JaroWinklerExpr): candidate
  // pairs come from a (brand, first-token) blocking equi-join — never
  // all-pairs — then JW scores the survivors in-join, inside whole-stage
  // codegen. The record-linkage scorer q72/q105's Levenshtein family
  // lacks: JW weights shared prefixes, which is where real entity names
  // agree. The oracle recomputes every pair with DuckDB's independent
  // rapidfuzz-derived jaro_winkler_similarity, pinning the expression's
  // semantics (match window, transposition halving, >0.7 boost gate,
  // 4-cap prefix) by hash across the whole part corpus.
  //
  // Scale: block key = (p_brand, tok0) keeps per-block fan-out bounded by
  // the name vocabulary, both sides shuffle on the block key; the JW call
  // is a static per-pair evaluation with no state.
  def q235JaroWinklerMatch(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        split(col("p_name"), " ").getItem(0).as("tok0"))
    val a = p.toDF("a_key", "a_name", "brand", "tok0")
    val b = p.toDF("b_key", "b_name", "brand", "tok0")
    a.join(b, Seq("brand", "tok0"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("jw", jaroWinkler(col("a_name"), col("b_name")))
      .filter(col("jw") >= 0.85)
      .select(col("a_key"), col("b_key"), Num.pround(col("jw"), 6).as("jw"))
      .orderBy(col("a_key"), col("b_key"))
  }

  val q235Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name, p_brand, split_part(p_name, ' ', 1) AS tok0
      |  FROM part)
      |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      |  FLOOR((jaro_winkler_similarity(a.p_name, b.p_name)) * 1e6 + 0.5) / 1e6 AS jw
      |FROM p a JOIN p b
      |  ON a.p_brand = b.p_brand AND a.tok0 = b.tok0 AND a.p_partkey < b.p_partkey
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // q242 — EXACT SET-SIMILARITY JOIN via PPJoin-style PREFIX FILTERING:
  // the candidate-generation upgrade over q31's full inverted index. Under
  // a canonical global token order (document frequency asc, then lexical),
  // two shingle sets with Jaccard ≥ t MUST share a token inside each
  // other's first (n − ⌈t·n⌉ + 1) tokens — so only those PREFIX postings
  // enter the self-join. Rare tokens come first in the order, so prefix
  // postings are the SHORT lists: candidate volume tracks rare-token
  // co-occurrence instead of total co-occurrence, which is the difference
  // between feasible and quadratic on a skewed vocabulary at 100 TB.
  // Survivors are verified EXACTLY (row-local array_intersect on the full
  // sets) — the filter is provably lossless, which the oracle checks by
  // computing the SAME result from a plain inverted-index join.
  //
  // Exactness: prefix length and the length filter use integer
  // arithmetic only (⌈3n/5⌉ = (3n+4) div 5 — never t·n in floating
  // point, whose rounding could shorten a prefix and drop a true pair).
  def q242PrefixFilterJoin(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleArrays(Tables.documents(spark, dir))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .filter(col("n") > 0)
      // lazy checkpoint (§8.22): the shingle-set scan feeds the posting
      // explode AND both exact-verification joins — parse once
      .localCheckpoint(false)
    val postings = sets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
      .localCheckpoint(false) // feeds the global-df aggregate AND the rank join
    val freq = postings.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = postings.join(freq, Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rk") <= expr("n - ((n * 3 + 4) div 5) + 1"))
    val cand = ranked.as("a").join(ranked.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 3 && col("b.n") * 5 >= col("a.n") * 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sa"), col("n").as("na")),
        Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sb"), col("n").as("nb")),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.6)
      .select(col("id_a"), col("id_b"), Num.pround(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Oracle: plain inverted-index exact Jaccard at t = 0.6 — independent
    * of the prefix filter, so a lossy filter would hash-mismatch.
    */
  val q242Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  FLOOR((CAST(inter AS DOUBLE) / (na.n + nb.n - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM pairs
       |JOIN n na ON id_a = na.doc_id
       |JOIN n nb ON id_b = nb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.6
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // q273 — LSH PARAMETER PLANNER: before running MinHash-LSH at 100 TB,
  // which (bands, rows) setting actually catches THIS corpus's
  // duplicates? The collision s-curve P(s) = 1 − (1 − s^r)^b is folded
  // over the MEASURED near-dup similarity histogram (q31's exact pairs,
  // binned on a 20-cell grid) to estimate each config's expected recall
  // on the true duplicate population — the capacity-planning readout
  // that turns the b/r choice from folklore into arithmetic.
  //
  // Determinism: r and b are powers of two, so s^r and (1−s^r)^b are
  // REPEATED-SQUARING chains (p2 = p·p, p4 = p2·p2, …) — identical IEEE
  // multiplication sequences in both engines, no libm pow; the
  // per-config fold over the 20-bin histogram runs in pinned bin order.
  def q273LshPlanner(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q31NgramJaccard(spark, dir)
      .withColumn("bin", least(floor(col("jaccard") * 20), lit(19.0)).cast("int"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .withColumn("s", (col("bin").cast("double") + 0.5) / 20.0)
    val configs = Seq((64, 4), (32, 8), (16, 8), (8, 16))
    val cfg = configs.map { case (b, r) => struct(lit(b).as("b"), lit(r).as("r")) }
    val joined = pairs.crossJoin(
      broadcast(spark.range(1).select(explode(array(cfg: _*)).as("c"))
        .select(col("c.b").as("b"), col("c.r").as("r"))))
      .withColumn("p2", col("s") * col("s"))
      .withColumn("p4", col("p2") * col("p2"))
      .withColumn("p8", col("p4") * col("p4"))
      .withColumn("p16", col("p8") * col("p8"))
      .withColumn("sr", when(col("r") === 4, col("p4"))
        .when(col("r") === 8, col("p8")).otherwise(col("p16")))
      .withColumn("y", lit(1.0) - col("sr"))
      .withColumn("y2", col("y") * col("y"))
      .withColumn("y4", col("y2") * col("y2"))
      .withColumn("y8", col("y4") * col("y4"))
      .withColumn("y16", col("y8") * col("y8"))
      .withColumn("y32", col("y16") * col("y16"))
      .withColumn("y64", col("y32") * col("y32"))
      .withColumn("pb", when(col("b") === 8, col("y8"))
        .when(col("b") === 16, col("y16"))
        .when(col("b") === 32, col("y32")).otherwise(col("y64")))
      .withColumn("collide", lit(1.0) - col("pb"))
    joined.groupBy(col("b"), col("r"))
      .agg(sum(col("cnt")).as("n_pairs"),
        expr("aggregate(sort_array(collect_list(struct(bin, cnt * collide))), " +
          "cast(0 as double), (a, x) -> a + x.col2)").as("wsum"))
      .select(col("b"), col("r"), col("n_pairs"),
        Num.pround(col("wsum") / col("n_pairs"), 6).as("est_recall"))
      .orderBy(col("b"), col("r"))
  }

  val q273Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, $toksSqlD AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |shc AS (
       |  SELECT sh.doc_id, sh.s FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $StopShingleDf) ok
       |    USING (s)),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pj AS (
       |  SELECT FLOOR((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 1e6 + 0.5) / 1e6 AS j
       |  FROM inter JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.5),
       |hist AS (
       |  SELECT CAST(LEAST(FLOOR(j * 20), 19.0) AS INT) AS bin, COUNT(*) AS cnt,
       |    (CAST(CAST(LEAST(FLOOR(j * 20), 19.0) AS INT) AS DOUBLE) + 0.5) / 20.0 AS s
       |  FROM pj GROUP BY 1),
       |cfg AS (SELECT * FROM (VALUES (64, 4), (32, 8), (16, 8), (8, 16)) AS t(b, r)),
       |c1 AS (
       |  SELECT bin, cnt, b, r, s, s * s AS p2 FROM hist CROSS JOIN cfg),
       |c2 AS (SELECT *, p2 * p2 AS p4 FROM c1),
       |c3 AS (SELECT *, p4 * p4 AS p8 FROM c2),
       |c4 AS (SELECT *, p8 * p8 AS p16 FROM c3),
       |c5 AS (
       |  SELECT bin, cnt, b, r,
       |    1.0 - CASE r WHEN 4 THEN p4 WHEN 8 THEN p8 ELSE p16 END AS y
       |  FROM c4),
       |c6 AS (SELECT *, y * y AS y2 FROM c5),
       |c7 AS (SELECT *, y2 * y2 AS y4 FROM c6),
       |c8 AS (SELECT *, y4 * y4 AS y8 FROM c7),
       |c9 AS (SELECT *, y8 * y8 AS y16 FROM c8),
       |c10 AS (SELECT *, y16 * y16 AS y32 FROM c9),
       |c11 AS (SELECT *, y32 * y32 AS y64 FROM c10),
       |c12 AS (
       |  SELECT bin, cnt, b, r,
       |    1.0 - CASE b WHEN 8 THEN y8 WHEN 16 THEN y16 WHEN 32 THEN y32
       |      ELSE y64 END AS collide
       |  FROM c11)
       |SELECT b, r, CAST(SUM(cnt) AS BIGINT) AS n_pairs,
       |  FLOOR((list_reduce(list(cnt * collide ORDER BY bin), (x, y) -> x + y)
       |    / SUM(cnt)) * 1e6 + 0.5) / 1e6 AS est_recall
       |FROM c12 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // q412 — NEAR-DUP CLUSTER-SIZE CENSUS (round 9): the size distribution
  // of q82's connected components plus the unpaired singletons — the
  // "shape of duplication" readout (is the corpus a few giant template
  // families or many small re-posts?) that sizes the survivorship win
  // before running it. Every labeled doc has ≥ 1 edge, so labeled
  // clusters have k ≥ 2; the k = 1 row is exactly the docs no near-dup
  // pair touches.
  //
  // Scale: q82's pipeline (probed) + two tiny aggregates over the
  // cluster-size domain; the singleton count is corpus − paired.
  def q412ClusterCensus(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterPairs(
      q31NgramJaccard(spark, dir).select(col("id_a"), col("id_b")))
    // the size histogram is a count-of-counts grid — bounded far below
    // the corpus (distinct cluster sizes; q302/q386's lint class) — so
    // the census tail assembles ON THE DRIVER (r14): paired docs fall
    // out of the collected histogram (Σ k·n_clusters) instead of a
    // second pass over labels, and the singles row is plain integer
    // arithmetic — 2 jobs (histogram collect + corpus count) where the
    // union-plan form paid 4 plus a union/sort plan. Exact integers
    // throughout; the DuckDB oracle is unchanged.
    val histRows = labels.groupBy(col("cluster")).agg(count(lit(1)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_clusters")).collect()
    val total = Tables.documents(spark, dir).count()
    val paired = histRows.map(r => r.getLong(0) * r.getLong(1)).sum
    val rows = histRows.map(r => (r.getLong(0), r.getLong(1))).toSeq :+
      ((1L, total - paired))
    import spark.implicits._
    rows.toDF("k", "n_clusters")
      .withColumn("n_docs", col("k") * col("n_clusters"))
      .orderBy(col("k"))
  }

  val q412Sql: String =
    s"""WITH lab AS ($q82Sql),
       |hist AS (
       |  SELECT k, COUNT(*) AS n_clusters FROM (
       |    SELECT cluster, COUNT(*) AS k FROM lab GROUP BY 1)
       |  GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS total FROM documents),
       |pr AS (SELECT COUNT(*) AS paired FROM lab)
       |SELECT CAST(k AS BIGINT) AS k, n_clusters,
       |  CAST(k * n_clusters AS BIGINT) AS n_docs
       |FROM hist
       |UNION ALL
       |SELECT 1, total - paired, total - paired FROM tot, pr
       |ORDER BY k""".stripMargin

  // --------------------------------------------------------------------------
  // q414 — DEDUP THRESHOLD SENSITIVITY (round 9): how many of the
  // verified ≥ 0.5 near-dup pairs survive at tighter Jaccard thresholds
  // {0.5, 0.6, 0.7, 0.8, 0.9} — the planning curve that prices a
  // threshold change BEFORE re-running the dedup sweep (tightening from
  // 0.5 to 0.8 drops X% of the pair mass). Counts compare the pround6
  // jaccard both engines already agree on, so the ≥-t cuts are
  // engine-stable; shares in exact floor-div ppm of the 0.5 base.
  //
  // Scale: the pair set computes once (lazy checkpoint: it feeds all 5
  // grid cells AND the base count) and each cell is a broadcast-grid
  // filter + count.
  def q414ThresholdSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q31NgramJaccard(spark, dir).select(col("jaccard"))
      .localCheckpoint(false)
    val base = pairs.agg(count(lit(1)).as("base_pairs"))
    val grid = spark.range(1).select(
      explode(expr("array(50L, 60L, 70L, 80L, 90L)")).as("t_pct"))
    pairs.crossJoin(broadcast(grid))
      .filter(col("jaccard") >= col("t_pct").cast("double") / 100.0)
      .groupBy(col("t_pct")).agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(base))
      .select(col("t_pct"), col("n_pairs"), col("base_pairs"),
        expr("(1000000L * n_pairs) div base_pairs").as("share_ppm"))
      .orderBy(col("t_pct"))
  }

  val q414Sql: String =
    s"""WITH pairs AS (SELECT jaccard FROM ($q31Sql)),
       |base AS (SELECT COUNT(*) AS base_pairs FROM pairs),
       |g AS (SELECT UNNEST([50, 60, 70, 80, 90]) AS t_pct)
       |SELECT CAST(t_pct AS BIGINT) AS t_pct, COUNT(*) AS n_pairs,
       |  CAST(ANY_VALUE(base_pairs) AS BIGINT) AS base_pairs,
       |  CAST((1000000 * COUNT(*)) // ANY_VALUE(base_pairs) AS BIGINT)
       |    AS share_ppm
       |FROM pairs CROSS JOIN g CROSS JOIN base
       |WHERE jaccard >= CAST(t_pct AS DOUBLE) / 100.0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q415 — INCREMENTAL INGEST DEDUP (round 9): classify an incoming
  // batch (md5(doc_id) first hex digit < '2' — a deterministic ~12.5%
  // sample DECORRELATED from source and content; a doc_id % 10 split
  // would alias the generator's source assignment and collapse the
  // per-source readout, and hashing the TEXT would put every exact dup
  // on one side) against the EXISTING
  // corpus — exact duplicate (md5 semi-join), near duplicate (directed
  // shingle-Jaccard ≥ 0.5 against existing docs only), or novel — per
  // incoming source. The drop-at-the-door decision every recurring
  // ingestion runs; q331's saturation curve is the retrospective view,
  // this is the operational one.
  //
  // Scale: the exact pass is one hash semi-join; the near pass is the
  // q31 inverted-index join RESTRICTED to incoming×existing (the small
  // batch side prunes the index — at 100 TB the incoming side is the
  // broadcast/bloom side), with the same t=0.5 size-ratio prune AND the
  // same df ≤ 25 stop-shingle guard as q31 (df measured over the FULL
  // corpus, both sides — a shingle hot in the existing corpus must not
  // re-enter through a cold incoming batch). Cap = 25 drops nothing at
  // driver SFs (max df 25 at sf0.1), so the oracle stays the exact
  // replay; the spec-only exact twin pins the parity.
  def incrementalDedup(docs: DataFrame,
      stopShingleDf: Option[Int] = Some(StopShingleDf)): DataFrame = {
    val tagged = docs
      .select(col("doc_id"), col("source"), col("text"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) < "2").as("incoming"))
      .localCheckpoint(false) // feeds both sides of both passes
    val inc = tagged.filter(col("incoming"))
    val ex = tagged.filter(!col("incoming"))
    val exactDup = inc.select(col("doc_id"), md5(col("text")).as("h"))
      .join(ex.select(md5(col("text")).as("h")), Seq("h"), "left_semi")
      .select(col("doc_id"))
    val sh0 = shingleArrays(tagged)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        explode(col("sh")).as("s"))
      .filter(col("n_sh") > 0)
      .localCheckpoint(false) // feeds the df guard AND both join sides
    val sh = stopShingleDf match {
      case Some(cap) =>
        val dfS = sh0.groupBy(col("s")).agg(count(lit(1)).as("df_s"))
        sh0.join(dfS.filter(col("df_s") <= cap), Seq("s"))
          .select(col("doc_id"), col("n_sh"), col("s"))
      case None => sh0
    }
    val shInc = sh.join(inc.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val shEx = sh.join(ex.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val nearDup = shInc.as("a")
      .join(shEx.as("b"),
        col("a.s") === col("b.s") &&
          col("a.n_sh") <= col("b.n_sh") * 2 && col("b.n_sh") <= col("a.n_sh") * 2)
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("id_ex"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= 0.5)
      .select(col("doc_id")).distinct()
    inc
      .join(exactDup.withColumn("is_exact", lit(1L)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("has_near", lit(1L)), Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("is_exact"), lit(0L)).as("e"),
        when(col("is_exact").isNull && col("has_near").isNotNull, 1L)
          .otherwise(0L).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("incoming"), sum(col("e")).as("exact_dup"),
        sum(col("n")).as("near_dup"),
        (count(lit(1)) - sum(col("e")) - sum(col("n"))).as("novel"))
      .withColumn("novel_ppm", expr("(1000000L * novel) div incoming"))
      .orderBy(col("source"))
  }

  def q415IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedup(Tables.documents(spark, dir))

  /** Uncapped twin — spec-only, proves the df ≤ 25 guard is a no-op at
    * driver SFs (same discipline as [[q31NgramJaccardExact]]). */
  private[graft] def q415IncrementalDedupExact(spark: SparkSession, dir: String): DataFrame =
    incrementalDedup(Tables.documents(spark, dir), stopShingleDf = None)

  val q415Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text,
       |    substr(md5(doc_id::VARCHAR), 1, 1) < '2' AS incoming
       |  FROM documents),
       |exact AS (
       |  SELECT DISTINCT i.doc_id
       |  FROM d i JOIN d e ON md5(i.text) = md5(e.text)
       |    AND i.incoming AND NOT e.incoming),
       |sh AS (
       |  SELECT doc_id, s, n_sh FROM (
       |    SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
       |    FROM (
       |      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |      FROM (SELECT doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |           UNNEST(generate_series(1, len(t) - 2)) AS u(i)))),
       |shc AS (
       |  SELECT sh.doc_id, sh.s, sh.n_sh FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $StopShingleDf) ok
       |    USING (s)),
       |near AS (
       |  SELECT DISTINCT a.doc_id FROM shc a
       |  JOIN d da ON da.doc_id = a.doc_id AND da.incoming
       |  JOIN shc b ON a.s = b.s
       |    AND a.n_sh <= b.n_sh * 2 AND b.n_sh <= a.n_sh * 2
       |  JOIN d db ON db.doc_id = b.doc_id AND NOT db.incoming
       |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
       |  HAVING CAST(COUNT(*) AS DOUBLE) / (a.n_sh + b.n_sh - COUNT(*)) >= 0.5),
       |cls AS (
       |  SELECT i.source,
       |    CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS e,
       |    CASE WHEN ex.doc_id IS NULL AND ne.doc_id IS NOT NULL THEN 1
       |      ELSE 0 END AS n
       |  FROM d i
       |  LEFT JOIN exact ex ON ex.doc_id = i.doc_id
       |  LEFT JOIN near ne ON ne.doc_id = i.doc_id
       |  WHERE i.incoming)
       |SELECT source, COUNT(*) AS incoming,
       |  CAST(SUM(e) AS BIGINT) AS exact_dup,
       |  CAST(SUM(n) AS BIGINT) AS near_dup,
       |  CAST(COUNT(*) - SUM(e) - SUM(n) AS BIGINT) AS novel,
       |  CAST((1000000 * (COUNT(*) - SUM(e) - SUM(n))) // COUNT(*) AS BIGINT)
       |    AS novel_ppm
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  // ═════════════════ formerly Round8bOps (consolidated round 10) ═════════════════

  // --------------------------------------------------------------------------
  // q286 — TOPIC SEGMENTATION (TextTiling-style block comparison): slide
  // a boundary down each document every 10 tokens and score it by the L1
  // distance between the hashed-unigram histograms (64 md5 buckets) of
  // the 20 tokens before vs after; boundaries scoring ≥ 30 (of the 40
  // max) are topic shifts. The segmentation pass long-document pipelines
  // run before chunking, so splits land at topic shifts instead of
  // arbitrary offsets (q88's fixed windows).
  //
  // Scale: ROW-LOCAL — each token joins the ≤ 4 boundaries whose ±20
  // window covers it (an equi-join on doc_id with a range predicate), so
  // the fan-out is ≤ 4·tokens regardless of corpus size; aggregates are
  // partitioned by (doc, boundary).
  //
  // Determinism: histogram counts and L1 are exact integers.
  def q286TopicSegments(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("filter(split(lower(text), ' '), t -> t != '')").as("t"))
      .filter(size(col("t")) >= 40)
    val tok = toks.select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        expr("cast(conv(substring(md5(col), 1, 4), 16, 10) as bigint) % 64").as("bk"))
    val bnd = toks.select(col("doc_id"),
      explode(expr("sequence(20L, size(t) - 20L, 10L)")).as("p"))
    val sides = bnd.join(tok, Seq("doc_id"))
      .filter(col("i") > col("p") - 20 && col("i") <= col("p") + 20)
      .groupBy(col("doc_id"), col("p"), col("bk"))
      .agg(count_if(col("i") <= col("p")).as("cl"),
        count_if(col("i") > col("p")).as("cr"))
    val scored = sides.groupBy(col("doc_id"), col("p"))
      .agg(sum(abs(col("cl") - col("cr"))).as("l1"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_boundaries"),
        count_if(col("l1") >= 30).as("n_splits"),
        max(col("l1")).as("max_l1"))
      .orderBy(col("doc_id"))
  }

  val q286Sql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      |  FROM documents),
      |t2 AS (SELECT * FROM t WHERE len(t) >= 40),
      |tok AS (
      |  SELECT doc_id, i,
      |    ('0x' || substr(md5(t[i]), 1, 4))::BIGINT % 64 AS bk
      |  FROM t2, UNNEST(generate_series(1, len(t))) AS u(i)),
      |bnd AS (
      |  SELECT doc_id, p
      |  FROM t2, UNNEST(generate_series(20, len(t) - 20, 10)) AS v(p)),
      |sides AS (
      |  SELECT b.doc_id, b.p, tok.bk,
      |    COUNT(*) FILTER (i <= p) AS cl,
      |    COUNT(*) FILTER (i > p) AS cr
      |  FROM bnd b JOIN tok ON tok.doc_id = b.doc_id
      |    AND tok.i > b.p - 20 AND tok.i <= b.p + 20
      |  GROUP BY 1, 2, 3),
      |s AS (SELECT doc_id, p, SUM(ABS(cl - cr)) AS l1 FROM sides GROUP BY 1, 2)
      |SELECT doc_id, COUNT(*) AS n_boundaries,
      |  CAST(COUNT(*) FILTER (l1 >= 30) AS BIGINT) AS n_splits,
      |  CAST(MAX(l1) AS BIGINT) AS max_l1
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin


  // --------------------------------------------------------------------------
  // q417 — CROSS-SOURCE DUPLICATION MATRIX (round 10): who copies whom.
  // Per unordered source pair (a ≤ b): exact-duplicate pairs (same
  // md5(text)) and verified near-duplicate pairs (q31's jaccard ≥ 0.5).
  // The provenance readout that decides which FEEDS to deduplicate
  // against each other before a crawl merge — a high cross-source cell
  // means two feeds mirror each other and one can be dropped at the
  // door; q408 prices the global token mass, this locates it.
  //
  // Scale: the exact side never self-joins documents — it aggregates
  // (hash, source) multiplicities and pairs THOSE (group sizes, not
  // rows): within-source pairs are C(n,2), cross-source n_a·n_b, both
  // exact integer combinatorics on a frame with ≤ |corpus| rows and
  // tiny per-hash fan-out (duplicate groups). The near side rides the
  // guarded q31 pipeline + two slim doc_id→source joins.
  def q417SourceCopyMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val srcOf = docs.select(col("doc_id"), col("source")).localCheckpoint(false)
    val hs = docs.groupBy(md5(col("text")).as("h"), col("source"))
      .agg(count(lit(1)).as("n"))
    val exact = hs.as("x")
      .join(hs.as("y"), col("x.h") === col("y.h") && col("x.source") <= col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        when(col("x.source") === col("y.source"), expr("x.n * (x.n - 1L) div 2"))
          .otherwise(col("x.n") * col("y.n")).as("p"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("p")).as("exact_pairs"))
      .filter(col("exact_pairs") > 0)
    val near = q31NgramJaccard(spark, dir)
      .join(srcOf.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(srcOf.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("near_pairs"))
    exact.join(near, Seq("source_a", "source_b"), "full_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("exact_pairs"), lit(0L)).as("exact_pairs"),
        coalesce(col("near_pairs"), lit(0L)).as("near_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q417Sql: String =
    s"""WITH hs AS (
       |  SELECT md5(text) AS h, source, COUNT(*) AS n
       |  FROM documents GROUP BY 1, 2),
       |ex AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |    CAST(SUM(CASE WHEN x.source = y.source THEN x.n * (x.n - 1) // 2
       |             ELSE x.n * y.n END) AS BIGINT) AS exact_pairs
       |  FROM hs x JOIN hs y ON x.h = y.h AND x.source <= y.source
       |  GROUP BY 1, 2
       |  HAVING SUM(CASE WHEN x.source = y.source THEN x.n * (x.n - 1) // 2
       |             ELSE x.n * y.n END) > 0),
       |nr AS (
       |  SELECT LEAST(da.source, db.source) AS source_a,
       |    GREATEST(da.source, db.source) AS source_b,
       |    COUNT(*) AS near_pairs
       |  FROM (SELECT id_a, id_b FROM ($q31Sql)) p
       |  JOIN documents da ON da.doc_id = p.id_a
       |  JOIN documents db ON db.doc_id = p.id_b
       |  GROUP BY 1, 2)
       |SELECT COALESCE(ex.source_a, nr.source_a) AS source_a,
       |  COALESCE(ex.source_b, nr.source_b) AS source_b,
       |  CAST(COALESCE(exact_pairs, 0) AS BIGINT) AS exact_pairs,
       |  CAST(COALESCE(near_pairs, 0) AS BIGINT) AS near_pairs
       |FROM ex FULL OUTER JOIN nr
       |  ON ex.source_a = nr.source_a AND ex.source_b = nr.source_b
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // q418 — NEAR-DUP CHAIN (TRANSITIVITY) AUDIT (round 10): for each
  // cluster size k, how much of the transitive pair closure k·(k−1)/2 is
  // backed by a DIRECT verified pair vs implied through chains. A high
  // chained share means clusters are glued by borderline links — the
  // readout that decides whether a survivorship sweep at this threshold
  // over-merges (drop one doc per chain-glued cluster and distinct
  // near-identical documents die). q412 gives the size census; this
  // gives the cluster QUALITY at the same threshold.
  //
  // Scale: one guarded pair pipeline (lazy checkpoint feeds the labels
  // AND the direct count), the q82 component loop, then grid-sized
  // aggregates over the cluster-size domain. The ppm ratio rides
  // DECIMAL(38,0) — 10⁶·closure wraps a BIGINT past ~9·10¹² closure
  // pairs, which a 100 TB template family can reach (q416's class).
  def q418ChainAudit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q31NgramJaccard(spark, dir).select(col("id_a"), col("id_b"))
      .localCheckpoint(false) // feeds clustering AND the direct count
    val labels = clusterPairs(pairs)
    val direct = pairs
      .join(labels.select(col("doc_id").as("id_a"), col("cluster")), Seq("id_a"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("direct"))
    labels.select(col("cluster"), col("cluster_size")).distinct()
      .join(direct, Seq("cluster"))
      .withColumn("closure", expr("cluster_size * (cluster_size - 1L) div 2"))
      .groupBy(col("cluster_size").as("k"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("direct")).as("direct_pairs"),
        sum(col("closure")).as("closure_pairs"))
      .withColumn("chained_ppm",
        expr("(1000000 * (cast(closure_pairs as decimal(38,0)) - direct_pairs))" +
          " div cast(closure_pairs as decimal(38,0))"))
      .orderBy(col("k"))
  }

  val q418Sql: String =
    s"""WITH lab AS ($q82Sql),
       |pairs AS (SELECT id_a, id_b FROM ($q31Sql)),
       |direct AS (
       |  SELECT l.cluster, COUNT(*) AS direct
       |  FROM pairs p JOIN lab l ON l.doc_id = p.id_a
       |  GROUP BY 1),
       |per AS (
       |  SELECT c.cluster, c.cluster_size, d.direct,
       |    c.cluster_size * (c.cluster_size - 1) // 2 AS closure
       |  FROM (SELECT DISTINCT cluster, cluster_size FROM lab) c
       |  JOIN direct d USING (cluster))
       |SELECT cluster_size AS k, COUNT(*) AS n_clusters,
       |  CAST(SUM(direct) AS BIGINT) AS direct_pairs,
       |  CAST(SUM(closure) AS BIGINT) AS closure_pairs,
       |  CAST((1000000 * (SUM(closure) - SUM(direct))) // SUM(closure)
       |    AS BIGINT) AS chained_ppm
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q431_survivor_rule_sensitivity", q431SurvivorRuleSensitivity _, Some(q431Sql)),
    ("q441_edit_locus", q441EditLocus _, Some(q441Sql)),
    ("q432_dup_ingest_gap", q432DupIngestGap _, Some(q432Sql)),
    ("q437_dedup_scope_planner", q437DedupScopePlanner _, Some(q437Sql)),
    ("q417_source_copy_matrix", q417SourceCopyMatrix _, Some(q417Sql)),
    ("q418_chain_audit", q418ChainAudit _, Some(q418Sql)),
    ("q412_cluster_census", q412ClusterCensus _, Some(q412Sql)),
    ("q414_threshold_sensitivity", q414ThresholdSensitivity _, Some(q414Sql)),
    ("q415_incremental_dedup", q415IncrementalDedup _, Some(q415Sql)),
    ("q447_incremental_band_index", q447IncrementalBandIndex _, Some(q447Sql)),
    ("q30_exact_dedup", q30ExactDedup _, Some(q30Sql)),
    ("q273_lsh_planner", q273LshPlanner _, Some(q273Sql)),
    ("q218_unicode_normalize", q218UnicodeNormalize _, Some(q218Sql)),
    ("q235_jaro_winkler_match", q235JaroWinklerMatch _, Some(q235Sql)),
    ("q242_prefix_filter_join", q242PrefixFilterJoin _, Some(q242Sql)),
    ("q84_text_clean", q84TextClean _, Some(q84Sql)),
    ("q81_bm25", q81Bm25 _, Some(q81Sql)),
    ("q82_dedup_clusters", q82DedupClusters _, Some(q82Sql)),
    ("q152_cluster_reps", q152ClusterReps _, Some(q152Sql)),
    ("q426_survivor_retention", q426SurvivorRetention _, Some(q426Sql)),
    ("q79_bpe_tokens", q79BpeTokens _, Some(q79Sql)),
    ("q72_fuzzy_match", q72FuzzyMatch _, Some(q72Sql)),
    // same oracle as q72: the blocked path must reproduce the exact
    // all-pairs result (the q-gram count filter has no false negatives)
    ("q105_fuzzy_blocked", q105FuzzyBlocked _, Some(q72Sql)),
    ("q73_repetition", q73Repetition _, Some(q73Sql)),
    ("q75_mixture_sample", q75MixtureSample _, Some(q75Sql)),
    ("q65_tfidf", q65TfIdf _, Some(q65Sql)),
    ("q66_ngram_counts", q66NgramCounts _, Some(q66Sql)),
    ("q31_ngram_jaccard", q31NgramJaccard _, Some(q31Sql)),
    ("q32_minhash_lsh", q32MinhashLsh _, Some(q32Sql)),
    ("q33_simhash", q33Simhash _, Some(q33Sql)),
    ("q34_lang_id", q34LangId _, Some(q34Sql)),
    ("q35_quality", q35Quality _, Some(q35Sql)),
    ("q36_token_counts", q36TokenCounts _, Some(q36Sql)),
    ("q37_fingerprint", q37Fingerprint _, Some(q37Sql)),
    ("q39_winnowing", q39Winnowing _, Some(q39Sql)),
    // formerly Round8bOps
    ("q286_topic_segments", q286TopicSegments _, Some(q286Sql)))
}
