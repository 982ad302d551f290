package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-training and novelty-attribution operators — [EXT] north-star
  * surface: distributed BPE merge learning (the tokenizer-fitting step of
  * every LLM data pipeline) and first-occurrence duplicate attribution.
  */
object TokenizerOps {

  // --------------------------------------------------------------------------
  // q183 — distributed BPE MERGE TRAINING (Sennrich et al.): learn the
  // first R merge rules over the corpus. Each round counts frequency-
  // weighted adjacent symbol pairs, picks the argmax, and applies the
  // merge greedily left-to-right to every word — the byte-pair-encoding
  // fit loop, run on the WORD-TYPE table (Heaps-law bounded), never the
  // token stream.
  //
  // Representation: a word's symbol sequence is "<s1><s2>...<sk>" — every
  // symbol wrapped in its OWN delimiters, so the merge "(x,y) → xy" is
  // the plain string replace '<x><y>' → '<xy>'. Because adjacent patterns
  // share no characters, left-to-right non-overlapping replace() — the
  // same semantics in Spark (Java) and DuckDB — IS greedy BPE merge
  // application: "<a><a><a>" → "<aa><a>", "<x><y><x><y>" → "<xy><xy>",
  // and no pattern can match across a symbol boundary (the corpus
  // alphabet is alnum; delimiters never occur inside a symbol).
  //
  // Scale: the state is (word-type, freq, seq) — vocabulary-sized, not
  // corpus-sized (the one token-stream scan builds the freq table). Per
  // round: one row-local pair fan-out (avg word length × |vocab|), one
  // hash agg, a 1-row TakeOrderedAndProject argmax broadcast back into a
  // row-local replace. Exact long counts; (cnt desc, x, y) is a total
  // order, so every round is deterministic cross-engine. Rounds unroll in
  // ONE lazy plan; beyond ~6 rounds localCheckpoint the seq table per
  // round (the q110/q120 iterative-lineage lesson).
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame = {
    val words = docs.select(explode(TextOps.toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    var seqs = words.select(col("f"),
      concat(lit("<"),
        array_join(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"), "><"),
        lit(">")).as("seq"))
    var merges: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      val top = seqs
        .select(col("f"), expr("split(substring(seq, 2, length(seq) - 2), '><')").as("syms"))
        .select(col("f"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1)," +
            " (a, b) -> struct(a AS x, b AS y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
      merges = merges :+ top.select(lit(r).as("round"),
        concat(col("x"), lit(" "), col("y")).as("pair"), col("cnt"))
      seqs = seqs.crossJoin(broadcast(top.select(col("x"), col("y"))))
        .withColumn("seq", expr(
          "replace(seq, '<' || x || '><' || y || '>', '<' || x || y || '>')"))
        .select(col("f"), col("seq"))
    }
    merges.reduce(_ union _).orderBy(col("round"))
  }

  def q183BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(spark, dir), 3)

  /** One unrolled BPE round in DuckDB; r chains on the previous round's
    * sequence table. Mirrors bpeMerges round-for-round.
    */
  private def bpeRoundSql(r: Int): String =
    s"""p$r AS (
       |  SELECT syms[i] AS x, syms[i + 1] AS y, SUM(f) AS cnt
       |  FROM (SELECT f, string_split(seq[2:-2], '><') AS syms FROM v${r - 1}),
       |       UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
       |  GROUP BY 1, 2),
       |m$r AS (SELECT $r AS round, x, y, cnt FROM p$r
       |        ORDER BY cnt DESC, x, y LIMIT 1),
       |v$r AS (SELECT f, replace(seq, '<' || x || '><' || y || '>',
       |                          '<' || x || y || '>') AS seq FROM v${r - 1}, m$r)"""
      .stripMargin

  val q183Sql: String =
    s"""WITH words AS (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT unnest(${TextOps.toksSqlD}) AS w FROM documents) GROUP BY w),
       |v0 AS (
       |  SELECT f, '<' || array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i]), '><') || '>' AS seq
       |  FROM words),
       |${bpeRoundSql(1)},
       |${bpeRoundSql(2)},
       |${bpeRoundSql(3)}
       |SELECT round, x || ' ' || y AS pair, CAST(cnt AS BIGINT) AS cnt
       |FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3)
       |ORDER BY round""".stripMargin

  // --------------------------------------------------------------------------
  // q450 — DEEP BPE MERGE LOOP (the trainer at REAL merge counts): q183
  // proves 3 merge rounds unrolled in one lazy plan; an actual tokenizer
  // fit runs tens-to-thousands of rounds, which needs the ITERATIVE-LOOP
  // discipline (SURVEY §8.26): per-round state checkpointed every
  // CKPT_EVERY rounds (a 32-deep lazy replace() chain is fine to
  // COMPUTE but its per-round plan compilation grows linearly — the
  // q255/q368 residual), superseded checkpoints released, and the
  // argmax driven by a 1-row convergence collect whose pair is inlined
  // as a LITERAL into the next round (no per-round 1-row
  // broadcast-build job — the q368 lesson). Early-stops when no
  // adjacent pair remains.
  //
  // Readout per round: the learned merge, its frequency-weighted count,
  // and total_pairs — the frequency-weighted adjacent-pair mass of the
  // PRE-merge state (= Σ f·|syms| − Σ f), i.e. the compression curve
  // the trainer is buying, measured exactly and identically in both
  // engines from the same aggregate that finds the argmax (one job per
  // round: partial hash agg → global max(struct) + sum).
  //
  // Scale: state is the WORD-TYPE table (Heaps-bounded, corpus-size
  // independent after the one token-stream scan); the merge apply is a
  // row-local replace() (codegen'd, no shuffle); the per-round shuffle
  // is the vocab-sized pair hash-agg. Tie-break (cnt DESC, x DESC,
  // y DESC) is a total order over binary-collated strings — identical
  // in Spark and DuckDB, so all 32 rounds are deterministic
  // cross-engine (the oracle replays them as materialized chained CTEs).
  /** The per-round (argmax, total) readout: max by (cnt, x, y) — the
    * same total order as the previous Catalyst form's
    * max(struct(cnt, x, y)), with strings compared in UTF8 binary order
    * exactly as Spark compares StringType (UTF8String.compareTo). */
  private def bpeBetter(aC: Long, aX: String, aY: String,
      bC: Long, bX: String, bY: String): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    if (aC != bC) aC > bC
    else {
      val cx = UTF8String.fromString(aX).compareTo(UTF8String.fromString(bX))
      if (cx != 0) cx > 0
      else UTF8String.fromString(aY).compareTo(UTF8String.fromString(bY)) > 0
    }
  }

  // The 32 merge rounds are SEQUENTIALLY dependent (each round's argmax
  // is the next round's replace literal), so one driver action per round
  // is inherent — but the round body needs none of Catalyst: a round-14
  // per-job census (SURVEY §8.30) measured 106 jobs / ~2.8 s of pure per-
  // round plan compilation over 32 rounds (the §8.27 class). The inner loop
  // therefore runs on RAW RDDs (the q255 treatment): the word-type state
  // is built ONCE as a DataFrame (token scan + hash agg — the only
  // data-sized step), then each round is one job — a map-side-combined
  // reduceByKey over the adjacent-pair fan-out plus a per-partition
  // (argmax, total) fold — with zero per-round planning. Arithmetic is
  // identical: exact Long sums, (cnt, x, y) max with UTF8-binary string
  // order (bpeBetter), and the merge apply is Java String.replace —
  // the same left-to-right non-overlapping literal replace as Spark's
  // replace() and DuckDB's replace() (q183's scaladoc proves the
  // delimiter representation makes that greedy BPE application).
  // State partition count is sized from the materialized word-type
  // count (~20k types/partition), not the local core count — 1 at the
  // bench SFs, growing with vocabulary on a cluster.
  def bpeMergeLoop(docs: DataFrame, rounds: Int, ckptEvery: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(TextOps.toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val seqs0 = words.select(col("f"),
      concat(lit("<"),
        array_join(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"), "><"),
        lit(">")).as("seq"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = seqs0.rdd.map(r => (r.getLong(0), r.getString(1))).persist(lvl)
    val nTypes = base.count()
    val parts = math.max(1L, (nTypes + 19999L) / 20000L).toInt
    val part = new org.apache.spark.HashPartitioner(parts)
    var state =
      if (base.getNumPartitions >= parts) base.coalesce(parts)
      else base.repartition(parts)
    var pinned: org.apache.spark.rdd.RDD[_] = base
    // a pin superseded mid-loop is unpersisted only AFTER the next
    // round's action has materialized its replacement
    var pending: org.apache.spark.rdd.RDD[_] = null
    var sinceCkpt = 0
    val out = Vector.newBuilder[(Int, String, Long, Long)]
    var r = 1
    var live = true
    while (r <= rounds && live) {
      // ONE job: pair fan-out + map-side-combined sum, then a bounded
      // per-partition (argmax, total) fold — no Catalyst in the loop
      val perPart = state.flatMap { case (f, seq) =>
        val syms = seq.substring(1, seq.length - 1).split("><")
        if (syms.length < 2) Iterator.empty
        else (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), f))
      }.reduceByKey(part, _ + _)
        .mapPartitions { it =>
          var bx: String = null; var by: String = null
          var bc = 0L; var tot = 0L; var any = false
          it.foreach { case ((x, y), c) =>
            tot += c
            if (!any || bpeBetter(c, x, y, bc, bx, by)) { bc = c; bx = x; by = y; any = true }
          }
          Iterator((any, bc, bx, by, tot))
        }
      val (any, cnt, x, y, total) = perPart.reduce {
        case ((anyA, cA, xA, yA, tA), (anyB, cB, xB, yB, tB)) =>
          if (!anyA) (anyB, cB, xB, yB, tA + tB)
          else if (!anyB) (anyA, cA, xA, yA, tA + tB)
          else if (bpeBetter(cA, xA, yA, cB, xB, yB)) (true, cA, xA, yA, tA + tB)
          else (true, cB, xB, yB, tA + tB)
      }
      if (pending != null) { pending.unpersist(blocking = false); pending = null }
      if (!any) live = false
      else {
        out += ((r, s"$x $y", cnt, total))
        val (pat, rep) = (s"<$x><$y>", s"<$x$y>")
        state = state.map { case (f, seq) => (f, seq.replace(pat, rep)) }
        sinceCkpt += 1
        if (sinceCkpt >= ckptEvery && r < rounds) {
          val next = state.persist(lvl) // materialized by the next round's job
          pending = pinned; pinned = next; state = next; sinceCkpt = 0
        }
        r += 1
      }
    }
    if (pending != null) pending.unpersist(blocking = false)
    pinned.unpersist(blocking = false)
    if (pinned ne base) base.unpersist(blocking = false)
    out.result().toDF("round", "pair", "cnt", "total_pairs")
      .orderBy(col("round"))
  }

  def q450BpeMergeLoop(spark: SparkSession, dir: String): DataFrame =
    bpeMergeLoop(Tables.documents(spark, dir), rounds = 32)

  /** One round of the deep-loop replay: like [[bpeRoundSql]] but carries
    * the pre-merge total pair mass and uses the (cnt DESC, x DESC,
    * y DESC) total order. MATERIALIZED is load-bearing: v/p/m are each
    * referenced more than once, and 32 inlined chained CTEs would blow
    * up exponentially. */
  private def bpeCurveRoundSql(r: Int): String =
    s"""p$r AS MATERIALIZED (
       |  SELECT syms[i] AS x, syms[i + 1] AS y, CAST(SUM(f) AS BIGINT) AS cnt
       |  FROM (SELECT f, string_split(seq[2:-2], '><') AS syms FROM v${r - 1}),
       |       UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
       |  GROUP BY 1, 2),
       |m$r AS MATERIALIZED (
       |  SELECT $r AS round, x, y, cnt,
       |    (SELECT CAST(SUM(cnt) AS BIGINT) FROM p$r) AS total_pairs
       |  FROM p$r ORDER BY cnt DESC, x DESC, y DESC LIMIT 1),
       |v$r AS MATERIALIZED (
       |  SELECT f, replace(seq, '<' || x || '><' || y || '>',
       |                    '<' || x || y || '>') AS seq
       |  FROM v${r - 1}, m$r)""".stripMargin

  val q450Sql: String = {
    val k = 32
    s"""WITH words AS (
       |  SELECT w, COUNT(*) AS f FROM (
       |    SELECT unnest(${TextOps.toksSqlD}) AS w FROM documents) GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT f, '<' || array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i]), '><') || '>' AS seq
       |  FROM words),
       |${(1 to k).map(bpeCurveRoundSql).mkString(",\n")}
       |SELECT round, x || ' ' || y AS pair, cnt, total_pairs
       |FROM (${(1 to k).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")})
       |ORDER BY round""".stripMargin
  }

  // --------------------------------------------------------------------------
  // q185 — FIRST-OCCURRENCE NOVELTY attribution: per document, the
  // fraction of its distinct 3-gram shingles already seen in an EARLIER
  // document (corpus order = doc_id) — the directional "who copied whom"
  // curation metric. q113 measures corpus-wide repeated-span coverage
  // symmetrically; this op attributes each duplicate to its first
  // occurrence, so originals keep dup_frac ≈ 0 while late copies score
  // ≈ 1 and can be dropped without touching the source they duplicate.
  //
  // Scale: one row-local shingle explode, first_doc = MIN(doc_id) as a
  // window over the shingle key (single shuffle, no join-back — the
  // q97/q173 one-lineage rule), then a per-doc hash agg. Integer-ratio
  // double at the end (bit-identical cross-engine).
  def q185Novelty(spark: SparkSession, dir: String): DataFrame =
    TextOps.shingleEdges(Tables.documents(spark, dir))
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("s"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        count_if(col("first_doc") < col("doc_id")).as("n_dup"))
      .withColumn("dup_frac", Num.pround(col("n_dup").cast("double") / col("n_sh"), 6))
      .orderBy(col("doc_id"))

  val q185Sql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |    FROM (SELECT doc_id, ${TextOps.toksSqlD} AS t FROM documents),
       |         UNNEST(generate_series(1, len(t) - 2)) AS u(i))),
       |f AS (SELECT doc_id, s, MIN(doc_id) OVER (PARTITION BY s) AS first_doc FROM sh)
       |SELECT doc_id, COUNT(*) AS n_sh,
       |  COUNT(*) FILTER (first_doc < doc_id) AS n_dup,
       |  FLOOR((CAST(COUNT(*) FILTER (first_doc < doc_id) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6
       |    AS dup_frac
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val catalog: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q183_bpe_train", q183BpeTrain _, Some(q183Sql)),
    ("q185_novelty", q185Novelty _, Some(q185Sql)),
    ("q450_bpe_merge_loop", q450BpeMergeLoop _, Some(q450Sql)))
}
