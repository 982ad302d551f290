package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSpec {

  // --------------------------------------------------------------------- q106
  test("decontamination flags exactly the docs sharing a 4-gram with the eval slice") {
    import spark.implicits._
    // doc 0 and 50 are eval (id % 50 == 0); doc 1 contains doc 50's exact
    // 4-gram, doc 2 shares only 3-gram prefixes, doc 3 is disjoint
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (50L, "one two three four"),
      (1L, "xx one two three four yy"),
      (2L, "one two three nine ten eleven twelve"),
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val out = PipelineOps.decontaminate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_hit"), r.getAs[Boolean]("contaminated")))).toMap
    assert(out(1L) === ((1L, true)))
    assert(out(2L) === ((0L, false)))
    assert(out(3L) === ((0L, false)))
    assert(!out.contains(0L) && !out.contains(50L)) // eval docs are not scored
  }

  // --------------------------------------------------------------------- q107
  test("vocab encode: ids follow frequency rank, OOV maps to -1, counts reconcile") {
    import spark.implicits._
    // freq: b×4 > a×3 > c×2 > rare×1; topK=3 keeps {b:0, a:1, c:2}, rare OOV
    val docs = Seq(
      (1L, "a b c b"),
      (2L, "b a rare b"),
      (3L, "a c")
    ).toDF("doc_id", "text")
    val out = PipelineOps.vocabEncode(docs, topK = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tok") === 4 && out(1L).getAs[Long]("n_unk") === 0)
    assert(out(2L).getAs[Long]("n_unk") === 1)
    // doc 1 "a b c b" → ids 1 0 2 0; doc 3 "a c" → 1 2
    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getAs[String]("ids_md5") === md5Of("1 0 2 0"))
    assert(out(3L).getAs[String]("ids_md5") === md5Of("1 2"))
  }

  // --------------------------------------------------------------------- q108
  test("stratified sample returns exactly min(k, stratum size) rows per stratum, no dups") {
    import spark.implicits._
    val docs = (0 until 40).map(i => (i.toLong, if (i < 30) "en" else "de", s"doc number $i"))
      .toDF("doc_id", "lang", "text")
    val out = PipelineOps.stratifiedSample(docs, k = 10).collect()
    val byLang = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang === Map("en" -> 10, "de" -> 10))
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length === ids.length)
    // deterministic: same selection on a different partitioning
    val again = PipelineOps.stratifiedSample(docs.repartition(7), k = 10).collect()
    assert(again.map(r => (r.getAs[String]("lang"), r.getAs[Int]("rn"), r.getAs[Long]("doc_id"))).toSet ===
      out.map(r => (r.getAs[String]("lang"), r.getAs[Int]("rn"), r.getAs[Long]("doc_id"))).toSet)
  }

  // --------------------------------------------------------------------- q109
  test("weighted sample without replacement favors heavy weights (Efraimidis–Spirakis)") {
    import spark.implicits._
    // 60 heavy docs (w=5000) vs 60 light (w=50): P(light beats heavy) per
    // pair is tiny, so the top-20 should be dominated by heavy docs
    val docs = (0 until 120).map { i =>
      val heavy = i < 60
      (i.toLong, "en", s"unique text payload $i", if (heavy) 5000 else 50)
    }.toDF("doc_id", "lang", "text", "n_chars")
    val out = PipelineOps.weightedSample(docs, k = 20).collect()
    assert(out.length === 20)
    val nHeavy = out.count(_.getAs[Int]("n_chars") === 5000)
    assert(nHeavy >= 18, s"expected heavy docs to dominate, got $nHeavy/20")
    // keys are sorted descending in the output
    val keys = out.map(_.getAs[Double]("key"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
  }

  // --------------------------------------------------------------------- q111
  test("incremental dedup drops exact and near copies of the corpus, keeps novel docs") {
    import spark.implicits._
    // new batch = doc_id % 5 == 0. 10 is an exact copy of corpus doc 1,
    // 15 shares 9 of its 10 3-grams with corpus doc 2 (jaccard 9/11 ≥ .5),
    // 20 is novel.
    val base2 = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, base2),
      (3L, "completely different corpus text here okay"),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (15L, "one two three four five six seven eight nine ten eleven NEW"),
      (20L, "nothing like anything else in the corpus at all")
    ).toDF("doc_id", "text")
    val out = PipelineOps.incrementalDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("exact_dup"), r.getAs[Long]("n_near"), r.getAs[Boolean]("kept")))).toMap
    assert(out.keySet === Set(10L, 15L, 20L))
    assert(out(10L)._1 === true && out(10L)._3 === false)
    assert(out(15L)._1 === false && out(15L)._2 === 1L && out(15L)._3 === false)
    assert(out(20L) === ((false, 0L, true)))
  }

  // --------------------------------------------------------------------- q112
  test("budget select = global greedy by (score desc, doc_id) under the token budget") {
    import spark.implicits._
    // scores: A=1.0 (4 tok), D=0.8 (5), B=0.5 (6), C=0.33 (9), E=0.25 (4)
    val docs = Seq(
      (1L, "a b c d"),            // A
      (2L, "a a b b c c"),        // B
      (3L, "x y z x y z x y z"),  // C
      (4L, "p q r s p"),          // D
      (5L, "m m m m")             // E
    ).toDF("doc_id", "text")
    // budget 14: A(4) + D(9) fit; B would make 15 — greedy stops, no backfill
    val kept = PipelineOps.budgetSelect(docs, budget = 14).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 4L))
  }

  test("budget select splits a single score bucket deterministically by doc_id") {
    import spark.implicits._
    // 10 docs, identical score (same bucket), 3 tokens each; budget 7 →
    // exactly the two lowest doc_ids survive the in-bucket running sum
    val docs = (0 until 10).map(i => (i.toLong, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val kept = PipelineOps.budgetSelect(docs.repartition(5), budget = 7).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(0L, 1L))
  }

  test("budget select equals the global greedy reference on random corpora at many budgets") {
    import spark.implicits._
    // seeded LCG corpus: 200 docs, 1–50 tokens from a 20-word vocab —
    // dense score ties and bucket collisions, the regime where the
    // bucket-cutoff reasoning could break
    var state = 99L
    def next(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % n).toInt
    }
    val vocab = (0 until 20).map(i => s"w$i")
    val docs = (0 until 200).map { i =>
      val toks = Seq.fill(1 + next(50))(vocab(next(20)))
      (i.toLong, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    // JVM reference: the oracle's exact semantics (score desc, doc_id,
    // running sum ≤ budget), with Spark's HALF_UP round(…, 6)
    def round6(x: Double): Double =
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val scored = docs.map { case (id, text) =>
      val t = text.split(" ").filter(_.nonEmpty)
      (id, t.length.toLong, round6(t.distinct.length.toDouble / t.length))
    }.sortBy { case (id, _, s) => (-s, id) }
    for (budget <- Seq(50L, 500L, 2000L, 1000000L)) {
      // the running sum is over the full ordered prefix (monotone), so the
      // first overflowing doc also blocks everything after it
      var cum = 0L
      val expected = scored.flatMap { case (id, n, _) =>
        cum += n; if (cum <= budget) Some(id) else None
      }.toSet
      val got = PipelineOps.budgetSelect(df, budget).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got === expected, s"budget=$budget")
    }
  }

  // --------------------------------------------------------------------- q113
  test("span dedup covers exactly the tokens under corpus-repeated 10-grams") {
    import spark.implicits._
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, common + " b1 b2 b3"),                        // shares the c-run with doc 2
      (2L, common + " d1 d2"),
      (3L, ((1 to 10) ++ (1 to 10)).map(i => s"x$i").mkString(" ")), // internal repeat
      (4L, (1 to 15).map(i => s"u$i").mkString(" ")),    // unique
      (5L, "short doc under ten tokens")                 // too short for any span
    ).toDF("doc_id", "text")
    val out = PipelineOps.spanDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("n_dup_tok")))).toMap
    assert(out(1L) === ((13L, 10L))) // only the shared c-run is covered
    assert(out(2L) === ((12L, 10L)))
    assert(out(3L) === ((20L, 20L))) // the x-run repeats within the doc
    assert(out(4L) === ((15L, 0L)))
    assert(out(5L) === ((5L, 0L)))   // < k tokens → no spans, still reported
  }

  // --------------------------------------------------------------------- q114
  test("hierarchy flatten resolves roots and depths through pointer doubling") {
    import spark.implicits._
    // forest: 343→49→7→1 (root, self-loop), 50→7, 3 its own root
    val parents = Seq((1L, 1L), (3L, 3L), (7L, 1L), (49L, 7L), (50L, 7L),
      (343L, 49L)).toDF("node", "parent")
    val out = PipelineOps.flattenParents(parents.repartition(3)).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("root"), r.getAs[Long]("depth")))).toMap
    assert(out === Map(
      1L -> ((1L, 0L)), 3L -> ((3L, 0L)), 7L -> ((1L, 1L)),
      49L -> ((1L, 2L)), 50L -> ((1L, 2L)), 343L -> ((1L, 3L))))
  }

  test("hierarchy flatten handles a 120-deep chain in logarithmic rounds (40-round guard untouched)") {
    import spark.implicits._
    // linear chain 0←1←2←…←120: depth k for node k; doubling needs ~7
    // rounds where a parent-hop loop would need 120
    val parents = (0L to 120L).map(k => (k, math.max(k - 1, 0L))).toDF("node", "parent")
    val out = PipelineOps.flattenParents(parents).collect()
      .map(r => r.getAs[Long]("node") -> ((r.getAs[Long]("root"), r.getAs[Long]("depth"))))
      .toMap
    assert(out(0L) === ((0L, 0L)))
    assert(out(1L) === ((0L, 1L)))
    assert(out(120L) === ((0L, 120L)))
    assert(out.size === 121 && out.values.forall(_._1 == 0L))
  }

  test("q146 recursive CTE equals q114 pointer doubling on the real table") {
    val dir = "/root/testdata/sf0.001"
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("custkey") ->
        ((r.getAs[Long]("root"), r.getAs[Long]("depth")))).toMap
    val doubling = asMap(PipelineOps.q114Hierarchy(spark, dir))
    val recursive = asMap(PipelineOps.q146RecursiveCte(spark, dir))
    assert(recursive === doubling)
    assert(recursive.nonEmpty)
  }

  test("q159 group split: every source lands wholly in one split") {
    val rows = PipelineOps.q159GroupSplit(spark, "/root/testdata/sf0.001").collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[String]("split")).toSet)
    bySource.foreach { case (src, splits) =>
      assert(splits.size === 1, s"source $src leaked across splits: $splits")
    }
    assert(rows.map(_.getAs[String]("split")).toSet.size > 1)
  }

  test("q160 temporal split: train/test day ranges respect the embargo gap") {
    val rows = PipelineOps.q160TemporalSplit(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getAs[String]("split") ->
        ((r.getAs[Int]("min_day"), r.getAs[Int]("max_day")))).toMap
    assert(rows("train")._2 < 20)
    assert(rows("test")._1 >= 22)
    assert(rows("test")._1 - rows("train")._2 >= 2) // the embargo gap
  }

  test("q161 label balance keeps exactly the minority count in every class") {
    val counts = PipelineOps.q161LabelBalance(spark, "/root/testdata/sf0.001").collect()
      .map(_.getAs[Long]("n_kept")).toSet
    assert(counts.size === 1, s"classes not equalized: $counts")
  }

  // --------------------------------------------------------------------- q115
  test("temperature mixture up-samples tail languages and keeps ~targetFrac overall") {
    import spark.implicits._
    // heavily skewed corpus: en 900, de 90, fr 10
    val docs = ((0 until 900).map(i => (i.toLong, "en")) ++
      (900 until 990).map(i => (i.toLong, "de")) ++
      (990 until 1000).map(i => (i.toLong, "fr")))
      .map { case (id, l) => (id, l, s"payload text $l $id") }
      .toDF("doc_id", "lang", "text")
    val out = PipelineOps.temperatureMixture(docs, alpha = 0.7, targetFrac = 0.5)
    val rates = out.select(col("lang"), col("rate")).distinct().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("rate")).toMap
    // α < 1 ⇒ strictly higher sampling rate for rarer languages
    assert(rates("fr") > rates("de") && rates("de") > rates("en"), rates.toString)
    // expected kept fraction ≈ targetFrac (hash is uniform; 1000 draws)
    val kept = out.count().toDouble / 1000
    assert(kept > 0.35 && kept < 0.65, s"kept fraction $kept")
    // weights invert rates
    out.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("weight") * r.getAs[Double]("rate") - 1.0) < 1e-3)
    }
  }

  test("flattenParents matches a sequential reference on random forests") {
    import spark.implicits._
    var state = 5L
    def next(n: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % n).toInt
    }
    for (trial <- 1 to 3) {
      val n = 40 + trial * 30
      // node k's parent is a uniformly random earlier node (k=0 root);
      // every node also has a 1-in-8 chance of being its own root
      val parent = Array.tabulate(n) { k =>
        if (k == 0 || next(8) == 0) k else next(k)
      }
      def refRootDepth(k: Int): (Int, Int) = {
        var cur = k; var d = 0
        while (parent(cur) != cur) { cur = parent(cur); d += 1 }
        (cur, d)
      }
      val df = (0 until n).map(k => (k.toLong, parent(k).toLong)).toDF("node", "parent")
      val got = PipelineOps.flattenParents(df.repartition(4)).collect()
        .map(r => r.getAs[Long]("node") ->
          ((r.getAs[Long]("root"), r.getAs[Long]("depth")))).toMap
      (0 until n).foreach { k =>
        val (root, d) = refRootDepth(k)
        assert(got(k.toLong) === ((root.toLong, d.toLong)), s"trial $trial node $k")
      }
    }
  }

  test("deletion-neighborhood candidates are exactly the in-block lev<=1 pairs " +
    "on random perturbed names") {
    import spark.implicits._
    // small alphabet + short strings force hash-bucket collisions and
    // distance-1 pairs between DIFFERENT entities, not just planted twins
    val rnd = new scala.util.Random(7)
    def randStr() = (0 until 3 + rnd.nextInt(5))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val cleanNames = (0 until 60).map(i => (i.toLong, randStr()))
    val dirtyNames = cleanNames.map { case (i, s) =>
      val m = rnd.nextInt(4) match {
        case 0 => s
        case 1 if s.length > 1 => s.substring(0, 1) + s.substring(2) // deletion
        case 2 => s + ('a' + rnd.nextInt(4)).toChar                  // insertion
        case _ => ('a' + rnd.nextInt(4)).toChar + s.substring(1)     // substitution
      }
      (i + 1000L, m)
    }
    val clean = cleanNames.toDF("akey", "an")
      .withColumn("nk", lit(0)).withColumn("seg", lit("S"))
    val dirty = dirtyNames.toDF("bkey", "bn")
      .withColumn("nk", lit(0)).withColumn("seg", lit("S"))
    val got = PipelineOps.neighborhoodCandidates(clean, dirty).collect()
      .map(r => (r.getAs[Long]("akey"), r.getAs[Long]("bkey"), r.getAs[Int]("lev"))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ak, an) <- cleanNames
      (bk, bn) <- dirtyNames
      d = lev(an, bn) if d <= 1
    } yield (ak, bk, d)).toSet
    assert(got === expected)
    assert(expected.exists(_._3 == 1) && expected.size > cleanNames.size,
      "fixture should include non-twin distance-1 pairs")
  }

  // --------------------------------------------------------------------- q127
  test("shuffle-shard emits a deterministic permutation with contiguous per-shard ranks") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = PipelineOps.shuffleShard(docs, nShards = 8).collect()
    // a permutation: every doc exactly once
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length === docs.count())
    // contiguous 0..k-1 positions inside each shard
    out.groupBy(_.getAs[Int]("shard")).foreach { case (s, rows) =>
      val pos = rows.map(_.getAs[Int]("pos")).sorted
      assert(pos === (0 until rows.length).toArray, s"shard $s")
    }
    // partitioning-invariant (rerun-stable epoch order)
    val again = PipelineOps.shuffleShard(docs.repartition(7), nShards = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Int]("shard"), r.getAs[Int]("pos"))))
    assert(again.toMap === out.map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Int]("shard"), r.getAs[Int]("pos")))).toMap)
  }

  test("flattenParents fails fast when a parent id is missing from the node set") {
    import spark.implicits._
    val bad = Seq((1L, 1L), (2L, 99L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.flattenParents(bad).collect()
    }
    assert(e.getMessage.contains("closure"))
  }

  // --------------------------------------------------------------------- q120
  test("pagerank ranks high in-degree hubs first and is partition-invariant") {
    import spark.implicits._
    // 2,4,6 → 1 and 8 → 3: node 1 is the 3-in-degree hub, 3 a 1-in-degree
    // sink, sources are structurally identical to each other
    val edges = Seq((2L, 1L), (4L, 1L), (6L, 1L), (8L, 3L)).toDF("src", "dst")
    val out = PipelineOps.pageRank(edges, iters = 3, topK = 10).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(out.size === 6)
    assert(out(1L) > out(3L), s"hub should out-rank the small sink: $out")
    assert(out(3L) > out(2L), s"sink should out-rank a source: $out")
    assert(out(2L) === out(4L) && out(4L) === out(6L) && out(6L) === out(8L))
    // total mass stays ≈ 1 (floor-div quantization only loses ulps)
    assert(math.abs(out.values.sum - 1.0) < 1e-3, s"mass ${out.values.sum}")
    val again = PipelineOps.pageRank(edges.repartition(5), iters = 3, topK = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(again === out)
  }

  // --------------------------------------------------------------------- q121
  test("record linkage recovers the true pairing through blocking + mutual best") {
    val rows = PipelineOps.q121RecordLinkage(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // ground truth: the dirty twin's key is clean key + 1000000
    val correct = rows.count(r =>
      r.getAs[Long]("bkey") - 1000000L == r.getAs[Long]("akey"))
    assert(correct.toDouble / rows.length >= 0.95,
      s"$correct/${rows.length} correct")
    // mutual best ⇒ a strict 1:1 assignment
    assert(rows.map(_.getAs[Long]("akey")).distinct.length === rows.length)
    assert(rows.map(_.getAs[Long]("bkey")).distinct.length === rows.length)
    // perturbed names (every 3rd entity) still link
    assert(rows.exists(_.getAs[Int]("lev") > 0))
  }

  test("q121 neighborhood blocking is output-identical to coarse-blocked lev<=3 " +
    "and candidate count stays linear") {
    val dir = "/root/testdata/sf0.001"
    val (clean, dirty) = PipelineOps.linkageTables(spark, dir)
    val viaNeighborhood = PipelineOps
      .mutualBestAssignment(PipelineOps.neighborhoodCandidates(clean, dirty))
      .collect().map(_.toSeq).toSet
    val viaCoarse = PipelineOps
      .mutualBestAssignment(PipelineOpsSpec.coarseCandidates(clean, dirty))
      .collect().map(_.toSeq).toSet
    assert(viaNeighborhood === viaCoarse)
    // scale property: neighborhood candidates are O(n) (each name's bucket
    // holds its twin plus rare single-edit collisions), while the coarse
    // path's 125 fixed blocks make candidates O(n²/125)
    val n = clean.count()
    val nCand = PipelineOps.neighborhoodCandidates(clean, dirty).count()
    assert(nCand <= 3 * n, s"candidates $nCand for n=$n — expected ~n")
    assert(nCand >= n, "every clean row's twin must be a candidate")
  }

  // --------------------------------------------------------------------- q110
  test("k-means final plan stays flat as iterations grow (per-iteration truncation)") {
    import spark.implicits._
    val emb = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(64)(d => if (d % 2 == i % 2) 1.0f else 0.1f))
    }.toDF("vec_id", "embedding")
    def planNodes(iters: Int): Int =
      PipelineOps.kmeans(emb, k = 2, iters = iters)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    // without the per-iteration localCheckpoint the iter-4 plan re-embeds
    // every earlier iteration's assignment+update lineage
    assert(planNodes(4) === planNodes(1))
  }

  test("spherical k-means recovers planted clusters and iterating does not hurt") {
    import spark.implicits._
    // 8 well-separated anchors, 25 vectors each, deterministic jitter;
    // vec_id 0..7 land in distinct clusters so the first-k init starts
    // with one seed per true cluster
    var state = 11L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val rows = for (c <- 0 until 8; i <- 0 until 25) yield {
      val anchor = Array.tabulate(64)(d => if (d / 8 == c) 10.0 else 0.0)
      val v = anchor.map(a => (a + 0.5 * next()).toFloat)
      // vec_id 0..7 are one per cluster (i == 0), the rest follow
      val id = if (i == 0) c.toLong else 8L + c * 24 + (i - 1)
      (id, v, c)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = PipelineOps.kmeans(emb, k = 8, iters = 2).collect()
    assert(out.length === 200)
    // every planted cluster maps to exactly one k-means cluster and the
    // assignment is pure (clusters are separated by ~90° in cosine space)
    val truth = rows.map(r => r._1 -> r._3).toMap
    val byTruth = out.groupBy(r => truth(r.getAs[Long]("vec_id")))
    assert(byTruth.size === 8)
    byTruth.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("cluster")).distinct.length === 1)
    }
    // mean assignment similarity after an update beats the raw-seed init
    val sim0 = PipelineOps.kmeans(emb, k = 8, iters = 0).collect()
      .map(_.getAs[Double]("sim")).sum / 200
    val sim2 = out.map(_.getAs[Double]("sim")).sum / 200
    assert(sim2 >= sim0 - 1e-9, s"iterating degraded fit: $sim0 -> $sim2")
  }
}

object PipelineOpsSpec {

  /** Coarse-blocked candidates ((nk, seg) blocks, lev ≤ 3): the brute-force
    * twin of `PipelineOps.neighborhoodCandidates` for the invariance proof;
    * the O(n²/|blocks|) growth is why it is not the shipped path. */
  def coarseCandidates(clean: DataFrame, dirty: DataFrame): DataFrame =
    clean.join(dirty, Seq("nk", "seg"))
      .withColumn("lev", expr("levenshtein(an, bn, 3)"))
      .filter(col("lev") >= 0)
      .select(col("akey"), col("bkey"), col("lev"))
}
