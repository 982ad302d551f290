package graft.ops

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property: distributed min-label propagation partitions vertices exactly
  * like a sequential union-find on the same random edge list, and every
  * component's label is its minimum vertex id.
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** Sequential reference: union-find with path compression. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    // canonical label = min id of the component
    val ids = parent.keys.toSeq
    val byRoot = ids.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val lbl = members.min; members.map(_ -> lbl)
    }.toMap
  }

  private val edgesGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 40)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 25L)
      b <- Gen.choose(0L, 25L)
    } yield (a, b))
  } yield edges

  test("min-label propagation == union-find on random graphs (chains, cycles, self-loops)") {
    import spark.implicits._
    val prop = Prop.forAll(edgesGen) { edges =>
      val got = TextOps.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(edges)
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("large-star/small-star contraction == union-find on random graphs") {
    import spark.implicits._
    val prop = Prop.forAll(edgesGen) { edges =>
      val base = unionFind(edges).filter { case (id, _) =>
        // star contraction drops pure self-loop vertices (no real edge);
        // they form singleton components — compare on the rest
        edges.exists(e => (e._1 == id || e._2 == id) && e._1 != e._2)
      }
      val got = TextOps.connectedComponentsStar(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == base
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("RDD star loop == DataFrame star loop == union-find on random graphs") {
    import spark.implicits._
    // the narrow-scope RDD inner loop (q255's path) must be
    // label-identical to the DataFrame contraction on every graph shape
    val prop = Prop.forAll(edgesGen) { edges =>
      val base = unionFind(edges).filter { case (id, _) =>
        edges.exists(e => (e._1 == id || e._2 == id) && e._1 != e._2)
      }
      val got = TextOps.connectedComponentsStarRdd(edges.toDF("a", "b"), parts = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == base
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
    Checkpoints.releaseAll(spark)
  }

  test("RDD star loop resolves a 24-node chain (diameter stress) to one component") {
    import spark.implicits._
    val chain = (0L until 23L).map(i => (i, i + 1))
    val labels = TextOps.connectedComponentsStarRdd(chain.toDF("a", "b"), parts = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 24)
    assert(labels.values.toSet === Set(0L))
    Checkpoints.releaseAll(spark)
  }

  test("regression: round-cap escape keeps self-loop-only singletons (ScalaCheck find)") {
    import spark.implicits._
    // the shrunk ScalaCheck counterexample: a diameter-7 path (forces the
    // >5-round star escape under the default cap) PLUS self-loop-only
    // vertices (0,0)/(16,16) that star contraction would silently drop
    val edges = List((12L, 14L), (0L, 0L), (1L, 21L), (13L, 17L), (8L, 13L),
      (4L, 5L), (8L, 23L), (4L, 10L), (21L, 7L), (4L, 5L), (0L, 6L),
      (3L, 17L), (16L, 16L), (19L, 4L), (18L, 15L), (7L, 3L), (12L, 22L))
    val got = TextOps.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === unionFind(edges))
    assert(got(16L) === 16L) // the self-loop singleton survives the escape
  }

  test("star contraction resolves a 24-node chain (diameter stress) to one component") {
    import spark.implicits._
    val chain = (0L until 23L).map(i => (i, i + 1))
    val labels = TextOps.connectedComponentsStar(chain.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 24)
    assert(labels.values.toSet === Set(0L))
  }

  test("q82 entry path escapes a high-diameter chain to star contraction") {
    import spark.implicits._
    // diameter 29 >> maxPropagationRounds 2: min-label propagation cannot
    // converge, so clusterPairs must fall through to star contraction and
    // still produce the exact clustering
    val chain = (0L until 29L).map(i => (i, i + 1))
    val rows = TextOps.clusterPairs(chain.toDF("id_a", "id_b"), maxPropagationRounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 30)
    assert(rows.forall { case (_, cluster, size) => cluster == 0L && size == 30L })
    assert(rows.map(_._1).toSet === (0L until 30L).toSet)
  }
}
