package graft

import graft.operators.ConnectedComponents

/** Min-label propagation CC: known components, chains, convergence. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("three separate components get their min id as label") {
    val got = components(Seq((1L, 2L), (2L, 3L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 20L)))
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a 12-node chain converges to one component") {
    val chain = (0L until 11L).map(i => (i + 1, i))
    val got = components(chain)
    assert(got.size === 12)
    assert(got.values.toSet === Set(0L))
  }

  test("self-loops and duplicate edges are harmless") {
    val got = components(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)))
    assert(got === Map(5L -> 5L, 6L -> 5L))
  }

  test("self-loop-only nodes keep their own label") {
    val got = components(Seq((5L, 5L), (5L, 6L), (9L, 9L)))
    assert(got === Map(5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("adversarial 10k-node path graph converges in O(log n) rounds") {
    val chain = (0L until 10000L).map(i => (i + 1, i))
    // exercise the distributed star path, not the
    // driver union-find fast path
    val stats = ConnectedComponents.runWithStatsDistributed(chain.toDF("src", "dst"))
    // min-label propagation would need 10k rounds (diameter); the
    // alternating-star contraction is logarithmic
    assert(stats.rounds <= 20, s"took ${stats.rounds} rounds")
    val labels = stats.labels.as[(Long, Long)].collect()
    assert(labels.length === 10001)
    assert(labels.forall(_._2 == 0L))
  }

  test("unconverged exit throws instead of returning wrong labels") {
    val chain = (0L until 64L).map(i => (i + 1, i))
    intercept[IllegalStateException] {
      ConnectedComponents
        .runWithStatsDistributed(chain.toDF("src", "dst"), maxIter = 1)
        .labels.collect()
    }
  }

  test("seeded random graph matches a union-find reference") {
    // deterministic pseudo-random sparse graph over 400 nodes
    def h(a: Long, b: Long): Long = {
      var z = a * 0x9e3779b97f4a7c15L + b * 0xbf58476d1ce4e5b9L
      z ^= z >>> 31; z * 0x94d049bb133111ebL
    }
    val edges = (0L until 300L).map { i =>
      (math.abs(h(i, 1)) % 400, math.abs(h(i, 2)) % 400)
    }

    // reference: classic union-find on the driver
    val parent = Array.tabulate(400)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodesInEdges = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodesInEdges.map { n =>
      // component label = min node id in the component, among edge nodes
      n -> nodesInEdges.filter(m => find(m.toInt) == find(n.toInt)).min
    }.toMap

    // both paths must agree with the reference: driver union-find
    // fast path (default cutoff) and the distributed star fixpoint
    assert(components(edges) === expected)
    val distributed = ConnectedComponents
      .runWithStatsDistributed(edges.toDF("src", "dst"))
      .labels.as[(Long, Long)].collect().toMap
    assert(distributed === expected)
  }
}
