package graft.operators

import graft.SparkTestBase

class ConnectedComponentsSpec extends SparkTestBase {

  test("min-label propagation finds components: chain, pair, singleton") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), pair 10-11,
    // isolated 20; edges deliberately in mixed orientation
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = ConnectedComponents.components(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
                       10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("pointer jumping converges logarithmically: 40-chain within 8 rounds") {
    import spark.implicits._
    // plain neighbor propagation needs 39 rounds on this graph; with
    // label := label(label) each round roughly doubles reach, so maxIter=8
    // only succeeds if the jumping actually works
    val n = 40L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.components(nodes, edges, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet === Set(1L), s"chain did not converge: $got")
  }

  test("round count tracks diameter, not volume: 25 disjoint 40-chains converge within 8 rounds") {
    import spark.implicits._
    // the same graph as above, replicated into disjoint copies: volume
    // scales the per-round shuffles, never the number of rounds
    val n = 40L; val copies = 25L
    val nodes = (0L until copies * n).map(_ + 1).toDF("id")
    val edges = (0L until copies).flatMap(c =>
      (1L until n).map(i => (c * n + i, c * n + i + 1))).toDF("src", "dst")
    val got = ConnectedComponents.components(nodes, edges, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to copies * n).map(id => id -> ((id - 1) / n * n + 1)).toMap)
  }

  test("q57 clusters are consistent with q42 pairs: endpoints share a rep") {
    import spark.implicits._
    val comp = graft.SparkEntry.queries("q57_dedup_clusters")(spark, sfDir)
      .select($"doc_id", $"cluster_rep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = graft.SparkEntry.queries("q42_minhash_lsh")(spark, sfDir)
      .select($"a", $"b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(comp(r.getLong(0)) === comp(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} split across clusters")
    }
    // every rep is the min id of its cluster
    comp.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min === rep)
    }
  }
}
