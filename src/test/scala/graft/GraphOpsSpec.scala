package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Connected components checked two ways: a planted graph with known
  * clusters, and the real near-dup pair graph cross-validated against
  * a local union-find on the collected edges.
  */
class GraphOpsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  private def localComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("planted graph: a chain, a triangle and an isolated edge resolve") {
    // chain 1-2-3-4, triangle 10-11-12, pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1,
      10L -> 10, 11L -> 10, 12L -> 10, 20L -> 20, 21L -> 20))
  }

  test("adversarial diameter: a 2048-vertex path converges in O(log d) rounds") {
    // worst case for plain min-label propagation (needs ~2047 rounds);
    // pointer jumping must collapse it within the default maxIter
    val n = 2048
    val edges = spark.range(0, n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (labels, rounds) = GraphOps.connectedComponentsWithRounds(edges)
    assert(labels.filter(col("component") =!= 0L).count() == 0,
      "every path vertex must resolve to component 0")
    assert(labels.count() == n)
    // 3 plain rounds + ~log2(2048) jumping rounds + convergence check
    assert(rounds <= 20, s"path graph took $rounds rounds — diameter escape failed")
  }

  test("near-dup pair graph components equal a local union-find") {
    val pairs = SparkEntry.queries("q_ngram_jaccard")(spark, sfDir)
      .select($"doc_id_1", $"doc_id_2")
    val local = localComponents(pairs.as[(Long, Long)].collect().toSeq)
    assume(local.nonEmpty)
    val distributed = GraphOps.connectedComponents(
      pairs.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    assert(distributed == local)
  }

  test("triangles: planted K4 + pendant + hot star counted exactly once each") {
    // K4 on {1,2,3,4}: 4 triangles, every vertex in 3 of them. The
    // pendant edge 4-5 and the degree-20 star at 100 (no two leaves
    // adjacent) add zero triangles — the star specifically exercises
    // the orientation: a naive wedge join at the hub would emit C(20,2)
    // candidates; oriented, the hub has ~no out-edges and emits none.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = (1L to 20L).map(i => (100L, 200L + i))
    val edges = (k4 ++ Seq((4L, 5L)) ++ star)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("u", "v")
    val got = GraphOps.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
  }

  test("triangles: co-purchase query equals a local brute force") {
    val und = SparkEntry.queries("q_cooccur")(spark, sfDir) // small top-25 set
    val edges = und.select($"p1", $"p2").as[(Long, Long)].collect().toSet
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val adj = edges ++ edges.map { case (a, b) => (b, a) }
    val local = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if adj((a, b)) && adj((b, c)) && adj((a, c))
      v <- Seq(a, b, c)
    } local(v) = local.getOrElse(v, 0L) + 1
    val got = GraphOps.triangleCounts(und.select($"p1".as("u"), $"p2".as("v")))
      .as[(Long, Long)].collect().toMap
    assert(got == local.toMap)
  }

  test("bfs: path graph gives one node per depth; cycle splits the layers") {
    // path 1-2-...-8 from source 1: depth(i) = i - 1
    val path = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val (pd, pRounds) = GraphOps.bfsDepths(path)
    assert(pd.as[(Long, Long)].collect().toMap ==
      (1L to 8L).map(i => i -> (i - 1)).toMap)
    assert(pRounds == 7)
    // 4-cycle 1-2-3-4-1 from source 1: two depth-1 neighbors, one at 2
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val (cd, _) = GraphOps.bfsDepths(cyc)
    assert(cd.as[(Long, Long)].collect().toMap ==
      Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
    // disconnected part stays unlabeled
    val dis = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    val (dd, _) = GraphOps.bfsDepths(dis)
    assert(dd.as[(Long, Long)].collect().toMap == Map(1L -> 0, 2L -> 1))
  }

  test("q_bfs_depth: single source at depth 0; real-graph rounds converge under the cap") {
    val out = operators.AnalyticsQueries.qBfsDepth(spark, sfDir).collect()
    assert(out.head.getAs[Long]("depth") == 0L &&
      out.head.getAs[Long]("n_nodes") == 1L)
    // depths are contiguous 0..max (BFS layers cannot skip a level)
    val depths = out.map(_.getAs[Long]("depth"))
    assert(depths.sameElements(0L to depths.max))
    assert(depths.max < 30, "oracle depth cap must exceed the eccentricity")
  }

  test("q_mrr: bounds relate hits and reciprocal ranks") {
    val out = operators.MlEvalQueries.qMrr(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, hit, mrr) = (r.getAs[Long]("n_probes"), r.getAs[Long]("n_hit"),
        r.getAs[Double]("mrr"))
      assert(hit <= n)
      // each hit contributes between 1/5 and 1 reciprocal rank
      assert(mrr >= hit.toDouble / (5 * n) - 1e-6)
      assert(mrr <= hit.toDouble / n + 1e-6)
    }
  }

  test("kCore: K4 with a pendant path peels to exactly the K4") {
    // K4 on 1..4 (every degree 3) + path 4-5-6 (degrees 1-2); the
    // 3-core is the K4 alone, and peeling needs 2 rounds (dropping 6
    // drops 5's degree to 1)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val got = GraphOps.kCore(und, k = 3, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
  }

  test("kCore: k=1 is a no-op on a clean edge list") {
    val und = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("u", "v")
    val got = GraphOps.kCore(und, k = 1, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2, 3L -> 1, 7L -> 1, 8L -> 1))
  }

  test("hits: bipartite star — the broad buyer dominates hubs, shared part dominates authorities") {
    // users 1,2,3 → parts 101,102,103: user 1 buys all three parts,
    // users 2 and 3 buy only part 101. Part 101 has every buyer
    // behind it (top authority); user 1 touches every part (top hub).
    val edges = Seq((1L, 101L), (1L, 102L), (1L, 103L),
      (2L, 101L), (3L, 101L)).toDF("src", "dst")
    val (hubs, auths) = GraphOps.hits(edges, iters = 5)
    val h = hubs.as[(Long, Long)].collect().toMap
    val a = auths.as[(Long, Long)].collect().toMap
    assert(h(1L) > h(2L) && h(1L) > h(3L))
    assert(h(2L) == h(3L)) // symmetric users must tie exactly
    assert(a(101L) > a(102L) && a(101L) > a(103L))
    assert(a(102L) == a(103L))
    // L1 normalization: each side's scores sum to ~1e12 (truncating
    // div loses at most one unit per node)
    assert(math.abs(h.values.sum - 1000000000000L) <= h.size)
    assert(math.abs(a.values.sum - 1000000000000L) <= a.size)
  }

  test("labelPropagation: disjoint triangles and an isolated edge settle on their min ids") {
    // two triangles + an edge, symmetrized; with the self-vote and the
    // smallest-label tie-break every component unanimously adopts its
    // minimum id (round 1 already — later rounds are no-ops)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1,
      10L -> 10, 11L -> 10, 12L -> 10, 20L -> 20, 21L -> 20))
  }

  test("labelPropagation: a 5-path drains to label 0 within 4 rounds") {
    // hand-replayed synchronous rounds with self-vote + min tie-break:
    // [0,0,1,2,3] → [0,0,0,1,2] → [0,0,0,0,1] → [0,0,0,0,0]
    val und = (0L until 4L).map(i => (i, i + 1))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 0L), s"expected all 0, got $got")
  }

  test("q_label_prop: communities nest inside connected components; labels are member ids") {
    val lp = q("q_label_prop").as[(Long, Long)].collect()
    val nodes = lp.map(_._1).toSet
    // every community label is itself a node of the graph
    assert(lp.map(_._2).toSet.subsetOf(nodes))
    // propagation can never cross a component boundary: rebuild the
    // edge list and check each (node, community) pair co-resides
    val li = Tables.lineitem(spark, sfDir)
    val pairs = operators.BehaviorQueries.cooccurPairCounts(li)
      .filter(col("n_orders") >= operators.AnalyticsQueries.PagerankMinCooccur)
      .select("p1", "p2")
    val cc = localComponents(pairs.as[(Long, Long)].collect().toSeq)
    lp.foreach { case (node, community) =>
      assert(cc(node) == cc(community),
        s"node $node labeled $community from a different component")
    }
  }

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)
}
