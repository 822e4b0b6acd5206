package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ClusterLedger, GraphOps, MinHashLedger, MinHashLsh}

/** Incremental components must equal the one-shot
  * `GraphOps.connectedComponents` recompute — both on an adversarial
  * synthetic delta sequence (cluster merges ACROSS batches, including
  * a merge of two previously-separate old clusters) and after every
  * batch of the real MinHashLedger flow on the fixture corpus.
  */
class ClusterLedgerSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** One-shot CC over `edges`, with every id in no edge self-labeled. */
  private def oneShotLabels(ids: Set[Long], edges: Seq[(Long, Long)]) = {
    val paired = labelsOf(GraphOps.connectedComponents(edges.toDF("src", "dst")))
    paired ++ (ids -- paired.map(_._1)).map(i => (i, i))
  }

  test("patch-append mode: adversarial merges + retry resolve identically") {
    val t = "cluster_ledger_patch_syn_t"
    ClusterLedger.initPatch(spark, t)
    try {
      val out1 = ClusterLedger.ingestPatch(spark,
        Seq(1L, 2L, 5L, 6L, 9L).toDF("id"),
        Seq((1L, 2L), (5L, 6L)).toDF("src", "dst"), t)
      assert(labelsOf(out1) ==
        Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L)))
      // first-batch merges land in the base append, NOT the patch map
      // (patch size must track touched OLD clusters, not admitted docs)
      assert(spark.table(s"${t}_patch").count() == 0)

      // late chain merge of two OLD clusters through new doc 12
      // (2—12, 12—5): label 5 must fall to 1 through the patch map
      // (5 -> 1), never a base rewrite, though no delta edge touches 6
      val out2 = ClusterLedger.ingestPatch(spark,
        Seq(12L).toDF("id"),
        Seq((2L, 12L), (12L, 5L)).toDF("src", "dst"), t)
      assert(labelsOf(out2) ==
        Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (9L, 9L), (12L, 1L)))
      // equals the one-shot recompute over all edges + isolated ids
      assert(labelsOf(out2) == oneShotLabels(Set(1L, 2L, 5L, 6L, 9L, 12L),
        Seq((1L, 2L), (5L, 6L), (2L, 12L), (12L, 5L))))
      // the base table was NOT rewritten: rows 5/6 still carry their
      // as-of-admission label, the patch map carries the merge
      assert(labelsOf(spark.table(t)).contains((6L, 5L)))
      assert(spark.table(s"${t}_patch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, 1L)))

      // chain-freeness: batch 3 merges label 1 into 0 — the existing
      // (5 -> 1) entry must follow to (5 -> 0) in the SAME pass
      val out3 = ClusterLedger.ingestPatch(spark,
        Seq(0L).toDF("id"),
        Seq((0L, 6L)).toDF("src", "dst"), t)
      assert(labelsOf(out3) == Set((0L, 0L), (1L, 0L), (2L, 0L),
        (5L, 0L), (6L, 0L), (9L, 9L), (12L, 0L)))
      assert(labelsOf(out3) == oneShotLabels(Set(0L, 1L, 2L, 5L, 6L, 9L, 12L),
        Seq((1L, 2L), (5L, 6L), (2L, 12L), (12L, 5L), (0L, 6L))))
      val patch = spark.table(s"${t}_patch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(patch == Set((5L, 0L), (1L, 0L)),
        s"patch map must stay chain-free, got $patch")

      // crashed-then-retried batch: blind re-ingest of batch 3 (same
      // newIds + same deltaEdges) must drop the already-admitted id and
      // collapse the edges to a no-op merge — one row per doc, labels equal
      val out3b = ClusterLedger.ingestPatch(spark,
        Seq(0L).toDF("id"),
        Seq((0L, 6L)).toDF("src", "dst"), t)
      assert(labelsOf(out3b) == labelsOf(out3))
      assert(spark.table(t).count() == 7, "retry must not duplicate label rows")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_patch")
    }
  }

  test("point-lookup patch fold: the pushdown regime resolves identically to the fallback") {
    // fixture tables are below the size guard, so the production entry
    // routes to the fallback — drive the pushdown regime directly and
    // demand the same adversarial-merge algebra the fallback proves
    val t = "cluster_ledger_push_t"
    def fold(ids: Seq[Long], edges: Seq[(Long, Long)]) =
      ClusterLedger.ingestPatchPushdown(spark, ids.toDF("id"),
        edges.toDF("src", "dst"), t)
    ClusterLedger.initPatch(spark, t)
    try {
      val out1 = fold(Seq(1L, 2L, 5L, 6L, 9L), Seq((1L, 2L), (5L, 6L)))
      assert(labelsOf(out1) ==
        Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L)))
      assert(spark.table(s"${t}_patch").count() == 0)
      // late chain merge of two OLD clusters through a new doc
      val out2 = fold(Seq(12L), Seq((2L, 12L), (12L, 5L)))
      assert(labelsOf(out2) ==
        Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (9L, 9L), (12L, 1L)))
      assert(spark.table(s"${t}_patch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5L, 1L)))
      // retried batch: blind re-fold changes nothing, no dup rows
      val out2b = fold(Seq(12L), Seq((2L, 12L), (12L, 5L)))
      assert(labelsOf(out2b) == labelsOf(out2))
      assert(spark.table(t).count() == 6)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_patch")
    }
  }

  test("checkpointPatch: base absorbs the map, resolve unchanged, later folds compose") {
    val t = "cluster_ledger_ckpt_t"
    ClusterLedger.initPatch(spark, t)
    try {
      ClusterLedger.ingestPatch(spark,
        Seq(1L, 2L, 5L, 6L, 9L).toDF("id"),
        Seq((1L, 2L), (5L, 6L)).toDF("src", "dst"), t)
      ClusterLedger.ingestPatch(spark,
        Seq(12L).toDF("id"),
        Seq((2L, 12L), (12L, 5L)).toDF("src", "dst"), t)
      val before = labelsOf(ClusterLedger.resolvePatch(spark, t))
      assert(spark.table(s"${t}_patch").count() == 1, "fixture must have a live patch entry")

      ClusterLedger.checkpointPatch(spark, t,
        Files.createTempDirectory("clc_ckpt_").toString)
      // the map is empty, the base IS the resolved table, and the read
      // path returns bit-identical labels
      assert(spark.table(s"${t}_patch").count() == 0)
      assert(labelsOf(spark.table(t)) == before)
      assert(labelsOf(ClusterLedger.resolvePatch(spark, t)) == before)

      // folds after a checkpoint compose: merging the 1-cluster into 0
      // patches exactly the one touched (post-checkpoint) old label
      val out = ClusterLedger.ingestPatch(spark,
        Seq(0L).toDF("id"), Seq((0L, 6L)).toDF("src", "dst"), t)
      assert(labelsOf(out) == Set((0L, 0L), (1L, 0L), (2L, 0L),
        (5L, 0L), (6L, 0L), (9L, 9L), (12L, 0L)))
      assert(spark.table(s"${t}_patch").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 0L)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_patch")
    }
  }

  test("q_dedup_incr_clusters: the query-surface flow equals one-shot CC on its universe") {
    val out = SparkEntry.queries("q_dedup_incr_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ordered output (the oracle compare is row-order-sensitive)
    assert(out.map(_._1).sameElements(out.map(_._1).sorted))
    val universe = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .filter(size(array_distinct(
        graft.operators.TextQueries.tokens(col("text")))) > 0)
      .select("doc_id", "text")
    val oneShot = GraphOps.connectedComponents(
      MinHashLsh.candidatePairs(universe)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
    val oneShotSet = labelsOf(oneShot)
    val pairedIds = oneShotSet.map(_._1)
    val got = out.toSet
    assert(got.filter(t => pairedIds(t._1)) == oneShotSet,
      "paired docs must carry the one-shot min-label components")
    assert(got.filterNot(t => pairedIds(t._1)).forall(t => t._1 == t._2),
      "unpaired docs must self-label")
    assert(got.map(_._1) ==
      universe.select("doc_id").collect().map(_.getLong(0)).toSet,
      "every admitted doc must be labeled exactly once")
    assert(out.length == got.size, "no duplicate label rows")
    // Cap-headroom guard: the DuckDB oracle applies BucketCap to the
    // ONE-SHOT bucket populations while the ledger applies it per batch
    // over ledger-so-far ∪ batch — equal only while the cap never binds.
    // Keep a 10x margin so a fixture change that approaches the cap
    // fails HERE with a message, not as an opaque oracle hash mismatch.
    val maxBucketDf = MinHashLedger.bandRows(universe)
      .groupBy("bkey").count().agg(max("count")).head().getLong(0)
    assert(maxBucketDf * 10 <= MinHashLsh.BucketCap,
      s"fixture's hottest LSH bucket df=$maxBucketDf is within 10x of " +
        s"BucketCap=${MinHashLsh.BucketCap}; the q_dedup_incr_clusters " +
        "oracle equality is cap-conditional (one-shot vs per-batch cap " +
        "evaluation) — revisit before the cap can bind")
  }

  test("fixture corpus through the ledger flow equals one-shot clusters") {
    val near = "cluster_ledger_near_t"
    val clus = "cluster_ledger_labels_t"
    MinHashLedger.init(spark, near)
    ClusterLedger.initPatch(spark, clus)
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      var ids = Set.empty[Long]
      var edges = Seq.empty[(Long, Long)]
      for (b <- 0 until 3) {
        val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
        val pairs = MinHashLedger.ingest(spark, batch, near)
        val out = ClusterLedger.ingestPatch(spark,
          batch.select(col("doc_id").as("id")),
          pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")), clus)
        ids ++= batch.select("doc_id").collect().map(_.getLong(0))
        edges ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        val got = out.collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.length == ids.size, s"batch $b: one label row per admitted doc")
        assert(got.toSet == oneShotLabels(ids, edges),
          s"batch $b: labels diverge from one-shot CC over the pairs so far")
      }
      // by the append-monotone ledger theorem the per-batch pairs are the
      // one-shot LSH pair set, so the final labels are its components
      val oneShotPairs = MinHashLsh.candidatePairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(labelsOf(ClusterLedger.resolvePatch(spark, clus)) ==
        oneShotLabels(ids, oneShotPairs))
    } finally {
      Seq(near, clus, s"${clus}_patch")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
