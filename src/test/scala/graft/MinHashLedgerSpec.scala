package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MinHashLedger, MinHashLsh}

/** Incremental MinHash-LSH: ingesting the corpus in batches must
  * surface exactly the one-shot LSH candidate pair set (each pair
  * found by whichever member arrives later probing the band ledger),
  * with per-batch work that never rescans prior corpora.
  */
class MinHashLedgerSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("batch-ingest union equals the full-corpus LSH candidate pair set") {
    val ledger = "minhash_ledger_t"
    MinHashLedger.init(spark, ledger)
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      val oneShot = MinHashLsh.candidatePairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(oneShot.nonEmpty, "fixture must contain near-dup candidates")

      val incremental = (0 until 3).flatMap { b =>
        val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
        val pairs = MinHashLedger.ingest(spark, batch, ledger)
        // the incremental flow emits exactly the one-shot LSH columns
        assert(pairs.columns.toSeq == MinHashLsh.candidatePairs(batch).columns.toSeq)
        pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      // the ledger holds band rows only: no signature payload
      assert(spark.table(ledger).columns.toSeq == Seq("bkh", "bkey", "doc_id"))
      // no batch may emit a pair twice across runs (append-monotone)
      assert(incremental.distinct.length == incremental.length,
        "a pair was emitted by more than one batch")
      assert(incremental.toSet == oneShot)
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("cross-run pairs: disjoint docs emit none; an exact dup pairs via ledger") {
    import spark.implicits._
    val ledger = "minhash_ledger_est_t"
    MinHashLedger.init(spark, ledger)
    try {
      val run1 = Seq((1L, "alpha beta gamma delta"), (2L, "zeta eta theta iota"))
        .toDF("doc_id", "text")
      val out1 = MinHashLedger.ingest(spark, run1, ledger)
      assert(out1.count() == 0, "disjoint docs must not collide")

      // run 2: an exact dup of doc 1 and a 3/5-overlap neighbor
      val run2 = Seq(
        (10L, "alpha beta gamma delta"),
        (11L, "alpha beta gamma kappa lambda")).toDF("doc_id", "text")
      val out2 = MinHashLedger.ingest(spark, run2, ledger).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the exact dup must be found across runs, through the LEDGER
      // (doc 1 was ingested in run 1)
      assert(out2.contains((1L, 10L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("retried batch appends are compactable; probe results unchanged") {
    import spark.implicits._
    val ledger = "minhash_ledger_retry_t"
    MinHashLedger.init(spark, ledger)
    try {
      val run1 = Seq((1L, "alpha beta gamma delta"), (2L, "zeta eta theta"))
        .toDF("doc_id", "text")
      MinHashLedger.ingest(spark, run1, ledger)
      val clean = spark.table(ledger).count()
      // simulate a crashed-then-retried batch: blind re-append
      MinHashLedger.ingest(spark, run1, ledger)
      assert(spark.table(ledger).count() == 2 * clean)

      val probe = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
      val before = MinHashLedger.candidatePairsAgainst(spark, probe, ledger)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      MinHashLedger.compact(spark, ledger,
        Files.createTempDirectory("mh_retry_compact_").toString)
      assert(spark.table(ledger).count() == clean,
        "compaction must restore one row per (bkey, doc_id)")
      val after = MinHashLedger.candidatePairsAgainst(spark, probe, ledger)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before && after.exists(_._1 == 1L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("probe pushes its key set into the ledger scan; fallback path agrees") {
    val ledger = "minhash_ledger_push_t"
    MinHashLedger.init(spark, ledger)
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      MinHashLedger.ingest(spark, docs, ledger)
      val probe = docs.filter(pmod(col("doc_id"), lit(7)) === 1)

      // the point-lookup prune must be IN THE PLAN: every ledger scan
      // carries a pushed In filter on bkh (if the translation breaks —
      // conf too low, InSet not converted — this silently degrades to
      // a full read and the flat-probe-IO claim dies with it)
      val pushed = MinHashLedger.candidatePairsAgainst(spark, probe, ledger)
      pushed.collect()
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec => q +: flatten(q.plan)
        case r: ReusedExchangeExec => r +: flatten(r.child)
        case n => n +: n.children.flatMap(flatten)
      }
      val ledgerScans = flatten(pushed.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains(ledger)) => s
      }
      assert(ledgerScans.nonEmpty, "no ledger file scan found in the plan")
      assert(ledgerScans.forall(
        _.metadata.get("PushedFilters").exists(_.contains("In(bkh"))),
        s"ledger scan lost its pushed In(bkh,...) filter: " +
          ledgerScans.map(_.metadata.get("PushedFilters")).mkString("; "))

      // a batch too large to push falls back to the plain scan join —
      // pair-for-pair identical output
      val fallback = MinHashLedger.candidatePairsAgainst(
        spark, probe, ledger, maxPushdownKeys = 0)
      val a = pushed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = fallback.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, "pushed and fallback probes diverge")
      assert(a.nonEmpty, "fixture probe should find near-dups")
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("q_dedup_incremental: the query-surface flow equals one-shot LSH on its universe") {
    val out = SparkEntry.queries("q_dedup_incremental")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ordered output (the oracle compare is row-order-sensitive)
    assert(out.sameElements(out.sorted))
    val universe = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .filter(size(array_distinct(
        graft.operators.TextQueries.tokens(col("text")))) > 0)
      .select("doc_id", "text")
    val oneShot = MinHashLsh.candidatePairs(universe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.toSet == oneShot && out.length == out.toSet.size)
  }

  test("hot-bucket cap: an over-cap bucket emits no pairs for the batch") {
    import spark.implicits._
    val ledger = "minhash_ledger_cap_t"
    MinHashLedger.init(spark, ledger)
    try {
      // 8 identical docs: every (band, bucket) holds all 8
      val batch = (1L to 8L).map(i => (i, "same text every time"))
        .toDF("doc_id", "text")
      val capped = MinHashLedger.candidatePairsAgainst(
        spark, batch, ledger, bucketCap = 4)
      assert(capped.count() == 0)
      val uncapped = MinHashLedger.candidatePairsAgainst(
        spark, batch, ledger, bucketCap = 100)
      assert(uncapped.count() == 8L * 7 / 2)
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }
}
