package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
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

  /** Every node of an executed plan, through AQE stages and reuse. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case r: ReusedExchangeExec => r +: flatten(r.child)
    case n => n +: n.children.flatMap(flatten)
  }

  private def ledgerScans(df: DataFrame, ledger: String): Seq[FileSourceScanExec] =
    flatten(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains(ledger)) => s
    }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

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
      val a = pairSet(pushed)
      val scans = ledgerScans(pushed, ledger)
      assert(scans.length == 1,
        s"the probe must read the ledger once, found ${scans.length} scans")
      assert(scans.forall(
        _.metadata.get("PushedFilters").exists(_.contains("In(bkh"))),
        s"ledger scan lost its pushed In(bkh,...) filter: " +
          scans.map(_.metadata.get("PushedFilters")).mkString("; "))
      // the pairs come off one bucket aggregate, not a broadcast self-join
      assert(!flatten(pushed.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeExec]),
        "the probe plan broadcasts")
      assert(a.nonEmpty, "fixture probe should find near-dups")

      // a batch too large to push falls back to the plain scan —
      // pair-for-pair identical output
      val fallback = MinHashLedger.candidatePairsAgainst(
        spark, probe, ledger, maxPushdownKeys = 0)
      assert(pairSet(fallback) == a, "pushed and fallback probes diverge")

      // the cap counts BAND ROWS, not distinct keys: a cap that holds
      // the batch's distinct keys but not its rows falls back too
      val bands = MinHashLedger.bandRows(probe)
      val (rows, keys) = (bands.count(), bands.select("bkh").distinct().count())
      assert(keys < rows, "the probe batch must share some buckets")
      val boundary = MinHashLedger.candidatePairsAgainst(
        spark, probe, ledger, maxPushdownKeys = keys.toInt)
      assert(pairSet(boundary) == a, "pushed and boundary probes diverge")
      val boundaryScans = ledgerScans(boundary, ledger)
      assert(boundaryScans.nonEmpty && boundaryScans.forall(
        !_.metadata.get("PushedFilters").exists(_.contains("In(bkh"))),
        s"a cap of $keys < $rows band rows must not push the key set")
    } finally spark.sql(s"DROP TABLE IF EXISTS $ledger")
  }

  test("init creates the ledger without a Spark job") {
    val ledger = "minhash_ledger_init_t"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilListenersProcessed(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      MinHashLedger.init(spark, ledger)
      ListenerBridge.waitUntilListenersProcessed(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sql(s"DROP TABLE IF EXISTS $ledger")
    }
    assert(jobs.get == 0, s"init ran ${jobs.get} Spark jobs")
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
