package graft

import scala.util.control.NonFatal
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RDDScanExec, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plans every file scan with the stock `FileSourceStrategy` under a
  * [[CrashOnceScanExec]] (the strategy injection of Pathling's
  * `SqlStrategy`).
  */
object CrashOnceScans extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _, _: LogicalRelation) =>
      FileSourceStrategy(plan).map(CrashOnceScanExec(_))
    case _ => Nil
  }
}

/** Runs its child's rows through FaultToleranceSpec's `CrashOnce`, so
  * every task that reads a file throws on attempt 0 and runs again.
  * Partitioning and ordering pass through, so bucketed scans keep their
  * shuffle-free joins.
  */
case class CrashOnceScanExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(CrashOnce.flakyIdentity[InternalRow],
      preservesPartitioning = true)

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** The one pass over the query surface: the reference's crash/nocrash
  * golden twin (`mrapps/crash.go` against `nocrash.go`) and its mtiming
  * probe, applied to every query. Run A uses the test session; its plan
  * passes the plan audit before it executes. Run B uses a twin session
  * (7 shuffle partitions, no AQE coalescing, no auto-broadcast, 2 KiB
  * file splits, every file scan crashing on each task's first attempt);
  * its plan must split every non-trivial scan, and its rows must equal
  * run A's in order. So a result that depends on partitioning, AQE or
  * task retries fails here. Each check lists every offending query.
  */
class SurfaceSweepSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  /** Queries allowed a pairwise nested-loop plan. EMPTY as of round 5:
    * q_sim_topk's probe broadcast was replaced by the blocked grid
    * equi-join (SimilarityQueries.blockedTopKFrom), the last BNLJ in
    * the inventory. Kept as a set so a future declared baseline states
    * its name here instead of weakening the assertion.
    */
  private val pairwiseBaselines = Set.empty[String]

  /** Queries whose BNLJ is a single-row broadcast cross join (a scalar
    * like corpus size N entering the plan) — constant work per row at
    * any scale, nothing pairwise about it.
    */
  private val scalarBroadcasts = Set("q_tfidf",
    // the unicode twin — same 1-row corpus-size broadcast as q_tfidf
    "q_tfidf_unicode",
    // corpus token total N entering the ≥1% threshold as a 1-row
    // broadcast — same shape as tfidf's N
    "q_heavy_hitters",
    // corpus stats row (N, Σdl, per-term df) re-entering the scoring
    // projection — 1 row at any scale
    "q_bm25",
    // corpus token total N entering the coverage division — 1 row,
    // joined against the post-limit 500-row vocab
    "q_vocab_coverage",
    // (total_tokens, weight_sum) scalar row entering the per-source
    // rate computation — 1 row against the |sources|-row summary
    "q_mix_budget",
    // global (Σbal, n) average row entering the above-average filter —
    // 1 row at any scale, Q22's scalar subquery
    "q_idle_rich",
    // (n_docs, n_clustered) 1-row aggregates differenced into the
    // singleton-cluster row of the size histogram
    "q_cluster_sizes",
    // corpus token total N entering the PMI of the post-limit 50
    // collocations — 1 row at any scale, q_tfidf's shape
    "q_collocations",
    // corpus max-day anchor entering the age computation — 1 row
    "q_decayed_sum",
    // distinct-order total N entering the lift denominator — 1 row at
    // any scale, q_tfidf's shape
    "q_assoc_rules",
    // (n_total, k_labels, max_n) 1-row aggregate entering the
    // per-label weight computation
    "q_class_balance",
    // (n_a, n_b) sample-size row entering the ECDF gap scaling — 1 row
    "q_ks_test",
    // customer-count row entering the decile-bucket ceil — 1 row
    "q_lorenz",
    // corpus-end anchor entering the censoring cutoff — 1 row
    "q_survival",
    // transition-stream total entering the entropy-rate weights — 1 row
    "q_entropy_rate",
    // 1-row sign-convention scalar flipping the final eigenvector
    "q_pca_power",
    // 1-row L1 normalizer of the final HITS round (earlier rounds sit
    // behind lazy checkpoints)
    "q_hits",
    // 1-row min-class-size bound entering the per-class rank filter
    "q_sample_balanced",
    // corpus token total N entering the keyness excess — 1 row at any
    // scale, q_tfidf's shape
    "q_keyness",
    // 1-row purchase-sample total entering the dominance products
    "q_cliff_delta",
    // 1-row edge-count m entering the modularity numerator/denominator
    "q_modularity",
    // 1-row (k+1)-th order statistic entering the log-ratio terms of
    // the post-TakeOrdered 500-row frame
    "q_hill_tail",
    // 1-row (N, tie-sum) aggregate entering the per-segment rank rows
    "q_kruskal_wallis",
    // 1-row (n_a, n_b) sample sizes entering the ECDF area terms
    "q_emd",
    // 1-row (tot_buyers, tot_users) base-rate scalar entering the
    // per-decile lift — 1 row against the 10-row decile grid
    "q_lift",
    // 1-row bigram-stream total entering the coverage division of the
    // post-limit 100-row frame — q_vocab_coverage's shape
    "q_bigram_coverage",
    // 1-row corpus-end anchor entering the staleness/last-day fold —
    // q_survival's shape
    "q_freshness",
    // 1-row (n_orders, full mean) scalar joined onto the 1-row CI fold
    "q_bootstrap_ci",
    // 1-row token/vocab totals joined onto the 1-row doc summary
    "q_corpus_summary")

  /** Queries whose BNLJ is a dimension-grid cross join (calendar days ×
    * event types in q_resample): both sides are tiny dimension products —
    * O(days × types) at any data scale — and the build side must be a
    * broadcast exchange, which `joinViolations` verifies so the
    * allowance cannot mask an accidental fact×fact cross join.
    */
  private val dimensionGridBroadcasts = Set("q_resample",
    // probe×centroid cross join: the centroid table is nLists rows
    // (corpus-size-independent) — the probe side must stream
    "ann_ivf_topk",
    // event-type × event-type pair grid (|types|² rows, schema-bounded);
    // everything data-sized happened before, in the sketch build
    "q_overlap_kmv",
    // probe × class grid (the zero-score rows a one-vs-rest AUC must
    // keep); classes are a handful at any scale and must broadcast
    "q_auc",
    // customer × month spine for the carry-forward: months are a tiny
    // calendar dimension and must broadcast against the customer side
    "q_eop_balance",
    // vocab × other-sources grid for the pairwise KL sums: the source
    // list is |sources| rows at any scale and must broadcast
    "q_js_divergence",
    // test-doc × class grid (k classes at any scale) plus the 1-row
    // vocab-size and train-count scalars entering the class stats —
    // every build side must broadcast
    "q_naive_bayes",
    // day × day pair grid under d1 < d2 (q_mann_kendall's shape on a
    // days-bounded fold) — both sides tiny, build must broadcast
    "q_kendall_tau",
    // 3-row n-gram-length grid × 1-row denominator — both broadcast
    "q_decontaminate_ladder",
    // 19-row quantile grid joined on the rank-selection equation —
    // the grid is constant-size at any scale and must broadcast
    "q_qq_plot",
    // 5×5 priority pair grid under g1 < g2 plus the 1-row MSW scalar —
    // q_kendall_tau's shape on the group dimension
    "q_tukey",
    // 64×16 sign-matrix grid (two range relations crossed) — corpus-
    // independent, broadcast into the dim equi-join
    "q_jl_project")

  /** Queries allowed a window fed by an `Exchange SinglePartition`
    * because the frame entering the window is BOUNDED — by a value
    * domain, a calendar axis, or a schema-sized grid — not
    * corpus-proportional. Every entry names its bound. Structurally
    * provable bounded shapes (a below-exchange limit, a global 1-row
    * fold, or partitionedRank's `__pr_pid` per-shuffle-partition
    * stats frame) are recognized without being listed.
    */
  private val boundedGlobalWindows: Map[String, String] = Map(
    // fixed replica/grid axes — schema- or constant-sized at any scale
    "q_bootstrap_ci" -> "40 bootstrap replica cells (constant)",
    "q_contingency" -> "segment × priority grid (5×5)",
    "q_cramers_v" -> "segment × priority grid (5×5)",
    "q_mutual_info" -> "event-type × hour grid",
    "q_cond_entropy" -> "event-type × category grid",
    "q_weekly_rhythm" -> "7-day × 24-hour grid (168 rows)",
    "q_cosine_hist" -> "fixed cosine bins",
    "q_hist2d" -> "fixed 2-D value bins",
    "q_token_len_dist" -> "token-length domain",
    "q_user_activity_hist" -> "fixed activity buckets",
    "q_lines_per_order" -> "lines-per-order domain (≤ max order size)",
    "q_sample_temperature" -> "|sources| rows",
    // calendar axes — days/weeks in the observed span, not corpus rows
    "q_churn" -> "|weeks| rows",
    "q_cum_distinct" -> "|days| rows",
    "q_pct_change" -> "|days| rows",
    "q_rolling_corr" -> "|days| rows",
    "q_survival" -> "distinct lifetime days (≤ span)",
    "q_power_users" -> "days-active histogram (≤ span days)")

  /** Run B's split target; at sf0.001 every table but region, nation
    * and supplier is more than two splits. */
  private val SplitBytes = 2048L

  /** Loggers that print per injected failure; muted during run B only. */
  private val crashLoggers = Seq("org.apache.spark.executor.Executor",
    "org.apache.spark.scheduler.TaskSetManager", "org.apache.spark.storage.BlockManager")

  private lazy val twin: SparkSession = {
    val b = spark.newSession()
    b.conf.set("spark.sql.shuffle.partitions", "7")
    b.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    b.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    b.conf.set("spark.sql.files.maxPartitionBytes", SplitBytes.toString)
    b.conf.set("spark.sql.files.openCostInBytes", "0")
    b.experimental.extraStrategies = Seq(CrashOnceScans)
    b
  }

  private def quietCrashLogs[T](body: => T): T = {
    val prev = crashLoggers.map(n => n -> LogManager.getLogger(n).getLevel)
    crashLoggers.foreach(Configurator.setLevel(_, Level.OFF))
    try body
    finally prev.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  private def flatten(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case p => p +: p.children.flatMap(flatten)
  }

  /** Cartesian products, undeclared nested-loop joins, and declared
    * dimension grids whose build side is not a broadcast. */
  private def joinViolations(name: String, nodes: Seq[SparkPlan]): Seq[String] = {
    val bnljs = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
    def broadcastBuild(j: BroadcastNestedLoopJoinExec): Boolean =
      flatten(if (j.buildSide == BuildLeft) j.left else j.right).exists {
        case _: BroadcastExchangeExec | _: BroadcastQueryStageExec => true
        case _ => false
      }
    Seq(
      nodes.exists(_.isInstanceOf[CartesianProductExec]) ->
        s"$name plans a CartesianProduct",
      (dimensionGridBroadcasts(name) && !bnljs.forall(broadcastBuild)) ->
        s"$name has a BroadcastNestedLoopJoin whose build side is not a broadcast exchange",
      (bnljs.nonEmpty && !dimensionGridBroadcasts(name) && !pairwiseBaselines(name) &&
        !scalarBroadcasts(name)) -> s"$name plans a BroadcastNestedLoopJoin"
    ).collect { case (true, msg) => msg }
  }

  /** The shuffle exchange feeding `p` along single-child descent. */
  @annotation.tailrec
  private def feedingExchange(p: SparkPlan): Option[ShuffleExchangeExec] =
    p.children match {
      case Seq(e: ShuffleExchangeExec) => Some(e)
      case Seq(child) => feedingExchange(child)
      case _ => None
    }

  /** `p`'s producing stage: nodes down to the next shuffle exchange. */
  private def stageBelow(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ShuffleExchangeExec => Seq.empty
    case _ => p +: p.children.flatMap(stageBelow)
  }

  /** Structural evidence the exchange's input is bounded regardless of
    * corpus size: a limit upstream in the same stage, an ungrouped
    * (1-row) aggregate, or ScaleOps.partitionedRank's per-partition
    * stats aggregate (grouped by `__pr_pid` — ≤ shuffle-partition
    * CONFIG rows by construction).
    */
  private def boundedByConstruction(below: Seq[SparkPlan]): Boolean =
    below.exists {
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.exists(_.references.exists(
            _.name == "__pr_pid"))
      case _ => false
    }

  /** The first window fed by an `Exchange SinglePartition` over an input
    * not proven bounded, unless the query declares its bound.
    */
  private def windowViolation(name: String, nodes: Seq[SparkPlan]): Option[String] =
    nodes.filter(_.getClass.getSimpleName.startsWith("Window")).flatMap { w =>
      feedingExchange(w) match {
        case Some(e) if e.outputPartitioning == SinglePartition &&
            !boundedByConstruction(e.children.flatMap(stageBelow)) &&
            !boundedGlobalWindows.contains(name) =>
          Some(s"$name: ${w.nodeName} fed by Exchange SinglePartition over " +
            e.child.nodeName)
        case _ => None
      }
    }.headOption

  /** mtiming: a one-partition scan of a non-trivial input serializes
    * the heaviest stage. A plan may lack file scans only over
    * checkpointed or local leaves (iterative and model-emitting queries).
    */
  private def splitViolation(name: String, nodes: Seq[SparkPlan]): Option[String] = {
    val scans = nodes.collect { case s: FileSourceScanExec =>
      (s.relation.location.sizeInBytes, s.inputRDDs().map(_.getNumPartitions).max)
    }
    val serialBigScans = scans.filter { case (bytes, parts) => bytes > 2 * SplitBytes && parts <= 1 }
    val localLeaves =
      nodes.exists(n => n.isInstanceOf[RDDScanExec] || n.isInstanceOf[LocalTableScanExec])
    if (scans.isEmpty && !localLeaves) Some(s"$name has no file scan to parallelize")
    else if (serialBigScans.nonEmpty)
      Some(s"$name: single-partition scans of non-trivial inputs $serialBigScans")
    else None
  }

  private def rowDiff(name: String, a: Seq[Row], b: Seq[Row]): Option[String] =
    if (a.size != b.size) Some(s"$name: ${a.size} rows in run A, ${b.size} in run B")
    else a.indices.find(i => a(i) != b(i))
      .map(i => s"$name differs at row $i: ${a(i)} vs ${b(i)}")

  /** The memoized BPE queries, recomputed in the twin session with a
    * fresh training run (the memo would otherwise hand run B run A's
    * merge table).
    */
  private lazy val unmemoized: Map[String, () => DataFrame] = {
    import operators.{AdvancedTextQueries => A, UnicodeTextQueries => U}
    import operators.TextQueries.tokensUnicode
    Map(
      "q_bpe_merges" -> (() =>
        A.bpeMergesFrom(twin, Tables.documents(twin, sfDir), A.BpeMergeRounds)),
      "q_bpe_encode_unicode" -> { () =>
        val docs = U.docsU(twin, sfDir)
        A.encodeWith(docs,
          A.trainBpeMerges(twin, docs, A.BpeMergeRounds, tokensUnicode)
            .map { case (_, l, r, _) => (l, r) },
          tokensUnicode)
      })
  }

  /** (check, message) per failed check. Plans are read before execution,
    * while AQE's scans are not yet hidden inside query stages. The
    * memoized BPE queries are also checked against a retrain in run B.
    */
  private def sweepOne(name: String, fn: (SparkSession, String) => DataFrame): Seq[(String, String)] =
    try {
      val dfA = fn(spark, sfDir)
      val nodesA = flatten(dfA.queryExecution.executedPlan)
      val audit = joinViolations(name, nodesA).map("join" -> _) ++
        windowViolation(name, nodesA).map("window" -> _)
      val rowsA = dfA.collect().toSeq
      val before = CrashOnce.totalExecutions
      val (nodesB, rowsB) = quietCrashLogs {
        val dfB = fn(twin, sfDir)
        val nodes = flatten(dfB.queryExecution.executedPlan)
        (nodes, dfB.collect().toSeq)
      }
      val uncrashed = nodesB.exists(_.isInstanceOf[FileSourceScanExec]) &&
        CrashOnce.totalExecutions == before
      val retrained = unmemoized.get(name).map(f => quietCrashLogs(f().collect().toSeq))
      audit ++ splitViolation(name, nodesB).map("split" -> _) ++
        (rowDiff(name, rowsA, rowsB) ++
          retrained.flatMap(rowDiff(s"$name retrained without the memo", rowsA, _)))
          .map("diff" -> _) ++
        (if (uncrashed) Seq("crash" -> name) else Nil)
    } catch { case NonFatal(e) => Seq("threw" -> s"$name threw: $e") }

  private lazy val violations: Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) => sweepOne(n, fn) }

  private def assertNone(check: String, what: String): Unit = {
    val found = violations.collect { case (`check`, msg) => msg }
    assert(found.isEmpty, s"${found.size} $what:\n" + found.mkString("\n"))
  }

  test("every query runs in the test session and in the crash-once twin") {
    assertNone("threw", "queries threw")
  }

  test("twin run: rows equal run A's in order") {
    assertNone("diff", "queries diverged")
  }

  test("twin run: every file-scanning query takes an injected crash") {
    assertNone("crash", "queries scanned files without a crash")
  }

  test("plan audit: no cartesian products; nested-loop joins only as declared") {
    assertNone("join", "join violations")
  }

  test("plan audit: no corpus-scaled single-partition window") {
    assertNone("window", "single-partition windows over unproven axes (declare in " +
      "boundedGlobalWindows with the bound, or rewrite via ScaleOps.partitionedRank)")
  }

  test("mtiming: every scan over 4 KiB plans more than one input partition") {
    assertNone("split", "scan violations")
  }
}
