package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation — the
  * canonicalization step after any near-dup pair generator: pairs say
  * "these two match", components say "this whole cluster is one
  * document, keep the canonical member". Each iteration sends every
  * vertex's current component label across its edges and keeps the
  * minimum; near-dup graphs are diameter-bounded clusters, so a
  * handful of rounds in practice.
  *
  * Adversarially long chains (a path graph is the worst case: plain
  * propagation needs O(diameter) rounds) are handled by POINTER
  * JUMPING: from round `shortcutAfter` on, each round also rewrites
  * every label through the label table itself (l(v) ← l(l(v)) — one
  * extra equi-join), which halves the remaining pointer depth per
  * round, so total rounds are O(shortcutAfter + log diameter) — the
  * same halving the large-star/small-star formulation buys, with a
  * simpler per-round plan. The common shallow case converges before
  * the switch and never pays for the extra join; GraphOpsSpec's
  * 2048-vertex path bounds the rounds. Correctness is invariant: every label
  * is always the id of a vertex in the same component and ≤ the
  * vertex's own id (propagation keeps it — a neighbor's label is in
  * the same component; jumping keeps it — l(v)'s label is in l(v)'s
  * component), so the joint fixpoint is the plain-propagation
  * fixpoint: the component minimum.
  *
  * The driver loop's only per-round action is the label sum, one
  * decimal scalar — nothing else leaves the executors.
  */
object GraphOps {

  /** Edge cap for the driver union-find shortcut in
    * [[connectedComponents]]: a symmetrized edge list at or under this
    * many rows (≤ ~2 MB of longs) resolves locally in one action; a
    * larger one falls back to the distributed loop. The same
    * bounded-driver-model move as MinHashLedger's point-lookup key
    * pushdown (collect up to a cap, fall back past it).
    */
  val LocalCcMaxEdges = 65536

  /** Both directions of every edge, deduplicated and materialized
    * (eager localCheckpoint): every traversal here re-joins the list
    * per round, so the upstream pair-generation plan runs once.
    */
  private def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)

  /** edges(src, dst) → (id, component) for every vertex appearing in
    * any edge; component = the minimum vertex id reachable from `id`.
    *
    * Small graphs — near-dup pair graphs after the df-cap, and the
    * cluster ledger's delta-bounded super-node graphs — resolve by a
    * DRIVER union-find over the one materialized (and capped) edge
    * collect: min-label components are unique, so the result is
    * bit-identical to the distributed loop's, without the loop's
    * per-round action + checkpoint + convergence probe (measured
    * ~1 s saved per CC call at sf0.1 across the dedup-cluster family
    * and the incremental ledger's three batch folds). Past
    * [[LocalCcMaxEdges]] the distributed pointer-jumping loop runs
    * unchanged — the 100 TB path, proven separately by
    * [[connectedComponentsWithRounds]] (which GraphOpsSpec drives
    * for the adversarial-diameter bound).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    val spark = edges.sparkSession
    val sym = symmetrized(edges)
    val take = graft.Tables.collectBounded(sym, LocalCcMaxEdges) match {
      case Some(rows) => rows
      // sym is already symmetrized+deduped+checkpointed: enter the
      // distributed loop past its own re-symmetrization so the
      // big-graph path materializes the edge list exactly once
      case None => return ccRoundsPreSym(sym, maxIter, 3)._1
    }
    // driver union-find with min-label canonicalization
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    take.foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    parent.keys.toSeq.sorted.map(v => (v, find(v)))
      .toDF("id", "component")
  }

  /** connectedComponents plus the number of rounds it took — the
    * evidence channel GraphOpsSpec asserts on for the adversarial-
    * diameter path. `shortcutAfter` is the round index where pointer jumping
    * joins the per-round plan (3 covers every near-dup graph observed;
    * deep chains then collapse logarithmically).
    */
  def connectedComponentsWithRounds(edges: DataFrame, maxIter: Int = 40,
      shortcutAfter: Int = 3): (DataFrame, Int) =
    ccRoundsPreSym(symmetrized(edges), maxIter, shortcutAfter)

  /** The propagation loop over an ALREADY symmetrized, deduplicated,
    * materialized edge list — the entry [[connectedComponents]]'s
    * big-graph fallback uses so the edge list is not symmetrized and
    * checkpointed a second time.
    */
  private def ccRoundsPreSym(sym: DataFrame, maxIter: Int,
      shortcutAfter: Int): (DataFrame, Int) = {
    // seed with min(id, neighbors) straight from the edge aggregation —
    // the first propagation round for free, no join; pinned: two
    // consumers (both sides of the first step)
    var labels = sym.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .localCheckpoint()
    // One propagation step: every vertex offers its label to each
    // neighbor; keep the min of own label and all offers. The join is
    // a using-column join so the step composes with itself (the fused
    // round below) without dataset-column self-join ambiguity.
    def step(l: DataFrame): DataFrame =
      l.select(col("id"), col("component"))
        .unionAll(
          sym.select(col("src").as("id"), col("dst"))
            .join(l, Seq("id"))
            .select(col("dst").as("id"), col("component")))
        .groupBy("id")
        .agg(min(col("component")).as("component"))
    // Convergence signal: labels are monotone non-increasing (each
    // round keeps min(own, offers)), so the exact decimal label sum
    // strictly decreases on any change and is stable iff converged —
    // one cheap scan-agg per round instead of a join + count, and the
    // LAZY checkpoint below materializes in the same action.
    //
    // ONE propagation step per action — fusing two steps per action was
    // tried and MEASURED SLOWER (`graft.Bench` subset run, sf0.1
    // steady-state: single ~2.5 s; fused ~3.0 s recomputing the
    // twice-referenced inner step, ~3.7-4.5 s checkpointing it):
    // convergence lands between the two fused steps often enough that
    // the extra step's shuffle + the intermediate's block-cache write
    // outweigh the saved action dispatch. Near-dup graphs converge in a
    // handful of rounds; the action count is already within one of
    // optimal.
    // Pointer jumping: rewrite every label through the label table
    // itself. Every component value is a vertex id with its own row
    // (labels cover all vertices; a label is always some vertex's id),
    // so the inner join preserves all rows, and the looked-up label is
    // ≤ the current one (labels are monotone), so this only descends.
    def shortcut(l: DataFrame): DataFrame =
      l.join(l.select(col("id").as("component"), col("component").as("c2")),
          Seq("component"))
        .select(col("id"), col("c2").as("component"))
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop =
        if (iter < shortcutAfter) step(labels)
        else shortcut(step(labels).localCheckpoint())
      val next = prop.localCheckpoint(false)
      val s = next.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
      // a NULL sum means an empty label table (components are never
      // null): an empty edge set — e.g. a retried ledger batch whose
      // merges all collapsed to no-ops — is converged after its first
      // action, with no standing pre-loop emptiness probe taxing every
      // non-empty call (the hot per-batch ledger path runs this).
      // The null⇒empty reading leans on ANSI mode (Spark 4 default):
      // a decimal(38,0) sum overflow THROWS rather than returning null,
      // so null cannot also mean "overflowed sum of labels" here — and
      // reaching 1e38 would need ~1e19 vertices anyway. If ANSI were
      // ever disabled, distinguish empty via next.isEmpty instead.
      converged = s == null || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = next
      iter += 1
    }
    (labels, iter)
  }

  /** Fixed-point PageRank — the MapReduce paper's own iterative
    * example (Dean & Ghemawat, OSDI'04 §2.3 cites it as a canonical
    * MR application), expressed as `iters` join+aggregate rounds.
    *
    * All arithmetic is INTEGER: ranks are fixed-point values scaled by
    * `scale` (1e-12 units), each per-edge contribution is a truncating
    * `div`, the damping factor is 85/100 in integer ops. Floating-point
    * PageRank is partition-order-dependent (double sums re-associate),
    * so ten compounding iterations could flip a 6-dp rounding boundary
    * between engines or even between runs; integer algebra makes every
    * iteration bit-exact everywhere — the same determinism move as the
    * cents algebra in the revenue queries. Truncation loses < 1 unit
    * per (edge + node) per round at 1e-12 granularity, which is noise
    * for ranking while exactness buys an oracle-checkable result.
    *
    * `edges` must be directed, deduplicated, and SYMMETRIZED (callers
    * pass both directions of each link), which guarantees every node
    * has an out-edge (no dangling-mass correction) AND an in-edge —
    * the latter is what lets each round be ONE join + ONE aggregate:
    * the contribution aggregation already produces a row for every
    * node, so no re-join onto the node set is needed (the oracle's
    * LEFT JOIN onto nodes is provably never null-extending under this
    * precondition). Out-degrees are joined onto the edge table ONCE
    * before the loop instead of once per round. The node count enters
    * as one driver scalar (the IvfKnn train-sample precedent). Rounds
    * are O(E) with no growing state; the lazy checkpoint per round
    * keeps the lineage flat, and since checkpoints preserve
    * partitioning, the groupBy("node") output feeds the next round's
    * join already hash-partitioned on the key. Measured at sf0.1:
    * 23 s/10 rounds with the naive 3-join round; 2.9 s steady-state
    * with this shape.
    */
  def pageRank(edges: DataFrame, iters: Int = 10,
      scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesDeg = e.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(col("src"))
      .localCheckpoint(true)
    val nodes = edgesDeg.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    if (n == 0) return nodes.withColumn("rank", lit(0L))
    val teleport = (scale * 15) / (100 * n)
    var pr = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 1 to iters) {
      pr = pr
        .join(edgesDeg, pr("node") === edgesDeg("src"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("contrib"))
        .select(col("node"),
          (lit(teleport) + expr("(85 * contrib) div 100")).as("rank"))
        .localCheckpoint(false)
    }
    pr
  }

  /** Per-node triangle counts by DEGREE-ORDERED ORIENTATION — the
    * standard bound that makes distributed triangle enumeration viable
    * on skewed graphs. `und` is one row per undirected edge with
    * `u < v`, deduplicated.
    *
    * Orient every edge from its (degree, id)-smaller endpoint to the
    * larger; each triangle then has exactly ONE vertex with two
    * out-edges inside it (the order-minimum — the orientation relation
    * is a total order, so a 3-cycle of oriented edges is impossible),
    * so enumerating wedges at out-edges and closing them against the
    * undirected edge set counts each triangle exactly once, no
    * dedup pass. The payoff is the fan-out bound: after orientation,
    * every out-degree is O(√m) REGARDLESS of the original degree
    * distribution (a vertex keeps an out-edge only toward same-or-
    * higher-degree neighbors, and there can be at most 2√m vertices of
    * degree ≥ √m), so the wedge join produces O(m^1.5) rows worst-case
    * instead of the Σdeg² of a naive neighbor self-join — the
    * difference between a bounded shuffle and a hot-vertex quadratic
    * at 100 TB. All three steps are plain equi-joins (shuffle on
    * `src`, then on the closing pair); nothing is broadcast, nothing
    * is iterative.
    */
  def triangleCounts(und: DataFrame): DataFrame = {
    // pinned: `e` has four consumers (both degree-union branches, the
    // orientation join, the closing lookup) and `oriented` two (each
    // wedge-join side) — unpinned, the caller's pair-generation
    // pipeline executed up to 8x (before-plan: 22 parquet scans in
    // q_triangles, 26 in q_clustering_coef); pinned it executes once.
    val e = und.select(col("u"), col("v")).localCheckpoint()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint()
    // wedges at the orientation-minimum vertex; the out-neighbor pair
    // {b, c} is normalized b < c by ID so the closing lookup hits the
    // undirected edge list's native (u < v) form directly
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val tri = wedges.join(
      e.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), asc_nulls_first("node"))
  }

  /** Single-source BFS: (node, depth) for every vertex reachable from
    * the graph's minimum vertex id (a deterministic source), depth =
    * shortest hop count. Level-synchronous frontier expansion — the
    * third iterative-join algorithm next to min-label CC and fixed-point
    * PageRank: each round joins ONLY the current frontier (not all
    * labels) against the edge list, anti-joins away already-visited
    * nodes, and stops when a frontier comes back empty. One count
    * action per round, lazy localCheckpoints so no round re-runs the
    * upstream pair generation.
    *
    * Scale: per-round shuffle is O(|frontier|·avg-degree) — the
    * textbook BFS bound; visited-set lookups are an anti-join on the
    * accumulated label table, which AQE broadcasts while small. Rounds
    * = source eccentricity (≤ diameter), `maxIter` bounds adversarial
    * chains exactly like connectedComponents' cap.
    */
  def bfsDepths(edges: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    val sym = symmetrized(edges)
    var labels = sym.agg(min(col("src")).as("node"))
      .select(col("node"), lit(0L).as("depth"))
      .localCheckpoint(true)
    var frontier = labels
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val next = frontier
        .join(sym, frontier("node") === sym("src"))
        .select(col("dst").as("node")).distinct()
        .join(labels, Seq("node"), "left_anti")
        .select(col("node"), lit(iter + 1L).as("depth"))
        .localCheckpoint(false)
      if (next.isEmpty) done = true
      else {
        labels = labels.unionAll(next).localCheckpoint(false)
        frontier = next
        iter += 1
      }
    }
    (labels, iter)
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM'99) over a DIRECTED
    * bipartite-or-general edge list, `iters` fixed rounds of the
    * mutual recursion a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), each
    * followed by an L1 normalization to `scale` fixed-point units.
    *
    * Same integer-determinism move as [[pageRank]]: scores live on a
    * 1e-12 fixed-point grid, every per-edge contribution is an exact
    * long, and the normalization is integer `div` against the exact
    * L1 sum — so ten compounding rounds are bit-identical across
    * partitionings and engines, which is what lets an unrolled-CTE
    * oracle hash-check the result. Unlike PageRank the normalizer is
    * a GLOBAL sum per round; it enters the plan as a 1-row aggregate
    * broadcast-crossed back (no driver action per round — the loop
    * stays fully lazy, one localCheckpoint per round to flatten
    * lineage).
    *
    * Scale: each round is two shuffle-on-key join+aggregates over the
    * edge list (O(E) rows moved, map-side partial aggs) plus two
    * 1-row broadcasts. State never grows; rounds are independent of
    * graph diameter. Returns (hubs(node, score), auths(node, score)).
    */
  def hits(edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(true)
    // a second pinned copy partitioned on dst: the auth→hub join keys
    // on dst every round, and without it the src-partitioned edge list
    // re-exchanges on dst once PER ROUND (iters × O(E) shuffle, guide
    // §2.4 — two operations keyed the same way should share one
    // exchange); one extra materialization buys zero edge shuffles in
    // the loop (checkpoints preserve partitioning, and each round's
    // groupBy output is already partitioned on its join key)
    val eDst = e.repartition(col("dst")).localCheckpoint(true)
    val srcs = e.select(col("src").as("node")).distinct().localCheckpoint(true)
    // raw·scale overflows BIGINT (raw is itself ~scale·degree), so the
    // product runs in DECIMAL(38,0); `div` truncates back to BIGINT.
    // Everything is positive, so Spark's `div` and DuckDB's `//` agree.
    //
    // The pre-normalization frame is lazily checkpointed BEFORE the L1
    // aggregate: the broadcast-normalizer job is what first computes
    // (and caches) the round's edge join+agg, and the normalized
    // projection then reads the cache instead of re-running the join —
    // without this, every round pays its heaviest stage twice.
    def normalize(s: DataFrame): DataFrame = {
      val cached = s.localCheckpoint(false)
      // the L1 total is ONE row — fold it to a driver scalar and inline
      // it as a literal (the CC-loop convergence-probe precedent,
      // GraphOps head() above) instead of a crossJoin(broadcast(agg)):
      // same truncating decimal div on the same value, minus one
      // BroadcastExchange stage per normalize (2 per round × 5 rounds)
      val l1 = cached.agg(sum(col("raw").cast("decimal(38,0)")))
        .head().getDecimal(0)
      // a null L1 (empty or all-null raw frame — an empty edge set)
      // must degrade to null scores like the old crossJoin(agg) form
      // did, not NPE on toPlainString
      val l1Lit =
        if (l1 == null) "CAST(NULL AS DECIMAL(38,0))"
        else s"CAST('${l1.toPlainString}' AS DECIMAL(38,0))"
      cached.select(col("node"),
        expr(s"CAST((CAST(raw AS DECIMAL(38,0)) * $scale) div " +
          s"$l1Lit AS BIGINT)")
          .as("score"))
    }
    var hubs = srcs.withColumn("score", lit(scale))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      auths = normalize(
        hubs.join(e, hubs("node") === e("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("score")).as("raw")))
      hubs = normalize(
        auths.join(eDst, auths("node") === eDst("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("score")).as("raw")))
    }
    (hubs, auths)
  }

  /** Synchronous label propagation (Raghavan et al., 2007) community
    * detection: `rounds` FIXED rounds where every node adopts the most
    * frequent label among {itself} ∪ neighbors, ties broken by the
    * SMALLEST label — both choices make each round a deterministic
    * function of the previous one, so an unrolled-CTE oracle replays
    * the identical computation (the same fixed-rounds move as
    * [[kCore]]; free-running LPA is famously order-dependent, this
    * form is not). The self-vote also damps the 2-cycle oscillation
    * synchronous LPA exhibits on bipartite-ish regions. Labels start
    * as node ids, so every label is always the id of some member of
    * the community it names.
    *
    * Per round: ONE edge join ships each neighbor's current label
    * (O(E) rows, map-side combinable into per-(node,label) counts),
    * then the argmax folds per node with a max-of-struct aggregate —
    * (count, −label) under struct ordering IS "most frequent,
    * smallest-label tie-break" — no window; an eager localCheckpoint
    * per round (two consumers) keeps lineage flat. `edges` must be
    * symmetrized and deduplicated (callers pass both directions),
    * matching [[pageRank]]'s contract.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("dst"))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = labels
        .unionAll(
          sym.join(labels, sym("dst") === labels("id"))
            .select(col("src").as("id"), col("label")))
        .groupBy("id", "label")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** K-core peeling: `rounds` FIXED iterations of "drop every node
    * whose degree in the surviving subgraph is < k", over an
    * undirected edge list (one row per edge, u < v). Fixed rounds —
    * not peel-to-convergence — so an unrolled-CTE oracle replays the
    * exact same computation; extra rounds after the fixpoint are
    * no-ops, so for graphs that converge early the result IS the
    * k-core. Returns the surviving (node, degree) table.
    *
    * Scale: each round recomputes degrees with one map-combinable agg
    * over the surviving edges and drops edges by two semi-joins on
    * the survivor set — O(E) per round, an eager checkpoint per round
    * (three consumers) to flatten lineage. The edge set
    * only shrinks, so later rounds cost less than earlier ones.
    */
  def kCore(und: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    var edges = und.select(col("u"), col("v")).distinct().localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val deg = edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k).select("node")
      edges = edges
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
    }
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }
}
