package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior analytics — ordered funnels, cohort retention,
  * market-basket co-occurrence — plus the deterministic global shuffle a
  * training-data export needs. These are the workloads the reference's
  * wc/indexer apps gesture at (per-key aggregation over an event log,
  * `/root/reference/mrapps/wc.go:21-42`) expressed as the real analytics
  * a 100 TB event store runs.
  *
  * Scale notes shared by the queries here:
  *  - every shuffle key is either `user_id` (cardinality = user base,
  *    uniform by construction of the generator) or a bounded composite
  *    ((cohort_day, day_offset) ≤ 31×31; part pairs bounded by the
  *    per-order line cap) — no key grows with raw event volume;
  *  - per-user state is O(1) (three timestamps for the funnel, one
  *    first-seen day for retention) so the aggregations are map-side
  *    partial-combinable and never hold an event list in memory.
  */
object BehaviorQueries {

  /** Strictly-ordered 3-stage funnel (view → click → purchase) per user.
    *
    * Semantics: t_view is the user's earliest view; t_click the earliest
    * click STRICTLY after t_view; t_purchase the earliest purchase
    * strictly after t_click. `depth` counts completed stages (0–3). All
    * users with any event appear, so conversion = depth histogram.
    *
    * Single-shuffle plan: one window sort on (user_id, ts, event_id)
    * computes a running min of view timestamps; a click qualifies when a
    * view strictly precedes it, and — because rows are ts-ordered — the
    * running min at that click IS the user's global first view, so the
    * per-user min over qualifying clicks equals the join-chain
    * formulation the oracle uses (same argument stage 2 → stage 3). The
    * final groupBy(user_id) reuses the window's hash partitioning:
    * `.explain` shows ONE Exchange for the whole query. The oracle
    * deliberately derives the same result the other way (three chained
    * join-aggregates) so the two formulations check each other.
    */
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)

    val staged = ev
      // running earliest view; at any non-view row this is the first view
      // strictly before it in (ts, event_id) order
      .withColumn("t1_run", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("click_ok",
        col("event_type") === "click" && col("t1_run") < col("ts"))
      .withColumn("t2_run", min(when(col("click_ok"), col("ts"))).over(w))
      .withColumn("purchase_ok",
        col("event_type") === "purchase" && col("t2_run") < col("ts"))

    staged.groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("click_ok"), col("ts"))).as("t_click"),
        min(when(col("purchase_ok"), col("ts"))).as("t_purchase"))
      .withColumn("depth",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0))
      .orderBy(asc_nulls_first("user_id"))
  }

  /** Daily cohort retention: users are cohorted by the calendar day of
    * their first event; for every (cohort_day, day_offset) we count the
    * distinct users active that many days later.
    *
    * Two shuffles, both on bounded-or-uniform keys: (1) min(ts) per
    * user_id (map-side combined to one row per user per task before the
    * exchange); (2) the distinct + count on (cohort_day, day_offset,
    * user_id). The cohort join broadcasts nothing — it's a user_id
    * equi-join where the cohort side is exactly one row per user, i.e.
    * the same co-partitioned shape as the event side.
    */
  def qRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "ts")
    val cohorts = ev.groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .join(cohorts, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"),
        col("user_id"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(asc_nulls_first("cohort_day"), asc_nulls_first("day_offset"))
  }

  /** Cohort lifetime-value matrix: users grouped by first-touch ISO
    * week, purchase revenue summed per (cohort week × age-in-weeks)
    * cell — the LTV curve read along each cohort row, the revenue
    * companion to qRetention's active-user counts. Week age is exact
    * integer algebra: both week starts are Mondays, so the day
    * difference is an exact multiple of 7 and the division truncates
    * nothing (no float months_between); revenue sums in integer cents.
    *
    * Scale: the cohort map is one user_id aggregate; purchases join it
    * on the same user_id hashing (co-partitioned, no extra exchange
    * shape), then collapse straight to the (weeks × ages) grid —
    * everything after the join is map-side combinable into a few
    * hundred cells regardless of corpus size.
    */
  def qCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val cohorts = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cw"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("w"),
        round(col("value") * 100).cast("long").as("cents"))
    purchases.join(cohorts, "user_id")
      .groupBy(col("cw").as("cohort_week"),
        (datediff(col("w"), col("cw")) / 7).cast("int").as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_buyers"),
        (round(sum(col("cents")).cast("double") / 100.0, 6) + lit(0.0))
          .as("revenue"))
      .orderBy(asc_nulls_first("cohort_week"), asc_nulls_first("age_weeks"))
  }

  /** Weekly churn: per ISO week, the distinct active users and the
    * fraction of them absent the following week — the retention
    * complement read forward (qRetention counts who stays, this counts
    * who leaves). A (user, week) can match at most one (user, week+7)
    * row, so the left join cannot fan out; the final week (no next
    * week to churn into) is excluded via a window max over the tiny
    * per-week grid.
    *
    * Scale: distinct (user, week) is the ONE data-sized exchange; the
    * self left-join re-uses the same user hashing; everything after
    * collapses to |weeks| rows.
    */
  def qChurn(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val nxt = uw.select(col("user_id").as("b_user"), col("week").as("b_week"))
    val ch = uw.join(nxt,
        col("user_id") === col("b_user") &&
          col("b_week") === date_add(col("week"), 7), "left")
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("b_user").isNull, 1).otherwise(0)).as("n_churned"))
    ch.withColumn("maxw", max(col("week")).over(Window.partitionBy()))
      .filter(col("week") < col("maxw"))
      .select(col("week"), col("n_active"), col("n_churned"),
        (round(col("n_churned").cast("double") / col("n_active"), 6)
          + lit(0.0)).as("churn_rate"))
      .orderBy(asc_nulls_first("week"))
  }

  /** Per-user event-transition matrix (first-order Markov statistics):
    * for each (from, to) event-type pair, the transition count and the
    * conditional probability P(to | from) — the behavioral model behind
    * next-action prediction and funnel anomaly detection, and the
    * pairwise complement of qSessionpath's whole-path counting.
    *
    * One window shuffle on user_id produces the lead() pairs; the agg
    * collapses to the |types|² grid immediately (map-side partial), and
    * the probability normalization is a window over that tiny grid —
    * nothing after the first exchange scales with the data.
    */
  def qTransitions(spark: SparkSession, sfDir: String): DataFrame =
    transitionCounts(spark, sfDir)
      .withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("from_type")), 6) + lit(0.0))
      .orderBy(asc_nulls_first("from_type"), asc_nulls_first("to_type"))

  /** Rolling 7-day distinct active users per day and event type (the
    * WAU curve). Exact sliding DISTINCT cannot run as a window
    * aggregate, and the textbook day-range join is a non-equi (nested
    * loop) plan — instead each (type, day, user) contributes itself to
    * the 7 target days via a bounded explode, turning the range join
    * into an EQUI-join problem: fan-out is exactly 7 regardless of data
    * size, applied AFTER the daily-distinct collapse (days×types×users
    * rows, not raw events). Target days with no events of their own are
    * dropped by an equi-join against the distinct-day set (broadcast —
    * it is |days| rows).
    */
  def qRollingActive(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = du.select(col("day").as("target_day")).distinct()
    du.withColumn("off", explode(sequence(lit(0), lit(6))))
      .select(col("event_type"), col("user_id"),
        date_add(col("day"), col("off")).as("target_day"))
      .join(broadcast(days), Seq("target_day"))
      .groupBy(col("target_day").as("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy(asc_nulls_first("day"), asc_nulls_first("event_type"))
  }

  /** Market-basket co-occurrence: top part pairs appearing in the same
    * order, ranked by order count (ties broken by the pair itself so the
    * top-k is deterministic).
    *
    * Shape: groupBy(l_orderkey) → sorted distinct part array → explode
    * the C(n,2) pairs with codegen'd array HOFs → count per pair. One
    * shuffle on l_orderkey + one on the pair. Fan-out is bounded by the
    * schema, not the data: lineitem carries ≤ 7 lines per order (TPC-H
    * shape, FIXTURES.md), so ≤ 21 pairs per order — the explode can
    * never amplify a hot order. This beats the textbook self-join on
    * l_orderkey (two scan+exchanges and an O(n²)-per-key join) for the
    * same result.
    */
  def qCooccur(spark: SparkSession, sfDir: String): DataFrame =
    cooccurPairCounts(Tables.lineitem(spark, sfDir))
      .orderBy(desc("n_orders"), asc_nulls_first("p1"), asc_nulls_first("p2"))
      .limit(25)

  /** Full (p1, p2, n_orders) pair counts — the expensive part of the
    * query, before the top-k truncation (which Spark plans as
    * TakeOrderedAndProject: per-partition top-25 + driver merge, never
    * a global sort). The graph queries (q_pagerank, q_kcore,
    * q_triangles) build on this form: the pair explosion + aggregation,
    * not the truncation.
    */
  def cooccurPairCounts(lineitem: DataFrame): DataFrame =
    pairCountsFromBaskets(basketParts(lineitem))

  /** Per-order sorted distinct part array — the shared upstream of the
    * pair explode and (for q_item_cf) the per-part order counts.
    */
  private[operators] def basketParts(lineitem: DataFrame): DataFrame = {
    // spread: the scan is one split at fixture scale, so the
    // map-side collect_set partials would run on one core; the
    // repartition keys on l_orderkey, which the groupBy reuses —
    // still exactly one exchange in the plan
    val li = graft.Tables.spread(
      lineitem.select("l_orderkey", "l_partkey"), col("l_orderkey"))
    li.groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
  }

  /** The C(n,2) pair explode + count over [[basketParts]] output. */
  private[operators] def pairCountsFromBaskets(baskets: DataFrame): DataFrame =
    baskets
      // all ordered pairs (parts(i), parts(j)) with i < j; slice is
      // 1-based so elements after index i start at position i + 2
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS p1, y AS p2))))""".stripMargin)).as("pair"))
      .select(col("pair.p1").as("p1"), col("pair.p2").as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))

  /** Deterministic global shuffle + shard assignment for training-order
    * export: every document gets a seed-free pseudo-random sort key
    * (md5 of its id — the same keying qSampleHash uses, so membership
    * and order are reproducible across runs and engines), a shard from
    * the key's first byte, and a dense position within its shard.
    *
    * Scale: the ONLY shuffle is the per-shard window sort — there is no
    * global sort, so shard count is the parallelism knob (8 here to keep
    * the sf0.01 oracle small; a 100 TB export sets it to ~4× the
    * executor-core count, e.g. 4096, and each shard sorts its ~25 GB
    * independently). Position-within-shard must be sequential by
    * definition of a training order, so a per-shard sort is the floor
    * cost of the operation, not an artifact of the plan.
    */
  def qShuffleExport(spark: SparkSession, sfDir: String): DataFrame = {
    val nShards = 8
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("sort_key"))
      .withColumn("shard",
        (conv(substring(col("sort_key"), 1, 2), 16, 10).cast("long") % nShards).cast("int"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("sort_key").asc, col("doc_id").asc)))
      .select("shard", "pos", "doc_id", "sort_key")
      .orderBy(asc_nulls_first("shard"), asc_nulls_first("pos"))
  }

  /** Clickstream path analysis: the top-100 most common per-session
    * event-type sequences (view>click>purchase …). Sessions are the
    * same strict->30-min-gap islands as q_session_window; each
    * session's path reassembles deterministically from a sorted struct
    * collect (order (us, event_id) — partitioning-independent). Per
    * session state is bounded by session length (gap-bounded activity),
    * the shuffles are user_id then path — both key-partitioned; the
    * final top-100 is a TakeOrdered, never a global sort.
    */
  def qSessionpath(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(cum))
      .groupBy("user_id", "sess")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, asc_nulls_first("path"))
      .limit(100)
  }

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent click at-or-before it (by the total (ts, event_id)
    * order). A running window max over the conditional click time — no
    * self-join, no fan-out: the attribution of an arbitrarily long
    * click history is one monotone value carried through the per-user
    * sort, the same one exchange every per-user window op here pays.
    * Purchases with no preceding click attribute to nothing (null) and
    * report a null gap.
    */
  def qAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("click_us",
        max(when(col("event_type") === "click", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("us").as("purchase_us"), col("click_us"),
        (col("us") - col("click_us")).as("gap_us"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("purchase_id"))
  }

  /** Signup→first-purchase conversion latency per signup-day cohort:
    * converted users, median and p90 lag in hours — the
    * time-to-convert distribution next to q_funnel's step counts and
    * q_attribution's per-purchase gaps.
    *
    * Determinism: the exact-rank recipe of q_median — median is the
    * average of the one/two middle rows, p90 the nearest-rank
    * ceil(0.9n) row, both selected by integer rank over
    * (lag asc, user_id asc); lags are exact integer micros, and the
    * micros→hours division happens once on the selected rows.
    *
    * Scale: two map-combinable per-user min-aggregates + one
    * co-partitioned user join; the rank window partitions by cohort
    * day over CONVERTED-USER rows (already collapsed from the event
    * stream), and the final frame is |cohorts| rows.
    */
  def qConversionLag(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .filter(col("ts") >= col("signup_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    val conv = signup.join(firstPurchase, "user_id")
      .select(col("user_id"), to_date(col("signup_ts")).as("cohort_day"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("signup_ts")))
          .as("lag_us"))
    val ranked = conv
      .withColumn("rn", row_number().over(
        Window.partitionBy("cohort_day")
          .orderBy(col("lag_us").asc, col("user_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cohort_day")))
    val isMedian = col("rn") === expr("(n + 1) DIV 2") ||
      col("rn") === expr("n DIV 2 + 1")
    val isP90 = col("rn") === expr("(9 * n + 9) DIV 10")
    ranked.groupBy("cohort_day")
      .agg(
        max(col("n")).as("n_converted"),
        (round(avg(when(isMedian, col("lag_us"))) / 3600000000.0, 6) + lit(0.0))
          .as("median_lag_hours"),
        (round(max(when(isP90, col("lag_us"))).cast("double") / 3600000000.0, 6)
          + lit(0.0)).as("p90_lag_hours"))
      .orderBy(asc_nulls_first("cohort_day"))
  }

  /** Association rules over the co-purchase pairs: for every directed
    * rule a→b on parts co-occurring in ≥ 2 orders, confidence
    * n_ab/n_a and lift n_ab·N/(n_a·n_b) — the recommender metrics on
    * top of q_cooccur's raw counts (lift > 1 = genuinely associated,
    * not just both popular). All inputs are exact integer counts; the
    * two ratios are the only floats and round at 6 dp.
    *
    * Scale: reuses the bounded pair generation (≤ C(7,2) pairs/order,
    * FIXTURES.md), one per-part count agg, and a 1-row total broadcast;
    * the rule join moves |pairs| rows keyed by part — map-combinable
    * all the way, nothing quadratic.
    */
  def qAssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE basket fold feeds pairs, per-part counts AND the order total
    // (q_item_cf's move): the previous shape re-scanned lineitem
    // through a distinct exchange for n_part/n_orders_total that the
    // basket arrays already determine — collect_set dedupes
    // (order, part), so exploding the arrays is the same distinct, and
    // the distinct order count is simply the basket row count.
    val baskets = basketParts(Tables.lineitem(spark, sfDir))
      .localCheckpoint()
    val partCounts = baskets
      .select(explode(col("parts")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_part"))
    val totals = baskets.agg(count(lit(1)).as("n_orders_total"))
    val pairs = pairCountsFromBaskets(baskets)
      .filter(col("n_orders") >= 2)
    val directed = pairs
      .select(col("p1").as("antecedent"), col("p2").as("consequent"),
        col("n_orders").as("n_both"))
      .unionAll(pairs.select(col("p2").as("antecedent"),
        col("p1").as("consequent"), col("n_orders").as("n_both")))
    directed
      .join(partCounts.select(col("part").as("antecedent"),
        col("n_part").as("n_ante")), Seq("antecedent"))
      .join(partCounts.select(col("part").as("consequent"),
        col("n_part").as("n_cons")), Seq("consequent"))
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"),
        (round(col("n_both").cast("double") / col("n_ante"), 6) + lit(0.0))
          .as("confidence"),
        (round(col("n_both").cast("double") * col("n_orders_total") /
          (col("n_ante") * col("n_cons")), 6) + lit(0.0)).as("lift"))
      .orderBy(asc_nulls_first("antecedent"), asc_nulls_first("consequent"))
  }

  /** Power-iteration rounds of q_stationary — the oracle unrolls the
    * SAME constant.
    */
  val StationaryIters = 20

  /** Cell cap for q_stationary's driver power iteration: a transition
    * matrix at or under this many (from, to, n) rows (≤ ~4 MB of
    * strings+longs) iterates locally; a larger vocabulary falls back
    * to the distributed loop — the GraphOps.LocalCcMaxEdges pattern.
    */
  val StationaryMaxCells = 65536

  /** The one corpus fold of q_transitions, q_entropy_rate and both
    * q_stationary paths: the event stream → (from_type, to_type, n)
    * transition-count matrix.
    */
  private[graft] def transitionCounts(spark: SparkSession,
      sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Stationary distribution of the event-type Markov chain: where
    * does a user's session settle long-run? — the asymptotic summary
    * on top of q_transitions' one-step matrix. 20 power-iteration
    * rounds x' ← x·P in the integer fixed point of GraphOps (1e-12
    * grid, per-edge contribution x_i·c_ij div r_i, HITS-style L1
    * renormalization per round so sub-stochastic rows — types whose
    * successors never emit — cannot leak mass).
    *
    * Determinism: the transition counts are exact; every round is
    * integer algebra, so 20 compounding rounds stay bit-identical
    * across engines and the fixed-point column itself is
    * hash-checked. The displayed probability is one rounded division.
    *
    * Scale: the event stream folds to a |types|² count matrix in ONE
    * lead()+groupBy pass (the q_transitions exchange); all 20 rounds
    * then run on |types| rows — the iteration cost is independent of
    * corpus size by construction.
    */
  def qStationary(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = 1000000000000L
    val c = transitionCounts(spark, sfDir)
    // ONE corpus fold (the lead()+groupBy exchange above) collapses the
    // stream to the |types|² transition matrix — a fixed-size model,
    // bounded by the event-type vocabulary, never by corpus volume. The
    // 20 power-iteration rounds then run on the DRIVER over that
    // collected matrix (the kMeans-model / PCA-Gramian precedent): the
    // distributed loop spent ~60 tiny Spark jobs on |types|-row frames.
    // BigInt replays Spark's integer ops bit-exactly (x·n with
    // truncating div by the row sum, decimal L1 renormalization with
    // truncating div — BigInt `/` rounds toward zero like
    // IntegralDivide), so stat_fp is unchanged (oracle hash-checked).
    // Measured 3.72 → ~1.1 s at sf0.1.
    //
    // The collect is CAPPED (the GraphOps.LocalCcMaxEdges pattern):
    // nothing in the schema bounds the event-type vocabulary, so an
    // adversarial corpus could make |types|² driver-hostile. At or
    // under the cap the driver loop runs; past it the distributed
    // power iteration below replays the identical integer algebra
    // (BigInt terms are exact and addition commutes, so both paths
    // are bit-identical regardless of row order). The common path
    // stays ONE action (the capped collect itself — no checkpoint
    // job); only the rare fallback recomputes the matrix, and its own
    // eager checkpoint of the joined edge frame bounds that to once.
    val take = graft.Tables.collectBounded(c, StationaryMaxCells) match {
      case Some(rows) => rows
      case None =>
        return qStationaryDistributed(spark, c.localCheckpoint(true), scale)
    }
    val edges = take.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowsum = edges.groupBy(_._1).map { case (f, es) => (f, es.map(_._3).sum) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    var x = nodes.map(t => (t, BigInt(scale / n))).toMap
    for (_ <- 1 to StationaryIters) {
      val raw = scala.collection.mutable.Map(nodes.map(t => (t, BigInt(0))): _*)
      edges.foreach { case (f, t, cnt) =>
        raw(t) += (x(f) * cnt) / rowsum(f) }
      val l1 = raw.values.sum
      x = nodes.map(t => (t, (raw(t) * scale) / l1)).toMap
    }
    import spark.implicits._
    nodes.map(t => (t, x(t).toLong)).toSeq.toDF("event_type", "x")
      .select(col("event_type"), col("x").as("stat_fp"),
        (round(col("x").cast("double") / scale, 6) + lit(0.0))
          .as("stationary"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Distributed power iteration for q_stationary past
    * [[StationaryMaxCells]] — the pre-r12 loop, verbatim, over the
    * already-materialized transition matrix `c`(from_type, to_type, n).
    * Same integer fixed point as the driver path: per-edge x·n div r,
    * decimal L1 renormalization with truncating div per round.
    */
  private[graft] def qStationaryDistributed(spark: SparkSession,
      c: DataFrame, scale: Long = 1000000000000L): DataFrame = {
    val rowsum = c.groupBy("from_type").agg(sum(col("n")).as("r"))
    val edges = c.join(rowsum, Seq("from_type")).localCheckpoint(true)
    val nodes = c.select(col("from_type").as("event_type"))
      .unionAll(c.select(col("to_type").as("event_type")))
      .distinct().localCheckpoint(true)
    val n = nodes.count()
    var x = nodes.withColumn("x", lit(scale / n))
    for (_ <- 1 to StationaryIters) {
      val raw = x.join(edges, x("event_type") === edges("from_type"))
        .select(col("to_type").as("event_type"),
          expr("x * n div r").as("m"))
        .groupBy("event_type").agg(sum(col("m")).as("raw"))
      val full = nodes.join(raw, Seq("event_type"), "left")
        .select(col("event_type"), coalesce(col("raw"), lit(0L)).as("raw"))
      val tot = full.agg(sum(col("raw").cast("decimal(38,0)")).as("l1"))
      x = full.crossJoin(broadcast(tot))
        .select(col("event_type"),
          expr(s"CAST((CAST(raw AS DECIMAL(38,0)) * $scale) div l1" +
            " AS BIGINT)").as("x"))
        .localCheckpoint(false)
    }
    x.select(col("event_type"), col("x").as("stat_fp"),
        (round(col("x").cast("double") / scale, 6) + lit(0.0))
          .as("stationary"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Conditional entropy of the event-type Markov chain per state:
    * H(next | from = i) = −Σ_j p_ij ln p_ij over q_transitions' matrix
    * — how predictable each state's successor is (0 = deterministic
    * next step, ln|types| = uniform), plus each state's share of the
    * transition stream and its contribution to the empirical entropy
    * rate Σ_i (r_i/N)·H_i. The sequence-predictability summary next
    * to q_stationary's long-run occupancy.
    *
    * Determinism: every −p ln p term snaps to the 1e-6 grid before
    * the per-state sum (exact long accumulation, q_lm_score's
    * recipe); shares and the contribution are single rounded
    * divisions from exact integers.
    *
    * Scale: the single lead()+groupBy exchange q_transitions runs;
    * everything after operates on the |types|² matrix.
    */
  def qEntropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    val c = transitionCounts(spark, sfDir)
    val rowsum = c.groupBy("from_type").agg(sum(col("n")).as("r"))
    val total = rowsum.agg(sum(col("r")).as("n_total"))
    val p = col("n").cast("double") / col("r")
    val perState = c.join(rowsum, Seq("from_type"))
      .select(col("from_type"), col("r"),
        round(-p * log(p) * 1e6, 0).cast("long").as("term_micro"))
      .groupBy(col("from_type"), col("r"))
      .agg(sum(col("term_micro")).as("h_micro"))
    perState.crossJoin(broadcast(total))
      .select(col("from_type"), col("r").as("n_out"),
        (round(col("h_micro").cast("double") / 1e6, 6) + lit(0.0))
          .as("h_nats"),
        (round(col("r").cast("double") / col("n_total"), 6) + lit(0.0))
          .as("weight"),
        (round(col("r").cast("double") * col("h_micro") /
          (col("n_total").cast("double") * 1e6), 6) + lit(0.0))
          .as("contrib_nats"))
      .orderBy(asc_nulls_first("from_type"))
  }

  /** Censoring horizon (days before corpus end) for q_survival. */
  val SurvivalChurnDays = 7

  /** Kaplan–Meier survival curve of user LIFETIME (days between first
    * and last event): at each observed lifetime t, the fraction of
    * users still active past t, correcting for right-censoring — a
    * user whose last event falls within [[SurvivalChurnDays]] of the
    * corpus end hasn't been observed to churn, so they leave the risk
    * set WITHOUT counting as a death (the thing a naive lifetime
    * histogram gets wrong). The standard retention curve next to
    * q_churn's weekly rate and q_cohort_ltv's revenue view.
    *
    * Determinism: death/censor counts and the at-risk suffix sums are
    * exact integers; each factor ln(1 − d/n) snaps to the 1e-6 micro
    * grid BEFORE the cumulative sum (q_lm_score's recipe — micro-longs
    * sum identically under any partitioning and both engines exp the
    * same exact cumulative), and a risk-set-exhausting row (d = n)
    * zeroes the curve from there on via an explicit flag rather than
    * ln(0).
    *
    * Scale: one groupBy(user) fold, one 1-row corpus-end broadcast;
    * the ordered windows run over DISTINCT LIFETIME DAYS — a
    * days-bounded axis at any corpus size.
    */
  def qSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
    val per = ev.groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("first_day"),
        to_date(max(col("ts"))).as("last_day"))
    val end = ev.agg(to_date(max(col("ts"))).as("corpus_end"))
    val life = per.crossJoin(broadcast(end))
      .select(datediff(col("last_day"), col("first_day")).as("dur_days"),
        (col("last_day") < date_sub(col("corpus_end"), SurvivalChurnDays))
          .as("churned"))
    val byDur = life.groupBy("dur_days")
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("churned"), 0L).otherwise(1L)).as("n_censored"))
    val wAsc = Window.orderBy(asc_nulls_first("dur_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSuffix = Window.orderBy(asc_nulls_first("dur_days"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val stepped = byDur
      .withColumn("n_at_risk",
        sum(col("n_churned") + col("n_censored")).over(wSuffix))
      .withColumn("ln_q",
        when(col("n_churned") < col("n_at_risk"),
          round(log(lit(1.0) - col("n_churned").cast("double") /
            col("n_at_risk")) * 1e6, 0).cast("long")).otherwise(0L))
      .withColumn("dead", max(
        when(col("n_churned") === col("n_at_risk"), 1).otherwise(0))
        .over(wAsc))
      .withColumn("cum_ln", sum(col("ln_q")).over(wAsc))
    stepped.select(col("dur_days"), col("n_at_risk"),
        col("n_churned"), col("n_censored"),
        when(col("dead") === 1, 0.0).otherwise(
          round(exp(col("cum_ln").cast("double") / 1e6), 6) + lit(0.0))
          .as("survival"))
      .orderBy(asc_nulls_first("dur_days"))
  }

  /** Item-item collaborative-filtering recommendations over the
    * co-purchase counts: cosine similarity on binary purchase vectors
    * sim(i,j) = c_ij / √(n_i·n_j) (c_ij = orders containing both,
    * n_i = orders containing i), top-5 recommendations per part under
    * (sim desc, partner asc) — the classic "customers who bought X
    * also bought Y" memory-based recommender, the operator the
    * co-occurrence counts (q_cooccur) exist to feed.
    *
    * Determinism: c and n are exact integers; the similarity is ONE
    * rounded double per pair, and the top-5 cut ranks by the rounded
    * value with an integer tie-break, so no boundary float decides
    * membership differently across engines.
    *
    * Scale: reuses the bounded per-order pair explode
    * ([[cooccurPairCounts]] — C(lines,2) per order, order-capped);
    * per-part order counts join back keyed on partkey (AQE broadcasts
    * the small side); the top-5 is a per-part window over each part's
    * partner list, never a global sort.
    */
  def qItemCf(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // pinned: two consumers (the union's direction branches), each of
    // which would re-run the bounded pair explode, the heaviest stage.
    // (Two single-basket-fold variants — n_i derived from a pinned
    // basket-array frame, and a both-directions explode over it — were
    // tried this round and BOTH measured ~0.5x on the sf0.1 A/B
    // (2.77 s → 5.2-5.8 s): re-exploding checkpointed array rows costs
    // more than the columnar re-scan + distinct it saved, so the r12
    // shape stands.)
    val pairs = cooccurPairCounts(li).localCheckpoint()
    val both = pairs.select(col("p1").as("part"), col("p2").as("rec"),
        col("n_orders"))
      .unionAll(pairs.select(col("p2").as("part"), col("p1").as("rec"),
        col("n_orders")))
    val nOrders = li.select("l_orderkey", "l_partkey").distinct()
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
    val scored = both
      .join(nOrders.select(col("l_partkey").as("part"),
        col("n_i").as("n_part")), Seq("part"))
      .join(nOrders.select(col("l_partkey").as("rec"),
        col("n_i").as("n_rec")), Seq("rec"))
      .select(col("part"), col("rec"), col("n_orders"),
        (round(col("n_orders").cast("double") /
          sqrt((col("n_part") * col("n_rec")).cast("double")), 6) + lit(0.0))
          .as("sim"))
    val w = Window.partitionBy("part")
      .orderBy(col("sim").desc, col("rec").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .orderBy(asc_nulls_first("part"), col("rank").asc)
  }

  /** Longest consecutive-day activity streak per user, by the classic
    * gaps-and-islands rewrite: within a user's DISTINCT active days in
    * date order, day − row_number is constant exactly along a
    * consecutive run, so one date-arithmetic groupBy finds every
    * island without any self-join — the engagement-depth profile
    * (DAU says how many, streaks say how sticky).
    *
    * Scale: the event stream collapses to (user, day) distinct rows
    * first; the per-user window orders an O(days) frame, and the
    * island groupBy is map-combinable. No data-sized window, no
    * non-equi join.
    */
  def qStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val islands = du
      .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy("user_id")
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"))
      .orderBy(asc_nulls_first("user_id"))
  }

  /** Daily stickiness (DAU / trailing-28-day MAU) — the canonical
    * engagement-intensity ratio product analytics reads next to the
    * WAU curve (q_rolling_active): how much of the active base shows
    * up on a given day. Both counts are exact distincts.
    *
    * Determinism: integer distinct counts; the ratio is the terminal
    * rounded division.
    *
    * Scale: q_rolling_active's bounded-explode rewrite — the stream
    * collapses to DISTINCT (user, day) FIRST, each row then fans out
    * to exactly 28 target days (an equi-join, never a range join),
    * and target days prune to days that exist via a broadcast of the
    * tiny day dimension. No data-sized window, fan-out fixed at 28
    * applied post-collapse.
    */
  def qStickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = du.select(col("day").as("target_day")).distinct()
    val mau = du.withColumn("off", explode(sequence(lit(0), lit(27))))
      .select(col("user_id"), date_add(col("day"), col("off")).as("target_day"))
      .join(broadcast(days), Seq("target_day"))
      .groupBy(col("target_day").as("day"))
      .agg(countDistinct(col("user_id")).as("mau28"))
    val dau = du.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau28"),
        (round(col("dau").cast("double") / col("mau28").cast("double"), 6)
          + lit(0.0)).as("stickiness"))
      .orderBy(asc_nulls_first("day"))
  }

  /** Decile gain/lift chart for a purchase-propensity score — the
    * model-free targeting readout: score every user by their
    * first-three-weeks event count, label them by whether they
    * purchased in the final week (Jan 22+), split the scored
    * population into 10 equal-depth deciles and report each decile's
    * buyer capture and lift over the base rate. The validation a
    * campaign owner runs before spending on the top decile.
    *
    * Determinism: the score is an exact integer count; the decile is
    * DuckDB's (and Spark's) shared ntile definition — floor-equal
    * buckets, remainder to the leading buckets — reconstructed with
    * exact integer algebra ([[ScaleOps.ntileFromRank]]) from the
    * tie-broken (score DESC, user ASC) global rank; all outputs are
    * integer counts plus terminal rounded ratios.
    *
    * Scale: one user-level fold of the stream (map-combinable), the
    * global rank via [[ScaleOps.partitionedRank]] — range-partitioned
    * parallel windows plus broadcast prefix offsets, never an
    * unpartitioned ntile window — and a 10-row aggregate.
    */
  def qLift(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit("2024-01-22").cast("date")
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(
        sum(when(to_date(col("ts")) < cut, 1L).otherwise(0L)).as("score"),
        max(when(to_date(col("ts")) >= cut &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("buyer"))
      .filter(col("score") >= 1)
    val deciled = ScaleOps.partitionedRank(perUser,
      Seq(col("score").desc, col("user_id").asc))
      .withColumn("decile",
        ScaleOps.ntileFromRank(col("rn"), col("n_total"), 10))
    // totals derive from the 10-row decile frame itself (tot_users is
    // partitionedRank's n_total) instead of a second full pass over
    // the per-user fold — one corpus aggregation, not two
    val byDecile = deciled.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("buyer")).as("n_buyers"),
        max(col("n_total")).as("tot_users"))
      .localCheckpoint()
    val tot = byDecile.agg(sum(col("n_buyers")).as("tot_buyers"))
    byDecile
      .crossJoin(broadcast(tot))
      .select(col("decile").cast("int").as("decile"),
        col("n_users"), col("n_buyers"),
        when(col("tot_buyers") > 0,
          round(col("n_buyers").cast("double") / col("tot_buyers"), 6)
            + lit(0.0)).as("capture_rate"),
        when(col("tot_buyers") > 0,
          round((col("n_buyers").cast("double") / col("n_users")) /
            (col("tot_buyers").cast("double") / col("tot_users")), 6)
            + lit(0.0)).as("lift"))
      .orderBy(col("decile").asc)
  }

  /** Repeat-purchase cadence per market segment: exact median and p90
    * days between a customer's consecutive orders — the
    * inventory/replenishment-planning number, the ORDERS-side cousin
    * of q_interarrival's event gaps (and the same at-100-TB note: the
    * per-segment rank window swaps for GK sketches).
    *
    * Determinism: gaps are exact integer day differences under a
    * (customer, date, orderkey) total order; percentile rows are
    * nearest-rank selections; the mean is floor-truncated integer
    * arithmetic like q_interarrival's.
    *
    * Scale: one customer-window pass over orders (lag), a broadcast
    * customer→segment dimension join, then one rank window per
    * segment partition.
    */
  def qReorderGap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val gaps = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(to_date(col("o_orderdate")), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), col("prev")).as("gap_days"))
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val wRank = Window.partitionBy("c_mktsegment")
      .orderBy(col("gap_days").asc, col("o_custkey").asc,
        col("o_orderkey").asc)
    val wAll = Window.partitionBy("c_mktsegment")
    gaps.join(broadcast(seg), Seq("o_custkey"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("gap_days")).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("(9 * n + 9) DIV 10"))
      .groupBy("c_mktsegment")
      .agg(max(col("n")).as("n_gaps"),
        (floor(max(col("s")).cast("double") / max(col("n")))
          .cast("long")).as("mean_gap_days_floor"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap_days")))
          .cast("long").as("median_gap_days"),
        max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("gap_days")))
          .cast("long").as("p90_gap_days"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Weekly growth accounting: every active user classified as NEW
    * (first-ever week), RETAINED (also active last week) or
    * RESURRECTED (returning after a gap), plus last week's actives who
    * CHURNED — the canonical WAU decomposition (new + retained +
    * resurrected − churned telescopes the WAU delta), the full quad
    * behind q_new_returning's daily new/returning split and
    * q_churn's single rate.
    *
    * Determinism: all integer distinct counts off exact Monday-week
    * truncation; the self-matches key on (user, week−7 days), an
    * equi-join.
    *
    * Scale: the stream collapses to DISTINCT (user, week) FIRST; the
    * first-week table is one min-agg on the same collapse; both the
    * previous-week and first-week lookups are co-partitioned
    * user-keyed equi-joins — nothing fans out.
    */
  def qGrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min(col("week")).as("first_week"))
    val prev = uw.select(col("user_id"),
      date_add(col("week"), 7).as("week"), lit(1L).as("was_prev"))
    val classified = uw
      .join(first, Seq("user_id"))
      .join(prev, Seq("user_id", "week"), "left")
      .select(col("week"),
        when(col("week") === col("first_week"), 1L).otherwise(0L).as("nw"),
        when(col("week") =!= col("first_week") &&
          col("was_prev").isNotNull, 1L).otherwise(0L).as("rt"),
        when(col("week") =!= col("first_week") &&
          col("was_prev").isNull, 1L).otherwise(0L).as("rs"))
      .groupBy("week")
      .agg(count(lit(1)).as("wau"), sum(col("nw")).as("new_users"),
        sum(col("rt")).as("retained"), sum(col("rs")).as("resurrected"))
    // churned(w) = actives(w-1) who are absent in w
    val churned = uw.select(col("user_id"), col("week"))
      .join(uw.select(col("user_id"),
        date_add(col("week"), -7).as("week"), lit(1L).as("still")),
        Seq("user_id", "week"), "left")
      .groupBy(date_add(col("week"), 7).as("week"))
      .agg(sum(when(col("still").isNull, 1L).otherwise(0L)).as("churned"))
    classified.join(churned, Seq("week"), "left")
      .select(col("week"), col("wau"), col("new_users"), col("retained"),
        col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy(asc_nulls_first("week"))
  }

  /** Per-user activity histogram on power-of-two buckets (1, 2, 3–4,
    * 5–8, … events): how heavy-tailed is the event distribution across
    * users — the volume-side companion to q_power_users' days-active
    * curve (many days ≠ many events), bucketed so one mega-user can't
    * stretch an equal-width histogram flat. The top bucket is
    * open-ended (>1024 events) and labeled bucket_max = -1 rather
    * than a fake power-of-two cap.
    *
    * Determinism: bucket edges are literal integer comparisons (no
    * log2 float at power-of-two boundaries); counts exact, shares
    * terminal.
    *
    * Scale: one user fold then a ≤12-bucket fold; the share window
    * runs on the bucket grid.
    */
  def qUserActivityHist(spark: SparkSession, sfDir: String): DataFrame = {
    val n = col("n_events")
    val bucket = when(n <= 1, 1).when(n <= 2, 2).when(n <= 4, 4)
      .when(n <= 8, 8).when(n <= 16, 16).when(n <= 32, 32)
      .when(n <= 64, 64).when(n <= 128, 128).when(n <= 256, 256)
      .when(n <= 512, 512).when(n <= 1024, 1024).otherwise(-1)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .groupBy(bucket.cast("int").as("bucket_max"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .withColumn("tot_users", sum(col("n_users")).over(wAll))
      .withColumn("tot_events", sum(col("n_events")).over(wAll))
      .select(col("bucket_max"), col("n_users"), col("n_events"),
        (round(col("n_users").cast("double") / col("tot_users"), 6)
          + lit(0.0)).as("user_share"),
        (round(col("n_events").cast("double") / col("tot_events"), 6)
          + lit(0.0)).as("event_share"))
      .orderBy(col("bucket_max").asc)
  }

  /** Engagement-depth histogram (the L28-style power-user curve): how
    * many users were active on exactly d distinct days, with each
    * bucket's share of the user base and the cumulative share counted
    * from the most-engaged bucket down — "the top X% of users are
    * active ≥ d days" read directly off cum_share.
    *
    * Determinism: all integer counts; shares are terminal rounded
    * divisions; the cumulative sum runs over the ≤|days-in-span|-row
    * histogram under a total order on days_active.
    *
    * Scale: the stream collapses to DISTINCT (user, day), folds to
    * per-user day counts (one user exchange), then to the
    * days-bounded histogram; the only window is over that tiny grid
    * (≤ span days rows at any corpus size — unpartitioned by
    * construction, not by accident).
    */
  def qPowerUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .groupBy("user_id")
      .agg(count(lit(1)).as("days_active"))
      .groupBy("days_active")
      .agg(count(lit(1)).as("n_users"))
    val wAll = Window.orderBy(col("days_active").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("days_active").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("total", sum(col("n_users")).over(wAll))
      .withColumn("cum", sum(col("n_users")).over(wCum))
      .select(col("days_active"), col("n_users"),
        (round(col("n_users").cast("double") / col("total"), 6) + lit(0.0))
          .as("user_share"),
        (round(col("cum").cast("double") / col("total"), 6) + lit(0.0))
          .as("cum_share"))
      .orderBy(col("days_active").desc)
  }
}
