package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-handling building blocks (SURVEY.md §4.1: the reference has
  * none — one hot key = one slow reduce task). First line of defense is
  * AQE's runtime skew-join splitting (on in Bench); these utilities are
  * the explicit fallback for aggregations and for joins whose skew AQE
  * can't see (e.g. post-explode hot keys).
  *
  * Both are pure plan rewrites — results are identical to the unsalted
  * form for any input.
  */
object ScaleOps {

  /** Deterministic pseudo-random salt in [0, buckets) derived from the
    * full row content (stable under task retry, unlike rand()/
    * monotonically_increasing_id).
    */
  private def rowSalt(df: DataFrame, buckets: Int): Column =
    pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)), lit(buckets))

  /** Two-phase salted count: groupBy(key, salt) partial counts →
    * groupBy(key) final sum. A key with 10^9 rows becomes `buckets`
    * parallel partials instead of one hot reducer.
    */
  def saltedCount(df: DataFrame, keyCol: String, buckets: Int = 16): DataFrame =
    df.withColumn("__salt", rowSalt(df, buckets))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as("cnt"))

  /** Oracle query over the salted two-phase aggregation: per-type event
    * counts through saltedCount, hash-checked against a plain GROUP BY
    * oracle — proving the salted rewrite is result-identical, under the
    * driver's hard signal. event_type is the classic low-cardinality /
    * high-skew key the rewrite exists for.
    */
  def qSaltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    saltedCount(graft.Tables.events(spark, sfDir), "event_type", buckets = 16)
      .orderBy(asc_nulls_first("event_type"))

  /** Oracle query over the salted join: orders ⋈ customer through
    * saltedJoin (salted big side, replicated small side), aggregated to
    * the exact q_join_inner result — the join rewrite proven
    * result-identical under the driver's hash compare.
    */
  def qSaltedJoin(spark: SparkSession, sfDir: String): DataFrame =
    saltedJoin(graft.Tables.orders(spark, sfDir),
      graft.Tables.customer(spark, sfDir), "o_custkey", "c_custkey", buckets = 16)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_revenue"))
      .orderBy(asc_nulls_first("c_mktsegment"))

  /** Persist a DataFrame as a bucketed, bucket-sorted table: rows are
    * hash-partitioned into `nBuckets` files by `key` at WRITE time, so
    * any later equi-join or aggregation on `key` between tables
    * bucketed the same way needs NO exchange — the join that would
    * shuffle 100 TB every run instead shuffles once, at ingest. This is
    * the engine's co-located-join story (the reference's fixed
    * nReduce=10 hash sharding is exactly a 10-bucket layout, but it
    * never exploits it on the read side).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Shuffle-free equi-join of two same-bucketed tables (see
    * writeBucketed). The plan must contain no Exchange on either side —
    * asserted by BucketedJoinSpec.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame =
    spark.table(leftTable)
      .join(spark.table(rightTable), col(leftKey) === col(rightKey))

  /** Skew-safe inner equi-join: the big (skewed) side gets a
    * row-derived salt; the small side is replicated `buckets` times so
    * every (key, salt) bucket finds its match. Equivalent to
    * big ⋈ small on keyBig = keySmall, but the hot key's rows spread
    * over `buckets` reducers.
    */
  def saltedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, buckets: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("__salt", rowSalt(big, buckets))
    val replicatedSmall = small.withColumn("__salt",
      explode(array((0 until buckets).map(lit(_)): _*)))
    saltedBig
      .join(replicatedSmall,
        saltedBig(bigKey) === replicatedSmall(smallKey) &&
          saltedBig("__salt") === replicatedSmall("__salt"))
      .drop("__salt")
  }

  /** EXACT two-pass global rank (and optional running sums) with no
    * corpus-sized ordered partition — the 100 TB swap for a bare
    * `Window.orderBy(total order)` that q_lorenz / q_abc / q_lift's
    * docs promise. A global-order window shuffles EVERY row into ONE
    * reducer; this computes the identical numbers from parallel
    * pieces:
    *
    *   1. `repartitionByRange(n, order)` cuts the total order into n
    *      contiguous ranges (the same shuffle a distributed sort
    *      does; n is explicit, so AQE never re-coalesces it — the
    *      partition ids must mean the same thing on every branch).
    *      The ranged frame is pinned with an EAGER localCheckpoint:
    *      range boundaries come from SAMPLING a shuffle whose input
    *      order is nondeterministic, so two independent
    *      materializations of "the same" exchange can cut DIFFERENT
    *      boundaries — and the window branch and the stats branch
    *      below would then disagree on what each pid means,
    *      silently corrupting every offset (caught by the sf0.1
    *      full-surface sweep as a nondeterministic q_cliff_delta).
    *      Both branches run as concurrent stages, so only a pin
    *      materialized before either starts freezes ONE boundary
    *      choice and one pid per row in data; the materialization is
    *      the same volume the global-sort window this operator
    *      replaces would shuffle anyway.
    *   2. One window per RANGE (partitioned by `spark_partition_id`)
    *      yields the local row_number and local running sums — n
    *      parallel sorts instead of one.
    *   3. A per-range (count, subtotal…) aggregate — n rows, bounded
    *      by CONFIG, not the corpus — gets exclusive prefix offsets
    *      from the only single-partition window in the plan (over
    *      those n rows; SurfaceSweepSpec recognizes this bounded shape
    *      by its `__pr_pid` grouping key).
    *   4. The n-row offset frame broadcast-joins back:
    *      global rank = local rank + prior-range count, global
    *      running sum = local sum + prior-range subtotal.
    *
    * Ranges only decide WHERE the order is cut, never the order
    * itself, so results are EXACT for any boundary choice — `order`
    * must be a tie-broken total order, the same contract as the
    * window this replaces — and the checkpoint above guarantees both
    * branches read the SAME boundary choice, so the fold above the
    * operator also runs exactly once by construction (not by hoping
    * AQE stage reuse fires).
    *
    * Output: the input columns plus `rn` (1-based global row number,
    * long), `n_total` (total row count, long), and per `sums` entry
    * `name` (inclusive global running sum) and `tot_name` (grand
    * total) — the scalars these queries previously fetched with a
    * 1-row cross join or an unbounded-frame window. Names `rn`,
    * `n_total`, `tot_*` and the `__pr_*` scratch space are reserved.
    */
  def partitionedRank(df: DataFrame, order: Seq[Column],
      sums: Seq[(String, Column)] = Nil, numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = df.repartitionByRange(n, order: _*)
      .withColumn("__pr_pid", spark_partition_id())
      .localCheckpoint()
    val wLoc = Window.partitionBy(col("__pr_pid")).orderBy(order: _*)
    val wRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(
      parted.withColumn("__pr_lrn", row_number().over(wLoc).cast("long"))) {
      case (d, (name, c)) => d.withColumn(name, sum(c).over(wRun))
    }
    val aggExprs = count(lit(1)).as("__pr_cnt") +:
      sums.map { case (name, c) => sum(c).as("__pr_s_" + name) }
    val stats = parted.groupBy(col("__pr_pid"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    // exclusive prefix + grand total over the n-row stats frame: the
    // one single-partition window, bounded by shuffle-partition config
    val wOff = Window.orderBy(col("__pr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy(col("__pr_pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = sums.foldLeft(
      stats
        .withColumn("__pr_off_rn", coalesce(sum(col("__pr_cnt")).over(wOff), lit(0L)))
        .withColumn("n_total", sum(col("__pr_cnt")).over(wTot))) {
      case (d, (name, _)) =>
        d.withColumn("__pr_off_" + name, sum(col("__pr_s_" + name)).over(wOff))
          .withColumn("tot_" + name, sum(col("__pr_s_" + name)).over(wTot))
    }.drop("__pr_cnt").drop(sums.map { case (name, _) => "__pr_s_" + name }: _*)
    val joined = local.join(broadcast(offs), Seq("__pr_pid"))
      .withColumn("rn", col("__pr_lrn") + col("__pr_off_rn"))
    sums.foldLeft(joined) { case (d, (name, _)) =>
      d.withColumn(name,
        col(name) + coalesce(col("__pr_off_" + name), lit(0)))
        .drop("__pr_off_" + name)
    }.drop("__pr_pid", "__pr_lrn", "__pr_off_rn")
  }

  /** NTILE reconstructed from [[partitionedRank]]'s exact global rank
    * with pure integer algebra — identical to Spark's and DuckDB's
    * shared definition (floor-equal buckets, remainder to the leading
    * buckets): the first n mod b buckets take ⌈n/b⌉ rows, the rest
    * ⌊n/b⌋. Divisions are floored doubles — exact while the operands
    * stay under 2^52, i.e. for any rank a long row count can reach.
    */
  def ntileFromRank(rn: Column, nTotal: Column, buckets: Int): Column = {
    val b = lit(buckets.toLong)
    val q = floor(nTotal / b)
    val r = nTotal - q * b
    val cutoff = (q + lit(1L)) * r
    when(rn <= cutoff, floor((rn - lit(1L)) / (q + lit(1L))) + lit(1L))
      .otherwise(r + floor((rn - cutoff - lit(1L)) / q) + lit(1L))
  }

  /** Z-order cell map of the events table: events bucketed on the
    * (user_id, ⌊value/8⌋) grid with each cell's Morton interleave key
    * (`Sources.morton2` — the clustering key `writeZOrdered` lays
    * files out by). The oracle recomputes the interleave bit-by-bit in
    * SQL, checking the exact bit algebra both the query and the layout
    * writer rely on; ZOrderLayoutSpec separately proves the layout
    * prunes. First 100 cells in z-curve order — the walk a clustered
    * scan would make.
    */
  def qZorder(spark: SparkSession, sfDir: String): DataFrame =
    zorderCellsFrom(graft.Tables.events(spark, sfDir))

  /** Frame-parameterized body of [[qZorder]] — ZOrderLayoutSpec drives
    * this with a >512-user synthetic frame where morton2's 9-bit
    * truncation actually collides, proving the tie-broken order.
    */
  def zorderCellsFrom(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        floor(col("value") / 8).cast("long").as("vbucket"))
      .groupBy("user_id", "vbucket")
      .agg(count(lit(1)).as("n_events"))
      .select(
        graft.sources.Sources.morton2(col("user_id"), col("vbucket"))
          .as("zcell"),
        col("user_id"), col("vbucket"), col("n_events"))
      // zcell alone is non-injective past 512 users/buckets (morton2
      // keeps 9 bits per key) — tie-break on the raw keys so the cut at
      // LIMIT 100 is deterministic at any scale, not just the sf0.01
      // fixture's 150 users. Oracle orders identically (ZorderSql).
      .orderBy(asc_nulls_first("zcell"), asc_nulls_first("user_id"),
        asc_nulls_first("vbucket"))
      .limit(100)
}
