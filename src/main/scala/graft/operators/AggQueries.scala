package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation surface: hash agg with partial+final (the map-side
  * combiner the reference lacks — its wc ships one record per word
  * occurrence, `/root/reference/mrapps/wc.go:29-33` +
  * `mr/worker.go:142-150`), distinct aggregation, grouping sets
  * (ROLLUP/CUBE), global top-k, and the three set operations.
  *
  * Scale notes: every groupBy here compiles to HashAggregate(partial) →
  * Exchange → HashAggregate(final), so the shuffle carries one row per
  * (group, partition) not per input row. Top-k is
  * TakeOrderedAndProject — per-partition heaps, no global sort.
  * Exact-deterministic money math via integer cents on the fact-table
  * queries (see cents()); DECIMAL casts on the smaller dimensions.
  */
object AggQueries {

  /** TPC-H Q1 style: per (returnflag, linestatus) sums/avg/count over
    * lineitem. All money math in exact integer cents (see cents());
    * disc price = cents·(100−discount_cents) is exact in units of
    * 10^-4. avg = exact long sum / count divided in double
    * (deterministic), rounded to 6 dp.
    */
  def qAggHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sum(cents(col("l_quantity"))).cast("double") / 100.0).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100.0).as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .cast("double") / 10000.0).as("sum_disc_price"),
        (round(sum(cents(col("l_quantity"))).cast("double") / 100.0 /
               count(lit(1)), 6) + lit(0.0)).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Pivot: per-user event counts spread across one column per
    * event_type. The pivot values are given explicitly, so Spark skips
    * the extra distinct-values job and the output schema is static —
    * the form to use at scale (an unbounded pivot column is a schema
    * explosion, not a query). Absent (user, type) combos count 0.
    */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(asc_nulls_first("user_id"))

  /** Unpivot (melt): wide per-flag sums back to long (flag, metric,
    * value) rows — the inverse reshaping operator, constant fan-out 2×.
    */
  def qUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        (sum(cents(col("l_quantity"))).cast("double") / 100.0).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))).cast("double") / 100.0).as("sum_base_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_base_price")),
        "metric", "value")
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("metric"))

  /** Distinct aggregation: nations represented per market segment.
    * countDistinct expands to a two-phase plan (distinct shuffle on
    * (segment, nationkey) then final agg) — no driver-side set.
    */
  def qAggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"))
      .orderBy(asc_nulls_first("c_mktsegment"))

  /** Revenue by ROLLUP(region, nation) over orders⋈customer⋈nation⋈region
    * with grouping_id to tag the aggregation level (0=leaf, 1=per-region,
    * 3=grand total). Dim joins broadcast as in JoinQueries.
    */
  def qAggRollup(spark: SparkSession, sfDir: String): DataFrame = {
    // Pre-project the join output so the rollup's (nullable) grouping
    // attributes can't be confused with the join-side originals.
    val joined = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "o_totalprice")
    // rollup(col(...)) with unresolved columns, not rollup("name"): the
    // String overload resolves through Dataset.col, whose dataset-id tag
    // plus the grouping-set attribute duplication false-positives Spark's
    // ambiguous-self-join detector when a join sits upstream.
    joined
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("gid").asc, col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Order counts by CUBE(orderstatus, orderpriority) — all four grouping
    * levels in one pass.
    */
  def qAggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("gid").asc, asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Explicit GROUPING SETS — the generalization rollup/cube are sugar
    * for: exactly the listed groupings ((status, priority), (status),
    * ()) aggregate in ONE pass over the data (Spark expands the sets
    * into a single Expand + aggregation, not one job per set).
    */
  def qAggGroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("gid").asc, asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Global top-20 orders by totalprice (tie-break orderkey). Compiles to
    * TakeOrderedAndProject: each partition keeps a 20-row heap, the
    * driver merges 20·P rows — no full sort at any scale.
    */
  def qTopk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)

  /** UNION of customer and supplier nation keys, with n_sources = how
    * many of the two relations contain each key (1 or 2) — exercises both
    * UNION-distinct and UNION ALL in one query.
    */
  def qSetUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("int").as("nationkey")).distinct()
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_nationkey").cast("int").as("nationkey")).distinct()
    c.unionAll(s)
      .groupBy("nationkey")
      .agg(count(lit(1)).cast("int").as("n_sources"))
      .orderBy(asc_nulls_first("nationkey"))
  }

  /** Nation keys present in BOTH customer and supplier (INTERSECT). */
  def qSetIntersect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").cast("int").as("nationkey"))
      .intersect(
        Tables.supplier(spark, sfDir).select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy(asc_nulls_first("nationkey"))

  /** Customers who placed orders but have no event activity (EXCEPT
    * DISTINCT over the two key sets — non-trivial at every SF since
    * events only cover user_ids 0..149).
    */
  def qSetExcept(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).select(col("o_custkey").as("custkey"))
      .except(Tables.events(spark, sfDir).select(col("user_id").as("custkey")))
      .orderBy(asc_nulls_first("custkey"))

  /** Argmax/argmin aggregation: per nation, the richest and poorest
    * customer via max_by/min_by over a (c_acctbal, c_custkey) struct —
    * the struct's lexicographic ordering makes the tie-break explicit
    * and deterministic (unique custkey), unlike a bare max_by on a
    * possibly-tied double. One broadcast join (25-row nation) + one
    * hash agg; the shuffle carries one candidate struct per (nation,
    * partition). The oracle reproduces the same selection with two
    * row_number windows.
    */
  def qAggArgmax(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        expr("max_by(c_name, struct(c_acctbal, c_custkey))").as("richest_customer"),
        max(col("c_acctbal")).as("max_acctbal"),
        expr("min_by(c_name, struct(c_acctbal, c_custkey))").as("poorest_customer"),
        min(col("c_acctbal")).as("min_acctbal"))
      .orderBy(asc_nulls_first("n_name"))
}
