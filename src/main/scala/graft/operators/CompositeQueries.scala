package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composite multi-join analytics — the TPC-H-shaped flagship queries a
  * warehouse user actually runs, plus experiment (A/B) analysis and
  * snapshot reconciliation. These exercise the PLANNER at composite
  * scale: selective dimensions must broadcast, the fact stream must
  * shuffle once on its join key, and aggregation must start map-side.
  *
  * Exact money algebra (house convention, see StatsQueries): prices and
  * discounts are 2-dp doubles, so `round(x*100)` is an exact integer;
  * revenue ext·(1−disc) is computed as the exact 10^-4-unit product
  * cents(ext) × pct(1−disc) summed as BIGINT, cast to double once at
  * the end. Exactness holds while a group's 10^-4-unit sum stays below
  * 2^53 (~9·10^15 — ≈10^7 lineitems per group at max price); a 100 TB
  * hot group (e.g. Q5's per-nation sums at ~10^10 rows) widens the SUM
  * to DECIMAL(38,0), same algebra.
  */
object CompositeQueries {

  /** Exact 10^-4-unit revenue term: cents(l_extendedprice) × pct(1−l_discount). */
  private def revE4: Column =
    (round(col("l_extendedprice") * 100).cast("long") *
      round((lit(1.0) - col("l_discount")) * 100).cast("long"))

  /** TPC-H Q3 shape (shipping priority): revenue of unshipped orders for
    * one market segment — customer ⋈ orders ⋈ lineitem, top 10.
    *
    * Plan: the segment-filtered customer (~1/5 of a dimension table) and
    * the date-filtered orders join broadcast-free on o_custkey only if
    * both shuffle — but customer is tiny relative to the fact stream, so
    * we broadcast it explicitly; lineitem then joins pre-filtered orders
    * on the shuffle. Top-10 is TakeOrderedAndProject (per-partition
    * heap + driver merge of 10 rows), never a global sort.
    */
  def qShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg((sum(revE4).cast("double") / 10000.0).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(desc("revenue"), asc_nulls_first("o_orderdate"),
        asc_nulls_first("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local supplier volume): per-nation revenue where
    * the supplier and the customer share a nation, one region, one year.
    *
    * Plan: region→nation→customer collapses to ONE broadcast (a few
    * hundred rows after the region filter); supplier ⋈ nation is a
    * second broadcast. The fact stream (lineitem ⋈ filtered orders)
    * shuffles once on the order key; every dimension attaches
    * broadcast-side, and the c_nationkey = s_nationkey equality is a
    * post-join filter on broadcast-carried columns — no extra exchange
    * anywhere. Output is ≤ |nation| rows.
    */
  def qRegionalVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val yearLo = lit("1997-01-01").cast("timestamp")
    val yearHi = lit("1998-01-01").cast("timestamp")
    val nationsInRegion = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, sfDir)
      .join(nationsInRegion, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey", "n_name")
    val supp = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= yearLo && col("o_orderdate") < yearHi)
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg((sum(revE4).cast("double") / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), asc_nulls_first("n_name"))
  }

  /** Deterministic A/B experiment analysis: every user is assigned a
    * variant by seed-free md5 bucket (the qSampleHash keying — stable
    * across runs, engines, and reprocessing), then per-variant funnel
    * economics: users, purchasers, exact purchase revenue, conversion.
    *
    * Scale: assignment is a projection (no shuffle, no assignment
    * table to join — the hash IS the table); the per-variant rollup
    * aggregates first per (variant, user) then per variant, both
    * map-side-combinable. Rates are rounded to 6 dp, sums exact cents.
    */
  def qAbAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = Tables.events(spark, sfDir)
      .withColumn("variant",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 2 === 0, "control").otherwise("treatment"))
    assigned
      .groupBy(col("variant"), col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("rev_cents"))
      .groupBy("variant")
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("purchases") > 0, 1L).otherwise(0L)).as("n_purchasers"),
        sum(col("purchases")).as("n_purchases"),
        (sum(col("rev_cents")).cast("double") / 100.0).as("revenue"),
        round(sum(when(col("purchases") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("conversion"))
      .orderBy(asc_nulls_first("variant"))
  }

  /** Two-proportion z-test on q_ab_assign's experiment: is the
    * treatment's purchase-conversion difference real? Reports both
    * arms' exact counts, the conversion gap, and the pooled-variance
    * z statistic (the experimentation readout; the normal-quantile
    * lookup is left to the reader like q_contingency leaves χ²).
    *
    * Determinism: the same md5 user bucketing as q_ab_assign; all
    * counts exact integers; p̂₁, p̂₂, the pooled p̂ and z are one
    * terminal double expression each, spelled identically in the
    * oracle.
    *
    * Scale: one user-level fold (map-combinable) then a 2→1-row
    * conditional-sum pivot — nothing data-sized past the first
    * exchange.
    */
  def qAbTest(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .withColumn("variant",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 2 === 0, "control").otherwise("treatment"))
      .groupBy(col("variant"), col("user_id"))
      // a ≥$50 purchase, not any purchase: at fixture scale every user
      // buys SOMETHING, which degenerates p̂_pool to 1 and the z
      // denominator to 0 — the high-value form keeps the test live
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= 50, 1L).otherwise(0L)).as("converted"))
    val cells = perUser.agg(
      sum(when(col("variant") === "control", 1L).otherwise(0L)).as("n1"),
      sum(when(col("variant") === "control", col("converted"))
        .otherwise(0L)).as("x1"),
      sum(when(col("variant") === "treatment", 1L).otherwise(0L)).as("n2"),
      sum(when(col("variant") === "treatment", col("converted"))
        .otherwise(0L)).as("x2"))
    val p1 = col("x1").cast("double") / col("n1")
    val p2 = col("x2").cast("double") / col("n2")
    val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))
    cells.select(col("n1").as("n_control"), col("x1").as("conv_control"),
      col("n2").as("n_treatment"), col("x2").as("conv_treatment"),
      (round(p2 - p1, 6) + lit(0.0)).as("conversion_gap"),
      when(col("x1") + col("x2") > 0 &&
        col("x1") + col("x2") < col("n1") + col("n2"),
        round((p2 - p1) /
          sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 6) + lit(0.0))
        .as("z_stat"))
  }

  /** Supplier capacity per nation: supplier count, exact total/mean
    * account balance, and each nation's share of its REGION's supplier
    * balance — the sourcing-concentration readout on the supplier
    * dimension (which q_join_range/q_trade_volume consume but never
    * profile).
    *
    * Determinism: balances are exact integer cents; the region share
    * divides by a per-region window sum of those integers; means and
    * shares are terminal rounded divisions.
    *
    * Scale: supplier is a dimension table, but the shape is
    * fact-proof: one fold to |nations| rows, broadcast
    * nation/region joins, and a |nations|-row window.
    */
  def qSupplierBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val byNation = Tables.supplier(spark, sfDir)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(cents(col("s_acctbal"))).as("bal_c"))
    val dims = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("nation"), col("r_name").as("region"))
    val wReg = Window.partitionBy("region")
    byNation.join(broadcast(dims), Seq("s_nationkey"))
      .withColumn("reg_c", sum(col("bal_c")).over(wReg))
      .select(col("region"), col("nation"), col("n_suppliers"),
        (round(col("bal_c").cast("double") / 100.0, 6) + lit(0.0))
          .as("total_balance"),
        (round(col("bal_c").cast("double") / col("n_suppliers") / 100.0, 6)
          + lit(0.0)).as("mean_balance"),
        (round(col("bal_c").cast("double") / col("reg_c"), 6) + lit(0.0))
          .as("region_share"))
      .orderBy(asc_nulls_first("region"), asc_nulls_first("nation"))
  }

  /** Per-brand retail price profile over the part dimension: part
    * count, min/max, and the exact median price (q_median's middle-row
    * algebra) plus the spread — the assortment-pricing readout that
    * finally profiles the part table the join queries only key on.
    *
    * Determinism: prices are exact integer cents; the median is the
    * mean of the selected middle rows; all floats terminal.
    *
    * Scale: one (brand) window for the median over the part dimension
    * (dimension-sized at any SF; the shape still holds for a
    * fact-sized catalog — q_anomaly_mad's GK note applies).
    */
  def qBrandPrices(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .select(col("p_brand"), col("p_partkey"),
        cents(col("p_retailprice")).as("pc"))
    val w = Window.partitionBy("p_brand")
      .orderBy(col("pc").asc, col("p_partkey").asc)
    p.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_brand")))
      .withColumn("mn", min(col("pc")).over(Window.partitionBy("p_brand")))
      .withColumn("mx", max(col("pc")).over(Window.partitionBy("p_brand")))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("n DIV 2 + 1"))
      .groupBy("p_brand")
      .agg(max(col("n")).as("n_parts"),
        (round(max(col("mn")).cast("double") / 100.0, 6) + lit(0.0))
          .as("min_price"),
        (round(avg(col("pc")) / 100.0, 6) + lit(0.0)).as("median_price"),
        (round(max(col("mx")).cast("double") / 100.0, 6) + lit(0.0))
          .as("max_price"),
        (round((max(col("mx")) - max(col("mn"))).cast("double") / 100.0, 6)
          + lit(0.0)).as("price_spread"))
      .orderBy(asc_nulls_first("p_brand"))
  }

  /** Return rate per part brand: lineitem return flags rolled up to
    * the brand dimension — the supplier-quality signal (which brands
    * come back?) that joins the fact's returnflag to the part dim the
    * engine otherwise only keys through.
    *
    * Determinism: counts and cents exact; rates terminal.
    *
    * Scale: ONE fact pass with a broadcast part dimension join (at
    * 100 TB the part dim shuffles instead — the join stays keyed on
    * partkey either way), folding to |brands| rows map-side.
    */
  def qBrandReturns(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_returnflag"),
        cents(col("l_extendedprice")).as("pc"))
      .join(broadcast(parts), Seq("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(when(col("l_returnflag") === "R", col("pc")).otherwise(0L))
          .as("ret_c"),
        sum(col("pc")).as("tot_c"))
      .select(col("p_brand"), col("n_lines"), col("n_returned"),
        (round(col("n_returned").cast("double") / col("n_lines"), 6)
          + lit(0.0)).as("return_rate"),
        (round(col("ret_c").cast("double") / col("tot_c"), 6) + lit(0.0))
          .as("returned_value_share"))
      .orderBy(asc_nulls_first("p_brand"))
  }

  /** TPC-H Q6 shape — the what-if revenue query: the additional
    * revenue (Σ extendedprice·discount) that would have been earned
    * without small promotional discounts, over a one-year ship window,
    * discounts 5–7%, quantity < 24. The canonical
    * full-scan-with-tight-filters probe: every predicate must reach
    * the parquet scan.
    *
    * Determinism: price and discount are re-expressed in exact integer
    * cents/basis points, so the revenue sum is an exact decimal and
    * the single reported double is terminal.
    *
    * Scale: scan → filter → 1-row aggregate; no shuffle beyond the
    * final partial-agg merge.
    */
  def qDiscountRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val bps = (c: Column) => round(c * 10000).cast("long")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .select((cents(col("l_extendedprice")).cast("decimal(38,0)") *
        bps(col("l_discount"))).as("rev_unit"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_unit")).as("s"))
      .select(col("n_lines"),
        (round(col("s").cast("double") / 1000000.0, 6) + lit(0.0))
          .as("promo_revenue"))
  }

  /** Discount elasticity proxy per brand: the OLS slope of quantity on
    * discount over each brand's line items — do deeper discounts move
    * more units of THIS brand? (q_regression's exact-moment recipe,
    * re-keyed from customer segments to the part dimension.)
    *
    * Determinism: quantity cents and discount basis points are exact
    * integers; the five moments sum exactly (Σxy and Σx² in
    * decimal(38,0)); slope and r are terminal double expressions.
    *
    * Scale: one fact pass + broadcast part join, folding map-side to
    * \|brands\| rows of moments.
    */
  def qDiscountElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val m = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        round(col("l_discount") * 10000).cast("long").as("x"),
        round(col("l_quantity") * 100).cast("long").as("y"))
      .join(broadcast(parts), Seq("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
    val num = col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denX = col("n").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val denY = col("n").cast("double") * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("p_brand"), col("n").as("n_lines"),
        // slope in quantity-units per discount-point: y/100 per x/10000
        // = (num/denX)·100
        when(denX > 0, round(num / denX * 100.0, 6) + lit(0.0))
          .as("qty_per_discount_pt"),
        when(denX > 0 && denY > 0,
          round(num / (sqrt(denX) * sqrt(denY)), 6) + lit(0.0)).as("r"))
      .orderBy(asc_nulls_first("p_brand"))
  }

  /** Basket profile per market segment: mean lines and mean revenue
    * per order — the order-size composite stitching all three core
    * tables (customer → orders → lineitem) in one chain, the
    * "how big is a typical basket per segment" readout. Baskets are
    * orders WITH line items: the inner join drops line-less orders
    * (the fixture contains some), which have no basket to profile.
    *
    * Determinism: per-order line counts and cent sums are exact; the
    * segment means divide exact integer totals once.
    *
    * Scale: lineitem folds to per-order rows FIRST (one orderkey
    * exchange), the orders join is keyed, the customer dimension
    * broadcasts, and the final fold is \|segments\| rows.
    */
  def qBasketBySegment(spark: SparkSession, sfDir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice"))).as("rev_c"))
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      .join(perOrder, Seq("l_orderkey"))
      .join(broadcast(seg), Seq("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("tot_lines"),
        sum(col("rev_c")).as("tot_c"))
      .select(col("c_mktsegment"), col("n_orders"),
        (round(col("tot_lines").cast("double") / col("n_orders"), 6)
          + lit(0.0)).as("mean_lines"),
        (round(col("tot_c").cast("double") / col("n_orders") / 100.0, 6)
          + lit(0.0)).as("mean_revenue"),
        (round(col("tot_c").cast("double") / col("tot_lines") / 100.0, 6)
          + lit(0.0)).as("mean_line_value"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Weekend effect per segment: weekday vs weekend mean order value
    * and the ratio — the day-mix control a revenue comparison needs
    * before reading anything into a week-over-week move (q_seasonal's
    * question asked of the ORDERS fact, collapsed to the binary split
    * that decides staffing/campaign windows).
    *
    * Determinism: weekday is epoch-days mod 7 (the locale-free integer
    * arithmetic; 0 = Thursday, so weekend = days 2 and 3); sums exact
    * cents; means and ratio terminal.
    *
    * Scale: one map-combinable fold over orders to |segments| rows —
    * a broadcast customer dimension join is the only exchange input.
    */
  def qWeekendEffect(spark: SparkSession, sfDir: String): DataFrame = {
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val isWeekend = pmod(datediff(to_date(col("o_orderdate")),
      lit("1970-01-01").cast("date")), lit(7)).isin(2, 3)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("x"),
        isWeekend.as("we"))
      .join(broadcast(seg), Seq("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(when(col("we"), 0L).otherwise(1L)).as("n_weekday"),
        sum(when(col("we"), 1L).otherwise(0L)).as("n_weekend"),
        sum(when(col("we"), 0L).otherwise(col("x"))).as("wd_c"),
        sum(when(col("we"), col("x")).otherwise(0L)).as("we_c"))
      .select(col("c_mktsegment"), col("n_weekday"), col("n_weekend"),
        (round(col("wd_c").cast("double") / col("n_weekday") / 100.0, 6)
          + lit(0.0)).as("weekday_mean"),
        (round(col("we_c").cast("double") / col("n_weekend") / 100.0, 6)
          + lit(0.0)).as("weekend_mean"),
        (round((col("we_c").cast("double") / col("n_weekend")) /
          (col("wd_c").cast("double") / col("n_weekday")), 6) + lit(0.0))
          .as("weekend_ratio"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Fact fan-out profile: the distribution of line counts per order —
    * the join-multiplicity histogram that sizes every orders⋈lineitem
    * estimate (and the skew check before trusting an average-lines
    * assumption).
    *
    * Determinism: integer counts; shares terminal.
    *
    * Scale: one orderkey fold (map-combinable) then a ≤7-bucket fold.
    */
  def qLinesPerOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
      .groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("total", sum(col("n_orders")).over(wAll))
      .select(col("n_lines"), col("n_orders"),
        (round(col("n_orders").cast("double") / col("total"), 6) + lit(0.0))
          .as("order_share"))
      .orderBy(col("n_lines").asc)
  }

  /** Month-over-month order-priority mix: each month's share per
    * priority and the share's delta vs the previous month — the
    * composition-drift report (is URGENT creeping up?) that a plain
    * monthly count table hides. The relational cousin of
    * q_drift_psi's distribution-shift score, kept at full
    * (month × priority) resolution.
    *
    * Determinism: counts exact; shares terminal rounded divisions;
    * the MoM lag runs over the months-bounded grid under a total
    * (priority, month) order; the delta subtracts two ROUNDED shares
    * so both engines subtract identical doubles.
    *
    * Scale: one fold to the |months|×|priorities| grid (map-side
    * combined), then two windows on that tiny grid.
    */
  def qPriorityMix(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    val share = round(col("n_orders").cast("double") /
      sum(col("n_orders")).over(Window.partitionBy("month")), 6) + lit(0.0)
    val wLag = Window.partitionBy("o_orderpriority")
      .orderBy(asc_nulls_first("month"))
    grid
      .withColumn("share", share)
      .withColumn("mom_delta",
        when(lag(col("share"), 1).over(wLag).isNotNull,
          round(col("share") - lag(col("share"), 1).over(wLag), 6)
            + lit(0.0)))
      .orderBy(asc_nulls_first("month"), asc_nulls_first("o_orderpriority"))
  }

  /** Snapshot reconciliation: diff two corpus snapshots into
    * added / removed / changed rows (unchanged rows drop out). The two
    * snapshots are carved deterministically from the documents table
    * (A = doc_id % 7 ≠ 0; B = doc_id % 5 ≠ 0 with every 11th doc
    * revised) so the oracle reproduces them exactly.
    *
    * Scale: ONE full-outer shuffle on doc_id comparing 16-byte content
    * hashes — never the texts; the md5 is computed before the exchange
    * so text never shuffles. This is the audit face of Upsert: the same
    * comparison that drives a MERGE, reported instead of applied.
    */
  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val a = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("a_hash"))
    val b = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("b_hash"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("a_hash").isNull, "added")
          .when(col("b_hash").isNull, "removed")
          .when(col("a_hash") =!= col("b_hash"), "changed"))
      .filter(col("status").isNotNull)
      .select("doc_id", "status")
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total lineitem
    * quantity exceeds 300, with their customer. The classic
    * aggregate-then-join composite: the HAVING collapses the fact table
    * to a tiny qualifying set BEFORE any wide join runs.
    *
    * Plan: lineitem aggregates once on l_orderkey (map-side partial →
    * one exchange), the >300 filter leaves a data-dependent-but-small
    * survivor set, and AQE's runtime stats then pick the join strategy
    * against orders — at any SF the post-HAVING side is the one worth
    * broadcasting, a decision best left to AQE precisely because its
    * size is unknowable at plan time. Quantities are integral by data
    * contract, so the sum is an exact long at any scale.
    */
  def qBigOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 300)
    Tables.orders(spark, sfDir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, sfDir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), asc_nulls_first("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q17 shape (small-quantity revenue): per-brand revenue sitting
    * in lineitems whose quantity is below 20% of their part's average —
    * the correlated-average composite.
    *
    * The correlation is computed with ONE window over the fact stream
    * partitioned by l_partkey (per-part sum and count), not an
    * aggregate-then-self-join — lineitem shuffles exactly once and is
    * scanned exactly once. The qty < 0.2·avg predicate is evaluated in
    * exact integer algebra (5·qty·cnt < Σqty; quantities are integral by
    * data contract), so both engines flag the identical rows with no
    * double division anywhere. The part dimension joins AFTER the filter
    * has shrunk the stream, with no broadcast hint: at test SF AQE
    * broadcasts it, at 100 TB (where part is fact-sized) it degrades to
    * a shuffle join on its own — the decision stays with the runtime.
    */
  def qSmallParts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_partkey")
    val small = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"))
      .withColumn("part_qty", sum(col("qty")).over(w))
      .withColumn("part_cnt", count(lit(1)).over(w))
      .filter(col("qty") * col("part_cnt") * 5 < col("part_qty"))
    small
      .join(Tables.part(spark, sfDir).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        (sum(col("price_c")).cast("double") / 100.0).as("small_revenue"))
      .orderBy(asc_nulls_first("p_brand"))
  }

  /** TPC-H Q22 shape (untapped accounts): customers with above-average
    * positive balance who never placed an URGENT order, per segment —
    * the scalar-subquery + NOT EXISTS composite.
    *
    * Plan: the global average is a ONE-row map-combinable aggregate
    * (sum of cents, count) that re-enters as a scalar broadcast — no
    * driver round-trip, no collect; the above-average predicate runs as
    * exact integer algebra (bal·n > Σbal, no double division). The
    * NOT EXISTS is a left-anti shuffle join on custkey — orders is
    * fact-sized at 100 TB, so neither side broadcasts, and the
    * priority filter prunes ~80% of it at the scan before the exchange.
    */
  /** TPC-H Q7 shape (cross-nation trade volume): revenue shipped
    * between every DISTINCT (supplier nation, customer nation) pair
    * per ship year over a two-year window — the classic two-dimension-
    * chain multi-join whose plan quality is all about which side
    * broadcasts.
    *
    * Plan: nation broadcasts twice (25 rows, hinted). Supplier and
    * customer are LEFT UNHINTED on purpose: at bench scale AQE
    * broadcasts them, at 100 TB they outgrow the threshold and AQE
    * falls back to shuffle equi-joins — the right plan at both ends
    * without a code change. The fact stream shuffles exactly twice
    * (orders⋈customer on custkey, lineitem⋈orders on orderkey), the
    * final agg folds to ≤ |nations|²·|years| rows.
    *
    * Determinism: revenue is the exact e4-integer sum divided once;
    * output fully key-ordered.
    */
  def qTradeVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val supp = Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), revE4.as("rev"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg((sum(col("rev")).cast("double") / 10000.0).as("revenue"))
      .orderBy(asc_nulls_first("supp_nation"), asc_nulls_first("cust_nation"),
        asc_nulls_first("l_year"))
  }

  def qIdleRich(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 0.0)
      .select(col("c_custkey"), col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_c"))
    val g = cust.agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    cust.crossJoin(broadcast(g))
      .filter(col("bal_c") * col("n") > col("s"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        (sum(col("bal_c")).cast("double") / 100.0).as("total_bal"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }
}
