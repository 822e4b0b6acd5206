package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical OLAP operators, all engineered to be exact across
  * engines: the median avoids percentile-interpolation dialects by
  * selecting middle rows with window algebra; correlation assembles
  * from exact integer-cents power sums (every intermediate is exact
  * long math, the final formula is one deterministic double
  * expression); histograms bucket with explicit integer floors.
  */
object StatsQueries {

  /** Exact per-segment median of customer account balances: the mean of
    * the middle one-or-two order statistics, picked by row_number —
    * identical algebra in both engines, no quantile interpolation.
    */
  def qMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
      // DIV: integer division ((n+1)/2 with `/` would be double division)
      .filter(col("rn") === expr("(n + 1) DIV 2") || col("rn") === expr("n DIV 2 + 1"))
      .groupBy("c_mktsegment")
      .agg(
        max(col("n")).as("n_customers"),
        (round(avg(col("c_acctbal")), 6) + lit(0.0)).as("median_acctbal"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Exact nearest-rank percentiles (p25/p50/p75/p90) of account
    * balance per segment: the value at row_number ceil(q·n) under a
    * total order — no interpolation, so both engines select the
    * identical order statistic. One window over the same sort the
    * median uses; still a single shuffle on the segment key.
    */
  def qPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val ranked = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
    val ps = Seq(25, 50, 75, 90)
    ranked.groupBy("c_mktsegment")
      .agg(
        max(col("n")).as("n_customers"),
        ps.map { p =>
          (round(max(when(col("rn") === ceil(col("n") * p / 100.0),
            col("c_acctbal"))), 6) + lit(0.0)).as(s"p$p")
        }: _*)
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Per-group mode: the most frequent order priority per order status
    * (ties → lexically smallest priority), with its count. Two hash
    * aggregations plus a top-1 window on the small (status, priority)
    * grid — the big table shuffles once.
    */
  def qMode(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    Tables.orders(spark, sfDir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("cnt").as("mode_count"))
      .orderBy(asc_nulls_first("o_orderstatus"))
  }

  /** Pearson correlation of quantity vs extended price per return
    * flag, from exact ALL-LONG power sums (cents): each per-row
    * integer term (cents products, largest yy ≈ 10^14) splits into
    * three 20-bit digit groups (t & M, (t>>20) & M, t>>40 with
    * M = 2^20−1), each group sums as a plain codegen'd long, and the
    * exact integer total reassembles as hi·2^40 + mid·2^20 + lo in
    * double only inside the final formula — which the DuckDB oracle
    * evaluates verbatim on the same integers, so the doubles are
    * bit-identical. Bounds, tightest first: the BIT-IDENTICAL limit is
    * the double cast — a group sum stays an exactly-represented double
    * only below 2^53, i.e. n ≤ 2^53/2^20 ≈ 8.6·10^9 rows per group
    * (a few TB of lineitem per return flag); past it the cast rounds,
    * and cross-engine equality then rests on both engines IEEE-rounding
    * the same exact long the same way rather than on exact integers.
    * Long OVERFLOW — actual wrong answers — is much later, at
    * n ≤ 2^63/2^20 ≈ 8.8·10^12 rows/group. Past the 2^53 bound, widen
    * the split (four 16-bit groups buy 16× n) or fall back to
    * qCorrDecimal, whose 128-bit sums never wrap.
    *
    * Why not DECIMAL(38,0) sums (the previous form, kept below as
    * qCorrDecimal): decimal aggregation runs on Decimal128 objects
    * while the digit-group sums stay in primitive longs inside
    * whole-stage codegen — `graft.Bench` subset run, sf0.1
    * steady-state 0.95 s decimal vs 0.55 s long split (hi/lo 1e9 variant; the 3-group split
    * measures the same), ~1.8× on the round's slowest scalar-agg cell.
    */
  def qCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val M = (1L << 20) - 1
    val x = cents(col("l_quantity"))
    val y = cents(col("l_extendedprice"))
    def parts(t: Column, name: String): Seq[(Column, String)] = Seq(
      (t.bitwiseAND(lit(M)), s"${name}_0"),
      (shiftright(t, 20).bitwiseAND(lit(M)), s"${name}_1"),
      (shiftright(t, 40), s"${name}_2"))
    val terms = Seq((x, "sx"), (y, "sy"), (x * y, "sxy"), (x * x, "sxx"), (y * y, "syy"))
      .flatMap { case (t, n) => parts(t, n) }
    val agged = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        terms.map { case (t, n) => sum(t).cast("double").as(n) }: _*)
    def re(name: String): Column =
      col(s"${name}_2") * math.pow(2, 40) +
        col(s"${name}_1") * math.pow(2, 20) + col(s"${name}_0")
    agged.select(
      col("l_returnflag"),
      col("n").cast("long").as("n_rows"),
      (round(
        (col("n") * re("sxy") - re("sx") * re("sy")) /
          (sqrt(col("n") * re("sxx") - re("sx") * re("sx")) *
           sqrt(col("n") * re("syy") - re("sy") * re("sy"))), 6) + lit(0.0))
        .as("corr_qty_price"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** The DECIMAL(38,0) exact-sum form qCorr replaced — kept as the
    * unbounded-n comparator StatsSpec proves the digit-group split
    * equal to (and the fallback past the 8.8·10^12 rows/group bound).
    */
  private[graft] def qCorrDecimal(spark: SparkSession, sfDir: String): DataFrame = {
    val x = cents(col("l_quantity")).cast("decimal(38,0)")
    val y = cents(col("l_extendedprice")).cast("decimal(38,0)")
    val agged = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
    agged.select(
      col("l_returnflag"),
      col("n").cast("long").as("n_rows"),
      (round(
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6) + lit(0.0))
        .as("corr_qty_price"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** Sketch surface: HyperLogLog++ approximate distinct users per event
    * type, next to the exact count. At 100 TB the exact distinct is a
    * full shuffle of every key; the sketch is a few KB per group,
    * merged associatively — partition-order-independent, hence
    * deterministic (register-wise max), unlike quantile sketches. NOT
    * oracle-checked (DuckDB's approx_count_distinct is a different
    * sketch); the driver records rows>0 and PropertySpec bounds the
    * relative error against the exact count.
    */
  def sketchDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(asc_nulls_first("event_type"))

  /** Mergeable quantile sketch next to the exact q_percentiles:
    * percentile_approx is Spark's Greenwald-Khanna quantile summary —
    * built per partition, merged associatively, O(accuracy·log n)
    * space — so at 100 TB each group costs a few KB of sketch instead
    * of the full-column shuffle the exact nearest-rank form pays. Rank
    * error is bounded by n/accuracy (≤ n/10⁴ here). NOT oracle-checked
    * (DuckDB's approx_quantile is a t-digest — a different sketch with
    * different answers); the driver records rows>0 and StatsSpec bounds
    * the rank error of every reported value against the exact order
    * statistics, the same spec-bounded treatment as sketch_distinct.
    */
  def sketchPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val qs = Seq(25, 50, 75, 90)
    Tables.customer(spark, sfDir)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        percentile_approx(col("c_acctbal"),
          array(qs.map(p => lit(p / 100.0)): _*), lit(10000)).as("ps"))
      .select(
        col("c_mktsegment") +: col("n_customers") +:
          qs.zipWithIndex.map { case (p, i) =>
            element_at(col("ps"), i + 1).as(s"approx_p$p")
          }: _*)
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Histogram of order totals in 50k-wide buckets: explicit integer
    * floor bucketing (no width_bucket dialect differences), bucket
    * bounds reported exactly.
    */
  def qHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"))
      .select(
        col("bucket"),
        (col("bucket") * 50000L).as("lo"),
        ((col("bucket") + 1) * 50000L).as("hi"),
        col("n_orders"))
      .orderBy(asc_nulls_first("bucket"))

  /** Equi-depth histogram (quartile binning) of order value per
    * priority: ntile(4) under a TOTAL order (price, then orderkey — the
    * tiebreak makes both engines deal identical bucket boundaries), then
    * per-bucket count/min/max. The feature-binning complement of
    * qHistogram's fixed-width buckets: bucket population is constant by
    * construction, boundaries are data-driven.
    *
    * One shuffle on the priority key; each group sorts independently
    * (the window is partitioned, never single-reducer). At 100 TB an
    * EXACT equi-depth of one giant group is a global sort by definition
    * — for that regime sketch_percentiles is the approximate path; this
    * form is for per-group binning where groups fit a partition.
    */
  def qEquidepth(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("bucket", ntile(4).over(w))
      .groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("n_orders"),
        (round(min(col("o_totalprice")), 6) + lit(0.0)).as("lo"),
        (round(max(col("o_totalprice")), 6) + lit(0.0)).as("hi"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("bucket"))
  }

  /** Contingency analysis of market segment × order priority: observed
    * counts, independence-expected counts E = rowΣ·colΣ/N, and each
    * cell's χ² contribution (O−E)²/E with standardized sign available
    * from O vs E. Emitted PER CELL deliberately: every value is one
    * deterministic double expression over exact integer counts — a
    * cross-cell χ² total would sum doubles in engine-dependent order,
    * so the (tiny) final fold is left to the reader of the 25-row grid.
    *
    * One fact shuffle for the grid counts; row/col/total sums are
    * windows over the |segments|×|priorities| grid, never the data.
    */
  def qContingency(spark: SparkSession, sfDir: String): DataFrame =
    observedExpected(spark, sfDir)
      .select(col("segment"), col("priority"), col("observed"),
        (round(col("e"), 6) + lit(0.0)).as("expected"),
        (round((col("observed") - col("e")) * (col("observed") - col("e")) /
          col("e"), 6) + lit(0.0)).as("contribution"))
      .orderBy(asc_nulls_first("segment"), asc_nulls_first("priority"))

  /** The segment × priority grid of q_contingency and q_cramers_v:
    * observed order counts and the independence-expected count
    * e = rowΣ·colΣ/N per cell.
    */
  private def observedExpected(spark: SparkSession,
      sfDir: String): DataFrame = {
    val grid = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("observed"))
    val e = (sum(col("observed")).over(Window.partitionBy("segment"))
        .cast("double") *
      sum(col("observed")).over(Window.partitionBy("priority")) /
      sum(col("observed")).over(Window.partitionBy())).as("e")
    grid.select(col("segment"), col("priority"), col("observed"), e)
  }

  /** Day-over-day revenue change — the period-over-period report every
    * warehouse runs: daily order revenue with the absolute and relative
    * change vs the previous PRESENT day (gaps inherit the last present
    * day, standard pct-change semantics). Revenue sums in exact integer
    * cents; the one division happens after rounding boundaries are
    * fixed. One date-keyed aggregation plus a lag over the tiny
    * |days|-row result — nothing after the first exchange scales with
    * the data.
    */
  def qPctChange(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
    val w = Window.orderBy(col("day").asc)
    daily
      .withColumn("prev_c", lag(col("rev_c"), 1).over(w))
      .select(col("day"),
        (col("rev_c").cast("double") / 100.0).as("revenue"),
        ((col("rev_c") - col("prev_c")).cast("double") / 100.0).as("change"),
        (round((col("rev_c") - col("prev_c")).cast("double") /
          col("prev_c"), 6) + lit(0.0)).as("pct_change"))
      .orderBy(asc_nulls_first("day"))
  }

  /** Per-segment Gini coefficient of customer order spend — the
    * inequality measure (how concentrated is revenue among customers?),
    * the same statistic a corpus owner runs on per-source token counts
    * to audit mixture balance. Closed form over the ascending order
    * statistics: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n, all sums in exact
    * integer cents. The rank-weighted sum Σ i·xᵢ (and the n·Σx
    * denominator) run in decimal(38,0) — n²·x̄ passes 2^63 near 10⁸
    * customers per segment, so a long would wrap silently; decimal is
    * exact to 10³⁸ and overflows loudly, matching the DuckDB oracle's
    * HUGEINT behavior. The division happens once in a deterministic
    * double expression. One shuffle on custkey for the spend agg, one
    * on the segment key for the ranking window.
    */
  def qGini(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend_c"))
    val labeled = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(spend, col("c_custkey") === col("o_custkey"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("spend_c").asc, col("c_custkey").asc)
    labeled
      .withColumn("i", row_number().over(w))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_c")).as("s"),
        // decimal(38,0), not long: Σ i·xᵢ ≈ n²·x̄ passes 2^63 near 10⁸
        // customers per segment; a long sum would wrap silently there
        // while the DuckDB oracle (HUGEINT) errors. Decimal keeps both
        // engines exact to 10³⁸ and fails loudly (null/ANSI error), so
        // overflow can never be a silent wrong answer.
        sum(col("i").cast("decimal(38,0)") * col("spend_c")).as("si"))
      .select(col("c_mktsegment"), col("n_customers"),
        (col("s").cast("double") / 100.0).as("total_spend"),
        (round(lit(2.0) * col("si").cast("double") /
            (col("n_customers").cast("decimal(38,0)") * col("s")).cast("double") -
            (col("n_customers") + 1).cast("double") / col("n_customers"), 6)
          + lit(0.0)).as("gini"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Winsorized mean — robust aggregation: per-segment mean of account
    * balances after clipping to the exact nearest-rank [p5, p95]
    * order statistics. The outlier-robust complement of qMedian for
    * pipelines that need a mean (e.g. per-source quality score
    * averaging under spam outliers).
    *
    * The bounds come from the same rank-position window qPercentiles
    * uses; they re-enter as a |segments|-row broadcast join (never a
    * shuffle of the data stream). Clipping and summation run in exact
    * integer cents, divided once at the end — bit-identical across
    * engines while a segment's clipped sum stays under 2^53.
    */
  def qWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
    val bounds = cust
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
      .groupBy(col("c_mktsegment").as("b_seg"))
      .agg(
        max(when(col("rn") === ceil(col("n") * 5 / 100.0),
          cents(col("c_acctbal")))).as("lo_c"),
        max(when(col("rn") === ceil(col("n") * 95 / 100.0),
          cents(col("c_acctbal")))).as("hi_c"))
    cust.join(broadcast(bounds), col("c_mktsegment") === col("b_seg"))
      .select(col("c_mktsegment"),
        greatest(col("lo_c"), least(col("hi_c"), cents(col("c_acctbal"))))
          .as("clip_c"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        (round(sum(col("clip_c")).cast("double") / 100.0 / count(lit(1)), 6)
          + lit(0.0)).as("winsorized_mean"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Spearman rank correlation of (quantity, extendedprice) per return
    * flag — the outlier-robust companion to qCorr's Pearson. Tied
    * values take average (fractional) ranks; to keep every intermediate
    * exact we carry DOUBLED ranks, which are integers: 2·avg_rank =
    * rank() + count() over the same ordered window (the default RANGE
    * frame counts all peers, i.e. the tie group's max rank; rank() is
    * its min). Correlation is affine-invariant, so Pearson on the
    * doubled ranks IS Spearman. Power sums run in decimal(38,0)
    * (ranks ≤ 2n ⇒ products ≤ 4n², within 38 digits to n ~ 10^17);
    * the final formula is one deterministic double expression.
    *
    * Scale: both rank windows sort within the SAME returnflag
    * partitioning — one exchange, two in-partition sorts, then a
    * map-side-combinable aggregate. No joins, no second shuffle.
    */
  def qCorrSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    def ranks2(v: Column, name: String): Column = {
      val w = Window.partitionBy("l_returnflag").orderBy(v.asc)
      (rank().over(w) + count(lit(1)).over(w)).cast("decimal(38,0)").as(name)
    }
    val ranked = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .select(col("l_returnflag"),
        ranks2(col("l_quantity"), "rx"),
        ranks2(col("l_extendedprice"), "ry"))
    ranked
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("rx")).cast("double").as("sx"),
        sum(col("ry")).cast("double").as("sy"),
        sum(col("rx") * col("ry")).cast("double").as("sxy"),
        sum(col("rx") * col("rx")).cast("double").as("sxx"),
        sum(col("ry") * col("ry")).cast("double").as("syy"))
      .select(
        col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        (round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6) + lit(0.0))
          .as("spearman_qty_price"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** Per-segment ordinary-least-squares fit of order total on customer
    * balance (slope, intercept, r²) — the regr_slope/regr_intercept/
    * regr_r2 family assembled from exact integer-cents power sums in
    * decimal(38,0), because the built-in regr_* aggregates sum doubles
    * in partition order (non-deterministic under AQE) and their
    * interpolation dialects differ across engines. The final three
    * formulas are each one deterministic double expression.
    *
    * Scale: one broadcast of the customer dim side? No — both tables
    * are fact-sized; the join shuffles on custkey, then ONE hash
    * aggregate on the 5-row segment key with map-side combine. The
    * power sums are the only state — O(segments) rows after the agg.
    */
  def qRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        col("o_custkey") === col("c_custkey"))
    val x = cents(col("c_acctbal")).cast("decimal(38,0)")
    val y = cents(col("o_totalprice")).cast("decimal(38,0)")
    // num/den duplicated (not pow/shared-ref) so the IEEE op sequence is
    // spelled out identically here and in the oracle SQL.
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    joined
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
      .select(
        col("c_mktsegment"),
        col("n").cast("long").as("n_orders"),
        (round(num / den, 6) + lit(0.0)).as("slope"),
        (round((col("sy") - num / den * col("sx")) /
          col("n") / 100.0, 6) + lit(0.0)).as("intercept"),
        (round(num * num /
          (den * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          + lit(0.0)).as("r2"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Mutual information between event type and hour-of-day — the
    * dependence screen behind "is behavior time-of-day-specific":
    * MI = Σ (n_xy/N)·ln(n_xy·N/(n_x·n_y)) over the contingency grid,
    * emitted per cell in exact micro-nats (each term rounded to an
    * integer BEFORE any summation — q_drift_psi's recipe, making any
    * downstream total order-independent). Complements q_contingency's
    * chi-square-style expected counts with the information-theoretic
    * form.
    *
    * Scale: one data shuffle to the (types × 24) grid with map-side
    * combine; all three marginal windows (type, hour, grand total) run
    * over the post-agg ≤|types|·24-row grid — nothing after the first
    * exchange scales with the data.
    */
  def qMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = Tables.events(spark, sfDir)
      .select(col("event_type"), hour(col("ts")).as("hour"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"))
    val nx = sum(col("n")).over(Window.partitionBy("event_type"))
    val ny = sum(col("n")).over(Window.partitionBy("hour"))
    val nTot = sum(col("n")).over(Window.partitionBy())
    grid
      .withColumn("n_type", nx)
      .withColumn("n_hour", ny)
      .withColumn("tot", nTot)
      .select(col("event_type"), col("hour"), col("n"),
        col("n_type"), col("n_hour"),
        round((col("n").cast("double") / col("tot")) *
          log(col("n").cast("double") * col("tot") /
            (col("n_type").cast("double") * col("n_hour"))) * 1000000, 0)
          .cast("long").as("mi_term_micro"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("hour"))
  }

  /** Conditional entropy H(event_type | hour-of-day) next to its
    * unconditional H(event_type) and the normalized uncertainty
    * reduction 1 − H(X|Y)/H(X) (Theil's U) — the directional readout
    * q_mutual_info's symmetric grid terms don't give: how much does
    * KNOWING the hour tell you about what users do?
    *
    * Determinism: every entropy enters as exact-count-derived terms
    * integerized to micro-nats before summation (q_drift_psi's
    * recipe); the two entropies and U are terminal expressions of
    * those integer sums.
    *
    * Scale: one fold to the (types × 24) grid; the marginal windows
    * run post-agg on that grid; the fold to one row is exact integer
    * arithmetic.
    */
  def qCondEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = Tables.events(spark, sfDir)
      .select(col("event_type"), hour(col("ts")).as("hour"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"))
      .withColumn("n_type",
        sum(col("n")).over(Window.partitionBy("event_type")))
      .withColumn("n_hour", sum(col("n")).over(Window.partitionBy("hour")))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
    val terms = grid.select(col("tot"),
      // joint cell term of H(X|Y) = -Σ p(x,y)·ln(p(x,y)/p(y))
      round(-(col("n").cast("double") / col("tot")) *
        log(col("n").cast("double") / col("n_hour")) * 1000000.0, 0)
        .cast("long").as("hxy_micro"),
      // H(X) needs per-TYPE terms once each: emit on one hour cell per
      // type (the minimum hour) so the fold counts each type exactly once
      when(col("hour") ===
        min(col("hour")).over(Window.partitionBy("event_type")),
        round(-(col("n_type").cast("double") / col("tot")) *
          log(col("n_type").cast("double") / col("tot")) * 1000000.0, 0)
          .cast("long")).otherwise(0L).as("hx_micro"))
    terms.agg(max(col("tot")).as("n_events"),
        sum(col("hxy_micro")).as("hxy"), sum(col("hx_micro")).as("hx"))
      .select(col("n_events"),
        (round(col("hx").cast("double") / 1000000.0, 6) + lit(0.0))
          .as("h_type"),
        (round(col("hxy").cast("double") / 1000000.0, 6) + lit(0.0))
          .as("h_type_given_hour"),
        (round(lit(1.0) - col("hxy").cast("double") /
          col("hx").cast("double"), 6) + lit(0.0)).as("theils_u"))
  }

  /** Benford first-significant-digit audit of order totals per order
    * priority — the classic fabricated-data screen: natural
    * multi-magnitude amounts follow P(d) = log10(1+1/d); a flat or
    * spiked digit histogram flags synthetic or constrained data. The
    * digit is extracted EXACTLY: totalprice → integer cents (×100
    * preserves the leading significant digit) → first character of the
    * long's decimal string — no log10/pow roundtrip whose last-ulp
    * disagreement between engines could flip a digit near a power of
    * ten. Expected frequencies enter both engines as shared round-trip
    * double literals (BenfordExpected, the EWMA generated-literal
    * recipe).
    *
    * Scale: one hash aggregate to the (priority × 9 digits) grid with
    * map-side combine; totals re-enter via a window over the ≤45-row
    * grid — post-agg tiny, no second data shuffle (q_drift_psi's
    * shape).
    */
  val BenfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
  def qBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val expected = BenfordExpected.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    val grid = Tables.orders(spark, sfDir)
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"), col("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("digit"))
      .agg(count(lit(1)).as("n_orders"))
    val wTot = Window.partitionBy("o_orderpriority")
    grid
      .withColumn("total", sum(col("n_orders")).over(wTot))
      .select(
        col("o_orderpriority"), col("digit"), col("n_orders"),
        (round(col("n_orders").cast("double") / col("total"), 6) + lit(0.0))
          .as("obs_freq"),
        (round(expected, 6) + lit(0.0)).as("exp_freq"),
        (round(
          (col("n_orders").cast("double") / col("total") - expected) *
            (col("n_orders").cast("double") / col("total") - expected) /
            expected * col("total"), 6) + lit(0.0)).as("chi2_term"))
      .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("digit"))
  }

  /** Weighted (lower) median line price per return flag, weighted by
    * quantity — "the price at which half the UNITS ship", which a
    * plain median (half the LINES) misstates whenever cheap items move
    * in bulk. Exact: weights are integral quantities summed as longs
    * along the (price, orderkey, linenumber) total order, and the
    * answer is the first price whose running weight reaches half the
    * total — both engines walk the identical sequence, no
    * interpolation.
    *
    * Scale: one rank-window per flag (same exchange the final agg
    * needs); the running sum is sequential per flag by definition —
    * the 100 TB form partitions the cumulative sum hierarchically
    * (per-partition subtotals + prefix offsets) or accepts the GK
    * sketch like q_anomaly_mad documents.
    */
  def qWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity").cast("long").as("wt"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    li.withColumn("cum_wt", sum(col("wt")).over(w))
      .withColumn("total_wt", sum(col("wt")).over(wAll))
      .filter(col("cum_wt") * 2 >= col("total_wt"))
      .groupBy("l_returnflag")
      .agg(max(col("total_wt")).as("total_units"),
        count(lit(1)).as("n_at_or_above"),
        min(col("l_extendedprice")).as("weighted_median_price"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** Per-value counts of the two samples ('click' = a, 'purchase' = b)
    * with the running totals the rank tests need: for each distinct
    * value, c_a/c_b at the value and p (rows strictly below it across
    * both samples). The corpus folds to |distinct values| rows in one
    * groupBy BEFORE the ordered window runs, so the running sums
    * iterate the value axis, not the event stream. The fold's frame is
    * the value DOMAIN (near scale-invariant on replicated data). The
    * running ECDF totals come from [[ScaleOps.partitionedRank]]
    * (parallel range-partitioned windows + broadcast prefix offsets),
    * so even an adversarial corpus whose value domain GROWS with the
    * data never sees a single-partition window; `rn`/`n_total` ride
    * along for consumers that need rank arithmetic on the same axis
    * (q_emd's segment widths).
    */
  private def twoSampleValueCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("ia"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("ib"))
    val byValue = ev.groupBy("value")
      .agg(sum(col("ia")).as("c_a"), sum(col("ib")).as("c_b"))
    ScaleOps.partitionedRank(byValue, Seq(asc_nulls_first("value")),
      sums = Seq("cum_a" -> col("c_a"), "cum_b" -> col("c_b")))
      .withColumn("p", col("cum_a") + col("cum_b") - col("c_a") - col("c_b"))
  }

  /** Mann–Whitney U between click and purchase values — the
    * nonparametric two-sample location test (does one stream run
    * higher?) next to the distribution-shape tests (q_contingency's
    * chi², q_drift_psi). EVERYTHING is exact integers: ties take
    * average ranks kept doubled (a tie group after p predecessors with
    * m members contributes m·(2p+m+1) doubled-rank mass, so each a-row
    * adds 2p+m+1), U₁ is reported doubled (u_a_x2 = R1₂ − 2·Σranks
    * offset), and the rank-biserial effect size 1 − U1₂/(n_a·n_b) is
    * the single rounded division.
    *
    * Scale: one groupBy(value) fold + one window over the |values|
    * axis + a 1-row agg; at 100 TB the value axis is the bounded
    * domain (prices), not the stream.
    */
  def qMannwhitney(spark: SparkSession, sfDir: String): DataFrame =
    twoSampleValueCounts(spark, sfDir)
      .select(col("c_a"), col("c_b"),
        (col("c_a") * (lit(2) * col("p") + col("c_a") + col("c_b") + 1))
          .as("r1_2"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"),
        sum(col("r1_2")).as("r1_2s"))
      .select(col("n_a"), col("n_b"),
        (col("r1_2s") - col("n_a") * (col("n_a") + 1)).as("u_a_x2"),
        (round(lit(1.0) -
          (col("r1_2s") - col("n_a") * (col("n_a") + 1)).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6) + lit(0.0))
          .as("rank_biserial"))

  /** Cramér's V — the one-number effect size on top of q_contingency's
    * per-cell grid: V = √(χ²/(N·min(R−1, C−1))). The cross-cell χ²
    * total q_contingency deliberately leaves to the reader (a double
    * sum is engine-order-dependent) becomes exact here by snapping
    * each cell's contribution to the 1e-6 micro grid FIRST (one IEEE
    * expression from exact integers, then a grid snap — q_lm_score's
    * recipe): micro-longs sum identically under any partitioning, and
    * χ², dof and V derive from that one exact total.
    */
  def qCramersV(spark: SparkSession, sfDir: String): DataFrame =
    observedExpected(spark, sfDir)
      .select(col("segment"), col("priority"), col("observed"),
        round((col("observed") - col("e")) * (col("observed") - col("e")) /
          col("e") * 1000000, 0).cast("long").as("chi2_micro"))
      .agg(sum(col("observed")).as("n"),
        countDistinct(col("segment")).as("n_rows"),
        countDistinct(col("priority")).as("n_cols"),
        sum(col("chi2_micro")).as("chi2m"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        (round(col("chi2m").cast("double") / 1000000.0, 6) + lit(0.0))
          .as("chi2"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        (round(sqrt(col("chi2m").cast("double") / 1000000.0 /
          (col("n") * least(col("n_rows") - 1, col("n_cols") - 1))
            .cast("double")), 6) + lit(0.0)).as("cramers_v"))

  /** Wald–Wolfowitz runs test per event type: is the daily-count
    * series RANDOM around its median, or does it trend/cluster? Rows
    * equal to the (exact lower) median drop per the standard
    * procedure; a run is a maximal same-sign stretch, so n_runs =
    * 1 + sign transitions — all exact integers; the expected-runs mean
    * 1 + 2ab/(a+b) is the single rounded division. Completes the
    * nonparametric family: location (q_mannwhitney), shape
    * (q_ks_test), randomness (this).
    */
  def qRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val wRank = Window.partitionBy("event_type")
      .orderBy(col("c").asc, col("d").asc)
    val wAll = Window.partitionBy("event_type")
    val med = daily
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .groupBy(col("event_type").as("m_type"))
      .agg(min(col("c")).as("median_c"))
    val signed = daily.join(med, col("event_type") === col("m_type"))
      .filter(col("c") =!= col("median_c"))
      .select(col("event_type"), col("d"),
        when(col("c") > col("median_c"), 1).otherwise(0).as("sign"))
    val wOrd = Window.partitionBy("event_type").orderBy(col("d").asc)
    signed
      .withColumn("flip",
        when(lag(col("sign"), 1).over(wOrd).isNull, 0)
          .when(lag(col("sign"), 1).over(wOrd) =!= col("sign"), 1)
          .otherwise(0))
      .groupBy("event_type")
      .agg(
        sum(col("sign")).cast("long").as("n_above"),
        sum(lit(1) - col("sign")).cast("long").as("n_below"),
        (sum(col("flip")) + 1).cast("long").as("n_runs"))
      .select(col("event_type"), col("n_above"), col("n_below"),
        col("n_runs"),
        (round(lit(1.0) +
          (lit(2.0) * col("n_above") * col("n_below")).cast("double") /
            (col("n_above") + col("n_below")).cast("double"), 6) + lit(0.0))
          .as("expected_runs"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Kolmogorov–Smirnov D between the same two samples: the maximum
    * ECDF gap, located. The scaled gap |cum_a·n_b − cum_b·n_a| is an
    * EXACT integer at every distinct value, so the argmax (gap desc,
    * value asc on ties) never compares floats; D divides once at the
    * end. Complements Mann–Whitney: KS sees shape/spread differences a
    * location test misses.
    */
  def qKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = twoSampleValueCounts(spark, sfDir)
    val totals = counts.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val scored = counts.crossJoin(broadcast(totals))
      .withColumn("gap",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
    // argmax (gap desc, value asc) WITHOUT a global-order window: the
    // exact integer max gap is a 1-row broadcast; min(value) breaks
    // ties — two map-combinable aggs at any scale (q_grubbs's shape)
    val gmax = scored.agg(max(col("gap")).as("g_max"))
    scored.crossJoin(broadcast(gmax))
      .filter(col("gap") === col("g_max"))
      .groupBy("n_a", "n_b", "gap")
      .agg(min(col("value")).as("value"))
      .select(col("n_a"), col("n_b"),
        (round(col("gap").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6) + lit(0.0))
          .as("d_stat"),
        col("value").as("d_at_value"))
  }

  /** Welch's unequal-variance t statistic between the click and
    * purchase value streams — the PARAMETRIC companion to
    * q_mannwhitney's rank test on the same two samples: location
    * difference in the original units, with the Welch–Satterthwaite
    * effective degrees of freedom.
    *
    * Determinism: both samples fold to exact integer power sums
    * (n, Σcents, Σcents²) in ONE map-combinable conditional
    * aggregation pass; mean, sample variance, t and df are then a
    * single fixed IEEE expression from those six exact longs —
    * identical in both engines, no cross-row float summation
    * anywhere. Σcents² needs |value| ≲ 3·10⁷ per row in a long
    * (fixture ≤ 10³) and the DECIMAL(38,0) accumulator keeps any
    * realistic row count exact (the q_gini note).
    *
    * Scale: one scan, one 1-row aggregate. Nothing else.
    */
  def qWelchT(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(when(col("event_type") === "click", 1L).otherwise(0L).as("ia"),
        cents(col("value")).as("q"))
    val qd = col("q").cast("decimal(38,0)")
    val agg = ev.agg(
      sum(col("ia")).as("n_a"),
      sum(lit(1L) - col("ia")).as("n_b"),
      sum((col("ia") * qd).cast("decimal(38,0)")).as("s_a"),
      sum(((lit(1L) - col("ia")) * qd).cast("decimal(38,0)")).as("s_b"),
      sum((col("ia") * qd * qd).cast("decimal(38,0)")).as("ss_a"),
      sum(((lit(1L) - col("ia")) * qd * qd).cast("decimal(38,0)"))
        .as("ss_b"))
    val mA = col("s_a").cast("double") / col("n_a") / 100.0
    val mB = col("s_b").cast("double") / col("n_b") / 100.0
    val vA = (col("ss_a").cast("double") -
      col("s_a").cast("double") * col("s_a").cast("double") / col("n_a")) /
      (col("n_a") - 1) / 10000.0
    val vB = (col("ss_b").cast("double") -
      col("s_b").cast("double") * col("s_b").cast("double") / col("n_b")) /
      (col("n_b") - 1) / 10000.0
    val seA = vA / col("n_a")
    val seB = vB / col("n_b")
    agg.select(col("n_a"), col("n_b"),
      (round(mA, 6) + lit(0.0)).as("mean_a"),
      (round(mB, 6) + lit(0.0)).as("mean_b"),
      (round((mA - mB) / sqrt(seA + seB), 6) + lit(0.0)).as("t_stat"),
      (round((seA + seB) * (seA + seB) /
        (seA * seA / (col("n_a") - 1) + seB * seB / (col("n_b") - 1)), 6)
        + lit(0.0)).as("df"))
  }

  /** Minimum sample size for q_wilson's ranking — rates over fewer
    * trials than this aren't ranked (the bound would dominate the
    * estimate anyway).
    */
  val WilsonMinN = 20

  /** Wilson-score lower bound ranking of per-part return rates: rank
    * parts by the 95% lower confidence bound of P(returned), not the
    * raw rate — the standard fix for "5/5 returned outranks 96/100"
    * small-sample noise, the same ranking used for star ratings. Top
    * 100 parts with ≥ [[WilsonMinN]] line items.
    *
    * Determinism: x and n are exact integers; the bound is ONE fixed
    * IEEE expression per part (z = 1.96 entering as a double literal
    * in both engines — never a SQL DECIMAL literal, whose exact z²
    * would differ from the double product), and the ranking orders by
    * the 6-dp-ROUNDED bound with an integer tie-break.
    *
    * Scale: one map-combinable fold to per-part (x, n); the top-100
    * is TakeOrdered (per-partition top + driver merge), no global
    * sort.
    */
  def qWilson(spark: SparkSession, sfDir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("part"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      .filter(col("n") >= WilsonMinN)
    val z = lit(1.96)
    val z2 = z * z
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / col("n")
    val lb = (p + z2 / (nD * 2) -
      z * sqrt(p * (lit(1.0) - p) / nD + z2 / (nD * nD * 4))) /
      (lit(1.0) + z2 / nD)
    val scored = byPart.select(col("part"), col("n").as("n_items"),
      col("x").as("n_returned"),
      (round(p, 6) + lit(0.0)).as("p_hat"),
      (round(lb, 6) + lit(0.0)).as("wilson_lb"))
    val top = scored
      .orderBy(col("wilson_lb").desc, col("part").asc)
      .limit(100)
    top.withColumn("rank", row_number().over(Window.orderBy(
        col("wilson_lb").desc, col("part").asc)).cast("int"))
      .select(col("rank"), col("part"), col("n_items"), col("n_returned"),
        col("p_hat"), col("wilson_lb"))
      .orderBy(col("rank").asc)
  }

  /** Herfindahl–Hirschman concentration index of supplier revenue
    * within each nation: Σᵢ shareᵢ² over the nation's suppliers —
    * 1/n for a perfectly even market, →1 as one supplier dominates.
    * The standard market-concentration number next to q_gini's
    * inequality curve (same family, different question: Gini ranks
    * individuals, HHI squares shares).
    *
    * Determinism: supplier revenues are exact cent longs; the
    * identity Σ(cᵢ/T)² = Σcᵢ²/T² keeps EVERYTHING integral until one
    * final double division — Σcᵢ² runs in DECIMAL(38,0) (cᵢ can reach
    * ~10¹⁰ cents per supplier before c² leaves the long range, hence
    * the widened accumulator, the q_gini pattern).
    *
    * Scale: one shuffle to (nation, supplier) revenue with map-side
    * partials, one map-combinable fold to |nation| rows. The squared
    * term never materializes per pair — the algebra does the work.
    */
  def qHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("c"))
    val sup = Tables.supplier(spark, sfDir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val bySup = li.groupBy("l_suppkey").agg(sum(col("c")).as("rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
    bySup.groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev").cast("decimal(38,0)")).as("tot"),
        // rev² must leave the long domain BEFORE multiplying — a
        // long·long product wraps silently past ~9.2·10¹⁸
        sum(col("rev").cast("decimal(38,0)") * col("rev")).as("sq"))
      .select(col("nation"), col("n_suppliers"),
        (round(col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 6)
          + lit(0.0)).as("hhi"))
      .orderBy(asc_nulls_first("nation"))
  }

  /** Lorenz curve of customer order spend by decile: customers ranked
    * ascending by lifetime spend, bucketed into 10 equal-count bins,
    * each reporting its spend share and the cumulative share — the
    * curve whose area q_gini summarizes to one number; dashboards
    * want the actual decile points ("bottom 50% hold x%").
    *
    * Determinism: decile assignment is pure integer algebra on the
    * (spend, custkey)-total-order rank (⌈10·rank/n⌉ — no ntile
    * dialect differences); spend sums are exact cent longs; shares
    * divide once, at the end, from DECIMAL totals.
    *
    * Scale: one shuffle to per-customer spend; the global rank AND
    * the cumulative spend both come from [[ScaleOps.partitionedRank]]
    * — range-partitioned parallel windows plus broadcast prefix
    * offsets, never a corpus-sized ordered partition — and the decile
    * roll-up reads the running sum at each decile's last rank
    * (max_by), so no window ever touches the 10-row frame either.
    */
  def qLorenz(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
      .groupBy("o_custkey").agg(sum(col("c")).as("spend_c"))
    val ranked = ScaleOps.partitionedRank(spend,
      Seq(col("spend_c").asc, col("o_custkey").asc),
      sums = Seq("cum_c" -> col("spend_c").cast("decimal(38,0)")))
    ranked
      .select(col("spend_c"), col("rn"), col("cum_c"), col("tot_cum_c"),
        ceil(col("rn") * 10.0 / col("n_total")).cast("int").as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_c").cast("decimal(38,0)")).as("dec_c"),
        max_by(col("cum_c"), col("rn")).as("cum_c"),
        max(col("tot_cum_c")).as("tot_c"))
      .select(col("decile"), col("n_customers"),
        (round(col("dec_c").cast("double") / col("tot_c").cast("double"), 6)
          + lit(0.0)).as("spend_share"),
        (round(col("cum_c").cast("double") / col("tot_c").cast("double"), 6)
          + lit(0.0)).as("cum_share"))
      .orderBy(asc_nulls_first("decile"))
  }

  /** Grubbs outlier statistic per market segment: the single most
    * extreme account balance and its G = max|x − mean| / s (sample
    * std), the classic one-outlier test. Reported as the statistic
    * plus the suspect row — the decision against a critical value is
    * the caller's (it needs a t-quantile, a lookup, not a data op).
    *
    * Determinism: the suspect is the argmax of |n·x − S| — an EXACT
    * integer compare over cent values (n·x up to ~1e6 cents × 15k
    * rows ≈ 1.5e10, far from wrap) with custkey as tie-break; mean
    * and G are one rounded division each at the very end, after the
    * argmax is already fixed.
    *
    * Scale: one map-side-combinable moment aggregate (|segments|
    * rows) + the same aggregate's max_by for the suspect — a single
    * shuffle of 5 groups, no window, no data-sized join (the 5-row
    * stats frame broadcasts back onto the scan for the argmax key).
    * sum(x²) of 1e6-cent values stays in long to ~9e6 rows per
    * segment, but n·SS wraps at ~15k already, so the variance term
    * runs in DECIMAL(38,0) — explicit overflow, not silent wrap
    * (q_gini's convention).
    */
  def qGrubbs(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_custkey"),
        cents(col("c_acctbal")).as("x"))
    val agged = c.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("ss"))
    // argmax of |n·x − S| needs n and S first — a 5-row broadcast back
    // onto the scan, then one max_by per segment.
    val suspect = c.join(broadcast(agged), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(max_by(
        struct(col("c_custkey"), col("x")),
        // order by deviation desc then custkey ASC: negate the key
        struct(abs(col("n") * col("x") - col("s")), -col("c_custkey")))
        .as("sus"))
    agged.join(suspect, Seq("c_mktsegment"))
      .select(col("c_mktsegment"), col("n").as("n_customers"),
        col("sus.c_custkey").as("suspect_custkey"),
        (round(col("sus.x").cast("double") / 100.0, 2) + lit(0.0))
          .as("suspect_bal"),
        (round(col("s").cast("double") / col("n") / 100.0, 6) + lit(0.0))
          .as("mean_bal"),
        // G = |n·x − S| / (n · s_sample); s_sample = sqrt((n·SS − S²)/(n(n−1)))
        (round(abs(col("n") * col("sus.x") - col("s")).cast("double") /
          (col("n").cast("double") *
            sqrt((col("n").cast("decimal(38,0)") * col("ss") -
              col("s").cast("decimal(38,0)") * col("s")).cast("double") /
              (col("n").cast("double") * (col("n") - 1).cast("double")))),
          6) + lit(0.0)).as("g_stat"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** One-way ANOVA F statistic for account balance across market
    * segments: does segment membership explain balance variance?
    * F = (SSB/(k−1)) / (SSW/(n−k)), plus eta² = SSB/SST — the effect
    * size q_cramers_v gives for categorical pairs, here for a
    * categorical-vs-numeric pair. Complements q_welch_t (2 groups)
    * with the k-group omnibus test.
    *
    * Determinism: per-group n/Σx/Σx² are exact integers over cents
    * (squares in DECIMAL(38,0), q_gini's convention). SSB and SSW are
    * then k=|segments| double terms each (s_g²/n_g is one exact
    * division); summing ~5 doubles is order-sensitive only at the
    * ~1e-16 relative level, and the outputs are RATIOS of those sums
    * (F, eta²) rounded at 6 dp — the same absorb-the-ulp argument as
    * q_entropy's ln note, proven green there over far more terms. The
    * large absolute SS values themselves are never emitted.
    *
    * Scale: one map-side-combinable moments aggregate to |segments|
    * rows, then a 5-row fold — a single shuffle of 5 groups at any
    * corpus size.
    */
  /** Cliff's delta between the click and purchase value samples — the
    * tie-aware dominance effect size δ = (#(a>b) − #(a<b))/(nₐ·n_b)
    * that q_mannwhitney's rank-biserial approximates when ties exist;
    * reported WITH the three dominance counts so the tie mass is
    * visible.
    *
    * Determinism: per distinct value v, the pair counts are exact
    * integer products off the two-sample running totals — a-rows at v
    * beat the c_b's strictly below (cum_b − c_b), lose to those
    * strictly above (n_b − cum_b), tie with c_b — and δ is the single
    * rounded terminal division.
    *
    * Scale: q_mannwhitney's shape — one groupBy(value) fold, one
    * window over the bounded value DOMAIN, a 1-row aggregate.
    */
  def qCliffDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = twoSampleValueCounts(spark, sfDir)
    val tot = cnt.agg(sum(col("c_b")).as("n_b_tot"))
    cnt.crossJoin(broadcast(tot))
      .select(col("c_a"), col("c_b"),
        (col("c_a") * (col("cum_b") - col("c_b"))).as("gt"),
        (col("c_a") * (col("n_b_tot") - col("cum_b"))).as("lt"),
        (col("c_a") * col("c_b")).as("tie"))
      .agg(sum(col("c_a")).as("n_a"), sum(col("gt")).as("n_gt"),
        sum(col("lt")).as("n_lt"), sum(col("tie")).as("n_tie"))
      .select(col("n_a"),
        ((col("n_gt") + col("n_lt") + col("n_tie")) / col("n_a"))
          .cast("long").as("n_b"),
        col("n_gt"), col("n_lt"), col("n_tie"),
        (round((col("n_gt") - col("n_lt")).cast("double") /
          (col("n_gt") + col("n_lt") + col("n_tie")).cast("double"), 6)
          + lit(0.0)).as("cliff_delta"))
  }

  def qAnova(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), cents(col("c_acctbal")).as("x"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x")).as("s_g"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("ss_g"))
    val parts = g.agg(
      count(lit(1)).as("k"),
      sum(col("n_g")).as("n"),
      sum(col("s_g")).as("s"),
      sum(col("ss_g")).as("ss"),
      // Σ s_g²/n_g in pure DOUBLE: s_g < 2^53 is exactly representable,
      // so the IEEE product and quotient are bit-identical across
      // engines (decimal division is NOT — Spark and DuckDB pick
      // different result scales)
      sum(col("s_g").cast("double") * col("s_g").cast("double") /
        col("n_g").cast("double")).as("sb_raw"))
    val ssb = col("sb_raw") -
      col("s").cast("double") * col("s").cast("double") / col("n")
    val ssw = col("ss").cast("double") - col("sb_raw")
    val sst = col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") / col("n")
    parts.select(col("k").as("k_groups"), col("n").as("n_total"),
      (round(ssb / (col("k") - 1) / (ssw / (col("n") - col("k"))), 6)
        + lit(0.0)).as("f_stat"),
      (round(ssb / sst, 6) + lit(0.0)).as("eta_sq"))
  }

  /** Kruskal–Wallis sufficient statistics across the 5 market
    * segments on order totals — the k-sample nonparametric extension
    * of q_mannwhitney (2 samples) and q_anova (parametric k-sample):
    * per segment the EXACT DOUBLED rank sum R2_g = Σ c_g·(2p + t + 1)
    * (midranks carry .5, doubling keeps every rank an integer — the
    * q_corr_spearman move), plus the shared N and tie term Σ(t³−t).
    * The H statistic itself — 3·Σ(R2_g²/4n_g)... one division per
    * group — is deliberately left to the reader exactly like
    * q_contingency leaves χ²: a cross-group double sum is engine-
    * order-dependent, while these sufficient statistics are
    * bit-exact; StatsSpec replays H locally from the emitted row.
    *
    * Scale: the fact join folds to the value DOMAIN before the
    * cumulative window (q_mannwhitney's shape — the window frame is
    * distinct-cents-bounded, not row-bounded); the per-group fold is
    * a map-combinable agg to k rows; N and the tie sum enter as a
    * declared 1-row broadcast. t³ runs in decimal(38,0) — explicit
    * overflow, q_gini's convention.
    */
  def qKruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("v"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val byValSeg = joined.groupBy("v", "c_mktsegment")
      .agg(count(lit(1)).as("c_g"))
    // predecessor count p per distinct value via partitionedRank's
    // parallel running sum (the value axis is distinct-cents-bounded
    // today, but the plan stays safe even if it grew with the corpus)
    val byVal = ScaleOps.partitionedRank(
      byValSeg.groupBy("v").agg(sum(col("c_g")).as("t")),
      Seq(asc_nulls_first("v")), sums = Seq("cum_t" -> col("t")))
      .withColumn("p", col("cum_t") - col("t"))
    val shared = byVal.agg(
      sum(col("t")).as("n_total"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .cast("bigint").as("tie_sum"))
    byValSeg.join(byVal, Seq("v"))
      .groupBy("c_mktsegment")
      .agg(
        sum(col("c_g")).as("n_g"),
        sum(col("c_g") * (lit(2) * col("p") + col("t") + 1)).as("r2_g"))
      .crossJoin(broadcast(shared))
      .select(col("c_mktsegment"), col("n_g"), col("r2_g"),
        col("n_total"), col("tie_sum"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** 1-D Wasserstein-1 (earth mover's) distance between the click and
    * purchase value distributions: W₁ = ∫|F_a − F_b| dx over the
    * shared value axis — the AREA between the ECDFs, where q_ks_test
    * reports only their maximum gap: two distributions with the same
    * KS D but different tail mass separate here. Same two-sample
    * value-domain fold as KS/Mann–Whitney/Cliff's delta.
    *
    * Determinism: the scaled gap |cum_a·n_b − cum_b·n_a| is exact at
    * every distinct value; each segment's area term normalizes and
    * snaps to the 1e-6 micro grid BEFORE the sum (q_lm_score's move:
    * one IEEE div·mul·round per distinct value from exact integers),
    * so the total is an exact long sum.
    *
    * Scale: everything after the fold is proportional to the value
    * axis AND safe even when that axis grows with the corpus: the
    * running totals come from the helper's partitionedRank, and the
    * next-value segment width is the rank self-join (rn ↔ rn+1) — a
    * parallel hash join, never a global lead window; the sample sizes
    * enter as a declared 1-row broadcast.
    */
  def qEmd(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: three consumers (sample totals, both sides of the
    // segment self-join)
    val cum = twoSampleValueCounts(spark, sfDir).localCheckpoint()
    val tot = cum.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    val nxt = cum.select((col("rn") - 1).as("rn"), col("value").as("next_v"))
    cum
      .join(nxt, Seq("rn"))
      .withColumn("width", col("next_v") - col("value"))
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        round(
          abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
            .cast("double") /
            (col("n_a") * col("n_b")).cast("double") *
            col("width") * 1000000.0, 0).cast("long").as("term_micro"))
      .groupBy("n_a", "n_b")
      .agg(count(lit(1)).as("n_segments"), sum(col("term_micro")).as("tm"))
      .select(col("n_a"), col("n_b"), col("n_segments"),
        (round(col("tm").cast("double") / 1000000.0, 6) + lit(0.0)).as("emd"))
  }

  /** Partial correlation r(quantity, price | discount) per return
    * flag: does quantity still track revenue once the discount channel
    * is held fixed? First-order partial from the three pairwise
    * Pearson coefficients, r_xy·z = (r_xy − r_xz·r_yz)/
    * (√(1−r_xz²)·√(1−r_yz²)) — the confounder-adjusted view q_corr
    * cannot give. Emits the three raw coefficients next to the
    * partial.
    *
    * Determinism: all ten moment sums are DECIMAL(38,0) over exact
    * integer units (cents for qty/price, micro for the discount
    * fraction); every emitted value is one deterministic double
    * expression over those exact moments, rounded once (q_corr's
    * convention — the oracle spells the identical IEEE op tree).
    *
    * Scale: single scan, one map-combinable agg to |flags| rows of
    * power sums — O(groups) state, nothing else.
    */
  def qPartialCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val x = cents(col("l_quantity")).cast("decimal(38,0)")
    val y = cents(col("l_extendedprice")).cast("decimal(38,0)")
    val z = round(col("l_discount") * 1000000).cast("long").cast("decimal(38,0)")
    val agged = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(z).cast("double").as("sz"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * z).cast("double").as("sxz"),
        sum(y * z).cast("double").as("syz"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"),
        sum(z * z).cast("double").as("szz"))
    def r(ab: Column, a: Column, aa: Column, b: Column, bb: Column): Column =
      (col("n") * ab - a * b) /
        (sqrt(col("n") * aa - a * a) * sqrt(col("n") * bb - b * b))
    val rxy = r(col("sxy"), col("sx"), col("sxx"), col("sy"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sxx"), col("sz"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("syy"), col("sz"), col("szz"))
    agged.select(
      col("l_returnflag"),
      col("n").cast("long").as("n_rows"),
      (round(rxy, 6) + lit(0.0)).as("r_xy"),
      (round(rxz, 6) + lit(0.0)).as("r_xz"),
      (round(ryz, 6) + lit(0.0)).as("r_yz"),
      (round((rxy - rxz * ryz) /
        (sqrt(lit(1.0) - rxz * rxz) * sqrt(lit(1.0) - ryz * ryz)), 6)
        + lit(0.0)).as("partial_r"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** Two-feature OLS — extended price regressed on quantity AND
    * discount per return flag, the closed-form 2×2 normal-equation
    * solve (centered moments S₁₁S₂₂−S₁₂² determinant): the
    * multivariate step up from q_regression's simple slope, with the
    * usual "does the discount coefficient survive controlling for
    * quantity?" reading next to q_partial_corr. Emits both
    * coefficients, the intercept (dollars), and the multiple R².
    *
    * Determinism: q_corr's recipe — DECIMAL(38,0) power sums, each
    * output one deterministic double expression, rounded once.
    *
    * Scale: identical to q_partial_corr — one map-combinable agg to
    * |flags| moment rows.
    */
  def qOls2(spark: SparkSession, sfDir: String): DataFrame = {
    val y = cents(col("l_extendedprice")).cast("decimal(38,0)")
    val x1 = cents(col("l_quantity")).cast("decimal(38,0)")
    val x2 = round(col("l_discount") * 1000000).cast("long").cast("decimal(38,0)")
    val agged = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x1).cast("double").as("s1"), sum(x2).cast("double").as("s2"),
        sum(y).cast("double").as("sy"),
        sum(x1 * x1).cast("double").as("s11"),
        sum(x2 * x2).cast("double").as("s22"),
        sum(x1 * x2).cast("double").as("s12"),
        sum(x1 * y).cast("double").as("s1y"),
        sum(x2 * y).cast("double").as("s2y"),
        sum(y * y).cast("double").as("syy"))
    val c11 = col("n") * col("s11") - col("s1") * col("s1")
    val c22 = col("n") * col("s22") - col("s2") * col("s2")
    val c12 = col("n") * col("s12") - col("s1") * col("s2")
    val c1y = col("n") * col("s1y") - col("s1") * col("sy")
    val c2y = col("n") * col("s2y") - col("s2") * col("sy")
    val sst = col("n") * col("syy") - col("sy") * col("sy")
    val det = c11 * c22 - c12 * c12
    val b1 = (c22 * c1y - c12 * c2y) / det
    val b2 = (c11 * c2y - c12 * c1y) / det
    agged.select(
      col("l_returnflag"),
      col("n").cast("long").as("n_rows"),
      (round(b1, 6) + lit(0.0)).as("b_qty"),
      (round(b2, 6) + lit(0.0)).as("b_disc"),
      (round((col("sy") - b1 * col("s1") - b2 * col("s2")) / col("n") / 100.0,
        6) + lit(0.0)).as("intercept"),
      (round((b1 * c1y + b2 * c2y) / sst, 6) + lit(0.0)).as("r2"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** Hill-estimator order-statistic count, shared with the oracle. */
  val HillK = 500

  /** Hill estimator of the order-value tail index: over the top
    * k = [[HillK]] order totals, α̂ = k / Σᵢ ln(xᵢ / x₍ₖ₊₁₎) — the
    * standard answer to "how heavy is the revenue tail?" that a mean/
    * variance summary cannot give (for a Pareto tail P(X>x) ~ x^−α,
    * α ≤ 2 means infinite variance and sampling-based revenue
    * estimates stop converging). Complements q_zipf_slope (rank-
    * frequency) and q_gini/q_lorenz (full-distribution inequality)
    * with the extreme-value view.
    *
    * Determinism: the top-(k+1) cut orders by (cents DESC, orderkey
    * ASC) — ties at the boundary don't matter because equal cents
    * contribute equal log terms; each ln(xᵢ/x_ref) of two exact cent
    * values rounds to integer micro-nats BEFORE the sum (q_lm_score's
    * move), and α̂ divides once.
    *
    * Scale: the ONLY global operation is a TakeOrdered(k+1) — Spark's
    * per-partition top-k + driver merge, no global sort, no full
    * shuffle; everything after runs on k+1 rows with the reference
    * value as a declared 1-row broadcast.
    */
  def qHillTail(spark: SparkSession, sfDir: String): DataFrame = {
    val top = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).as("c"), col("o_orderkey"))
      .orderBy(col("c").desc, col("o_orderkey").asc)
      .limit(HillK + 1)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(col("c").desc, col("o_orderkey").asc)))
    val ref = ranked.filter(col("rn") === HillK + 1)
      .select(col("c").as("c_ref"))
    ranked.filter(col("rn") <= HillK)
      .crossJoin(broadcast(ref))
      .select(
        round(log(col("c").cast("double") / col("c_ref")) * 1000000.0, 0)
          .cast("long").as("term_micro"),
        col("c_ref"))
      .agg(
        count(lit(1)).as("k"),
        max(col("c_ref")).as("x_ref_cents"),
        sum(col("term_micro")).as("sum_log_micro"))
      .select(
        col("k"), col("x_ref_cents"), col("sum_log_micro"),
        when(col("sum_log_micro") > 0,
          round(col("k") * 1000000.0 / col("sum_log_micro"), 6) + lit(0.0))
          .as("tail_index"))
  }

  /** Brown–Forsythe test of variance homogeneity (Levene's test with
    * the median center — Brown & Forsythe 1974, public literature) of
    * order totals across the 5 order priorities: the robust
    * are-the-spreads-equal gate one runs BEFORE trusting q_anova,
    * whose F assumes equal group variances.
    *
    * Determinism: the group median enters DOUBLED (m2 = sum of the
    * one-or-two middle cents values, the lone middle counted twice —
    * q_median's row_number selection kept integer), so each absolute
    * deviation |2x − m2| is an exact long; the deviations then run
    * through q_anova's exact-power-sum fold (Σd in long, Σd² in
    * decimal(38,0)) and the F-on-deviations statistic is the single
    * terminal double expression, spelled identically in the oracle.
    *
    * Scale: one window exchange on the 5-group key to pick medians
    * (the q_median shape; at 100 TB swap exact medians for GK per
    * q_anomaly_mad's note), a broadcast of the 5-row median table
    * back onto the fact, then a map-combinable moments aggregate to
    * 5 rows and a 1-row fold — the fact is shuffled exactly once.
    */
  def qLevene(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        cents(col("o_totalprice")).as("x"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("x").asc, col("o_orderkey").asc)
    val med2 = ord
      .withColumn("rn", row_number().over(w))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("o_orderpriority")))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("n DIV 2 + 1"))
      .groupBy("o_orderpriority")
      .agg(sum(col("x")).as("smid"), count(lit(1)).as("cmid"))
      .select(col("o_orderpriority"),
        when(col("cmid") === 1, col("smid") * 2)
          .otherwise(col("smid")).as("m2"))
    val g = ord.join(broadcast(med2), Seq("o_orderpriority"))
      .select(col("o_orderpriority"),
        abs(col("x") * 2 - col("m2")).as("d"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_g"), sum(col("d")).as("s_g"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("ss_g"))
    val parts = g.agg(
      count(lit(1)).as("k"),
      sum(col("n_g")).as("n"),
      sum(col("s_g")).as("s"),
      sum(col("ss_g")).as("ss"),
      // Σ s_g²/n_g in pure DOUBLE — qAnova's move: s_g < 2^53 exact,
      // product/quotient bit-identical across engines
      sum(col("s_g").cast("double") * col("s_g").cast("double") /
        col("n_g").cast("double")).as("sb_raw"))
    val ssb = col("sb_raw") -
      col("s").cast("double") * col("s").cast("double") / col("n")
    val ssw = col("ss").cast("double") - col("sb_raw")
    parts.select(col("k").as("k_groups"), col("n").as("n_total"),
      (round(ssb / (col("k") - 1) / (ssw / (col("n") - col("k"))), 6)
        + lit(0.0)).as("bf_stat"))
  }

  /** Bartlett's test of variance homogeneity of line-item quantities
    * across the 3 return flags — the parametric (normal-theory)
    * companion to [[qLevene]]: χ² = [(N−k)·ln(Sp²) −
    * Σ(n_g−1)·ln(S_g²)] / C with the usual small-sample correction
    * C = 1 + (Σ1/(n_g−1) − 1/(N−k)) / (3(k−1)).
    *
    * Determinism: per-group variances come from exact power sums
    * (Σx long, Σx² decimal(38,0)) so each S_g² is one bit-identical
    * double; every CROSS-GROUP float sum is integerized before
    * summation — ln(S_g²) rounds to micro-nats (q_drift_psi's recipe)
    * and 1/(n_g−1) to pico-units (×1e12) — so the group fold is exact
    * integer arithmetic and the χ²/C assembly is a single final
    * double expression per output column.
    *
    * Scale: one map-combinable moments aggregate to k=3 rows, then a
    * 1-row fold — single shuffle of 3 groups at any corpus size.
    */
  def qBartlett(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), cents(col("l_quantity")).as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("ss_g"))
      .select(col("n_g"), col("s_g"), col("ss_g"),
        ((col("ss_g").cast("double") -
          col("s_g").cast("double") * col("s_g").cast("double") /
            col("n_g").cast("double")) /
          (col("n_g") - 1).cast("double")).as("var_g"))
      .select(col("n_g"), col("ss_g"), col("s_g"),
        round(log(col("var_g")) * 1000000.0, 0).cast("long")
          .as("ln_var_micro"),
        round(lit(1.0e12) / (col("n_g") - 1).cast("double"), 0).cast("long")
          .as("inv_pico"))
    val parts = g.agg(
      count(lit(1)).as("k"),
      sum(col("n_g")).as("n"),
      sum(col("ss_g")).as("ss"),
      sum(col("s_g").cast("double") * col("s_g").cast("double") /
        col("n_g").cast("double")).as("sb_raw"),
      sum((col("n_g") - 1) * col("ln_var_micro")).as("wln_micro"),
      sum(col("inv_pico")).as("inv_pico_sum"))
    val sp2 = (col("ss").cast("double") - col("sb_raw")) /
      (col("n") - col("k")).cast("double")
    val num = (col("n") - col("k")).cast("double") * log(sp2) -
      col("wln_micro").cast("double") / 1.0e6
    val cFac = lit(1.0) +
      (col("inv_pico_sum").cast("double") / 1.0e12 -
        lit(1.0) / (col("n") - col("k")).cast("double")) /
        (lit(3.0) * (col("k") - 1).cast("double"))
    parts.select(col("k").as("k_groups"), col("n").as("n_total"),
      (round(sp2, 6) + lit(0.0)).as("pooled_var"),
      (round(cFac, 6) + lit(0.0)).as("correction_c"),
      (round(num / cFac, 6) + lit(0.0)).as("bartlett_chi2"))
  }

  /** Q–Q table of the click vs purchase value distributions: the
    * 5th–95th percentile (step 5) of each sample side by side plus
    * the gap — the distribution-shape diagnostic behind the scalar
    * two-sample verdicts (q_ks_test's max gap, q_emd's area,
    * q_mannwhitney's rank shift); a straight-line Q–Q means same
    * shape, a bowed one shows WHERE the distributions part.
    *
    * Determinism: exact type-1 (nearest-rank ⌈q·n/20⌉) order
    * statistics under a fully tie-broken total order — the q_median /
    * q_outlier_iqr recipe, no interpolation; the selection positions
    * are pure integer arithmetic.
    *
    * Scale: two rank windows over the event-type partition (one
    * exchange), a 19-row quantile grid joined as a declared broadcast
    * (q_auc's dimension-grid shape), and a 19-row fold. At 100 TB the
    * exact ranks swap for GK sketches per q_anomaly_mad's note.
    */
  def qQqPlot(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"), col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    val ranked = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("event_type")))
    val qs = spark.range(1, 20).select(col("id").cast("int").as("q"))
    val mc = max(when(col("event_type") === "click", col("value")))
    val mp = max(when(col("event_type") === "purchase", col("value")))
    ranked.join(broadcast(qs),
        col("rn") === expr("(q * n + 19) DIV 20"))
      .groupBy("q")
      .agg((round(mc, 6) + lit(0.0)).as("click_value"),
        (round(mp, 6) + lit(0.0)).as("purchase_value"),
        (round(mp - mc, 6) + lit(0.0)).as("qq_diff"))
      .select((col("q") * 5).as("pct"), col("click_value"),
        col("purchase_value"), col("qq_diff"))
      .orderBy(col("pct").asc)
  }

  /** Tukey-HSD-style pairwise comparison table after q_anova: for
    * every priority pair, the mean order-total difference, its pooled
    * standard error sqrt(MSW·(1/n₁+1/n₂)/2)·√2 spelled as the
    * two-sample SE, and the studentized statistic |diff|/SE — WHICH
    * groups differ once the omnibus F says "some do". The critical
    * value lookup is left to the reader exactly like q_contingency
    * leaves χ² — the sufficient statistics here are bit-exact.
    *
    * Determinism: group means come from exact cent sums (s/n is one
    * double division); MSW reuses q_anova's exact-power-sum identity;
    * the 10-row pair grid is tie-broken by name and every reported
    * float is a terminal rounded expression.
    *
    * Scale: one map-combinable moments aggregate to 5 rows; the pair
    * grid is |groups|² at any corpus size (declared tiny-grid
    * broadcast) with the 1-row MSW scalar joined in.
    */
  def qTukey(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("x"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("ss_g"))
    val msw = g.agg(
      ((sum(col("ss_g")).cast("double") -
        sum(col("s_g").cast("double") * col("s_g").cast("double") /
          col("n_g").cast("double"))) /
        (sum(col("n_g")) - count(lit(1))).cast("double")).as("msw"))
    val a = g.select(col("o_orderpriority").as("g1"), col("n_g").as("n1"),
      col("s_g").as("s1"))
    val b = g.select(col("o_orderpriority").as("g2"), col("n_g").as("n2"),
      col("s_g").as("s2"))
    val m1 = col("s1").cast("double") / col("n1") / 100.0
    val m2 = col("s2").cast("double") / col("n2") / 100.0
    val se = sqrt(col("msw") *
      (lit(1.0) / col("n1") + lit(1.0) / col("n2"))) / 100.0
    a.join(b, col("g1") < col("g2"))
      .crossJoin(broadcast(msw))
      .select(col("g1"), col("g2"),
        col("n1"), col("n2"),
        (round(m1 - m2, 6) + lit(0.0)).as("mean_diff"),
        (round(se, 6) + lit(0.0)).as("se"),
        (round(abs(m1 - m2) / se, 6) + lit(0.0)).as("t_stat"))
      .orderBy(asc_nulls_first("g1"), asc_nulls_first("g2"))
  }

  /** Cohen's d (and Hedges' g) effect size between the click and
    * purchase value samples — the parametric "how big is the
    * difference" next to the rank-based q_mannwhitney and dominance
    * q_cliff_delta verdicts: standardized mean difference over the
    * pooled SD, the number a power analysis consumes.
    *
    * Determinism: both samples fold to exact integer-cent power sums
    * (Σx long, Σx² decimal(38,0)); means, pooled SD, d and the
    * small-sample g correction are each one terminal double
    * expression spelled identically in the oracle.
    *
    * Scale: one map-combinable 2-group moments aggregate, then a
    * 1-row pivot — single shuffle of 2 groups at any corpus size.
    */
  def qCohensD(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), cents(col("value")).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("ss"))
    val cells = g.agg(
      max(when(col("event_type") === "click", col("n"))).as("na"),
      max(when(col("event_type") === "click", col("s"))).as("sa"),
      max(when(col("event_type") === "click", col("ss"))).as("ssa"),
      max(when(col("event_type") === "purchase", col("n"))).as("nb"),
      max(when(col("event_type") === "purchase", col("s"))).as("sb"),
      max(when(col("event_type") === "purchase", col("ss"))).as("ssb"))
    val ma = col("sa").cast("double") / col("na") / 100.0
    val mb = col("sb").cast("double") / col("nb") / 100.0
    val va = (col("ssa").cast("double") -
      col("sa").cast("double") * col("sa").cast("double") /
        col("na").cast("double")) / (col("na") - 1).cast("double")
    val vb = (col("ssb").cast("double") -
      col("sb").cast("double") * col("sb").cast("double") /
        col("nb").cast("double")) / (col("nb") - 1).cast("double")
    val sp = sqrt(((col("na") - 1).cast("double") * va +
      (col("nb") - 1).cast("double") * vb) /
      (col("na") + col("nb") - 2).cast("double")) / 100.0
    val d = (mb - ma) / sp
    cells.select(col("na").as("n_click"), col("nb").as("n_purchase"),
      (round(ma, 6) + lit(0.0)).as("mean_click"),
      (round(mb, 6) + lit(0.0)).as("mean_purchase"),
      (round(sp, 6) + lit(0.0)).as("pooled_sd"),
      (round(d, 6) + lit(0.0)).as("cohens_d"),
      (round(d * (lit(1.0) - lit(3.0) /
        ((col("na") + col("nb")) * 4 - 9).cast("double")), 6) + lit(0.0))
        .as("hedges_g"))
  }

  /** Poisson-bootstrap confidence interval for the mean order total
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google 2012 — public literature): each of B=40
    * resample replicas weights every order by a deterministic
    * Poisson(1)-distributed integer (md5 of (orderkey, replica)
    * against fixed cumulative thresholds), the per-replica weighted
    * means form the bootstrap distribution, and the nearest-rank
    * 2.5%/97.5% replicate means bound the CI. THE bootstrap that
    * works at 100 TB — no per-resample data copies, one pass, and
    * the weights need no global coordination.
    *
    * Determinism: weights are a pure md5 function; per-replica
    * Σw·x / Σw are exact-integer sums with one terminal division;
    * the rank pick orders (mean, replica-id) — total order.
    *
    * Scale: a ×40 integer-weight fan-out folds map-side into 40
    * replica cells — ONE small exchange; the rank window runs on 40
    * rows. No resampled copy of the data ever exists.
    */
  def qBootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = 40
    val o = Tables.spread(Tables.orders(spark, sfDir), col("o_orderkey"))
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("x"))
    // ONE md5 per (order, hash-group) feeds EIGHT replicas — its 32 hex
    // chars slice into eight independent 16-bit values, each weighted
    // in its own COLUMN (no 8x row fan-out; measured 8x fewer hashes
    // and rows — the hash and the explode dominated this plan's CPU).
    // Poisson(1) cumulative thresholds on each 16-bit value
    // (⌊65536·P(X≤k)⌋ for k = 0..4; the >4 tail keeps weight 5)
    def w(j: Int): Column = {
      val u = conv(substring(col("h"), j * 4 + 1, 4), 16, 10).cast("long")
      when(u < 24110, 0L).when(u < 48223, 1L).when(u < 60277, 2L)
        .when(u < 64296, 3L).when(u < 65296, 4L).otherwise(5L)
    }
    val fan = o
      .withColumn("g", explode(sequence(lit(1), lit(reps / 8))))
      .withColumn("h", md5(concat(col("o_orderkey").cast("string"),
        lit(":"), col("g").cast("string"))))
    val aggs = (0 until 8).flatMap(j => Seq(
      sum(w(j)).as(s"sw$j"), sum(w(j) * col("x")).as(s"swx$j")))
    val stacked = (0 until 8)
      .map(j => s"${j}L, sw$j, swx$j").mkString(", ")
    val repMeans = fan.groupBy("g")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("g"),
        expr(s"stack(8, $stacked) AS (j, sw, swx)"))
      .select((col("g") * 8 + col("j") - 7).as("b"),
        (col("swx").cast("double") / col("sw") / 100.0).as("m"))
    val wRank = Window.orderBy(col("m").asc, col("b").asc)
    val ranked = repMeans.withColumn("rn", row_number().over(wRank))
    val full = o.agg(count(lit(1)).as("n_orders"),
      (sum(col("x")).cast("double") / count(lit(1)) / 100.0).as("mean_full"))
    ranked.filter(col("rn") === 1 || col("rn") === reps - 1)
      .agg(
        (round(min(col("m")), 6) + lit(0.0)).as("ci_lo"),
        (round(max(col("m")), 6) + lit(0.0)).as("ci_hi"))
      .crossJoin(broadcast(full))
      .select(col("n_orders"), lit(reps).cast("int").as("n_reps"),
        (round(col("mean_full"), 6) + lit(0.0)).as("mean_total"),
        col("ci_lo"), col("ci_hi"))
  }
}
