package graft.operators

import graft.Tables
import graft.functions.MisraGries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / business analytics over the star schema: outlier
  * detection, RFM segmentation, time-series gap filling, two more
  * TPC-H composite shapes (Q10 returned items, Q4 EXISTS), weighted
  * corpus sampling, cross-document boilerplate detection, and
  * sketch-pruned exact heavy hitters. All deterministic under the
  * repo's oracle rules: exact integer-cents accumulation wherever
  * money or moments are summed, 6-dp rounding on derived doubles,
  * full ORDER BY.
  */
object AnalyticsQueries {

  /** Revenue concentration per segment: the share of a segment's spend
    * held by its top-10 customers — the per-group concentration gauge
    * between q_gini's whole-distribution index and q_heavy_hitters'
    * frequent items: "how hostage is each segment to a few accounts?"
    *
    * Determinism: spend is exact integer cents; the top-10 cut ranks
    * (spend DESC, custkey ASC); share is the terminal division.
    *
    * Scale: one custkey fold of orders, a broadcast segment dimension
    * join, one per-segment rank window over the CUSTOMER dimension,
    * and a conditional-sum fold to |segments| rows.
    */
  def qTop10Share(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("spend_c"))
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("spend_c").desc, col("o_custkey").asc)
    spend.join(broadcast(seg), Seq("o_custkey"))
      .withColumn("rk", row_number().over(w))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_c")).as("total_c"),
        sum(when(col("rk") <= 10, col("spend_c")).otherwise(0L))
          .as("top10_c"))
      .select(col("c_mktsegment"), col("n_customers"),
        (col("total_c").cast("double") / 100.0).as("total_revenue"),
        (round(col("top10_c").cast("double") / col("total_c"), 6)
          + lit(0.0)).as("top10_share"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** 2-D histogram of the (quantity, price) joint distribution:
    * quantity in 5-unit bins × extended price in $10k bins, with each
    * cell's count and share — the joint-density view behind q_corr's
    * single coefficient (a correlation can be 0.3 for many different
    * shapes; the grid shows WHICH).
    *
    * Determinism: both bins are exact integer floors of integer
    * cents/units; counts exact, share terminal.
    *
    * Scale: one fold straight to the bounded bin grid (quantities and
    * prices have fixed domains) — map-side combine collapses the fact
    * before the exchange.
    */
  def qHist2d(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(spark, sfDir)
      .select(cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"))
      // DIV: exact integer bin arithmetic (`/` would be double division)
      .groupBy(expr("qc DIV 500").as("qty_bin"),
        expr("pc DIV 1000000").as("price_bin_10k"))
      .agg(count(lit(1)).as("n_items"))
      .withColumn("total", sum(col("n_items")).over(wAll))
      .select(col("qty_bin"), col("price_bin_10k"), col("n_items"),
        (round(col("n_items").cast("double") / col("total"), 6) + lit(0.0))
          .as("share"))
      .orderBy(col("qty_bin").asc, col("price_bin_10k").asc)
  }

  /** Z-score outliers per event type: events whose value deviates more
    * than 3 population standard deviations from their type's mean.
    *
    * Determinism: mean/stddev are derived from EXACT per-type integer
    * sums (n, Σcents, Σcents² — the qCorr move), then one fixed IEEE
    * double formula both engines evaluate identically; the filter
    * compares the 6-dp-ROUNDED z so no boundary can flip on a last-ulp
    * difference. Σcents² stays exact in a long for |value| < ~3·10⁷
    * per event (fixture values are ≤ 10³) and in the DECIMAL(38,0)
    * accumulator for any realistic row count.
    *
    * Scale: pass 1 is a map-side-combinable aggregate to |event_type|
    * rows (5); pass 2 re-scans events and equi-joins the 5-row stats
    * table — Spark broadcasts it automatically, so the second pass is
    * a codegen'd projection+filter with no shuffle at all. Two scans
    * of the fact table is the floor for any exact two-moment outlier
    * pass; a single-scan variant would need a global window (one
    * reducer per type).
    */
  def qAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        cents(col("value")).as("c"))
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("c").cast("decimal(38,0)")).cast("double").as("sx"),
      sum((col("c") * col("c")).cast("decimal(38,0)")).cast("double").as("sxx"))
    val mean = col("sx") / col("n")
    val z = (col("c").cast("double") - mean) /
      sqrt(col("sxx") / col("n") - mean * mean)
    ev.join(broadcast(stats), "event_type")
      .withColumn("z_score", round(z, 6) + lit(0.0))
      .filter(abs(col("z_score")) > 3.0)
      .select("event_type", "event_id", "value", "z_score")
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("event_id"))
  }

  /** Robust (median/MAD) outliers per event type — the robust twin of
    * [[qAnomaly]]: events whose deviation from their type's median
    * exceeds 5× the median absolute deviation. Mean/stddev outlier
    * detection is itself skewed by the outliers it hunts; median/MAD
    * is not, and because median and MAD of integer cents ARE integer
    * cents, every comparison here is exact integer arithmetic — no
    * float boundary exists at all (one step stronger than qAnomaly's
    * rounded-z compare).
    *
    * Scale: the exact per-type order statistics are two sequential
    * row_number windows partitioned by event_type (5 partitions) —
    * the honest exact form at oracle scale; at 100 TB the median/MAD
    * pair comes from the mergeable GK quantile sketch
    * (`StatsQueries.sketchPercentiles`) and this plan's two window
    * sorts collapse to one sketch aggregate, with the flagging pass
    * unchanged (a broadcast of 5 (med, mad) rows over the fact scan).
    */
  def qAnomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        cents(col("value")).as("c"))
    def lowerMedianOf(df: DataFrame, valueCol: String, outName: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .orderBy(col(valueCol).asc, col("event_id").asc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("event_type"), col(valueCol).as(outName))
    }
    val med = lowerMedianOf(ev, "c", "med")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("c") - col("med")))
    val mad = lowerMedianOf(dev, "d", "mad")
    dev.join(broadcast(mad), "event_type")
      .filter(col("d") > lit(5) * col("mad"))
      .select(col("event_type"), col("event_id"), col("value"),
        (col("d").cast("double") / 100.0).as("deviation"),
        (col("mad").cast("double") / 100.0).as("mad_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("event_id"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation from
    * the orders table with FIXED business bands — not quantile tiles:
    * a global ntile() would be one single-partition window sort (the
    * classic 100 TB anti-pattern), while fixed bands are a codegen'd
    * CASE after one map-side-combinable aggregate, and they are what
    * practitioners actually deploy (bands survive re-runs; quantile
    * tiles re-label every customer whenever the population shifts).
    * Band edges sit near the sf0.01 quartiles (recency ≈ 100/199/363
    * days, frequency ≈ 8/10/12, monetary ≈ 1.9M/2.5M/3.1M cents).
    *
    * One shuffle total (the per-customer aggregate). Monetary is exact
    * cents; the reported `monetary` double is cents/100 — identical
    * IEEE division in both engines.
    */
  def qRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val refDate = to_date(lit("2001-09-01"))
    val base = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(
        datediff(refDate, to_date(max(col("o_orderdate")))).as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(cents(col("o_totalprice"))).as("m_cents"))
    val rScore = when(col("recency_days") <= 150, 3)
      .when(col("recency_days") <= 330, 2).otherwise(1)
    val fScore = when(col("frequency") >= 12, 3)
      .when(col("frequency") >= 9, 2).otherwise(1)
    val mScore = when(col("m_cents") >= 280000000L, 3)
      .when(col("m_cents") >= 210000000L, 2).otherwise(1)
    base
      .withColumn("r_score", rScore)
      .withColumn("f_score", fScore)
      .withColumn("m_score", mScore)
      .withColumn("segment",
        when(col("r_score") + col("f_score") + col("m_score") >= 8, "champion")
          .when(col("r_score") + col("f_score") + col("m_score") >= 6, "loyal")
          .when(col("r_score") + col("f_score") + col("m_score") >= 4, "regular")
          .otherwise("at_risk"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        (col("m_cents").cast("double") / 100.0).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"), col("segment"))
      .orderBy(asc_nulls_first("o_custkey"))
  }

  /** Time-series gap filling: per-user daily event counts with missing
    * days zero-filled between that user's first and last active day —
    * the densification step before any rolling-window feature or
    * forecasting job (a rolling mean over a sparse series is wrong;
    * over a gap-filled one it is a window frame).
    *
    * Scale: the calendar grid is generated per user by
    * `sequence(first_day, last_day)` — fan-out bounded by the date
    * span (31 days in the fixture; a year is 365), never by event
    * volume. Both join sides are keyed (user_id, day) and derive from
    * the same daily aggregate, so the grid join reuses its exchange
    * rather than re-shuffling raw events.
    */
  def qGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        cents(col("value")).as("c"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("c_sum"))
    val grid = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("c_sum"), lit(0L)).cast("double") / 100.0).as("value_sum"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("day"))
  }

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to
    * 'R'-flagged lineitems per customer over one order quarter, top 20
    * customers. Exact 10⁻⁴-unit revenue algebra as in
    * `CompositeQueries.qShippingPriority`.
    *
    * Plan: lineitem is filtered on returnflag BEFORE its shuffle;
    * orders is date-pruned at the scan (both predicates reach
    * PushedFilters); the orders⋈lineitem and customer⋈agg joins
    * shuffle on their keys (customer is fact-sized at 100 TB — never
    * broadcast); nation IS broadcast. The top-20 is
    * TakeOrderedAndProject, not a global sort.
    */
  def qReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val revenue = (sum(cents(col("l_extendedprice")) *
      cents(lit(1) - col("l_discount"))).cast("double") / 10000.0).as("revenue")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-07-01")))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey")
    val nat = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(revenue)
      .orderBy(desc("revenue"), asc_nulls_first("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q4 shape (order-priority checking): orders per priority
    * that have at least one lineitem shipped after the order date —
    * the EXISTS/semi-join composite. The semi join shuffles on
    * orderkey and short-circuits per probe row (no fan-out, no
    * duplicate counting); the count groups five priority values.
    */
  def qPriorityExists(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("o_orderpriority"))
  }

  /** Cross-document boilerplate detection: for each document, the
    * fraction of its distinct token-trigrams that are corpus-common
    * (appearing in ≥ `dfMin` documents). Documents dominated by shared
    * shingles are headers/footers/templates — the corpus-level
    * complement of `q_repetition`'s within-document check, and the
    * filter RefinedWeb-style pipelines run after exact dedup.
    *
    * The verdict flag compares 2·n_common ≥ n_shingles in EXACT
    * integer arithmetic (no float boundary); the reported ratio is
    * 6-dp display only. Plan shape = the tfidf/decontaminate family:
    * one shingle exchange for the df count, one equi-join back on the
    * shingle, one per-doc aggregate. A hot shingle costs one counter
    * row here (count, not collect), so no df cap is needed.
    */
  def qBoilerplate(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateFrom(Tables.documents(spark, sfDir), dfMin = 3)

  /** DataFrame-core form over any (doc_id, text) frame. */
  def boilerplateFrom(docs: DataFrame, dfMin: Int): DataFrame = {
    // df via count-over-window on the sh-partitioned stream instead of
    // an aggregate joined back: the join form re-ran the whole shingle
    // pipeline for each consumer (exchange reuse does not cover it —
    // see ngramJaccardPairs), the window form scans the corpus once
    val sh = AdvancedTextQueries.shingleRows(docs).repartition(col("sh"))
    sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= dfMin, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boiler_ratio",
        round(col("n_common").cast("double") / col("n_shingles"), 6) + lit(0.0))
      .withColumn("verdict",
        when(col("n_common") * 2 >= col("n_shingles"), "boilerplate")
          .otherwise("keep"))
      .select("doc_id", "n_shingles", "n_common", "boiler_ratio", "verdict")
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis
    * A-Res): top-50 documents by key ln(u)/w where u is a seed-free
    * md5-uniform in (0,1) and w = n_chars — the quality-weighted
    * subcorpus draw of a data-mixing pipeline, reproducible across
    * runs, partitionings, and engines because the randomness is a hash
    * of the row, not a RNG stream (the same argument as
    * `q_sample_hash`).
    *
    * Plan: pure projection + TakeOrderedAndProject (per-partition
    * top-50, driver merge) — no shuffle. Cross-engine note: ln() may
    * differ by 1 ulp between libm and the JVM; that can only matter if
    * two documents' keys collide to within ~10⁻¹⁶ relative — keys are
    * continuous md5-derived reals, so ties at the cut line are
    * measure-zero, and the displayed key is rounded to 6 dp.
    */
  def qWeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") + 0.5) / 4294967296.0
    Tables.documents(spark, sfDir)
      .withColumn("sel_key", log(u) / col("n_chars").cast("double"))
      .orderBy(desc("sel_key"), asc_nulls_first("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_chars"),
        (round(col("sel_key"), 6) + lit(0.0)).as("sel_key"))
  }

  /** Incremental aggregate-state MERGE — materialized-view maintenance:
    * per-user aggregates kept as MERGEABLE state (count, cent-sum,
    * max-ts: all commutative monoids), maintained by aggregating only
    * the new batch and merging into the snapshot. Here the pre-cutoff
    * snapshot state and post-cutoff delta state are computed separately
    * and merged, while the oracle aggregates everything in one pass —
    * a green hash certifies merge(state(A), state(B)) = state(A ∪ B),
    * the algebra that makes daily maintenance cost ∝ |delta| + |users|
    * instead of a full history rescan.
    *
    * Plan: each side aggregates map-side first, the merge is ONE
    * full-outer join on the state key; the delta side is typically tiny
    * and AQE broadcasts it at runtime.
    */
  def qIncrAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("2024-01-20").cast("timestamp")
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), cents(col("value")).as("c"))
    def state(df: DataFrame): DataFrame = df.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"), max(col("ts")).as("m"))
    val snap = state(ev.filter(col("ts") < cutoff))
    val delta = state(ev.filter(col("ts") >= cutoff))
    snap.as("a").join(delta.as("b"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("a.n"), lit(0L)) + coalesce(col("b.n"), lit(0L)))
          .as("n_events"),
        ((coalesce(col("a.s"), lit(0L)) + coalesce(col("b.s"), lit(0L)))
          .cast("double") / 100.0).as("value_sum"),
        greatest(col("a.m"), col("b.m")).as("last_ts"))
      .orderBy(asc_nulls_first("user_id"))
  }

  /** Token-budget MIXTURE sampling — the data-mixing step of a corpus
    * build: given a target mixture weight per source and a global token
    * budget (50% of the corpus here), allocate each source a token
    * quota budget·w_s, convert it to a per-source KEEP RATE
    * min(1, quota / tokens_s), and hash-sample docs at that rate.
    * Oversubscribed sources downsample; undersubscribed ones keep
    * everything (the min(1,·) clip — real mixtures then re-normalize
    * over epochs, out of scope for one pass). Weights here derive from
    * the source index ((i % 4)+1, normalized) so the fixture needs no
    * 20-literal table; a production call would join a real weight dim.
    *
    * Plan: two scans of the corpus by design — pass 1 is a tiny
    * per-source agg (rows = |sources|), whose 20-row rate table then
    * BROADCASTS onto pass 2's per-doc keep filter; nothing but the
    * per-source summary ever shuffles, so the shape survives 100 TB
    * (the alternative — carrying totals via a window — would shuffle
    * the full corpus once and gains nothing). Membership is seed-free
    * md5 (same argument as q_sample_hash): stable under retries,
    * partitioning, and engine.
    */
  def qMixBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(TextQueries.tokens(col("text"))).cast("long").as("tok"))
    val bySrc = docs.groupBy("source")
      .agg(sum(col("tok")).as("t_src"), count(lit(1)).as("n_docs"))
      .withColumn("raw",
        (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("long"))
    val tot = bySrc.agg(sum(col("t_src")).as("total_tok"),
      sum(col("raw")).as("raw_sum"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("rate",
        least(lit(1.0), lit(0.5) * col("total_tok") *
          (col("raw") / col("raw_sum")) / col("t_src")))
      .select("source", "n_docs", "t_src", "rate")
    val u = conv(substring(md5(concat(lit("mix:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    val kept = docs.join(broadcast(rates.select("source", "rate")), "source")
      .withColumn("keep", u < col("rate"))
      .groupBy("source")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
    rates.join(kept, Seq("source"))
      .select(col("source"), col("n_docs"), col("t_src").as("tokens_src"),
        (round(col("rate"), 6) + lit(0.0)).as("rate_target"),
        col("n_kept"), col("tokens_kept"))
      .orderBy(asc_nulls_first("source"))
  }

  /** Forward fill (last observation carried forward) over the
    * gap-filled daily grid: gap days inherit the most recent observed
    * day's value — the imputation step after densification
    * (`qGapfill`), before rolling features. The fill is
    * `last(_, ignoreNulls)` over the per-user day window — one pass on
    * the partition the grid join already established; the first grid
    * day is always observed (spans start at first activity), so the
    * filled value is never null.
    */
  def qFfill(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        cents(col("value")).as("c"))
      .groupBy("user_id", "day")
      .agg(sum(col("c")).as("c_sum"))
    val grid = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled_c", last(col("c_sum"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"),
        when(col("c_sum").isNotNull, "obs").otherwise("fill").as("status"),
        (col("filled_c").cast("double") / 100.0).as("value_filled"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("day"))
  }

  /** Peak concurrent sessions per calendar day — the capacity-planning
    * number an event platform reports — via the classic SWEEP-LINE:
    * every session contributes a +1 point at its (day-clipped) start
    * and a −1 just after its end; the running sum over the ordered
    * points is the concurrency curve and its per-day max is the peak.
    * Sessions are the same 30-min-gap islands as `q_session_window`;
    * a session spanning midnight is clipped into each day it touches
    * (fan-out bounded by the date span, never by event volume).
    *
    * Determinism: all integers; ties at the same microsecond process
    * −1 before +1 (a session whose last event was at t−1 is closed at
    * t), and equal-delta ties can permute freely without changing any
    * prefix maximum. Scale: the sweep window partitions by DAY — the
    * curve is never a single global sort; per-day point counts are
    * bounded by sessions/day, and the upstream sessionization shuffles
    * once on user_id.
    */
  def qConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val dayUs = 86400000000L
    val sess = EventQueries.sessionWindows(Tables.events(spark, sfDir))
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"),
        col("session_start"), col("session_end"))
    val clipped = sess
      .withColumn("day", explode(sequence(
        to_date(col("session_start")), to_date(col("session_end")),
        expr("interval 1 day"))))
      .withColumn("day_us", unix_micros(col("day").cast("timestamp")))
      .withColumn("t0", greatest(col("s_us"), col("day_us")))
      .withColumn("t1", least(col("e_us"), col("day_us") + (dayUs - 1)))
    val points = clipped
      .select(col("day"), col("t0").as("t"), lit(1).as("delta"),
        col("user_id"), col("session_id"))
      .unionAll(clipped.select(col("day"), (col("t1") + 1).as("t"),
        lit(-1).as("delta"), col("user_id"), col("session_id")))
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy("day")
      .orderBy(col("t").asc, col("delta").asc, col("user_id").asc,
        col("session_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    points
      .withColumn("conc", sum(col("delta")).over(sweep))
      .groupBy("day")
      .agg(
        sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_sessions"),
        max(col("conc")).as("peak_concurrency"))
      .orderBy(asc_nulls_first("day"))
  }

  /** Minimum co-purchase count for a part pair to become a PageRank
    * edge. Random-basket collisions produce one shared order; ≥ 2
    * keeps only repeated associations — the standard noise cut in
    * co-purchase graphs, and the difference between a ~3M-edge hairball
    * (every singleton collision) and the ~25k-edge signal graph at
    * sf0.1: measured 19-40 s vs 2.9 s for the 10 rounds.
    */
  val PagerankMinCooccur = 2

  /** The co-purchase graph every graph query here reads: one (u, v)
    * row per part pair (u < v) co-occurring in ≥ [[PagerankMinCooccur]]
    * orders. Unpinned: each caller pins it, or its GraphOps operator
    * pins its own input.
    */
  def copurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    BehaviorQueries.cooccurPairCounts(Tables.lineitem(spark, sfDir))
      .filter(col("n_orders") >= PagerankMinCooccur)
      .select(col("p1").as("u"), col("p2").as("v"))

  /** PageRank over the co-purchase part graph (parts are linked when
    * they appear together in ≥ [[PagerankMinCooccur]] orders — the
    * thresholded, symmetrized `q_cooccur` pair set), 10 fixed-point
    * iterations via `GraphOps.pageRank`. Output ranks are in 1e-12
    * units; the full ranking is emitted (rank desc, node tie-break) so
    * the oracle checks every node's exact integer rank, not just a
    * head.
    */
  def qPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val und = copurchaseEdges(spark, sfDir)
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    GraphOps.pageRank(edges, iters = 10)
      .orderBy(desc("rank"), asc_nulls_first("node"))
  }

  /** Per-node triangle counts over the same thresholded co-purchase
    * graph q_pagerank ranks (parts linked when they co-occur in ≥
    * [[PagerankMinCooccur]] orders): how embedded each part is in
    * cliquish buying patterns — the classic cohesion signal on top of
    * the pair counts q_cooccur already reports. The heavy lifting —
    * degree-ordered orientation bounding the wedge join to O(m^1.5) —
    * is [[GraphOps.triangleCounts]]; the oracle enumerates the same
    * triangles with the textbook three-way self-join, so the exact
    * per-node counts (not just the total) are hash-checked.
    */
  def qTriangles(spark: SparkSession, sfDir: String): DataFrame =
    GraphOps.triangleCounts(copurchaseEdges(spark, sfDir))

  /** Local clustering coefficient per node of the same co-purchase
    * graph: 2·triangles / (deg·(deg−1)) for every node of degree ≥ 2 —
    * how close each part's neighborhood is to a clique, the per-node
    * refinement of q_triangles' raw counts. Nodes in no triangle
    * surface with coefficient 0 (left join, not dropped) — those
    * structural holes are the interesting rows for a recommender.
    *
    * Determinism: triangles and degrees are exact integers; the
    * coefficient is one rounded division.
    *
    * Scale: degrees are one map-combinable agg over the edge list; the
    * triangle side reuses [[GraphOps.triangleCounts]]'s degree-ordered
    * orientation (wedge join bounded O(m^1.5)); the final join moves
    * node-count rows only.
    */
  def qClusteringCoef(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: three consumers, read first by triangleCounts' eager pin
    val und = copurchaseEdges(spark, sfDir).localCheckpoint(false)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = GraphOps.triangleCounts(und)
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (round(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0 /
          (col("deg") * (col("deg") - 1)), 6) + lit(0.0)).as("clustering_coef"))
      .orderBy(asc_nulls_first("node"))
  }

  /** BFS depth histogram of the co-purchase graph from its minimum
    * node id: how many parts sit 1, 2, 3… co-purchase hops from the
    * source — the reachability/diameter profile that tells a
    * recommender how far association chains actually extend. Third
    * iterative-join algorithm (level-synchronous frontier expansion,
    * [[GraphOps.bfsDepths]]) next to CC's min-label propagation and
    * PageRank's fixed point; the oracle walks the same graph with a
    * depth-capped recursive CTE and takes min(depth) per node.
    */
  def qBfsDepth(spark: SparkSession, sfDir: String): DataFrame = {
    val (labels, _) = GraphOps.bfsDepths(copurchaseEdges(spark, sfDir)
      .select(col("u").as("src"), col("v").as("dst")))
    labels.groupBy("depth")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(asc_nulls_first("depth"))
  }

  /** Misra-Gries candidate set size. 128 counters ⇒ every token with
    * frequency > n/129 of the corpus survives the sketch, so a
    * ≥ n/100 threshold has NO false negatives to recover.
    */
  val MgK = 128

  /** Exact heavy hitters through a sketch prune: tokens making up
    * ≥ 1% of all token occurrences, found WITHOUT ever shuffling the
    * full token stream. Pass 1 runs the mergeable Misra-Gries summary
    * (`graft.functions.MisraGries`, k=128) — O(k) state per task, one
    * 128-entry row to the driver — whose guarantee is no false
    * negatives above n/129 < 1%. Pass 2 counts ONLY candidate tokens
    * exactly (a broadcast isin prune before the shuffle, so the
    * exchange carries candidate occurrences, not the corpus) and keeps
    * those with 100·count ≥ n — exact integer threshold, so the result
    * is precisely "tokens with ≥1% share" no matter how MG's
    * order-dependent internals merged: the same prune-then-confirm
    * design as `q_decontaminate_bloom`, which is why this query IS
    * oracle-checkable while the raw sketch would not be.
    *
    * The reference's wc (`/root/reference/mrapps/wc.go:29-33`) ships
    * one KV per occurrence; at 100 TB this query answers the top-line
    * question at a ~vocabulary-independent fraction of that cost.
    */
  def qHeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    heavyHittersFrom(spark, Tables.documents(spark, sfDir))

  /** DataFrame-core form over any (text) corpus. */
  def heavyHittersFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val toks = docs.select(explode(TextQueries.tokens(col("text"))).as("token"))
    val candidates: Seq[String] =
      toks.as[String].select(new MisraGries(MgK).toColumn).head()
    val totals = toks.agg(count(lit(1)).as("n_total"))
    // empty corpus → empty candidate set → `isin()` with no arguments
    // is degenerate; short-circuit to the (empty) result shape instead
    val pruned =
      if (candidates.isEmpty) toks.filter(lit(false))
      else toks.filter(col("token").isin(candidates: _*))
    pruned
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(totals))
      .filter(col("n_occurrences") * 100 >= col("n_total"))
      .select(col("token"), col("n_occurrences"),
        (round(col("n_occurrences").cast("double") / col("n_total"), 6) + lit(0.0))
          .as("share"))
      .orderBy(desc("n_occurrences"), asc_nulls_first("token"))
  }

  /** Per-brand Pareto frontier (skyline) of parts: maximize p_size,
    * minimize p_retailprice — the points no other part of the brand
    * strictly dominates. The classic formulation is a quadratic
    * NOT-EXISTS self-join; this is the SORT-SCAN form: distinct
    * (size, price) points sorted (size DESC, price ASC) within each
    * brand are on the frontier iff every PRECEDING point (larger size,
    * or same size and cheaper) is strictly more expensive — one running
    * min over a window, no self-join. Equivalent because after DISTINCT
    * the preceding set is exactly the candidate dominators. Partitioned
    * by brand: at any scale the sort is per-group, never global; the
    * DuckDB oracle runs the quadratic NOT EXISTS, proving the
    * scan-equivalence on real data.
    */
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.part(spark, sfDir)
      .select(col("p_brand"), col("p_size"), col("p_retailprice"))
      .distinct()
    val prev = Window.partitionBy("p_brand")
      .orderBy(col("p_size").desc, col("p_retailprice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("prev_min", min(col("p_retailprice")).over(prev))
      .filter(col("prev_min").isNull || col("p_retailprice") < col("prev_min"))
      .select("p_brand", "p_size", "p_retailprice")
      .orderBy(asc_nulls_first("p_brand"), desc("p_size"), asc("p_retailprice"))
  }

  /** Fixed-size deterministic sample per stratum: the k smallest
    * md5(doc_id) ranks within each language — reservoir-sampling's
    * output contract (exactly min(k, n) rows per group) without its
    * sequential state: the hash IS the priority, so membership is
    * stable under retry, partitioning and engine, and a later run over
    * a grown corpus keeps a document iff its hash still ranks. One
    * shuffle on lang; per-group top-k never materializes the full sort
    * at the reducer (rank ≤ k prunes in the window's sort spill).
    */
  def qSampleReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 10
    val w = Window.partitionBy("lang")
      .orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("rsv:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("lang", "rank", "doc_id")
      .orderBy(asc_nulls_first("lang"), asc("rank"))
  }

  /** Distribution drift (Population Stability Index) of event value per
    * event type, first half of the month (day ≤ 15 = baseline) vs the
    * second (current) — the feature-drift gate a pipeline owner runs
    * before retraining on a new snapshot. PSI = Σ_bins (p−q)·ln(p/q)
    * over fixed-width value bins (q_histogram's binning, width 50,
    * capped at bucket 9) with add-one smoothing over the 10-bin domain
    * so empty-on-one-side bins stay finite; <0.1 stable, >0.25 action.
    *
    * Determinism: p and q are double ratios of EXACT integer counts
    * (identical in both engines), each bin's term is rounded to
    * integer micro-nats BEFORE the per-type sum (the q_lm_score
    * recipe) so the fold is order-independent, and bins empty in BOTH
    * halves are excluded by construction (observed-bin domain —
    * deterministic, documented).
    *
    * Scale: one fact shuffle for the (type × ≤10 bins) grid; totals
    * re-enter as a broadcast of |types| rows; everything after the
    * first agg runs on the tiny grid.
    */
  def qDriftPsi(spark: SparkSession, sfDir: String): DataFrame =
    driftPsiFrom(Tables.events(spark, sfDir))

  /** Frame-parameterized body of [[qDriftPsi]] (events need event_type,
    * ts, value).
    */
  def driftPsiFrom(events: DataFrame): DataFrame = {
    val nBins = 10
    val cnt = events
      .select(col("event_type"),
        (dayofmonth(col("ts")) <= 15).as("is_base"),
        least(floor(col("value") / 50.0), lit(9)).cast("long").as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(sum(when(col("is_base"), 1).otherwise(0)).as("n_base"),
        sum(when(!col("is_base"), 1).otherwise(0)).as("n_cur"))
    val tot = cnt.groupBy(col("event_type").as("t_type"))
      .agg(sum(col("n_base")).as("tot_base"), sum(col("n_cur")).as("tot_cur"),
        count(lit(1)).as("n_bins"))
    val p = (col("n_cur") + 1).cast("double") / (col("tot_cur") + nBins)
    val q = (col("n_base") + 1).cast("double") / (col("tot_base") + nBins)
    cnt.join(broadcast(tot), col("event_type") === col("t_type"))
      .select(col("event_type"), col("n_base"), col("n_cur"), col("n_bins"),
        col("tot_base"), col("tot_cur"),
        round((p - q) * log(p / q) * 1000000, 0).cast("long").as("term_micro"))
      .groupBy("event_type")
      .agg(max(col("tot_base")).as("n_base"), max(col("tot_cur")).as("n_cur"),
        max(col("n_bins")).as("n_bins"), sum(col("term_micro")).as("psi_micro"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** KMV (k-minimum-values, the theta-sketch core) audience-overlap
    * estimates between every pair of event types: Jaccard ≈
    * |common points below θ| / k, union ≈ (k−1)/θ, intersection =
    * their product — the set-operation sketch HLL cannot provide
    * (HLL unions but never intersects). Unlike the HLL/GK sketches
    * this one is ORACLE-CHECKED: the k minimum md5-points of a set are
    * a deterministic function of its members, so both engines build
    * bit-identical sketches (seed-free md5 → top-15-hex-chars 60-bit
    * integers; when a pair's union carries fewer than k points the
    * sketch degenerates to the exact count, by construction).
    *
    * Scale: ONE data-sized exchange (distinct (type, user)); the
    * per-type k-smallest runs two-phase (local top-k per 32-way hash
    * bucket, re-rank the ≤32k survivors — qLangId's recipe, and the
    * bucket phase cannot change the k smallest, so the Spark-only
    * bucketing never diverges from the direct oracle); everything
    * pairwise operates on sketch rows (|types|·k), tiny at any corpus
    * size. The types×types pair grid is a schema-bounded broadcast
    * cross join, declared in SurfaceSweepSpec's dimensionGridBroadcasts.
    */
  val KmvK = 64
  def qOverlapKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val K = KmvK
    val pts = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"),
        conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val phase1 = pts
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("event_type"), pmod(hash(col("h")), lit(32)))
          .orderBy(col("h").asc)))
      .filter(col("prn") <= K)
    val sk = phase1
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("h").asc)))
      .filter(col("rn") <= K)
      .select(col("event_type"), col("h"))
      // pinned: three consumers (the pair grid's two type sides and
      // the pooled join)
      .localCheckpoint()
    val types = sk.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("t1"))
      .crossJoin(broadcast(types.select(col("event_type").as("t2"))))
      .filter(col("t1") < col("t2"))
    val pooled = pairs
      .select(col("t1"), col("t2"),
        explode(array(col("t1"), col("t2"))).as("mt"))
      .join(sk, col("mt") === col("event_type"))
      .groupBy(col("t1"), col("t2"), col("h"))
      .agg(max(when(col("mt") === col("t1"), 1).otherwise(0)).as("in_a"),
        max(when(col("mt") === col("t2"), 1).otherwise(0)).as("in_b"))
    val kept = pooled
      .withColumn("rn", row_number().over(
        Window.partitionBy("t1", "t2").orderBy(col("h").asc)))
      .filter(col("rn") <= K)
    val twoPow60 = 1152921504606846976.0 // 2^60, exact double
    val unionEst = when(col("k_used") < K, col("k_used").cast("double"))
      .otherwise(lit((K - 1).toDouble) /
        (col("theta").cast("double") / lit(twoPow60)))
    val jac = col("n_common").cast("double") / col("k_used")
    kept.groupBy("t1", "t2")
      .agg(count(lit(1)).as("k_used"),
        max(col("h")).as("theta"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1).otherwise(0))
          .as("n_common"))
      .select(col("t1"), col("t2"), col("k_used"), col("n_common"),
        (round(jac, 6) + lit(0.0)).as("jaccard_est"),
        (round(unionEst, 6) + lit(0.0)).as("union_est"),
        (round(jac * unionEst, 6) + lit(0.0)).as("inter_est"))
      .orderBy(asc_nulls_first("t1"), asc_nulls_first("t2"))
  }

  /** HITS rounds the oracle unrolls — the SAME constant
    * `HitsSql` generates its CTE chain from.
    */
  val HitsIters = 5

  /** HITS hubs and authorities over the DIRECTED customer→part
    * purchase graph (who-bought-what, distinct pairs): authority =
    * parts endorsed by broad buyers, hub = customers whose baskets
    * concentrate on authoritative parts — the bipartite curation
    * signal PageRank's symmetrized co-purchase walk can't express
    * (on an undirected graph hubs ≡ authorities; here the two sides
    * are genuinely different node sets). Fourth iterative-join
    * algorithm next to CC / PageRank / BFS; the mutual-recursion
    * rounds with per-round GLOBAL L1 normalization live in
    * [[GraphOps.hits]] (integer fixed-point, no driver action per
    * round — the normalizer is a 1-row broadcast inside the plan).
    *
    * Output: both score tables in one frame (role = 'hub'|'auth'),
    * top 50 per role under (score desc, node asc) — rank computed
    * per role, fully deterministic given the bit-exact integer
    * scores.
    *
    * Scale: edge build is one distinct over (custkey, partkey) pairs;
    * each round shuffles O(E) contribution rows with map-side partial
    * aggregation. The reference's engine has no iterative surface at
    * all (one map+reduce pass per job, /root/reference/mr/worker.go).
    */
  def qHits(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val edges = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
    val (hubs, auths) = GraphOps.hits(edges, iters = HitsIters)
    val both = hubs.select(lit("hub").as("role"), col("node"), col("score"))
      .unionAll(auths.select(lit("auth").as("role"), col("node"), col("score")))
    both.withColumn("rank", row_number().over(
        Window.partitionBy("role").orderBy(col("score").desc, col("node").asc)))
      .filter(col("rank") <= 50)
      .orderBy(asc_nulls_first("role"), asc_nulls_first("rank"))
  }

  /** k-core parameters the oracle unrolls. */
  val KcoreK = 3
  val KcoreRounds = 6

  /** 3-core of the co-purchase graph ([[KcoreRounds]] fixed peeling
    * rounds, [[GraphOps.kCore]]): the maximal subgraph where every
    * part still co-occurs with ≥ 3 other surviving parts — the dense
    * backbone left after pruning tendrils, the standard coarse
    * community/robustness cut on top of the degree histogram
    * (q_degree_dist) and triangle counts. Fixed-round peeling keeps
    * the oracle an unrolled CTE chain replaying the identical
    * computation; rounds past the fixpoint are no-ops.
    *
    * Scale: per round one map-combinable degree agg + two semi-joins,
    * all on a monotonically SHRINKING edge set; one eager pin per
    * round.
    */
  def qKcore(spark: SparkSession, sfDir: String): DataFrame =
    GraphOps.kCore(copurchaseEdges(spark, sfDir), k = KcoreK, rounds = KcoreRounds)
      .select(col("node"), col("degree"))
      .orderBy(asc_nulls_first("node"))

  /** Wedge-center degree cap for q_linkpred — bounds the per-center
    * pair fan-out to C(cap,2); the oracle applies the same cut.
    */
  val LinkpredDegCap = 64

  /** Adamic–Adar link prediction on the co-purchase graph: for every
    * NON-adjacent part pair connected through common neighbors, score
    * AA(u,v) = Σ_z 1/ln(deg z) over the shared neighbors z — rare
    * shared partners count more than promiscuous ones. Top-50
    * predicted links: the "these parts should co-sell but don't yet"
    * list, the graph-ML feature a recommender adds on top of
    * q_item_cf's observed similarities.
    *
    * Determinism: each center's 1/ln(deg) snaps to the 1e-6 grid
    * BEFORE the per-pair sum (exact long accumulation; centers have
    * deg ≥ 2 so ln ≥ ln 2 — no pole), the top-50 ranks by the exact
    * micro-long with (u, v) tie-breaks, and the displayed score is
    * one rounded division.
    *
    * Scale: wedge enumeration is the deg² fan-out triangle counting
    * already tamed — here bounded by dropping centers above
    * [[LinkpredDegCap]] (a hub shared by everyone carries ~no AA
    * signal anyway: weight 1/ln(deg) → 0 as its pairs → deg²); the
    * cap makes the explode ≤ C(64,2) rows per center. Everything else
    * is equi-joins and one anti-join against the edge list.
    */
  def qLinkpred(spark: SparkSession, sfDir: String): DataFrame = {
    val und = copurchaseEdges(spark, sfDir).localCheckpoint(true)
    val sym = und.select(col("u").as("z"), col("v").as("nbr"))
      .unionAll(und.select(col("v").as("z"), col("u").as("nbr")))
    val deg = sym.groupBy("z").agg(count(lit(1)).as("degree"))
    val capped = sym
      .join(deg.filter(col("degree") >= 2 &&
        col("degree") <= LinkpredDegCap), Seq("z"))
      .select(col("z"), col("nbr"),
        round(lit(1000000.0) / log(col("degree")), 0).cast("long")
          .as("w_micro"))
    val wedges = capped.select(col("z"), col("nbr").as("u"), col("w_micro"))
      .join(capped.select(col("z"), col("nbr").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    val cand = wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"), sum(col("w_micro")).as("aa_micro"))
      .join(und, Seq("u", "v"), "left_anti")
    // TakeOrderedAndProject cuts to 50 distributed (per-partition
    // top-50 + driver merge); the rank window then orders ≤50 rows
    val top = cand
      .orderBy(col("aa_micro").desc, col("u").asc, col("v").asc)
      .limit(50)
    top
      .withColumn("rank", row_number().over(Window.orderBy(
        col("aa_micro").desc, col("u").asc, col("v").asc)).cast("int"))
      .select(col("rank"), col("u"), col("v"), col("n_common"),
        col("aa_micro"),
        (round(col("aa_micro").cast("double") / 1e6, 6) + lit(0.0))
          .as("aa_score"))
      .orderBy(col("rank").asc)
  }

  /** ABC inventory classification of parts by revenue: rank parts by
    * revenue descending, class A = parts inside the first 80% of
    * cumulative revenue, B = the next 15% (to 95%), C = the tail —
    * the classic Pareto cut reported as one summary row per class
    * (part count, revenue, shares). Complements q_skyline (dominance)
    * and q_topk (fixed count) with the fixed-SHARE cut businesses
    * actually restock by.
    *
    * Determinism: class boundaries compare 100·cum_cents ≤ 80·total
    * in EXACT DECIMAL algebra — no float share ever decides a class —
    * under the (revenue desc, partkey asc) total order; the emitted
    * share doubles divide once at the end.
    *
    * Scale: one shuffle to per-part revenue; the cumulative revenue
    * comes from [[ScaleOps.partitionedRank]] — range-partitioned
    * parallel running sums plus broadcast prefix offsets, with the
    * grand total emitted from the same n-partition offset frame — so
    * no corpus-sized ordered partition exists anywhere in the plan.
    */
  def qAbc(spark: SparkSession, sfDir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), cents(col("l_extendedprice")).as("c"))
      .groupBy("l_partkey").agg(sum(col("c")).as("rev"))
    val classed = ScaleOps.partitionedRank(byPart,
      Seq(col("rev").desc, col("l_partkey").asc),
      sums = Seq("cum" -> col("rev").cast("decimal(38,0)")))
      .withColumnRenamed("tot_cum", "tot")
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C"))
    classed.groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev").cast("decimal(38,0)")).as("class_c"),
        max(col("tot")).as("tot"))
      .select(col("abc_class"), col("n_parts"),
        (col("class_c").cast("double") / 100.0).as("revenue"),
        (round(col("class_c").cast("double") / col("tot").cast("double"), 6)
          + lit(0.0)).as("revenue_share"))
      .orderBy(asc_nulls_first("abc_class"))
  }

  /** Fixed LPA round count `LabelPropSql` unrolls. 4 suffices for the
    * sf co-purchase graphs (label histograms stop moving by round 3);
    * being fixed — not run-to-convergence — is what keeps the oracle a
    * replay of the identical computation.
    */
  val LabelPropRounds = 4

  /** Label-propagation communities over the thresholded co-purchase
    * graph (same edge set as q_pagerank/q_kcore): [[LabelPropRounds]]
    * synchronous most-frequent-neighbor-label rounds with the
    * smallest-label tie-break, via [[GraphOps.labelPropagation]] —
    * the linear-time community detector next to the centrality
    * (PageRank/HITS), cohesion (triangles/k-core), and reachability
    * (BFS/CC) members of the graph family. Output is the full
    * node→community mapping (community = the minimum-id member that
    * seeded the winning label), hash-checked per node.
    *
    * Scale: each round ships one label per directed edge (O(E),
    * map-side combinable) and folds the argmax with a struct-max
    * aggregate — no window, one eager pin per round, state is one row
    * per node.
    */
  def qLabelProp(spark: SparkSession, sfDir: String): DataFrame = {
    val und = copurchaseEdges(spark, sfDir)
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    GraphOps.labelPropagation(edges, rounds = LabelPropRounds)
      .select(col("id").as("node"), col("label").as("community"))
      .orderBy(asc_nulls_first("community"), asc_nulls_first("node"))
  }

  /** Newman modularity decomposition of the co-purchase graph under
    * the part-BRAND partition: per brand c, the internal-edge count
    * e_c, degree mass d_c, and the exact-integer contribution
    * numerator 4·m·e_c − d_c² over the common denominator 4·m² —
    * Q = Σ_c num_c / denom. Emitting the EXACT integers instead of a
    * divided float makes every row bit-checkable with no rounding
    * convention at all (the q_contingency move); the consumer divides
    * once. Brands whose parts attract no internal edge still surface
    * (left join, num = −d_c²) — those are the anti-communities, the
    * interesting rows for an assortment planner.
    *
    * Scale: degrees and internal edges are map-combinable aggs over
    * the edge list; the brand lookup broadcasts the part dim; m
    * enters as a declared 1-row aggregate broadcast (the plan audit). The
    * decimal(38,0) products make overflow past ~10⁹-degree-mass
    * brands an explicit error, not a wrap (q_gini's convention).
    */
  def qModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val und = copurchaseEdges(spark, sfDir).localCheckpoint(true)
    val brand = broadcast(Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand")))
    val m = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val byBrand = deg
      .join(brand, deg("node") === brand("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val internal = und
      .join(brand.select(col("p_partkey").as("u"), col("p_brand").as("bu")), Seq("u"))
      .join(brand.select(col("p_partkey").as("v"), col("p_brand").as("bv")), Seq("v"))
      .filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("p_brand"))
      .agg(count(lit(1)).as("internal_edges"))
    byBrand
      .join(internal, Seq("p_brand"), "left")
      .na.fill(0L, Seq("internal_edges"))
      .crossJoin(broadcast(m))
      .select(
        col("p_brand"), col("n_nodes"), col("deg_sum"), col("internal_edges"),
        (lit(4) * col("m").cast("decimal(38,0)") * col("internal_edges")
          - col("deg_sum").cast("decimal(38,0)") * col("deg_sum"))
          .cast("bigint").as("q_num"),
        (lit(4) * col("m").cast("decimal(38,0)") * col("m"))
          .cast("bigint").as("q_denom"))
      .orderBy(asc_nulls_first("p_brand"))
  }

  /** Degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees over the symmetrized directed
    * edge list — positive = hubs link to hubs (rich-club), negative =
    * hubs fan out to leaves; THE one-number mixing summary on top of
    * q_degree_dist's histogram. Symmetry makes the y-moments equal
    * the x-moments, so r = (n·Sxy − Sx²)/(n·Sxx − Sx²): the exact
    * integer moments are emitted alongside the one rounded division
    * (q_corr's convention, decimal(38,0) sums for explicit overflow).
    *
    * Scale: degrees are one map-combinable agg; attaching them to
    * both endpoints is two shuffle-on-key joins; the moment fold is a
    * scalar aggregate. Nothing global but the final 1-row result.
    */
  def qAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val und = copurchaseEdges(spark, sfDir)
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val withDeg = sym
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
    val agged = withDeg.agg(
      count(lit(1)).as("n_edges"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
      sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"))
    agged.select(
      col("n_edges"),
      col("sx").cast("bigint").as("sum_deg"),
      col("sxy").cast("bigint").as("sum_xy"),
      col("sxx").cast("bigint").as("sum_xx"),
      (round(
        (col("n_edges") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")) /
          (col("n_edges") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
        + lit(0.0)).as("assortativity"))
  }
}
