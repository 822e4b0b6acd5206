package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch time-series diagnostics over the events stream: lag-k
  * autocorrelation, day-of-week seasonal profile, and CUSUM
  * changepoint location. The reference has no time dimension at all
  * (its rows are string pairs, `/root/reference/mr/worker.go:17-20`);
  * these are the engine-native extensions a metrics/monitoring user
  * runs over the same corpus the streaming operators watch live.
  *
  * All three reduce the raw stream to per-(type, day) integer counts
  * first — one map-side-combinable aggregate over the event scan — and
  * run the statistics on the tiny per-type daily series (n_days rows
  * per type at ANY corpus scale: 100 TB of events still folds to
  * |types| × |days| rows before any window executes). The windows
  * partition by event_type, so parallelism is type-bounded — correct
  * here because the frame they run over is already days-bounded, not
  * corpus-bounded.
  */
object TimeSeriesQueries {

  /** Per-(event_type, day) event counts — the shared series. */
  private def daily(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))

  /** Lag-k autocorrelation (k = 1, 2, 3) of each type's daily-count
    * series, Pearson over the (x_t, x_{t-k}) pairs of the observed
    * series in date order.
    *
    * Determinism: the five moment sums are summed as DECIMAL(38,0) over
    * exact integer counts (explicit overflow instead of silent wrap —
    * q_gini's convention; counts would need ~1e9 events/day before
    * long products wrap), the Pearson numerator/denominator are exact
    * integer expressions, and one rounded double division ends it.
    */
  def qAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("d")
    // window lags first, generator second — Spark disallows a window
    // expression and a generator in one SELECT
    val lagged = daily(spark, sfDir)
      .select(col("event_type"), col("d"), col("c"),
        lag(col("c"), 1).over(w).as("x1"),
        lag(col("c"), 2).over(w).as("x2"),
        lag(col("c"), 3).over(w).as("x3"))
      .select(col("event_type"), col("c"),
        explode(array(
          struct(lit(1).as("lag"), col("x1").as("x")),
          struct(lit(2).as("lag"), col("x2").as("x")),
          struct(lit(3).as("lag"), col("x3").as("x")))).as("p"))
      .select(col("event_type"), col("p.lag").cast("long").as("lag"),
        col("c").cast("decimal(38,0)").as("y"), col("p.x").cast("decimal(38,0)").as("x"))
      .filter(col("x").isNotNull)
    lagged.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        (round(
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6) + lit(0.0)).as("autocorr"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("lag"))
  }

  /** Day-of-week seasonal profile per event type: average daily count
    * and share of the type's volume per weekday. Weekday is computed as
    * epoch-days mod 7 (0 = Thursday 1970-01-01) — pure integer date
    * arithmetic, identical across engines, no locale/ISO-vs-US
    * first-day ambiguity.
    */
  def qSeasonal(spark: SparkSession, sfDir: String): DataFrame = {
    val byDow = daily(spark, sfDir)
      .groupBy(col("event_type"),
        pmod(datediff(col("d"), lit("1970-01-01")), lit(7)).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"))
    val totals = byDow.groupBy(col("event_type").as("t_type"))
      .agg(sum(col("n_events")).as("n_total"))
    byDow.join(broadcast(totals), col("event_type") === col("t_type"))
      .select(col("event_type"), col("dow"), col("n_days"), col("n_events"),
        (round(col("n_events").cast("double") / col("n_days"), 6) + lit(0.0))
          .as("avg_daily"),
        (round(col("n_events").cast("double") / col("n_total"), 6) + lit(0.0))
          .as("volume_share"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("dow"))
  }

  /** CUSUM changepoint per event type: the day d* maximizing
    * |CUSUM_d| = |Σ_{i<=d}(c_i - mean)| over the daily series — the
    * classic single-changepoint location estimate for a level shift.
    *
    * Determinism: the mean never materializes as a float. With S_d the
    * prefix sum, T the total and n the day count, n·CUSUM_d =
    * n·S_d − d·T is an EXACT integer; the argmax compares those scaled
    * integers (magnitude desc, then date asc for ties). cusum_scaled
    * wraps long only past ~3·10^17 events per type-month — q_gini's
    * documented-bound convention. Sign < 0 means the later regime runs
    * HIGHER than the mean (a rise at d*), > 0 a drop.
    */
  def qChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("d")
    val wAll = Window.partitionBy("event_type")
    val scored = daily(spark, sfDir)
      .withColumn("s", sum(col("c")).over(wOrd))
      .withColumn("i", row_number().over(wOrd))
      .withColumn("t", sum(col("c")).over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("cusum_scaled", col("n") * col("s") - col("i") * col("t"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(abs(col("cusum_scaled")).desc, col("d").asc)))
    scored.filter(col("rk") === 1)
      .select(col("event_type"), col("d").as("change_day"),
        col("cusum_scaled"),
        when(col("cusum_scaled") < 0, lit("rise"))
          .when(col("cusum_scaled") > 0, lit("drop"))
          .otherwise(lit("flat")).as("direction"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Hourly OHLC candle per (event_type, day): open/close are the
    * values at the earliest/latest (ts, event_id) of the day — the
    * total order makes same-timestamp ties deterministic — plus
    * high/low/volume and the 2-dp-exact value sum. The standard bar
    * rollup a monitoring or market pipeline keeps.
    *
    * Scale: both rank windows and the final agg cluster on the same
    * (event_type, day) key — ONE exchange, two in-partition sorts, no
    * second shuffle. Day partitioning bounds every frame.
    */
  def qOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("event_type", "day")
    val ranked = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("rn_a", row_number().over(
        w.orderBy(col("ts").asc, col("event_id").asc)))
      .withColumn("rn_d", row_number().over(
        w.orderBy(col("ts").desc, col("event_id").desc)))
    ranked.groupBy("event_type", "day")
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
  }

  /** Lead–lag cross-correlation between every ordered pair of event
    * types: Pearson over (x at hour h of type A, y at hour h+lag of
    * type B) for lag ∈ [−3, +3] hours — does one stream LEAD the
    * other (marketing→purchases), the two-series question
    * q_autocorr's one-series diagnostic cannot answer. Pairs align on
    * OBSERVED overlapping hours (inner join of the two hourly series;
    * the sparse-gap densification decision is the caller's, as in
    * q_autocorr). Zero-variance and <2-pair groups are dropped by
    * EXACT integer HAVING conditions, so no engine ever divides by
    * zero.
    *
    * Determinism: q_autocorr's algebra — DECIMAL(38,0) moment sums
    * over exact integer counts, one rounded double division at the
    * end.
    *
    * Scale: the corpus folds to |types|×|hours| rows before the ×7
    * lag fan-out; the pair join is keyed on (hour, lag) ride-along
    * integers. Everything past the first agg is series-sized.
    */
  def qCrossCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hs"))
      .agg(count(lit(1)).as("c"))
    val aSide = hourly
      .withColumn("lag_h", explode(sequence(lit(-3L), lit(3L))))
      .select(col("event_type").as("t1"), col("lag_h"),
        (col("hs") + col("lag_h") * 3600L).as("h_match"),
        col("c").cast("decimal(38,0)").as("x"))
    val bSide = hourly.select(col("event_type").as("t2"),
      col("hs").as("h_match"), col("c").cast("decimal(38,0)").as("y"))
    aSide.join(bSide, Seq("h_match"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2", "lag_h")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n_pairs") >= 2 &&
        col("n_pairs") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n_pairs") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("t1"), col("t2"), col("lag_h"), col("n_pairs"),
        (round(
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6) + lit(0.0)).as("cross_corr"))
      .orderBy(asc_nulls_first("t1"), asc_nulls_first("t2"),
        asc_nulls_first("lag_h"))
  }

  /** Classical decomposition of each type's daily-count series:
    * count = trend + seasonal + residual, with trend a centered 7-day
    * moving average (shrinking frame at the series edges), seasonal
    * the per-weekday mean of the detrended series (weekday =
    * epoch-days mod 7, q_seasonal's locale-free convention), residual
    * the rest. The monitoring view that separates "weekends are slow"
    * from "something broke".
    *
    * Determinism: trend is an exact-integer-sum division (≤7 longs);
    * it rounds to 6 dp BEFORE detrending, detrended values snap to the
    * exact 1e-6 micro grid so the seasonal means are long sums
    * (partitioning-independent), and the residual is arithmetic over
    * the two already-rounded components.
    *
    * Scale: everything runs on the |types|×|days| folded frame; the
    * weekday model is a ≤ types×7 join back.
    */
  def qSeasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val wTrend = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-3, 3)
    val trended = daily(spark, sfDir)
      .withColumn("trend", round(avg(col("c")).over(wTrend), 6) + lit(0.0))
      .withColumn("dow",
        pmod(datediff(col("d"), lit("1970-01-01")), lit(7)).cast("long"))
      .withColumn("det_micro",
        round((col("c") - col("trend")) * 1000000, 0).cast("long"))
    // the mean detrend FLOOR-divides in micro units: an odd Σmicro over
    // an even day count would land exactly on the 6-dp half boundary,
    // where Spark (decimal HALF_UP) and DuckDB (binary round) disagree —
    // floor of the double quotient is deterministic in both (halves are
    // exactly representable), and the result is exact on the 1e-6 grid
    // so NO rounding ever runs on the seasonal term
    val seasonal = trended.groupBy(col("event_type").as("s_type"), col("dow"))
      .agg(count(lit(1)).as("n_dow"), sum(col("det_micro")).as("s_micro"))
      .select(col("s_type"), col("dow").as("s_dow"),
        (floor(col("s_micro").cast("double") / col("n_dow")).cast("long")
          .cast("double") / 1000000.0 + lit(0.0)).as("seasonal"))
    trended
      .join(broadcast(seasonal),
        col("event_type") === col("s_type") && col("dow") === col("s_dow"))
      .select(col("event_type"), col("d").as("day"), col("c").as("n_events"),
        col("trend"), col("seasonal"),
        (round(col("c") - col("trend") - col("seasonal"), 6) + lit(0.0))
          .as("residual"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
  }

  /** Daily audience split: first-ever-seen users vs returning, with
    * the returning share — the growth-vs-retention read every DAU
    * dashboard opens with (q_cum_distinct's derivative, split by
    * cohort membership). A user is "new" on exactly their first active
    * day; both counts come from one distinct-day frame joined to the
    * per-user first day.
    */
  def qNewReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
    ud.join(firstDay, Seq("user_id"))
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
          .as("n_returning"))
      .select(col("day"), col("n_new"), col("n_returning"),
        (col("n_new") + col("n_returning")).as("n_active"),
        (round(col("n_returning").cast("double") /
          (col("n_new") + col("n_returning")).cast("double"), 6) + lit(0.0))
          .as("returning_share"))
      .orderBy(asc_nulls_first("day"))
  }

  /** Bollinger bands over each type's daily VALUE total: 7-day
    * trailing mean ± 2σ (population σ over the window), with the
    * breakout flag — the volatility-adaptive anomaly envelope next to
    * q_anomaly's global-σ z-score (a level shift moves these bands
    * with the series; a global z keeps alarming forever).
    *
    * Determinism: daily totals are exact cent longs; the rolling
    * mean/σ derive from exact Σ and Σ² over the 7-row frame (cent²
    * sums stay in long range until ~4·10⁷ cents/day/type — beyond
    * that, the DECIMAL widening of qAutocorr applies), and the
    * breakout compares the 6-dp-ROUNDED band edges so no last-ulp
    * flip. Only days with a FULL 7-day history emit bands (the first
    * six get nulls, flagged n_window < 7), so ragged-start noise
    * can't masquerade as signal.
    *
    * Scale: the corpus folds to |types|×|days| rows before any window
    * runs (the module invariant); the ordered frame iterates days,
    * partitioned by type.
    */
  def qBollinger(spark: SparkSession, sfDir: String): DataFrame = {
    val dailyCents = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
    val w = Window.partitionBy("event_type")
      .orderBy(asc_nulls_first("day")).rowsBetween(-6, 0)
    val n = count(lit(1)).over(w)
    val s = sum(col("c")).over(w)
    val ss = sum(col("c") * col("c")).over(w)
    val mean7 = s.cast("double") / n / 100.0
    val sd7 = sqrt((ss.cast("double") - s.cast("double") * s / n) / n) / 100.0
    val upper = round(mean7 + sd7 * 2, 6) + lit(0.0)
    val lower = round(mean7 - sd7 * 2, 6) + lit(0.0)
    dailyCents
      .select(col("event_type"), col("day"),
        (round(col("c").cast("double") / 100.0, 6) + lit(0.0))
          .as("day_value"),
        n.as("n_window"),
        when(n === 7, round(mean7, 6) + lit(0.0)).as("mean7"),
        when(n === 7, round(sd7, 6) + lit(0.0)).as("sd7"),
        when(n === 7, upper).as("upper_band"),
        when(n === 7, lower).as("lower_band"),
        when(n === 7,
          round(col("c").cast("double") / 100.0, 6) > upper ||
          round(col("c").cast("double") / 100.0, 6) < lower)
          .as("breakout"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
  }

  /** SAX-style series symbolization (Lin et al., "A Symbolic
    * Representation of Time Series", DMKD 2003 — public literature):
    * piecewise-aggregate-approximate each type's daily-count series
    * into 4-day segments (PAA), then map each segment to one of 4
    * symbols a/b/c/d by the segment mean's QUARTILE within the type —
    * the discretization that turns a numeric series into a string
    * motif-mining and indexing can run on.
    *
    * Determinism: segment means are never compared as floats. A
    * segment covers n_days ∈ {1..4} observed days, so mean_i < mean_j
    * ⟺ sum_i·(12/n_i) < sum_j·(12/n_j) with 12/n exact integers — the
    * ntile ordering runs on that scaled-integer key (ties broken by
    * segment index). The reported paa mean is one rounded division.
    *
    * Scale: the corpus folds to |types|×|days| rows before any window
    * runs (the module invariant); segments fold 4× further. The
    * per-type ntile window iterates segments, partitioned by type.
    */
  def qSax(spark: SparkSession, sfDir: String): DataFrame = {
    val seg = daily(spark, sfDir)
      .groupBy(col("event_type"),
        floor(datediff(col("d"), lit("1970-01-01")) / 4).cast("long").as("seg"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sum_c"))
    val w = Window.partitionBy("event_type")
      .orderBy(asc_nulls_first("scaled"), asc_nulls_first("seg"))
    seg
      .select(col("event_type"), col("seg"), col("n_days"), col("sum_c"),
        (col("sum_c") * (lit(12) / col("n_days")).cast("long")).as("scaled"))
      .select(col("event_type"), col("seg"), col("n_days"), col("sum_c"),
        ntile(4).over(w).as("q"))
      .select(col("event_type"), col("seg"), col("n_days"), col("sum_c"),
        (round(col("sum_c").cast("double") / col("n_days"), 6) + lit(0.0))
          .as("paa"),
        element_at(lit(Array("a", "b", "c", "d")), col("q")).as("symbol"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("seg"))
  }

  /** Semi-additive end-of-month balances: each customer's balance is
    * the running sum of their order totals; a month's segment-level
    * figure SUMS the LAST-KNOWN balance per customer (carried forward
    * over silent months) instead of summing the month's flows — the
    * balance-sheet aggregation pattern (sum over accounts, last-value
    * over time) that plain groupBy gets wrong.
    *
    * Scale: flows fold to per-(customer, month) cent sums first
    * (map-side combine over the orders scan); the month spine is
    * |customers| × |months| — linear in customers with a tiny
    * calendar factor, built by a broadcast grid join, not a shuffle.
    * The carry-forward is q_ffill's last_value-ignore-nulls window,
    * partitioned per customer (months-bounded frames); the final
    * aggregate folds the spine to |months| × |segments| rows.
    */
  def qEopBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val flows = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"),
        trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("flow"))
    // Carry-forward WITHOUT the customer × month spine: a balance set
    // at flow month m persists until the customer's next flow month,
    // so each flow row fans out to the bounded month range
    // [m, next_flow_month) (the final flow carries to the corpus's
    // last month) — the qRollingActive bounded-explode move. The
    // window runs over FLOW rows (sparse), not the dense spine the
    // previous shape cross-joined and left-joined (two spine-sized
    // exchanges gone); months absent from the flow calendar are
    // dropped by the broadcast semi-join exactly as the spine's
    // distinct-month axis dropped them. Same running longs, same
    // active-from-first-flow semantics, bit-identical output.
    val months = flows.select(col("month")).distinct()
    val lastMonth = months.agg(max(col("month")).as("last_m"))
    val seg = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    val w = Window.partitionBy("custkey").orderBy(asc_nulls_first("month"))
    val balances = flows
      .withColumn("bal", sum(col("flow")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_m", lead(col("month"), 1).over(w))
      .crossJoin(broadcast(lastMonth))
      .select(col("custkey"), col("bal"),
        explode(sequence(col("month"),
          coalesce(add_months(col("next_m"), -1), col("last_m")),
          expr("interval 1 month"))).as("month"))
      .join(broadcast(months), Seq("month"), "left_semi")
      .join(broadcast(seg), Seq("custkey"))
    balances.groupBy(col("month"), col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (round(sum(col("bal")).cast("double") / 100.0, 2) + lit(0.0))
          .as("eop_total"))
      .orderBy(asc_nulls_first("month"), asc_nulls_first("segment"))
  }

  /** Theil–Sen slope of each type's daily-count series: the MEDIAN of
    * all pairwise slopes (c_j − c_i)/(d_j − d_i), i < j by date — the
    * robust trend estimator (up to ~29% outliers) where the OLS slope
    * (q_regression) folds to any single spike.
    *
    * Determinism: each slope is ONE IEEE division of exact integers
    * (identical bits on both engines), the median picks the middle
    * one/two values by (slope, d_i, d_j) order — equal slopes make the
    * tie order irrelevant to the picked VALUE — and the even-count
    * average is one more exact-input division.
    *
    * Scale: the corpus folds to |types| × |days| rows before the pair
    * join (100 TB of events still folds to that), so the O(days²)
    * pair enumeration is calendar-bounded, never corpus-bounded —
    * ~66k pairs per type even for a full year.
    */
  def qTheilsen(spark: SparkSession, sfDir: String): DataFrame = {
    val d = daily(spark, sfDir)
    val slopes = d.as("a")
      .join(d.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        (col("b.c") - col("a.c")).cast("double")
          ./(datediff(col("b.d"), col("a.d")).cast("double"))
          .as("slope"))
    val w = Window.partitionBy("event_type")
      .orderBy(asc_nulls_first("slope"))
    slopes
      .select(col("event_type"), col("slope"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("event_type")).as("m"))
      // integer middle picks: Spark's `/` on longs is DOUBLE division,
      // so truncate explicitly — rn = floor((m+1)/2) and floor(m/2)+1
      // (equal when m is odd, adjacent when even)
      .filter(col("rn") === ((col("m") + 1) / 2).cast("long") ||
        col("rn") === (col("m") / 2).cast("long") + 1)
      .groupBy("event_type")
      .agg(max(col("m")).as("n_pairs"),
        (round(avg(col("slope")), 6) + lit(0.0)).as("sen_slope"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Burstiness of each type's daily-count series: the Fano factor
    * (variance-to-mean ratio of counts; 1 = Poisson, >1 = clumped)
    * and the Goh–Barabási burstiness coefficient B = (σ−μ)/(σ+μ)
    * ∈ (−1, 1) — the standard dispersion diagnostics for event
    * streams, complementing q_anomaly's z-scores with a per-series
    * (not per-day) verdict.
    *
    * Determinism: n/Σc/Σc² are exact integers (squares in
    * DECIMAL(38,0) — explicit overflow, q_gini's convention); the
    * variance numerator n·Σc² − (Σc)² is exact, and mean/fano/B are
    * rounded terminal double expressions (sqrt is IEEE-exact on
    * identical inputs).
    *
    * Scale: one map-side-combinable fold to |types| × |days|, then a
    * |types|-row aggregate — a single tiny shuffle at any corpus size.
    */
  /** Mann–Kendall trend test per type's daily-count series — the
    * significance companion to q_theilsen's slope magnitude:
    * S = Σ_{i<j} sign(c_j − c_i) over date-ordered pairs, variance
    * with the tie correction Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * (t = tie-group sizes), Z = (S∓1)/√Var.
    *
    * Determinism: S, the tie sum, and Var·18 are EXACT integers end to
    * end; Z is one terminal sqrt+division of exact inputs (IEEE-
    * identical across engines), rounded at 6 dp.
    *
    * Scale: same days-bounded pair join as q_theilsen plus one
    * |types|×|distinct counts| tie fold — calendar-bounded, never
    * corpus-bounded.
    */
  def qMannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val d = daily(spark, sfDir)
    val s = d.as("a")
      .join(d.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"))
    val ties = d.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_values"),
        sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_sum"))
    val n = col("n_days")
    val var18 = n * (n - 1) * (lit(2) * n + 5) - col("tie_sum")
    s.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        var18.as("var18"),
        (round(
          when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
            .otherwise(lit(0.0)) /
            sqrt(var18.cast("double") / 18.0), 6) + lit(0.0)).as("z_stat"))
      .orderBy(asc_nulls_first("event_type"))
  }

  def qBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val m = daily(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("s"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"))
    val n = col("n_days").cast("double")
    val mean = col("s").cast("double") / n
    // sample variance from the exact integer numerator
    val variance = (col("n_days").cast("decimal(38,0)") * col("ss") -
      col("s").cast("decimal(38,0)") * col("s")).cast("double") /
      (n * (n - 1))
    val sigma = sqrt(variance)
    m.select(col("event_type"), col("n_days"), col("s").as("n_events"),
      (round(mean, 6) + lit(0.0)).as("mean_daily"),
      (round(variance / mean, 6) + lit(0.0)).as("fano"),
      (round((sigma - mean) / (sigma + mean), 6) + lit(0.0))
        .as("burstiness"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Kendall's tau-b between the click and purchase daily-count
    * series — the rank-based dependence companion to q_rolling_corr's
    * Pearson view (outlier-days can't move it) and the two-series
    * analogue of q_mann_kendall's one-series S statistic. All five
    * pair classes (concordant, discordant, x-only/y-only/both ties)
    * are emitted as exact integers; tau_b = (C−D)/√((n₀−n₁)(n₀−n₂))
    * divides once at the end with the tie-corrected denominators.
    *
    * Scale: the corpus folds to |days| rows before the d1 < d2 pair
    * join (q_mann_kendall's shape — days-bounded, ~n²/2 tiny rows at
    * any corpus scale).
    */
  def qKendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val byDay = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val a = byDay.select(col("day").as("d1"), col("x").as("x1"), col("y").as("y1"))
    val b = byDay.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .select(
        (col("x1") - col("x2")).as("dx"),
        (col("y1") - col("y2")).as("dy"))
    val cells = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("concordant"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("discordant"),
      sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L))
        .as("ties_x_only"),
      sum(when(col("dy") === 0 && col("dx") =!= 0, 1L).otherwise(0L))
        .as("ties_y_only"),
      sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
        .as("ties_both"))
    cells.select(
      col("n_pairs"), col("concordant"), col("discordant"),
      col("ties_x_only"), col("ties_y_only"), col("ties_both"),
      (round(
        (col("concordant") - col("discordant")).cast("double") /
          (sqrt((col("n_pairs") - col("ties_x_only") - col("ties_both"))
            .cast("double")) *
            sqrt((col("n_pairs") - col("ties_y_only") - col("ties_both"))
              .cast("double"))), 6) + lit(0.0)).as("tau_b"))
  }

  /** Rolling-correlation window length (days), shared with the oracle. */
  val RollingCorrDays = 14

  /** 14-day rolling Pearson correlation between the click and purchase
    * daily-count series — the time-LOCAL version of q_corr's global
    * coefficient and the monitoring question behind it: did the
    * click→purchase coupling break this week, even if the all-time
    * correlation still looks fine? Days align on the observed day axis
    * (q_autocorr's convention); each day's x/y are conditional counts,
    * so a day with clicks but no purchases contributes (x, 0), not a
    * gap. Only FULL windows emit (row_number ≥ 14) and zero-variance
    * windows yield NULL by exact integer guards — no engine divides
    * by zero.
    *
    * Determinism: the window folds DECIMAL(38,0) moment sums of exact
    * integer counts; the one double division rounds to 6 dp.
    *
    * Scale: the corpus folds to |days| rows before any window; the
    * unpartitioned rolling window runs over that days-bounded frame
    * (the TimeSeriesQueries contract), never over raw events.
    */
  def qRollingCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val byDay = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("decimal(38,0)").as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("decimal(38,0)").as("y"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(-(RollingCorrDays - 1), Window.currentRow)
    val wRn = Window.orderBy(col("day").asc)
    val rolled = byDay
      .withColumn("rn", row_number().over(wRn))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .filter(col("rn") >= RollingCorrDays)
    rolled.select(
      col("day"), col("n").as("n_days"),
      when(
        col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("n") * col("syy") - col("sy") * col("sy") > 0,
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6) + lit(0.0)).as("roll_corr"))
      .orderBy(asc_nulls_first("day"))
  }

  /** Drawdown profile of each type's daily-value series: per day, the
    * running peak and the fractional drop from it — the
    * worst-case-regret view of a metric (how far below its historical
    * high is today?) that mean/band diagnostics (q_bollinger) don't
    * show. The max row of the drawdown column IS the max drawdown.
    *
    * Determinism: daily sums and the running peak are exact integer
    * cents (running MAX, unlike a running float sum, is
    * order-independent anyway); the drawdown fraction is the terminal
    * rounded division.
    *
    * Scale: the module invariant — the stream folds to |types|×|days|
    * rows before the window; the running-max frame is day-bounded and
    * partitioned by type.
    */
  def qDrawdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dailyCents = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
    val w = Window.partitionBy("event_type")
      .orderBy(asc_nulls_first("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = max(col("c")).over(w)
    dailyCents
      .select(col("event_type"), col("day"),
        (round(col("c").cast("double") / 100.0, 6) + lit(0.0))
          .as("day_value"),
        (round(peak.cast("double") / 100.0, 6) + lit(0.0)).as("peak_value"),
        when(peak > 0,
          round((peak - col("c")).cast("double") / peak.cast("double"), 6)
            + lit(0.0)).as("drawdown"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
  }

  /** 14-day relative strength index (simple-average form) of each
    * type's daily-value series: RSI = 100·ΣG/(ΣG+ΣL) over the
    * trailing 14 day-over-day moves — the classic momentum oscillator
    * (overbought ≳ 70, oversold ≲ 30), emitted once the window holds a
    * full 14 diffs.
    *
    * Frame semantics: the "14-day" window is a 14-ROW frame over days
    * that HAVE events (present-days-only, like qRollingMedian's 7-row
    * frame). On a series with gap days the oscillator spans more
    * calendar days than the name implies; the events fixture is dense
    * per type, and a calendar-exact variant would gap-fill the daily
    * grid (sequence + explode on the per-type min/max day span)
    * before the window — deliberately not done here to keep the fold
    * |types|×|active-days| rather than |types|×|calendar|.
    *
    * Determinism: diffs, gains and losses are exact integer cents; the
    * rolling sums are integer window sums; RSI is the terminal rounded
    * division (null when the window is flat — no gains, no losses).
    *
    * Scale: same |types|×|days| fold before any window; the lag and
    * the 14-row frame both ride ONE (type, day-ordered) window
    * exchange.
    */
  def qRsi(spark: SparkSession, sfDir: String): DataFrame = {
    val dailyCents = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
    val wLag = Window.partitionBy("event_type").orderBy(asc_nulls_first("day"))
    val w14 = wLag.rowsBetween(-13, 0)
    val g = sum(col("gain")).over(w14)
    val l = sum(col("loss")).over(w14)
    dailyCents
      .withColumn("diff", col("c") - lag(col("c"), 1).over(wLag))
      .withColumn("gain", when(col("diff") > 0, col("diff")).otherwise(lit(0L)))
      .withColumn("loss", when(col("diff") < 0, -col("diff")).otherwise(lit(0L)))
      .withColumn("n_diffs", count(col("diff")).over(w14))
      .select(col("event_type"), col("day"),
        g.as("gain_cents"), l.as("loss_cents"), col("n_diffs"),
        when(g + l > 0,
          round(g.cast("double") * 100.0 / (g + l).cast("double"), 6)
            + lit(0.0)).as("rsi14"))
      .filter(col("n_diffs") === 14)
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
  }

  /** Partial autocorrelation (lags 1–3) of each type's daily-count
    * series via Durbin–Levinson on q_autocorr's ACF values — the
    * AR-order picker: ACF says "correlated at lag k", PACF says
    * "correlated at lag k AFTER the shorter lags explain their share",
    * which is what decides how many AR terms a forecast needs.
    *
    * Determinism: the recursion runs on the 6-dp-ROUNDED acf values
    * q_autocorr already proves bit-identical across engines, so every
    * pacf is a fixed double expression of identical inputs; outputs
    * re-round. Degenerate unit-root inputs (1 − r² = 0) emit null.
    *
    * Scale: rides q_autocorr's |types|×|days| fold; the pivot and the
    * recursion run on |types| rows.
    */
  def qPacf(spark: SparkSession, sfDir: String): DataFrame = {
    val piv = qAutocorr(spark, sfDir)
      .groupBy("event_type")
      .agg(
        max(when(col("lag") === 1, col("autocorr"))).as("r1"),
        max(when(col("lag") === 2, col("autocorr"))).as("r2"),
        max(when(col("lag") === 3, col("autocorr"))).as("r3"))
    val den2 = lit(1.0) - col("r1") * col("r1")
    val p2 = (col("r2") - col("r1") * col("r1")) / den2
    val phi21 = col("r1") * (lit(1.0) - p2)
    val den3 = lit(1.0) - phi21 * col("r1") - p2 * col("r2")
    val p3 = (col("r3") - phi21 * col("r2") - p2 * col("r1")) / den3
    piv.select(col("event_type"),
        col("r1"), col("r2"), col("r3"),
        when(den2 =!= 0.0, round(p2, 6) + lit(0.0)).as("pacf2"),
        when(den2 =!= 0.0 && den3 =!= 0.0, round(p3, 6) + lit(0.0))
          .as("pacf3"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Seasonal-naive forecast backtest: predict each day's value with
    * the same weekday's value one week earlier and score the error —
    * MAE, RMSE and signed bias per type. The baseline every real
    * forecasting model must beat, and the cheapest drift alarm when
    * tracked over time.
    *
    * Determinism: errors are exact integer cent differences; MAE/bias
    * sums stay integer, the squared-error sum runs in decimal(38,0)
    * (q_gini's explicit-overflow convention); the three reported
    * scores are terminal rounded expressions.
    *
    * Scale: the module invariant — |types|×|days| fold, then ONE
    * (type, day) window for the lag-7 lookup and a map-combinable
    * fold to |types| rows.
    */
  def qForecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    val dailyCents = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
    val w = Window.partitionBy("event_type").orderBy(asc_nulls_first("day"))
    dailyCents
      .withColumn("pred", lag(col("c"), 7).over(w))
      .filter(col("pred").isNotNull)
      .select(col("event_type"), (col("c") - col("pred")).as("err"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days_eval"),
        sum(abs(col("err"))).as("sae"),
        sum(col("err")).as("se"),
        sum(col("err").cast("decimal(38,0)") * col("err")).as("sse"))
      .select(col("event_type"), col("n_days_eval"),
        (round(col("sae").cast("double") / col("n_days_eval") / 100.0, 6)
          + lit(0.0)).as("mae"),
        (round(sqrt(col("sse").cast("double") / col("n_days_eval")) / 100.0,
          6) + lit(0.0)).as("rmse"),
        (round(col("se").cast("double") / col("n_days_eval") / 100.0, 6)
          + lit(0.0)).as("bias"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Exact trailing-7-day rolling MEDIAN of each type's daily value —
    * the robust companion to q_bollinger's mean bands (one outlier day
    * drags a mean, not a median). Spark has no order-statistic window
    * function, so the frame is REIFIED by q_rolling_active's bounded
    * explode: each daily row contributes to its 7 target days, and a
    * rank window per (type, target day) picks the middle one-or-two
    * values exactly — an equi-join rewrite, never a range join.
    *
    * Determinism: q_median's doubled-middle selection on exact cents
    * within each reified frame; the frame membership is pure date
    * arithmetic.
    *
    * Frame semantics: trailing-7-CALENDAR-day membership (date
    * arithmetic), but a row only emits where n_window == 7 — on a
    * series with gap days those windows are skipped rather than
    * silently spanning more days (qRsi documents the contrasting
    * present-days-only row-frame choice).
    *
    * Scale: fan-out is exactly 7 APPLIED AFTER the |types|×|days|
    * fold, so the reified stream is 7× the daily grid, not the
    * corpus; one (type, day) window ranks each 7-row frame.
    */
  def qRollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val dailyCents = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
    val days = dailyCents.select(col("event_type"),
      col("day").as("target_day")).distinct()
    val reified = dailyCents
      .withColumn("off", explode(sequence(lit(0), lit(6))))
      .select(col("event_type"), col("c"), col("day"),
        date_add(col("day"), col("off")).as("target_day"))
      .join(days, Seq("event_type", "target_day"))
    val wRank = Window.partitionBy("event_type", "target_day")
      .orderBy(col("c").asc, col("day").asc)
    val wAll = Window.partitionBy("event_type", "target_day")
    reified
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("n DIV 2 + 1"))
      .groupBy(col("event_type"), col("target_day").as("day"))
      .agg(max(col("n")).as("n_window"),
        (round(avg(col("c")) / 100.0, 6) + lit(0.0)).as("rolling_median"))
      .filter(col("n_window") === 7)
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
  }

  /** Seasonality strength per type: the share of daily-count variance
    * the weekday profile explains (η² of a one-way ANOVA with weekday
    * groups — q_anova's exact algebra applied per type) — the single
    * number that says whether q_seasonal's profile is signal or noise,
    * and whether a forecaster should bother with weekly terms
    * (q_forecast_eval's lag-7 baseline only wins when this is high).
    *
    * Determinism: per-(type, weekday) power sums are exact integers
    * (counts); η² = SSB/SST is one terminal double expression per
    * type, the q_anova recipe.
    *
    * Scale: fold to |types|×7 cells, then |types| rows.
    */
  def qSeasonalStrength(spark: SparkSession, sfDir: String): DataFrame = {
    val g = daily(spark, sfDir)
      .select(col("event_type"),
        pmod(datediff(col("d"), lit("1970-01-01").cast("date")), lit(7))
          .cast("int").as("dow"),
        col("c"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_g"), sum(col("c")).as("s_g"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ss_g"))
    val parts = g.groupBy("event_type").agg(
      sum(col("n_g")).as("n"),
      sum(col("s_g")).as("s"),
      sum(col("ss_g")).as("ss"),
      sum(col("s_g").cast("double") * col("s_g").cast("double") /
        col("n_g").cast("double")).as("sb_raw"))
    val sst = col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")
    val ssb = col("sb_raw") -
      col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")
    parts.select(col("event_type"), col("n").cast("long").as("n_days"),
      when(sst > 0, round(ssb / sst, 6) + lit(0.0))
        .as("seasonal_strength"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Weekly rhythm heatmap: event volume per (weekday × hour) cell
    * with each cell's share of total traffic and a peak flag — the
    * 168-cell load profile capacity planning and anomaly baselining
    * read (q_seasonal gives the weekday marginal; this is the full
    * grid q_mutual_info scores but doesn't show).
    *
    * Determinism: weekday is epoch-days mod 7 (q_seasonal's
    * locale-free integer arithmetic, 0 = Thursday); counts exact;
    * share terminal; the peak flag compares exact integer counts with
    * a total tie-break.
    *
    * Scale: one fold to ≤168 cells (map-side combined); the peak
    * window runs on that grid.
    */
  def qWeeklyRhythm(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .groupBy(
        pmod(floor(unix_micros(col("ts")) / lit(86400000000L)), lit(7))
          .cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hod"))
      .agg(count(lit(1)).as("n_events"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wPeak = Window.orderBy(col("n_events").desc, col("dow").asc,
      col("hod").asc)
    cells
      .withColumn("total", sum(col("n_events")).over(wAll))
      .withColumn("peak_rank", row_number().over(wPeak))
      .select(col("dow"), col("hod"), col("n_events"),
        (round(col("n_events").cast("double") / col("total"), 6) + lit(0.0))
          .as("share"),
        (col("peak_rank") === 1).as("is_peak"))
      .orderBy(col("dow").asc, col("hod").asc)
  }

  /** Stream-freshness / liveness audit: per event type, the last event
    * time, hours stale relative to the corpus end, the final-24h
    * volume and its ratio to the type's daily average — the
    * is-this-feed-still-alive gate a pipeline owner reads before
    * trusting downstream aggregates.
    *
    * Determinism: the corpus end is an exact max carried as a declared
    * 1-row broadcast; staleness and ratios are terminal rounded
    * divisions of exact integer micros/counts.
    *
    * Scale: one map-combinable per-type fold (max, counts) plus the
    * 1-row corpus-end scalar — nothing data-sized past the first
    * exchange; the last-day count folds in the same pass via a
    * conditional sum against the broadcast cutoff.
    */
  def qFreshness(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), to_date(col("ts")).as("day"))
    val end = ev.agg(max(col("ts")).as("corpus_end"))
    val perType = ev.crossJoin(broadcast(end))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("day")).as("n_days"),
        max(col("ts")).as("last_ts"),
        sum(when(unix_micros(col("ts")) >
          unix_micros(col("corpus_end")) - lit(86400000000L), 1L)
          .otherwise(0L)).as("n_last_day"),
        max(col("corpus_end")).as("corpus_end"))
    perType.select(col("event_type"), col("n_events"), col("n_days"),
        col("last_ts"), col("n_last_day"),
        (round((unix_micros(col("corpus_end")) -
          unix_micros(col("last_ts"))).cast("double") / 3600000000.0, 6)
          + lit(0.0)).as("hours_stale"),
        (round(col("n_last_day").cast("double") /
          (col("n_events").cast("double") / col("n_days")), 6) + lit(0.0))
          .as("last_day_vs_avg"))
      .orderBy(asc_nulls_first("event_type"))
  }
}
