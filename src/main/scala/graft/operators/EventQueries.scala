package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing in batch form — tumbling, sliding, session
  * (gaps-and-islands), and latest-per-key dedup. Each query's streaming
  * twin runs the same plan under Structured Streaming (see
  * StreamingSmokeSpec); batch form is what the DuckDB oracle can check.
  *
  * Scale notes: `window()` is a codegen'd projection (no shuffle beyond
  * the following aggregation); session-ization uses per-user windows —
  * the shuffle key is user_id, so 100 TB of events sessionize with no
  * global sort. Timestamps are micros (Tables.events truncation), so gap
  * arithmetic is exact integer math on unix micros.
  */
object EventQueries {

  private val HourUs = 3600L * 1000000L

  /** Events per (1-hour tumbling window × event_type): count + exact
    * decimal sum of value.
    */
  def qStreamTumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(asc_nulls_first("window_start"), asc_nulls_first("event_type"))

  /** 1-hour windows sliding every 30 minutes — each event lands in
    * exactly two windows (the oracle reproduces this as a union of two
    * shifted 30-minute buckets).
    */
  def qStreamSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))
      .orderBy(asc_nulls_first("window_start"))

  /** Per-user sessions with a strict >30-minute inactivity gap,
    * gaps-and-islands style: flag session starts with lag(), number
    * sessions with a running sum, then aggregate each island. The same
    * algebra (same strict comparison, same tie-break) runs in DuckDB —
    * deliberately NOT Spark's native session_window, whose gap semantics
    * differ at exact-30-minute boundaries (>= vs >).
    */
  def qSessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    sessionWindows(Tables.events(spark, sfDir))

  /** DataFrame-core sessionization over any (user_id, ts, event_id)
    * frame.
    */
  def sessionWindows(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTime))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > HourUs / 2, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("session_id"))
  }

  /** Spark's NATIVE `session_window` operator over the same stream —
    * the built-in [[qSessionWindow]] deliberately avoids: an event
    * extends its session while it starts strictly INSIDE the previous
    * event's 30-minute horizon, so an exactly-30-minute gap starts a
    * NEW session (>= semantics where the gaps-and-islands form uses >).
    * Registered as its own query so both boundary conventions are
    * oracle-pinned; the reported end is the native window's exclusive
    * end (last event + gap), not the last event time.
    *
    * Determinism: the oracle reproduces the native semantics with the
    * >= island flag and max(ts)+30min end — pure integer microsecond
    * arithmetic.
    *
    * Scale: Catalyst plans one exchange on user_id and merges sessions
    * in a single sort-based pass — the same shape as the manual
    * window, with operator fusion handled by the engine.
    */
  def qSessionNative(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("duration_us"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("session_start"))

  /** Latest event per (user_id, event_type) — batch analogue of
    * streaming dropDuplicatesWithinWatermark, as a row_number()=1 window.
    */
  def qDedupLatest(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("event_type"))
  }

  /** Time-series resampling / densification: daily revenue per
    * event_type over a complete calendar grid — every (day, type) cell
    * appears even when no event landed there (gap-filled with zeros),
    * the shape downstream charting/forecasting expects. The calendar
    * derives from the data itself (min/max day, a 1-row aggregate
    * broadcast into a sequence() explode — no driver round-trip, no
    * hardcoded dates) and cross-joins the distinct types: both sides are
    * tiny dimension products, broadcast against the per-day aggregates.
    * Value math in exact integer cents.
    */
  def qResample(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
    val days = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val types = ev.select("event_type").distinct()
    val daily = ev.groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    days.crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("cents"), lit(0L)).cast("double") / 100.0).as("total_value"))
      .orderBy(asc_nulls_first("day"), asc_nulls_first("event_type"))
  }

  /** Bounded-lag EWMA weights α·decay^j for j = 0..EwmaLags−1,
    * materialized by repeated MULTIPLICATION (never pow(): libm pow
    * may differ between engines; a chain of IEEE * cannot) so the
    * generated oracle embeds bit-identical double literals.
    */
  val EwmaAlpha = 0.3
  val EwmaDecay = 0.7
  val EwmaLags = 8
  val EwmaWeights: IndexedSeq[Double] =
    (1 until EwmaLags).scanLeft(EwmaAlpha)((w, _) => w * EwmaDecay).toIndexedSeq

  /** Exponentially-weighted moving average of `value` per user — the
    * time-series smoothing a metrics/monitoring pipeline runs. True
    * EWMA is a recurrence (unexpressible without recursion in either
    * engine); this is the standard bounded-lag form: weights α·decay^j
    * over the last 8 observations, renormalized over the lags that
    * exist so the series start isn't biased toward zero. Weight decay
    * 0.7^8 ≈ 6% makes the truncation error < the 6dp rounding for this
    * α. The plan is ONE window (8 lag() reads resolve in a single
    * per-user sort, no self-joins); shuffle key is user_id, so 100 TB
    * of events smooth with bounded per-user state and no global sort.
    */
  def qEwma(spark: SparkSession, sfDir: String): DataFrame =
    ewmaFrom(Tables.events(spark, sfDir))

  /** DataFrame-core form over (user_id, event_id, ts, value). */
  def ewmaFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val num = EwmaWeights.zipWithIndex.map { case (wj, j) =>
      coalesce(lag(col("value"), j).over(w) * lit(wj), lit(0.0))
    }.reduce(_ + _)
    val den = EwmaWeights.zipWithIndex.map { case (wj, j) =>
      when(lag(col("value"), j).over(w).isNotNull, lit(wj)).otherwise(lit(0.0))
    }.reduce(_ + _)
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("ewma", round(num / den, 6) + lit(0.0))
      .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("event_id"))
  }

  /** Recency-decayed spend per user: Σ cents·2^(−age_weeks) — the
    * half-life-weighted LTV feature a ranking/training pipeline
    * derives from raw purchase logs. The weight is a POWER OF TWO, so
    * cents·2^(−k) is an exact exponent shift (no transcendental, no
    * cross-engine pow); each term is then rounded to integer
    * micro-cents BEFORE summation (q_lm_score's recipe) and the sum
    * runs in decimal(38,0) — order-independent and bit-identical
    * across engines. Age anchors to the corpus max day via a 1-row
    * broadcast (no driver round-trip); ages cap at 62 to keep the
    * shift in a long.
    *
    * Scale: scan → narrow projection → one user_id aggregate with
    * map-side combine; the anchor is the only non-data-sized input.
    */
  def qDecayedSum(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val anchor = ev.agg(max(col("day")).as("anchor"))
    ev.crossJoin(broadcast(anchor))
      // explicit floor: DuckDB CAST(DOUBLE AS INT) rounds-to-nearest
      // while Spark's cast truncates — floor() agrees everywhere
      .withColumn("age_w",
        least(floor(datediff(col("anchor"), col("day")) / 7).cast("int"),
          lit(62)))
      .withColumn("term_micro",
        round(col("cents").cast("double") * 1000000.0 /
          expr("shiftleft(CAST(1 AS BIGINT), age_w)").cast("double"), 0)
          .cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("term_micro").cast("decimal(38,0)")).as("micro"))
      .select(col("user_id"), col("n_purchases"),
        col("micro").cast("long").as("decayed_micro_cents"),
        (round(col("micro").cast("double") / 100000000.0, 6) + lit(0.0))
          .as("decayed_dollars"))
      .orderBy(asc_nulls_first("user_id"))
  }

  /** Type-2 slowly-changing-dimension history build: collapse each
    * user's event stream into versioned runs of `event_type` with
    * [valid_from, valid_to) intervals — the warehouse-dimension shape a
    * MERGE-based SCD pipeline maintains, derived here in one pass
    * (gaps-and-islands: lag() flags run starts, a running sum numbers
    * them, one aggregate collapses each run, lead() closes the
    * intervals).
    *
    * Scale: the change-flag and run-number windows share ONE shuffle on
    * user_id; the aggregate collapses events to runs BEFORE the final
    * lead() window, so the second (post-agg) exchange moves only the
    * collapsed dimension rows — at 100 TB of events the history table is
    * orders of magnitude smaller than the log, which is exactly the side
    * you want re-shuffled. No global sort; per-user state is bounded.
    */
  def qScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val runs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTime).isNull ||
          lag(col("event_type"), 1).over(byTime) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("version",
        sum(col("chg")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "version")
      .agg(
        min(col("event_type")).as("event_type"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy("user_id").orderBy(col("version").asc)
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"))
      .orderBy(asc_nulls_first("user_id"), asc_nulls_first("version"))
  }

  /** Time-weighted average of `value` per user — the TSDB/metrics
    * operator where each observation holds until the next one
    * (zero-order hold): twa = Σ value_i·(t_{i+1}−t_i) / (t_n−t_0).
    * Users with a single event (zero span) drop out. All weighting is
    * exact integer arithmetic — cents (long) × micros (long) summed in
    * decimal(38,0), so the sum is order-independent and the only
    * float op is the final division, making the result bit-identical
    * across engines and partitionings.
    *
    * Scale: one window (lead) and one aggregate, both keyed on user_id —
    * a single exchange; decimal(38,0) accumulation cannot overflow below
    * ~10^24 cent-micros per user (≫ any real stream).
    */
  def qTimeWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("next_us", lead(col("us"), 1).over(byTime))
      .withColumn("w_cents_us",
        when(col("next_us").isNotNull,
          round(col("value") * 100).cast("long").cast("decimal(38,0)") *
            (col("next_us") - col("us")))
          .otherwise(lit(0).cast("decimal(38,0)")))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        sum(col("w_cents_us")).as("wsum"))
      .filter(col("duration_us") > 0)
      .select(col("user_id"), col("n_events"), col("duration_us"),
        (round(col("wsum").cast("double") /
          (lit(100.0) * col("duration_us")), 6) + lit(0.0)).as("twa"))
      .orderBy(asc_nulls_first("user_id"))
  }

  /** Inter-arrival time distribution per event type — the queueing
    * profile (mean / exact-rank median / nearest-rank p90 gap in
    * seconds) that justifies q_session_window's gap threshold and
    * sizes streaming watermarks. Gaps are exact micro longs under the
    * (ts, event_id) total order; the mean FLOOR-divides in micros
    * (an odd Σµs over an even count is exactly the 6-dp half boundary
    * where engine rounding splits — floor is deterministic and the
    * result exact on the grid), and the rank picks divide a whole-µs
    * value by 1e6 — exact at 6 dp, no rounding anywhere.
    *
    * Scale: the gap window partitions by type only (5-way here) — at
    * 100 TB sub-partition by (type, day) with per-boundary stitching,
    * or take GK quantiles per q_anomaly_mad's note. Documented, not
    * hidden.
    */
  def qInterarrival(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val wOrd = Window.partitionBy("event_type")
      .orderBy(col("us").asc, col("event_id").asc)
    val gaps = ev
      .withColumn("prev", lag(col("us"), 1).over(wOrd))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), col("event_id"),
        (col("us") - col("prev")).as("gap_us"))
    val wRank = Window.partitionBy("event_type")
      .orderBy(col("gap_us").asc, col("event_id").asc)
    val wAll = Window.partitionBy("event_type")
    gaps
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("gap_us")).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("(9 * n + 9) DIV 10"))
      .groupBy("event_type")
      .agg(
        max(col("n")).as("n_gaps"),
        (floor(max(col("s")).cast("double") / max(col("n")))
          .cast("long").cast("double") / 1000000.0 + lit(0.0))
          .as("mean_gap_s"),
        (max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap_us")))
          .cast("double") / 1000000.0 + lit(0.0)).as("median_gap_s"),
        (max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("gap_us")))
          .cast("double") / 1000000.0 + lit(0.0)).as("p90_gap_s"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Weekly session-duration percentiles: per Monday-anchored week of
    * session start, the session count, exact nearest-rank p50/p90
    * durations and the mean events per session — the
    * capacity-planning / engagement trend read over the
    * [[sessionWindows]] islands the q_session_window contract defines
    * (30-min gap, boundary semantics and all).
    *
    * Determinism: sessions and durations are exact integers off the
    * shared gaps-and-islands algebra; percentile rows are picked by
    * row_number under a (duration, user, session) total order — the
    * q_interarrival recipe; the mean is a terminal rounded division.
    *
    * Scale: sessionization is the user-partitioned window pass;
    * sessions then fold to one rank window per WEEK partition
    * (bounded weeks, data-sized rows within each — at 100 TB swap the
    * exact rank for GK per q_anomaly_mad's note, same as
    * q_interarrival documents).
    */
  def qSessionPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val s = sessionWindows(Tables.events(spark, sfDir))
      .withColumn("week", date_trunc("week", col("session_start")))
    val wRank = Window.partitionBy("week")
      .orderBy(col("duration_us").asc, col("user_id").asc,
        col("session_id").asc)
    val wAll = Window.partitionBy("week")
    s.withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("se", sum(col("n_events")).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("(9 * n + 9) DIV 10"))
      .groupBy("week")
      .agg(
        max(col("n")).as("n_sessions"),
        (max(when(col("rn") === expr("(n + 1) DIV 2"), col("duration_us")))
          .cast("double") / 1000000.0 + lit(0.0)).as("p50_duration_s"),
        (max(when(col("rn") === expr("(9 * n + 9) DIV 10"),
          col("duration_us")))
          .cast("double") / 1000000.0 + lit(0.0)).as("p90_duration_s"),
        (round(max(col("se")).cast("double") / max(col("n")), 6)
          + lit(0.0)).as("avg_events"))
      .orderBy(asc_nulls_first("week"))
  }

  /** The GK production swap of q_session_percentiles, as CODE rather
    * than a "swap at 100 TB" comment: same weekly session-duration
    * report, but the per-week p50/p90 come from percentile_approx —
    * Spark's Greenwald-Khanna mergeable quantile summary (built per
    * partition, merged associatively, O(accuracy·log n) space) —
    * instead of the exact nearest-rank window. The exact form
    * materializes rank/count windows over EVERY session row per week
    * (a full-column shuffle + sort); this form folds each partition
    * into a few-KB sketch and merges, the plan that survives a 100 TB
    * week. Accuracy=100 keeps the rank-error regime REAL at fixture
    * scale (bound n/100, exercised, not vacuously exact) while
    * ScalarEventSpec bounds every reported value against the exact order
    * statistics; production would raise it (10⁴ ⇒ rank error n/10⁴).
    *
    * NOT oracle-checked: DuckDB's approx_quantile is a t-digest — a
    * different sketch with different answers (the sketch_percentiles
    * precedent); the spec rank-error gate is the verification, the
    * driver records rows>0.
    */
  val GkAccuracy = 100
  def qSessionPercentilesGk(spark: SparkSession, sfDir: String): DataFrame =
    sessionWindows(Tables.events(spark, sfDir))
      .withColumn("week", date_trunc("week", col("session_start")))
      .groupBy("week")
      .agg(
        count(lit(1)).as("n_sessions"),
        percentile_approx(col("duration_us"),
          array(lit(0.5), lit(0.9)), lit(GkAccuracy)).as("ps"),
        sum(col("n_events")).as("se"))
      .select(
        col("week"), col("n_sessions"),
        (element_at(col("ps"), 1).cast("double") / 1000000.0 + lit(0.0))
          .as("p50_duration_s"),
        (element_at(col("ps"), 2).cast("double") / 1000000.0 + lit(0.0))
          .as("p90_duration_s"),
        (round(col("se").cast("double") / col("n_sessions"), 6) + lit(0.0))
          .as("avg_events"))
      .orderBy(asc_nulls_first("week"))

  /** Weekly bounce rate: share of sessions with exactly one event —
    * the engagement-quality headline next to q_session_percentiles'
    * duration trend, over the SAME 30-min-gap sessionization (so the
    * two reports reconcile session-for-session).
    *
    * Determinism: integer session counts; the rate is the terminal
    * rounded division.
    *
    * Scale: the shared user-window sessionize pass, then a
    * map-combinable fold to |weeks| rows.
    */
  def qBounceRate(spark: SparkSession, sfDir: String): DataFrame =
    sessionWindows(Tables.events(spark, sfDir))
      .withColumn("week", date_trunc("week", col("session_start")))
      .groupBy("week")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("week"), col("n_sessions"), col("n_bounces"),
        (round(col("n_bounces").cast("double") / col("n_sessions"), 6)
          + lit(0.0)).as("bounce_rate"))
      .orderBy(asc_nulls_first("week"))
}
