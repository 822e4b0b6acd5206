package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation — the "check the batch before
  * you publish it" step of an ingestion pipeline (the Deequ pattern):
  * a set of named constraints (uniqueness, completeness, range, domain,
  * format) all evaluated in ONE aggregation pass over the table, then
  * pivoted to a long-format report row per constraint.
  *
  * Scale shape: every constraint is an algebraic aggregate, so the
  * whole report is map-side-combinable partials collapsing to a single
  * row — no shuffle of the data at any corpus size (an exact
  * count-distinct check is itself a two-phase hash aggregate on its
  * key). The stack() pivot runs on that one row. Adding a constraint
  * adds a column to the aggregate, not a pass over the table.
  */
object ValidationQueries {

  /** Generic constraint report: each check is (name, aggregate column
    * counting the rows that SATISFY it). Returns one row per check:
    * (check_name, satisfied, total, ratio, passed), ordered by name.
    * PipelineEndToEndSpec uses this as the pre-publication gate.
    */
  def report(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    val aggs = checks.zipWithIndex.map { case ((_, c), i) => c.cast("long").as(s"c$i") }
    val a = df.agg(count(lit(1)).as("n"), aggs: _*)
    val stackArgs = checks.zipWithIndex
      .map { case ((name, _), i) => s"'$name', c$i" }.mkString(", ")
    a.select(
        expr(s"stack(${checks.size}, $stackArgs) as (check_name, satisfied)"),
        col("n").as("total"))
      .withColumn("ratio",
        round(col("satisfied").cast("double") / col("total"), 6) + lit(0.0))
      .withColumn("passed", col("satisfied") === col("total"))
      .orderBy(asc_nulls_first("check_name"))
  }

  /** Constraint report over `orders`: one row per check with the
    * satisfied/total counts, the satisfaction ratio, and the verdict.
    */
  def qDqReport(spark: SparkSession, sfDir: String): DataFrame =
    reportFrom(Tables.orders(spark, sfDir))

  /** The orders-table check set (specs inject violations through this). */
  def reportFrom(orders: DataFrame): DataFrame =
    report(orders, Seq(
      "orderkey_unique" -> count_distinct(col("o_orderkey")),
      "custkey_complete" -> count(col("o_custkey")),
      "totalprice_positive" -> sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)),
      "status_domain" ->
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)),
      "priority_format" ->
        sum(when(col("o_orderpriority").rlike("^[1-5]-"), 1L).otherwise(0L))))

  /** Corpus filter-chain observability: the stage-by-stage survivor
    * funnel a pretraining pipeline publishes next to its output —
    * all docs → length gate (≥10 tokens) → stopword gate (ratio ≤ 0.5,
    * compared as the integer cross-product 2·n_stop ≤ n_tok so no
    * float boundary exists) → lexical-diversity gate (type-token ratio
    * ≥ 0.3, again cross-multiplied 10·n_distinct ≥ 3·n_tok) →
    * canonical-dedup gate (doc is its text's min-doc_id
    * representative). Gates are CUMULATIVE (each ANDs the previous),
    * so n_pass is non-increasing and per-stage `dropped` attributes
    * loss to exactly one gate — the number a pipeline owner actually
    * debugs with.
    *
    * Scale: one scan computes every per-doc flag (narrow column
    * algebra); the dedup flag adds the single text-keyed window
    * exchange; the funnel collapses to one row of sums (map-side
    * combine) and unpivots to 5 rows driver-free via stack().
    */
  def qQualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextQueries.tokens(col("text"))
    val flagged = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_distinct"),
        size(filter(toks, t => t === "the" || t === "a")).as("n_stop"))
      .withColumn("min_doc",
        min(col("doc_id")).over(Window.partitionBy("text")))
      .select(
        when(col("n_tok") >= 10, 1L).otherwise(0L).as("p1"),
        when(col("n_tok") >= 10 &&
          col("n_stop") * 2 <= col("n_tok"), 1L).otherwise(0L).as("p2"),
        when(col("n_tok") >= 10 &&
          col("n_stop") * 2 <= col("n_tok") &&
          col("n_distinct") * 10 >= col("n_tok") * 3, 1L).otherwise(0L)
          .as("p3"),
        when(col("n_tok") >= 10 &&
          col("n_stop") * 2 <= col("n_tok") &&
          col("n_distinct") * 10 >= col("n_tok") * 3 &&
          col("min_doc") === col("doc_id"), 1L).otherwise(0L).as("p4"))
    flagged
      .agg(count(lit(1)).as("s0"), sum(col("p1")).as("s1"),
        sum(col("p2")).as("s2"), sum(col("p3")).as("s3"),
        sum(col("p4")).as("s4"))
      .select(expr(
        """stack(5,
          |  0, 'all_docs',        s0, CAST(NULL AS BIGINT),
          |  1, 'min_length',      s1, s0 - s1,
          |  2, 'stopword_ratio',  s2, s1 - s2,
          |  3, 'lexical_diversity', s3, s2 - s3,
          |  4, 'canonical_dedup', s4, s3 - s4)
          |  AS (stage_id, stage, n_pass, dropped)""".stripMargin),
        col("s0"))
      .select(col("stage_id"), col("stage"), col("n_pass"), col("dropped"),
        (round(col("n_pass").cast("double") / col("s0"), 6) + lit(0.0))
          .as("pass_rate"))
      .orderBy(asc_nulls_first("stage_id"))
  }

  /** k-anonymity audit over the customer quasi-identifiers
    * (mktsegment, nationkey, 1000-unit balance bucket): per segment,
    * how many QI cells exist, how many hold fewer than k=5 members,
    * and how many customers sit in those re-identifiable cells — the
    * privacy gate a dataset passes before its demographics ship. The
    * balance bucket floors an exact integer division, so cell
    * membership has no float boundary.
    *
    * Scale: one exchange to the QI grid (map-side combine), one tiny
    * per-segment rollup of the grid — grid cardinality is
    * |segments|·|nations|·|buckets|, schema-bounded, never data-sized.
    */
  def qKanon(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val grid = Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n"))
    grid.groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_exposed"),
        sum(col("n")).as("n_customers"))
      .select(col("c_mktsegment"), col("n_cells"), col("n_risky_cells"),
        col("n_exposed"), col("n_customers"),
        (round(col("n_exposed").cast("double") / col("n_customers"), 6)
          + lit(0.0)).as("exposure_rate"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** L-DIVERSITY audit — [[qKanon]]'s companion: k-anonymity asks "how
    * many people share this quasi-identifier cell?"; l-diversity asks
    * "once you know the cell, do you learn the SENSITIVE value anyway?".
    * Same QI grid (mktsegment, nationkey, 1000-unit balance bucket);
    * sensitive attribute = the order priority on the cell members'
    * orders. A cell whose orders all carry ONE priority (l = 1) leaks
    * that priority for every member even when it passes k-anonymity
    * (Machanavajjhala et al.'s homogeneity attack). Per segment: cell
    * count, cells with l < 3, customers exposed in them, the worst
    * cell's l, and the exposure rate. Customers with no orders have no
    * sensitive value to leak and drop out of the audit (inner join) —
    * the oracle says the same.
    *
    * Scale: ONE customer⋈orders equi-join on the natural shuffle key
    * custkey (both sides corpus-sized — no broadcast), the grid agg's
    * two exact distincts (priority, custkey) in one pass, then a
    * |segments| fold of the schema-bounded grid. All integers + one
    * rounded rate.
    */
  def qLdiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val l = 3
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
    val ords = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderpriority"))
    val cells = cust
      .join(ords, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
      .agg(countDistinct(col("o_orderpriority")).as("l"),
        countDistinct(col("c_custkey")).as("n_cust"))
    cells.groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("l") < l, 1L).otherwise(0L)).as("n_low_div_cells"),
        sum(when(col("l") < l, col("n_cust")).otherwise(0L)).as("n_exposed"),
        sum(col("n_cust")).as("n_customers"),
        min(col("l")).as("min_l"))
      .select(col("c_mktsegment"), col("n_cells"), col("n_low_div_cells"),
        col("n_exposed"), col("n_customers"), col("min_l"),
        (round(col("n_exposed").cast("double") / col("n_customers"), 6)
          + lit(0.0)).as("exposure_rate"))
      .orderBy(asc_nulls_first("c_mktsegment"))
  }

  /** Column profile — the DISCOVERY side of data quality (qDqReport is
    * the assertion side): per column of `orders`, null count, exact
    * distinct count, and completeness ratio, in long format. What a
    * pipeline runs on a NEW source before anyone writes constraints
    * for it.
    *
    * Scale shape: ONE aggregation pass — Spark plans the multi-column
    * exact count-distinct as a single Expand (each row fans out once
    * per column, tagged) feeding a two-phase hash aggregate, so the
    * table is scanned once no matter how many columns are profiled;
    * the stack() pivot to long format runs on the single result row.
    * All outputs are integers or one rounded ratio — no cross-engine
    * value-formatting surface.
    */
  def qProfile(spark: SparkSession, sfDir: String): DataFrame =
    profile(Tables.orders(spark, sfDir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))

  /** Generic long-format column profile of `cols` in one pass.
    *
    * 100 TB note: the exact multi-column count-distinct is planned as
    * ONE Expand — every input row fans out (cols+1)× before the
    * two-phase hash aggregate. One scan, but (cols+1)× the rows through
    * the partial agg: profiling 6 columns of a 100 TB table pushes
    * ~700 TB of row-traffic into the aggregation. That is the price of
    * EXACTNESS; it is the right default below ~1 TB and for
    * correctness gates. At corpus scale the alternative is
    * `approx_count_distinct` in place of the exact count (same report
    * shape, HLL sketches, no Expand — the exact→sketch trade
    * q_anomaly_mad documents for GK percentiles and sketch_distinct
    * makes for global distincts).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"nn$i"), count_distinct(col(c)).as(s"nd$i"))
    }
    val a = df.agg(count(lit(1)).as("n"), aggs: _*)
    val stackArgs = cols.zipWithIndex
      .map { case (c, i) => s"'$c', nn$i, nd$i" }.mkString(", ")
    a.select(
        expr(s"stack(${cols.size}, $stackArgs) as (column_name, n_present, n_distinct)"),
        col("n").as("n_rows"))
      .select(col("column_name"),
        (col("n_rows") - col("n_present")).as("n_nulls"),
        col("n_distinct"),
        (round(col("n_present").cast("double") / col("n_rows"), 6) + lit(0.0))
          .as("completeness"))
      .orderBy(asc_nulls_first("column_name"))
  }
}
