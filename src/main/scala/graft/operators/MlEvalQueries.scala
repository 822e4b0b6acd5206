package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation and dataset-curation operators a training pipeline
  * runs AFTER the corpus ops (dedup/quality/split) and BEFORE or AFTER
  * training: label-balance accounting, per-feature variance screening,
  * leakage-safe grouped splits, a kNN confusion matrix, cumulative
  * corpus growth, and robust IQR outlier fences. The reference has no
  * analytics surface (its one aggregation shape is `reducef` over
  * sorted keys, /root/reference/mr/worker.go:173-207); these extend the
  * engine along the north-star LLM-pipeline axis.
  *
  * Determinism contract (same as the rest of the inventory): exact
  * integer/long arithmetic wherever sums cross rows (quantized 1e-6
  * grid for float features — long sums are partitioning-independent),
  * 6-dp rounding + `+ 0.0` IEEE −0.0 normalization on every emitted
  * double, full ORDER BY.
  */
object MlEvalQueries {

  /** Class-balance report over the labeled embedding set: per-label
    * count, corpus fraction, and the inverse-frequency reweighting
    * factor n_total / (k · n_label) — the standard "balanced" class
    * weight handed to a loss function. The majority-class flag makes
    * the baseline-accuracy row self-evident.
    *
    * Scale: one map-combinable count per label (k rows out of n), a
    * 1-row global count joined back by broadcast. Nothing here grows
    * with the corpus except the single pass.
    */
  def qClassBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val perLabel = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
    val totals = perLabel.agg(
      sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("k_labels"),
      max(col("n_vecs")).as("max_n"))
    perLabel.join(broadcast(totals))
      .select(col("label"), col("n_vecs"),
        (round(col("n_vecs").cast("double") / col("n_total"), 6) + lit(0.0))
          .as("frac"),
        (round(col("n_total").cast("double") /
          (col("k_labels") * col("n_vecs")).cast("double"), 6) + lit(0.0))
          .as("class_weight"),
        (col("n_vecs") === col("max_n")).as("is_majority"))
      .orderBy(asc_nulls_first("label"))
  }

  /** Per-dimension feature screening over the embedding matrix: mean
    * and (population) variance of every dimension — the first look a
    * feature pipeline takes before whitening/PCA (dead dims have ~0
    * variance; un-centered dims skew quantizers).
    *
    * Determinism: each float quantizes to the exact 1e-6 integer grid
    * BEFORE summing, so Σq and Σq² are exact longs (order-independent
    * across partitions); mean and variance then derive from those two
    * longs with the identical double expression in both engines.
    * Bounds: |v| ≤ 1 ⇒ q² ≤ 1e12; Σq² stays under 2^63 up to ~9.2M
    * vectors — past that, widen the accumulators to DECIMAL(38,0)
    * (same pattern as q_gini's rank-weighted sum).
    *
    * Scale: posexplode is a narrow ×64 fan-out; the one shuffle groups
    * 64 cells with map-side partial aggregation — at 100 TB the reduce
    * side sees 64 rows per partition, nothing else.
    */
  def qEmbedVar(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"),
        round(col("v").cast("double") * 1000000, 0).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q")).as("s"), sum(col("q") * col("q")).as("ss"))
      .select(col("dim"), col("n_vecs"),
        (round(col("s").cast("double") /
          (col("n_vecs").cast("double") * lit(1e6)), 6) + lit(0.0)).as("mean"),
        (round(
          col("ss").cast("double") / (col("n_vecs").cast("double") * lit(1e12))
            - (col("s").cast("double") / (col("n_vecs").cast("double") * lit(1e6)))
            * (col("s").cast("double") / (col("n_vecs").cast("double") * lit(1e6))),
          6) + lit(0.0)).as("variance"))
      .orderBy(asc_nulls_first("dim"))

  /** GROUP-aware train/val/test split: the whole `source` moves as a
    * unit (hash of the source, not the doc), so near-identical docs
    * from one crawl/site can never straddle the train/test boundary —
    * the leakage mode a per-doc split (q_split_train) cannot prevent.
    * Same seed-free md5 keying as every sampling op, so membership is
    * reproducible across runs, engines, and retries.
    *
    * Scale: the split key is a scalar expression on a column the row
    * already carries — zero extra shuffles beyond the report's own
    * aggregation; the distinct-source count rides the same exchange.
    */
  def qSplitGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val b = (conv(substring(md5(concat(lit("gsplit:"), col("source"))), 1, 4),
      16, 10).cast("long") % 100).as("b")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"), b)
      .select(
        when(col("b") < 80, "train").when(col("b") < 90, "val")
          .otherwise("test").as("split"),
        col("source"), col("doc_id"), col("n_chars"))
      .groupBy("split")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("source")).as("min_source"))
      .orderBy(asc_nulls_first("split"))
  }

  /** kNN confusion matrix over the labeled embeddings: every probe
    * (vec_id % 100 = 0) is classified by the majority label of its 5
    * exact nearest neighbors, and the (true, predicted) grid with
    * row-normalized rates is the standard end-of-pipeline quality
    * report for a weak-labeling run. Builds on the proven blocked
    * grid top-k (SimilarityQueries.blockedTopKFrom — no probe
    * broadcast, no n² task); everything after the top-k moves
    * k·|probes| rows at most.
    */
  def qKnnConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val wTrue = Window.partitionBy("true_label")
    knnPredictions(spark, sfDir)
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_probes"))
      .withColumn("rate",
        round(col("n_probes").cast("double") /
          sum(col("n_probes")).over(wTrue), 6) + lit(0.0))
      .orderBy(asc_nulls_first("true_label"), asc_nulls_first("pred_label"))
  }

  /** The kNN(5) retrieval every labeled-embedding metric reads: the
    * blocked grid top-k of every `probeModulus`-th vector, and the
    * (vec_id, label) lookup its rows join back to.
    */
  private def labeledTopK(spark: SparkSession, sfDir: String,
      probeModulus: Int = 100): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), SimilarityQueries.asDoubles(col("embedding")).as("vec"))
      .repartition(spark.sparkContext.defaultParallelism)
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    (SimilarityQueries.blockedTopKFrom(emb, k = 5, probeModulus = probeModulus),
      labels)
  }

  /** (probe_id, pred_label, votes, true_label) for every probe — the
    * shared kNN(5) majority-vote labeling qKnnConfusion, qPrf, and
    * qCalibration all read; `votes` (1..5) is the winning label's
    * neighbor count, the labeler's native confidence signal.
    */
  private def knnPredictions(spark: SparkSession, sfDir: String): DataFrame = {
    val (nn, labels) = labeledTopK(spark, sfDir)
    val votes = nn.join(labels, Seq("vec_id"))
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("probe_id"), col("label").as("pred_label"), col("votes"))
      .join(labels.select(col("vec_id").as("probe_id"),
        col("label").as("true_label")), Seq("probe_id"))
  }

  /** Calibration curve of the kNN weak labeler: its native confidence
    * is the winning vote count (1..5 of 5 neighbors); per vote bucket,
    * how often is the prediction actually right? A well-calibrated
    * labeler has accuracy ≈ votes/5 — the gap is what a curation run
    * reads before setting an accept threshold on propagated labels.
    * All counts exact; the two ratios are the only floats.
    */
  def qCalibration(spark: SparkSession, sfDir: String): DataFrame =
    knnPredictions(spark, sfDir)
      .groupBy(col("votes"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("votes"),
        (round(col("votes").cast("double") / 5, 6) + lit(0.0))
          .as("confidence"),
        col("n_probes"), col("n_correct"),
        (round(col("n_correct").cast("double") / col("n_probes"), 6)
          + lit(0.0)).as("accuracy"))
      .orderBy(asc_nulls_first("votes"))

  /** Per-dimension robust clip range of the embedding matrix: exact
    * type-1 p05/p95 (the value at rank ⌈p·n⌉ under the (v, vec_id)
    * total order — q_outlier_iqr's recipe) and their spread. The
    * calibration table an int8 quantizer (QuantizedKnn's scale path)
    * reads to set per-dim clip bounds that ignore the outlier tails
    * q_embed_var's variance is blind to.
    *
    * Scale: the rank window partitions by dim (64-way) over the same
    * posexplode q_embed_var uses; at 100 TB swap exact ranks for GK
    * per q_anomaly_mad's documented note.
    */
  def qEmbedQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val expl = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"), col("vec_id"),
        col("v").cast("double").as("v"))
    val w = Window.partitionBy("dim")
      .orderBy(col("v").asc, col("vec_id").asc)
    expl
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("dim")))
      .filter(col("rn") === ceil(col("n") * 0.05) ||
        col("rn") === ceil(col("n") * 0.95))
      .groupBy("dim")
      .agg(max(col("n")).as("n_vecs"),
        (round(min(col("v")), 6) + lit(0.0)).as("p05"),
        (round(max(col("v")), 6) + lit(0.0)).as("p95"))
      .withColumn("clip_range",
        round(col("p95") - col("p05"), 6) + lit(0.0))
      .orderBy(asc_nulls_first("dim"))
  }

  /** Per-class precision / recall / F1 of the kNN weak labeler — the
    * table a curation run reads before trusting propagated labels.
    * Everything derives from exact integer counts: precision = tp/pred,
    * recall = tp/true, and F1 uses the algebraic identity
    * 2·tp/(pred+true) (= harmonic mean) so no float sum ever feeds a
    * denominator; classes predicted never or seen never surface with
    * zero rows, not dropped (full outer join over the label axis).
    */
  def qPrf(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: three consumers (byTrue, byPred, tp); AQE stage reuse
    // does not dedupe the kNN subtree across the full-outer join's
    // branches (the before-plan shows the blocked top-k tripled)
    val pred = knnPredictions(spark, sfDir).localCheckpoint()
    val byTrue = pred.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_true"))
    val byPred = pred.groupBy(col("pred_label").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = pred.filter(col("pred_label") === col("true_label"))
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("tp"))
    byTrue.join(byPred, Seq("label"), "full")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        (when(col("n_pred") === 0, 0.0).otherwise(
          round(col("tp").cast("double") / col("n_pred"), 6)) + lit(0.0))
          .as("precision"),
        (when(col("n_true") === 0, 0.0).otherwise(
          round(col("tp").cast("double") / col("n_true"), 6)) + lit(0.0))
          .as("recall"),
        (round(col("tp").cast("double") * 2 /
          (col("n_pred") + col("n_true")), 6) + lit(0.0)).as("f1"))
      .orderBy(asc_nulls_first("label"))
  }

  /** Mean reciprocal rank of the kNN retrieval per class: at what
    * depth does the first same-label neighbor appear in each probe's
    * top-5? The retrieval-side quality metric next to qPrf's
    * classification metrics (a labeler can vote right while ranking
    * the evidence low — MRR sees that, accuracy can't). Misses score
    * 0, not dropped.
    *
    * Determinism: 1/rank for rank ∈ 1..5 is EXACT in sixtieths
    * (60/rank is an integer), so reciprocal ranks sum as longs —
    * partitioning-independent — and one rounded division by 60·n ends
    * it.
    */
  def qMrr(spark: SparkSession, sfDir: String): DataFrame = {
    val (nn, labels) = labeledTopK(spark, sfDir)
    val firstHit = nn
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("probe_id"),
        col("label").as("true_label")), Seq("probe_id"))
      .filter(col("label") === col("true_label"))
      .groupBy("probe_id")
      .agg(min(col("rank")).as("first_hit"))
    labels.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("label"))
      .join(firstHit, Seq("probe_id"), "left")
      .select(col("label"),
        coalesce((lit(60) / col("first_hit")).cast("long"), lit(0L))
          .as("rr60"),
        when(col("first_hit").isNotNull, 1L).otherwise(0L).as("hit"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_probes"),
        sum(col("hit")).as("n_hit"),
        (round(sum(col("rr60")).cast("double") /
          (count(lit(1)) * 60).cast("double"), 6) + lit(0.0)).as("mrr"))
      .orderBy(asc_nulls_first("label"))
  }

  /** Cumulative distinct users by day — corpus/audience growth, the
    * curve every dashboard opens with. Naive cumulative COUNT(DISTINCT)
    * re-scans history per day; this is the linear form: a user counts
    * on exactly their FIRST day (one groupBy(user) min), daily new-user
    * counts then cumulative-sum over the (tiny) day axis.
    *
    * Scale: one shuffle on user_id (map-combinable min), one on day;
    * the running-sum window orders the |days| rows — hundreds, not
    * data-sized — so the unpartitioned frame is safe by construction.
    */
  def qCumDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val firstDay = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min(col("day")).as("first_day"))
    val w = Window.orderBy(asc_nulls_first("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum(col("n_new_users")).over(w))
      .orderBy(asc_nulls_first("day"))
  }

  /** Robust outlier fences per event type — Tukey's rule: values
    * outside [q1 − 1.5·IQR, q3 + 1.5·IQR]. Quartiles are EXACT
    * (type-1: the value at rank ⌈p·n⌉ under the total order
    * (value, event_id)), so both engines pick the identical element —
    * no interpolation, no approx-percentile drift. The third classic
    * anomaly detector next to q_anomaly (z-score) and q_anomaly_mad
    * (MAD); IQR is the one that survives fat tails AND a 50%-corrupt
    * mean.
    *
    * Scale: one rank window per event_type (the same exchange the
    * final agg needs anyway) + a broadcast of the |types| fence rows
    * back over the stream. At 100 TB swap the exact rank for the GK
    * sketch (approx_percentile) exactly as q_anomaly_mad documents.
    */
  def qOutlierIqr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    val ranked = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val quart = ranked
      .filter(col("rn") === ceil(col("n") * 0.25) ||
        col("rn") === ceil(col("n") * 0.75))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(col("value")).as("q1"), max(col("value")).as("q3"))
      .withColumn("lo_fence", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * 1.5)
    ev.join(broadcast(quart), Seq("event_type"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_events"),
        (round(max(col("q1")), 6) + lit(0.0)).as("q1"),
        (round(max(col("q3")), 6) + lit(0.0)).as("q3"),
        (round(max(col("lo_fence")), 6) + lit(0.0)).as("lo_fence"),
        (round(max(col("hi_fence")), 6) + lit(0.0)).as("hi_fence"),
        sum(when(col("value") < col("lo_fence") ||
          col("value") > col("hi_fence"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(asc_nulls_first("event_type"))
  }

  /** Degree distribution of the co-purchase graph (same edge set as
    * q_pagerank / q_triangles: parts co-occurring in ≥ 2 orders) —
    * the one-shot structural fingerprint (power-law vs flat) that
    * decides whether skew handling is needed before any per-node
    * graph work.
    *
    * Scale: degrees are one map-combinable agg over the symmetrized
    * edge list; the histogram is a second agg over |nodes| rows. No
    * joins at all past the shared pair-generation.
    */
  def qDegreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val und = AnalyticsQueries.copurchaseEdges(spark, sfDir)
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(asc_nulls_first("degree"))
  }

  /** Power-iteration rounds of q_pca_power — the oracle unrolls the
    * SAME constant.
    */
  val PcaPowerIters = 10

  /** Top principal component of the embedding matrix by power
    * iteration on the (scaled) covariance: the dominant direction of
    * variance, the first thing a whitening / dimensionality-reduction
    * pipeline extracts after qEmbedVar's per-dim screening (variance
    * says WHICH dims move; the eigenvector says HOW they move
    * together). Sign fixed so the largest-|loading| dimension is
    * positive — eigenvectors are sign-ambiguous, oracles are not.
    * The contract is the [[PcaPowerIters]]-round power iterate: it
    * converges to the top eigenvector at rate (λ₂/λ₁)^k, so on a
    * spectrum with a real gap 10 rounds suffice, while on a
    * near-isotropic matrix the iterate is still a deterministic,
    * well-defined direction (MlEvalSpec checks it against a
    * double-precision reference at the same depth).
    *
    * All integer: values quantize to the 1e-6 grid, the covariance
    * uses the centering identity n·Σq_aq_b − Σq_a·Σq_b (no float mean
    * ever subtracted; DECIMAL(38,0) throughout), and each iteration
    * renormalizes by L∞ (x ← w·10⁶ div max|w|) — Spark's `div` and
    * DuckDB's `//` both truncate toward zero, so 10 compounding
    * rounds are bit-identical and the loadings are hash-checked
    * exactly. L2 normalization would need a sqrt — irrational, so L∞
    * is the determinism-preserving choice; the direction is the same.
    *
    * Scale: the data-sized work is ONE self-join fan-out bounded by
    * dim² per vector (64² = 4096 — schema-bounded, not data-bounded)
    * folding to a 4096-row covariance matrix with map-side partial
    * sums; all 10 rounds then run on 64-row frames. The vector count
    * enters as one driver scalar (the IvfKnn precedent).
    */
  def qPcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = 1000000L
    // Per-vector quantized array once (map-only), then the dim² outer
    // product by TWO STACKED GENERATES — each vector fans out to its
    // 64·64 (a, qa, b, qb) cells in place, with map-side partial
    // aggregation folding them to 4096 cells per task. The previous
    // form exploded to (vec_id, dim, q) rows and SELF-JOINED on vec_id:
    // same n·dim² product rows, plus two exchanges + an eager
    // checkpoint this shape never pays (guide §2.4 — remove shuffles
    // outright). Same long products, same decimal sums → same bits.
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"),
          v => round(v.cast("double") * 1000000, 0).cast("long")).as("qv"))
    val s1 = q.select(posexplode(col("qv")).as(Seq("pos", "qa")))
      .groupBy((col("pos") + 1).as("dim"))
      .agg(sum(col("qa").cast("decimal(38,0)")).as("s"))
    val nTotal = Tables.embeddings(spark, sfDir).count()
    val sab = q
      .select(posexplode(col("qv")).as(Seq("pa", "qa")), col("qv"))
      .select((col("pa") + 1).as("a"), col("qa"),
        posexplode(col("qv")).as(Seq("pb", "qb")))
      .groupBy(col("a"), (col("pb") + 1).as("b"))
      .agg(sum((col("qa") * col("qb")).cast("decimal(38,0)")).as("sab"))
    val cov = sab
      .join(broadcast(s1.select(col("dim").as("a"), col("s").as("s_a"))),
        Seq("a"))
      .join(broadcast(s1.select(col("dim").as("b"), col("s").as("s_b"))),
        Seq("b"))
      .select(col("a"), col("b"),
        (lit(nTotal) * col("sab") - col("s_a") * col("s_b"))
          .cast("decimal(38,0)").as("c"))
    // The 10 power-iteration rounds run on the DRIVER over the collected
    // dim² = 4096-row covariance — a fixed-size model, never corpus
    // data, exactly the kMeans/initModel precedent (and MLlib's own
    // RowMatrix collects the Gramian before its local eigensolve). The
    // distributed form spent ~30 tiny Spark jobs (3 per round: fold,
    // max-abs, renormalize) on 64-row frames; BigInt replays Spark's
    // integer ops bit-exactly ((c·x) products, truncating div — BigInt
    // `/` rounds toward zero like IntegralDivide), so the emitted
    // loadings are unchanged (oracle hash-checked). Measured 4.09 →
    // ~1.9 s at sf0.1.
    val covRows = cov.collect().map { r =>
      (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger)) }
    var x = Array.fill(65)(BigInt(scale)) // index 1..64
    for (_ <- 1 to PcaPowerIters) {
      val w = Array.fill(65)(BigInt(0))
      covRows.foreach { case (a, b, c) => w(a) += c * x(b) }
      val m = (1 to 64).map(d => w(d).abs).max
      x = Array.tabulate(65)(d => if (d == 0) BigInt(0) else (w(d) * scale) / m)
    }
    val best = (1 to 64).minBy(d => (-x(d).abs, BigInt(d)))
    val sgn = if (x(best) < 0) -1L else 1L
    import spark.implicits._
    (1 to 64).map(d => (d, (x(d) * sgn).toLong))
      .toDF("dim", "loading_fp")
      .select(col("dim"), col("loading_fp"),
        (round(col("loading_fp").cast("double") / scale, 6) + lit(0.0))
          .as("loading"))
      .orderBy(asc_nulls_first("dim"))
  }

  /** Probe stride for the ranking-metric queries (qAuc, qNdcg): every
    * 10th vector probes, denser than the classification family's 100
    * so each one-vs-rest class keeps enough positives for a stable
    * rank statistic. The oracle uses the same constant.
    */
  val RankProbeModulus = 10

  /** One-vs-rest ROC AUC of the kNN soft scorer per class, via the
    * Mann–Whitney rank identity: AUC = P(score⁺ > score⁻) +
    * ½P(score⁺ = score⁻). The score for class L is the number of the
    * probe's 5 nearest neighbors labeled L (0..5) — the same native
    * confidence qCalibration buckets, now evaluated as a RANKER
    * rather than a thresholded labeler. The metric a curation run
    * reads to pick per-class acceptance thresholds.
    *
    * Determinism: midrank ties are handled in INTEGERS — for each
    * scored probe, 2·(average rank) = 2·rank_min + ties − 1 exactly,
    * so the positive-rank sum is an exact long and
    * AUC = (Σ2r̄⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is one rounded division.
    * The probe×class score grid (zeros included — a missing vote IS
    * a score of 0) comes from crossing probes with the distinct label
    * set, so absent classes can't silently drop rows.
    *
    * Scale: the heavy part is the blocked top-k (no new surface);
    * the grid is |probes|·|classes| rows — classes are a handful, so
    * this is probe-linear. Rank windows partition by class.
    */
  def qAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val (nn, labels) = labeledTopK(spark, sfDir, RankProbeModulus)
    val votes = nn.join(labels, Seq("vec_id"))
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val probes = labels.filter(col("vec_id") % RankProbeModulus === 0)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"))
    val classes = labels.select("label").distinct()
    val grid = probes.crossJoin(broadcast(classes))
      .join(votes, Seq("probe_id", "label"), "left")
      .select(col("label"), col("true_label"),
        coalesce(col("votes"), lit(0L)).as("score"))
    val wRank = Window.partitionBy("label").orderBy(col("score").asc)
    val wTies = Window.partitionBy("label", "score")
    val ranked = grid
      .withColumn("rank_min", rank().over(wRank))
      .withColumn("ties", count(lit(1)).over(wTies))
    ranked.groupBy("label")
      .agg(
        sum(when(col("true_label") === col("label"), 1L).otherwise(0L))
          .as("n_pos"),
        sum(when(col("true_label") =!= col("label"), 1L).otherwise(0L))
          .as("n_neg"),
        sum(when(col("true_label") === col("label"),
          col("rank_min") * 2 + col("ties") - 1).otherwise(0L))
          .as("ranksum2"))
      .select(col("label"), col("n_pos"), col("n_neg"),
        (when(col("n_pos") === 0 || col("n_neg") === 0, 0.0).otherwise(
          round((col("ranksum2") - col("n_pos") * (col("n_pos") + 1))
            .cast("double") /
            (lit(2) * col("n_pos") * col("n_neg")).cast("double"), 6))
          + lit(0.0)).as("auc"))
      .orderBy(asc_nulls_first("label"))
  }

  /** NDCG@5 of the kNN retrieval per class: DCG with binary relevance
    * (neighbor shares the probe's label) over the retrieved ranking,
    * normalized by the ideal ordering OF THE SAME RETRIEVED SET
    * (relevant items promoted to the top) — the graded companion to
    * qMrr's first-hit-only view; NDCG sees ALL the relevant
    * neighbors and where they sit.
    *
    * Determinism: each rank's discount 1/log2(rank+1) is quantized to
    * the 1e-6 grid BEFORE any cross-row sum (the qEmbedVar move), so
    * per-probe DCG and IDCG are exact longs; the ideal ranking is a
    * row_number over (relevance desc, rank asc) — a total order. The
    * per-probe ndcg is one rounded division, re-quantized to micro
    * units so the per-class mean is again an exact-integer sum.
    *
    * Scale: probe-linear on top of the blocked top-k, two narrow
    * windows over ≤k rows per probe.
    */
  def qNdcg(spark: SparkSession, sfDir: String): DataFrame = {
    val (nn, labels) = labeledTopK(spark, sfDir, RankProbeModulus)
    val rel = nn.join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("probe_id"),
        col("label").as("true_label")), Seq("probe_id"))
      .select(col("probe_id"), col("true_label"), col("rank"),
        when(col("label") === col("true_label"), 1L).otherwise(0L).as("rel"))
    val wIdeal = Window.partitionBy("probe_id")
      .orderBy(col("rel").desc, col("rank").asc)
    val discounted = rel
      .withColumn("irank", row_number().over(wIdeal))
      .select(col("probe_id"), col("true_label"),
        (col("rel").cast("double") *
          round(lit(1.0) / log2(col("rank") + 1) * 1e6, 0)).cast("long")
          .as("dcg_u"),
        (col("rel").cast("double") *
          round(lit(1.0) / log2(col("irank") + 1) * 1e6, 0)).cast("long")
          .as("idcg_u"))
    val perProbe = discounted.groupBy("probe_id", "true_label")
      .agg(sum(col("dcg_u")).as("dcg_u"), sum(col("idcg_u")).as("idcg_u"))
      .select(col("true_label").as("label"),
        when(col("idcg_u") === 0, 0L).otherwise(
          round(col("dcg_u").cast("double") / col("idcg_u") * 1e6, 0)
            .cast("long")).as("ndcg_u"))
    perProbe.groupBy("label")
      .agg(count(lit(1)).as("n_probes"), sum(col("ndcg_u")).as("s"))
      .select(col("label"), col("n_probes"),
        (round(col("s").cast("double") /
          (col("n_probes").cast("double") * 1e6), 6) + lit(0.0))
          .as("mean_ndcg"))
      .orderBy(asc_nulls_first("label"))
  }

  /** Multinomial Naive Bayes language classifier, trained and evaluated
    * inside the engine: add-one-smoothed token likelihoods fit on the
    * md5 'train' split (q_split_train's exact bucketing), argmax
    * posterior on the held-out 'test' split, emitted as the confusion
    * matrix — the classical generative baseline next to the kNN
    * discriminative one (q_knn_classify / q_knn_confusion).
    *
    * Determinism: every additive term is ROUNDED TO INTEGER MICRO-NATS
    * before summation (q_lm_score's move): score(d, c) =
    * round(1e6·ln(P(c))) + Σ_t round(1e6·ln(cnt_tc + 1)) −
    * n_d·round(1e6·ln(tot_c + V)) — the Σ ln((cnt+1)/(tot_c+V))
    * posterior with the shared denominator factored out so unseen
    * (token, class) pairs contribute EXACTLY round(1e6·ln 1) = 0 and
    * the sparse model join needs no null handling. OOV test tokens
    * (absent from the train vocabulary) are dropped — the standard NB
    * convention, applied identically by the oracle's semi-join. The
    * per-doc argmax ties break on the smaller class label.
    *
    * Scale: the model is (vocab × k) — vocabulary-bounded, not
    * corpus-bounded; scoring is ONE token-stream equi-join on the
    * token (the tfidf shape) plus a k-row class broadcast; the argmax
    * window partitions by doc over k rows each. V, doc totals, and
    * priors enter as declared 1-row/k-row aggregate broadcasts — no
    * driver action anywhere.
    */
  def qNaiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("b",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
          1, 4), 16, 10).cast("long") % 100)
    val train = docs.filter(col("b") < 80)
    val test = docs.filter(col("b") >= 90)
    val trainToks = train
      .select(col("lang"), explode(TextQueries.tokens(col("text"))).as("t"))
      .localCheckpoint(true)
    val model = trainToks.groupBy("t", "lang").agg(count(lit(1)).as("cnt"))
      .withColumn("w_micro",
        round(log(col("cnt").cast("double") + 1.0) * 1000000.0, 0).cast("long"))
      .localCheckpoint(true)
    val vocab = model.select("t").distinct()
    val vocabN = vocab.agg(count(lit(1)).as("v"))
    val totC = trainToks.groupBy("lang").agg(count(lit(1)).as("tot_c"))
    val priors = train.groupBy("lang").agg(count(lit(1)).as("n_docs_c"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val classInfo = totC.join(priors, Seq("lang"))
      .crossJoin(broadcast(vocabN))
      .crossJoin(broadcast(nTrain))
      .select(
        col("lang").as("pred_lang"),
        round(log((col("tot_c") + col("v")).cast("double")) * 1000000.0, 0)
          .cast("long").as("lnz_micro"),
        round(log(col("n_docs_c").cast("double") / col("n_train")) * 1000000.0, 0)
          .cast("long").as("lnprior_micro"))
    val testToks = test
      .select(col("doc_id"), col("lang").as("true_lang"),
        explode(TextQueries.tokens(col("text"))).as("t"))
      .localCheckpoint(true)
    val inV = testToks.join(vocab, Seq("t"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_inv"))
    val base = test.select(col("doc_id"), col("lang").as("true_lang"))
      .join(inV, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_inv"))
    val seen = testToks
      .join(model.select(col("t"), col("lang").as("pred_lang"), col("w_micro")),
        Seq("t"))
      .groupBy("doc_id", "pred_lang").agg(sum(col("w_micro")).as("s_seen"))
    val scored = base.crossJoin(broadcast(classInfo))
      .join(seen, Seq("doc_id", "pred_lang"), "left")
      .withColumn("score",
        coalesce(col("s_seen"), lit(0L))
          - col("n_inv") * col("lnz_micro") + col("lnprior_micro"))
    val pred = scored
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("pred_lang").asc)))
      .filter(col("rn") === 1)
    pred.groupBy("true_lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(asc_nulls_first("true_lang"), asc_nulls_first("pred_lang"))
  }

  /** Thresholds of [[qCohenKappa]]'s two heuristic labelers, shared
    * with the oracle: labeler A keeps docs of ≥ 300 chars (the corpus
    * median is ~306); labeler B keeps docs whose distinct-token count
    * is ≥ 45% of their token count (median ratio ~0.46) — a
    * length-blind repetition screen, so the two raters are genuinely
    * different measurements of "keep".
    */
  val KappaMinChars = 300
  val KappaUniquePct = 45

  /** Cohen's kappa between two independent document-quality labelers —
    * the inter-annotator-agreement number a curation team reads before
    * trusting any single heuristic gate (kappa ≈ 0 means the raters
    * agree no more than chance, however high the raw agreement). The
    * 2×2 contingency (both-keep / A-only / B-only / both-drop) is
    * emitted as exact integers; kappa = (p_o − p_e)/(1 − p_e)
    * rearranges to the division-free-until-the-end form
    * 2(ad − bc) / ((a+b)(b+d) + (a+c)(c+d)) — ONE rounded division
    * from exact integer products.
    *
    * Determinism: both label rules are exact-integer comparisons
    * (char count; 100·distinct ≥ 45·total — no float ratio), so the
    * contingency is bit-exact and the single kappa division follows
    * the 6-dp convention.
    *
    * Scale: one pass over the token stream folding per-doc (distinct,
    * total) counts, then a 4-cell aggregate — nothing global but the
    * 1-row result.
    */
  def qCohenKappa(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        explode(TextQueries.tokens(col("text"))).as("t"))
    val perDoc = toks.groupBy("doc_id")
      .agg(max(col("n_chars")).as("n_chars"),
        countDistinct(col("t")).as("n_distinct"),
        count(lit(1)).as("n_tokens"))
      .select(
        when(col("n_chars") >= KappaMinChars, 1L).otherwise(0L).as("ka"),
        when(col("n_distinct") * 100 >= col("n_tokens") * KappaUniquePct, 1L)
          .otherwise(0L).as("kb"))
    val cells = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("ka") * col("kb")).as("keep_keep"),
      sum(col("ka") * (lit(1L) - col("kb"))).as("keep_drop"),
      sum((lit(1L) - col("ka")) * col("kb")).as("drop_keep"),
      sum((lit(1L) - col("ka")) * (lit(1L) - col("kb"))).as("drop_drop"))
    cells.select(
      col("n_docs"), col("keep_keep"), col("keep_drop"),
      col("drop_keep"), col("drop_drop"),
      (round(
        (lit(2.0) * (col("keep_keep") * col("drop_drop")
          - col("keep_drop") * col("drop_keep")).cast("double")) /
          (((col("keep_keep") + col("keep_drop"))
            * (col("keep_drop") + col("drop_drop"))
            + (col("keep_keep") + col("drop_keep"))
              * (col("drop_keep") + col("drop_drop"))).cast("double")), 6)
        + lit(0.0)).as("kappa"))
  }

  /** Proper scoring of the kNN weak labeler: Brier score on the native
    * vote confidence p = votes/5 and log loss on the Laplace-smoothed
    * q = (votes+1)/7 (smoothing keeps ln finite when all 5 neighbors
    * agree and the label is still wrong) — the two PROPER scoring
    * rules that, unlike q_calibration's binned curve, penalize
    * overconfidence in a single number. The threshold-free companion
    * a labeling pipeline tracks per labeler release.
    *
    * Determinism: votes and correctness are exact integers; each
    * probe's Brier term (p−correct)² and log-loss term −ln(·) are one
    * IEEE expression of the ≤10 distinct (votes, correct) cell values,
    * rounded to integer micro-units BEFORE the cross-probe sum
    * (q_drift_psi's recipe), so totals are exact integer sums and the
    * three reported means are terminal divisions.
    *
    * Scale: rides the shared blocked-kNN chain (no probe broadcast);
    * the scoring itself folds probe rows to one row map-combinably.
    */
  def qBrier(spark: SparkSession, sfDir: String): DataFrame =
    knnPredictions(spark, sfDir)
      .select(col("votes"),
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L)
          .as("correct"))
      .select(col("correct"),
        round(pow(col("votes").cast("double") / 5 - col("correct"), 2)
          * 1000000.0, 0).cast("long").as("brier_micro"),
        round(-log(when(col("correct") === 1,
            (col("votes") + 1).cast("double") / 7)
          .otherwise(lit(1.0) - (col("votes") + 1).cast("double") / 7))
          * 1000000.0, 0).cast("long").as("ll_micro"))
      .agg(count(lit(1)).as("n_probes"),
        sum(col("correct")).as("n_correct"),
        sum(col("brier_micro")).as("brier_sum"),
        sum(col("ll_micro")).as("ll_sum"))
      .select(col("n_probes"), col("n_correct"),
        (round(col("n_correct").cast("double") / col("n_probes"), 6)
          + lit(0.0)).as("accuracy"),
        round6(col("brier_sum").cast("double") / col("n_probes") / 1000000.0)
          .as("brier"),
        round6(col("ll_sum").cast("double") / col("n_probes") / 1000000.0)
          .as("log_loss"))
}
