package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-means clustering over the embeddings table (Lloyd's algorithm) and
  * the cluster-stratified sampling built on top of it — the semantic
  * bucketing a training-data pipeline runs to measure corpus coverage
  * and pick a diverse, high-quality subset (per-cluster quotas instead
  * of a global score cut, so no semantic region is silently dropped).
  *
  * Scale design (the MLlib KMeans shape, re-derived on DataFrames):
  * the model is O(k·dim) — 8×64 longs here — so each Lloyd round is
  *   1. ONE corpus scan that assigns every vector to its nearest
  *      centroid with the centroids inlined as LITERALS (a pure
  *      codegen'd projection: no join, no broadcast variable, no
  *      shuffle on the assignment side), and
  *   2. ONE k×dim-cell aggregation (partial map-side combine collapses
  *      each task's slice to ≤ k·dim rows before the exchange) whose
  *      fixed-size result is collected to the driver as the next
  *      round's model — the bounded-collect pattern q_heavy_hitters'
  *      sketch and q_bpe_merges' argmax already use.
  * Nothing in the loop holds state proportional to the corpus; at
  * 100 TB the cost is `iters + 1` scans and `iters` tiny exchanges.
  *
  * Determinism (the [[SimilarityQueries.qEmbedCentroid]] recipe,
  * extended to distances): every float quantizes to the exact 1e-6
  * integer grid BEFORE any arithmetic. Squared L2 distances are then
  * sums of 64 integer products ≤ ~1.2e12 each, total ≤ ~8e13 —
  * integer-exact in double arithmetic (< 2^53), so the expansion
  * |v|² − 2v·c + |c|² over the codegen'd [[graft.functions.DotProduct]]
  * is bit-identical to the oracle's BIGINT sum whatever the
  * partitioning. Centroid updates divide an exact long sum by an exact
  * count and round half-away-from-zero — identical in Spark and DuckDB.
  * Exactness bound: per-cluster Σ|qv| must stay below 2^53, i.e.
  * ≲ 8e9 vectors per cluster at |v| ≤ 1.1; past that, widen the update
  * sum to decimal(38,0) the way StatsQueries.qGini documents.
  *
  * Ties (a vector equidistant to two centroids) break to the smaller
  * cluster id; clusters that lose all members drop out (k may shrink),
  * matching the oracle's GROUP BY exactly.
  */
object ClusterQueries {

  /** Cluster count and Lloyd rounds — the SAME constants generate the
    * unrolled oracle CTE chain (SparkEntry.KmeansSql), so the two
    * sides cannot drift.
    */
  val K = 8
  val Iters = 3

  private def vecDot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** A vector on the exact 1e-6 integer grid (integer-valued
    * doubles) — the only form any arithmetic below touches.
    */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000000, 0))

  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qv"))

  /** Initial model: the embeddings of the k smallest vec_ids, cluster
    * id = rank order. Deterministic, matches the oracle's LIMIT k.
    */
  private def initModel(q: DataFrame, k: Int): Seq[(Int, Array[Double])] =
    q.orderBy("vec_id").limit(k).collect().toSeq.zipWithIndex.map {
      case (r, i) => (i, r.getAs[Seq[Double]]("qv").toArray)
    }

  /** Per-centroid distance structs (dist, cid) with the model inlined
    * as literals — the shared projection under both the argmin
    * assignment and the silhouette's full distance profile.
    */
  private def distCands(centroids: Seq[(Int, Array[Double])]): Seq[Column] = {
    val self = vecDot(col("qv"), col("qv"))
    centroids.map { case (cid, c) =>
      val cSelf = c.map(x => x * x).sum // exact: integer-valued, < 2^53
      struct(
        (self - lit(2.0) * vecDot(col("qv"), typedLit(c.toSeq)) + lit(cSelf))
          .cast("long").as("d"),
        lit(cid).as("cid"))
    }
  }

  /** Nearest-centroid assignment as a pure projection: array_min's
    * lexicographic struct order gives argmin with the smaller-cid
    * tie-break. Every column of `q` is carried through, followed by
    * `cluster` and `dist_sq`.
    */
  def assignWith(q: DataFrame,
      centroids: Seq[(Int, Array[Double])]): DataFrame =
    q.withColumn("best", array_min(array(distCands(centroids): _*)))
      .select(q.columns.toSeq.map(col) ++ Seq(
        col("best.cid").as("cluster"), col("best.d").as("dist_sq")): _*)

  /** New model from an assignment: per-(cluster, dim) mean on the 1e-6
    * grid. The agg output is ≤ k·dim rows — a fixed-size model, the
    * one driver action per round.
    */
  private def updateModel(assigned: DataFrame): Seq[(Int, Array[Double])] = {
    val upd = assigned
      .select(col("cluster"), posexplode(col("qv")).as(Seq("dim", "qd")))
      .groupBy("cluster", "dim")
      .agg(sum(col("qd").cast("long")).as("s"), count(lit(1)).as("n"))
      .select(col("cluster"), col("dim"),
        round(col("s").cast("double") / col("n"), 0).as("qc"))
      .collect()
    upd.groupBy(_.getInt(0)).toSeq.map { case (cid, rows) =>
      val dim = rows.map(_.getInt(1)).max + 1
      val arr = new Array[Double](dim)
      rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      (cid, arr)
    }.sortBy(_._1)
  }

  /** The engine's one k-means: `rounds` Lloyd rounds over a
    * `(vec_id, qv, …)` frame (`qv` from [[quantize]]). Returns the
    * model, (cluster id, centroid on the 1e-6 grid) sorted by id.
    */
  def lloyd(q: DataFrame, k: Int, rounds: Int): Seq[(Int, Array[Double])] =
    (1 to rounds).foldLeft(initModel(q, k))((m, _) => updateModel(assignWith(q, m)))

  /** Lloyd's k-means: `iters` rounds, then the final assignment under
    * the last model. Returns one row per vector:
    * (vec_id, label, cluster, dist_sq) with dist_sq in squared
    * micro-units (exact integer).
    */
  def kmeansAssign(spark: SparkSession, emb: DataFrame,
      k: Int = K, iters: Int = Iters): DataFrame = {
    val q = quantized(emb).localCheckpoint(false)
    assignWith(q, lloyd(q, k, iters)).drop("qv")
  }

  /** Oracle-checked k-means: final cluster and squared distance per
    * vector, label carried for inspection.
    */
  def qKmeans(spark: SparkSession, sfDir: String): DataFrame =
    kmeansAssign(spark, Tables.embeddings(spark, sfDir))
      .orderBy(asc_nulls_first("vec_id"))

  /** Convergence curve: total inertia (Σ dist_sq, exact integer) and
    * active cluster count per assignment round — the monitoring row a
    * clustering job emits each Lloyd iteration. Inertia is
    * non-increasing by construction (each assignment minimizes against
    * the model its round uses; each update minimizes within clusters),
    * so a rising row = a broken loop, which is what makes this a query
    * worth shipping next to the assignment itself. Adds ONE scalar agg
    * action per round on top of the model collect.
    */
  def qKmeansInertia(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = quantized(emb).localCheckpoint(false)
    var centroids = initModel(q, K)
    val rows = Seq.newBuilder[(Int, Long, Long, Int)]
    for (r <- 1 to (Iters + 1)) {
      val a = assignWith(q, centroids)
      // decimal(38,0) widening (the q_gini convention): a long sum of
      // ~3e14-bounded distances wraps silently past ~30k vectors in
      // Spark while DuckDB's HUGEINT doesn't; longValueExact turns
      // overflow into an explicit failure on this side too.
      val agg = a.agg(
        sum(col("dist_sq").cast("decimal(38,0)")).as("inertia"),
        count(lit(1)).as("n_vecs"),
        countDistinct(col("cluster")).as("n_clusters")).collect()(0)
      rows += ((r, agg.getDecimal(0).toBigInteger.longValueExact(),
        agg.getLong(1), agg.getLong(2).toInt))
      if (r <= Iters) centroids = updateModel(a)
    }
    import spark.implicits._
    rows.result()
      .toDF("round", "inertia", "n_vecs", "n_clusters")
      .select(col("round").cast("int").as("round"), col("inertia"),
        col("n_vecs"), col("n_clusters").cast("int").as("n_clusters"))
      .orderBy("round")
  }

  /** Simplified (centroid-based) SILHOUETTE under the final k-means
    * model — the cluster-quality report read next to [[qKmeansInertia]]'s
    * convergence curve: per vector, `a_sq` = squared distance to its OWN
    * centroid, `b_sq` = the smallest squared distance to any OTHER
    * centroid, and sil = (b_sq − a_sq) / max(a_sq, b_sq) ∈ [−1, 1]
    * (0 when both are 0). Classic silhouette averages point-to-POINT
    * distances — O(n²) pairs, a non-starter at corpus scale; the
    * centroid form is the standard at-scale substitute (one model pass,
    * no pair explosion) and keeps the sign semantics: sil < 0 means the
    * vector sits closer to a rival centroid than its own, the rows a
    * curation owner reads before trusting cluster-stratified quotas
    * ([[qDiversitySample]]).
    *
    * Determinism: a_sq/b_sq are the exact integer squared
    * micro-distances of the shared model chain, emitted as longs so the
    * one rounded double division never carries information. Computed on
    * SQUARED distances (documented choice: monotone per vector, so
    * argmin, sign, and zero structure match the unsquared form while
    * every input stays integer-exact; magnitudes are not comparable to
    * the classic [-1,1] calibration tables).
    *
    * Scale: the final model is k·dim literals inlined into ONE
    * codegen'd projection — no join, no shuffle besides the output
    * sort; the loop cost is [[qKmeans]]'s own (iters+1 scans).
    */
  def qSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val q = quantized(Tables.embeddings(spark, sfDir)).localCheckpoint(false)
    val centroids = lloyd(q, K, Iters)
    q.select(col("vec_id"),
        array_sort(array(distCands(centroids): _*)).as("ds"))
      .select(col("vec_id"),
        col("ds").getItem(0).getField("cid").as("cluster"),
        col("ds").getItem(0).getField("d").as("a_sq"),
        col("ds").getItem(1).getField("d").as("b_sq"))
      .select(col("vec_id"), col("cluster"), col("a_sq"), col("b_sq"),
        when(greatest(col("a_sq"), col("b_sq")) === 0, lit(0.0))
          .otherwise(
            round((col("b_sq") - col("a_sq")).cast("double") /
              greatest(col("a_sq"), col("b_sq")), 6) + lit(0.0))
          .as("sil"))
      .orderBy(asc_nulls_first("vec_id"))
  }

  /** Cluster-stratified diversity sample: the top-`perCluster` documents
    * BY QUALITY within each semantic cluster — the curation step that
    * keeps corpus coverage (every cluster contributes) while selecting
    * for quality inside each region. Joins the k-means assignment to
    * the documents table on vec_id = doc_id and reuses the exact
    * q_text_quality score.
    *
    * The ranking is the two-phase top-K [[AdvancedTextQueries.qLangId]]
    * uses: phase 1 ranks inside (cluster, doc_id-hash bucket) — 32
    * parallel partitions per cluster, none holding more than 1/32 of a
    * cluster — and phase 2 re-ranks the ≤ 32·perCluster survivors per
    * cluster. A window partitioned by cluster alone would sort each
    * full cluster in ONE reducer (corpus/k rows at 100 TB).
    */
  def qDiversitySample(spark: SparkSession, sfDir: String,
      perCluster: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        AdvancedTextQueries.qualityScore(col("text")).as("quality_score"))
    val scored = kmeansAssign(spark, emb)
      .join(docs, col("vec_id") === col("doc_id"))
    val bucketed = Window
      .partitionBy(col("cluster"), pmod(col("doc_id"), lit(32)))
      .orderBy(desc("quality_score"), asc("doc_id"))
    val perClusterW = Window.partitionBy(col("cluster"))
      .orderBy(desc("quality_score"), asc("doc_id"))
    scored
      .withColumn("lrank", row_number().over(bucketed))
      .filter(col("lrank") <= perCluster)
      .withColumn("rank", row_number().over(perClusterW))
      .filter(col("rank") <= perCluster)
      .select(col("cluster"), col("rank"), col("doc_id"), col("quality_score"))
      .orderBy(asc_nulls_first("cluster"), asc("rank"))
  }
}
