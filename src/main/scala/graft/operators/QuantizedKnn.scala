package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Int8-quantized similarity search — the STORAGE scale path for
  * embedding retrieval, complementing the bucketing paths (LshKnn,
  * IvfKnn) that cut compute.
  *
  * A 100 TB corpus's float32 embeddings are 4 bytes/dim at rest and in
  * every shuffle; symmetric per-vector int8 quantization stores 1
  * byte/dim plus one float scale, cutting scan and exchange bytes ~4×
  * at a measured, bounded recall cost. The retrieval pattern is the
  * standard two-stage: (1) a blocked top-(k·overfetch) scan over the
  * QUANTIZED vectors (reusing SimilarityQueries.blockedTopKFrom — grid
  * equi-join, no growing broadcast), then (2) an exact re-rank of only
  * the overfetched candidates against the float vectors, an
  * O(probes·k·overfetch) join. Approximate in recall (quantized ranks
  * can drop a true top-k member past the overfetch), so outside the
  * oracle set; QuantizedKnnSpec bounds the per-element quantization
  * error analytically and the end-to-end recall empirically.
  */
object QuantizedKnn {

  /** Symmetric per-vector int8 quantization of an (id, vec
    * array<double>) frame: scale = maxabs/127, q_i = round(x_i/scale)
    * stored as array<tinyint> (1 byte/element in Tungsten and parquet).
    * Zero vectors get scale 0 and all-zero codes. Reconstruction is
    * q_i·scale, with |x_i − q_i·scale| ≤ scale/2 per element.
    */
  def quantize(emb: DataFrame, vecCol: String = "vec"): DataFrame = {
    val maxabs = array_max(transform(col(vecCol), abs(_)))
    emb
      .withColumn("scale", (maxabs / 127.0d).cast("double"))
      .withColumn("qvec",
        when(col("scale") === 0.0d,
          transform(col(vecCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col(vecCol),
            x => round(x / col("scale"), 0).cast("tinyint"))))
  }

  /** Reconstructed double vectors from (qvec, scale). */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, b => b.cast("double") * scale)

  /** Two-stage quantized top-k: blocked scan over reconstructed int8
    * vectors keeps k·overfetch candidates per probe, then the exact
    * float cosine re-ranks just those. Rank/cosine semantics match
    * qSimTopk (6-dp round, vec_id tie-break).
    */
  def approxTopK(spark: SparkSession, sfDir: String, k: Int = 5,
      overfetch: Int = 4, probeModulus: Int = 100): DataFrame = {
    import SimilarityQueries.asDoubles
    val exact = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), asDoubles(col("embedding")).as("vec"))
      .repartition(spark.sparkContext.defaultParallelism)
    approxTopKFrom(exact, k, overfetch, probeModulus)
  }

  /** Core form over an (vec_id, vec array<double>) corpus frame —
    * the shape ScalePathSpec's recall spec drives directly.
    */
  def approxTopKFrom(exact: DataFrame, k: Int = 5,
      overfetch: Int = 4, probeModulus: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import SimilarityQueries.{dot, l2Norm}
    // Quantized corpus as it would be read at rest: codes + scale only.
    val deq = quantize(exact)
      .select(col("vec_id"), dequantize(col("qvec"), col("scale")).as("vec"))
    val candidates = SimilarityQueries
      .blockedTopKFrom(deq, k = k * overfetch, probeModulus = probeModulus)
      .select("probe_id", "vec_id")
    // Exact re-rank of the candidate set: two small joins against the
    // float vectors (candidate rows are O(probes·k·overfetch)).
    val normed = exact.withColumn("norm", l2Norm(col("vec")))
    val probes = normed.select(col("vec_id").as("probe_id"),
      col("vec").as("probe_vec"), col("norm").as("probe_norm"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    candidates
      .join(normed, "vec_id")
      .join(probes, "probe_id")
      .select(col("probe_id"), col("vec_id"),
        (round(dot(col("probe_vec"), col("vec")) /
          (col("probe_norm") * col("norm")), 6) + lit(0.0)).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .orderBy(asc_nulls_first("probe_id"), col("rank").asc)
  }
}
