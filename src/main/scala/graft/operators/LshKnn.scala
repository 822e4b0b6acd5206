package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries.{asDoubles, dot, l2Norm}

/** Random-hyperplane LSH for approximate nearest-neighbor search — the
  * scale path behind q_sim_topk's brute-force oracle. Each vector gets a
  * `numPlanes`-bit sign signature against fixed pseudo-random
  * hyperplanes; probes only score candidates in the SAME bucket, so the
  * per-probe work drops from |corpus| to |bucket|. `numPlanes` is the
  * scale knob: buckets double per plane, so candidate cost per probe
  * halves — pick ~log2(corpus / desired-candidates). Hyperplanes come
  * from a seeded RNG, so results are deterministic run-to-run; recall is
  * probabilistic by design (property-tested against the brute-force
  * result in ScalePathSpec, timed at 1x/4x/16x in SCALING.md, not
  * oracle-checked).
  *
  * At 100 TB: bucket the corpus once (cheap projection), then a plain
  * equi-join on the bucket key — one exchange of each side, never a
  * probe broadcast (probes are corpus/probeModulus rows and grow with
  * the data); multi-probe (flipping low-margin bits) buys recall
  * without touching the partitioning.
  */
object LshKnn {

  /** Default signature width for the test-scale corpora; a real corpus
    * sets numPlanes per the bucket-size math above.
    */
  val NumPlanes = 4
  val Dim = 64

  /** Fixed hyperplanes (seed 42) per (dim, numPlanes), materialized as
    * literal arrays in the plan — effectively broadcast constants. The
    * same seed always yields the same planes, so bucketing is
    * deterministic per configuration (and prefix-stable: plane i is the
    * same whatever numPlanes is).
    */
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Seq[Array[Double]]]

  private def planesFor(dim: Int, numPlanes: Int): Seq[Array[Double]] =
    planeCache.getOrElseUpdate((dim, numPlanes), {
      val rng = new scala.util.Random(42)
      Seq.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian()))
    })

  private def planeCol(p: Array[Double]): Column =
    array(p.map(lit(_)).toIndexedSeq: _*)

  /** Sign-bit bucket id of a double-array vector column of `dim`
    * elements (defaults to the embeddings table's 64).
    */
  def bucket(vec: Column, dim: Int = Dim, numPlanes: Int = NumPlanes): Column =
    (0 until numPlanes).map { i =>
      when(dot(vec, planeCol(planesFor(dim, numPlanes)(i))) > 0, lit(1 << i))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** Multi-probe candidate buckets: the vector's own bucket plus, for
    * nFlip > 0, the buckets reached by flipping the sign bits with the
    * smallest |margin| — the hyperplanes this vector sits closest to,
    * which is exactly where a near neighbor lands on the other side.
    * Only probes fan out (nFlip+1 rows each); the corpus keeps its
    * single-bucket assignment and partitioning, so recall rises without
    * re-partitioning anything.
    */
  def probeBuckets(vec: Column, nFlip: Int, dim: Int = Dim,
      numPlanes: Int = NumPlanes): Column = {
    val dots = (0 until numPlanes).map(i =>
      dot(vec, planeCol(planesFor(dim, numPlanes)(i))))
    val base = dots.zipWithIndex.map { case (d, i) =>
      when(d > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    if (nFlip <= 0) array(base)
    else {
      val margins = array(dots.zipWithIndex.map { case (d, i) =>
        struct(abs(d).as("m"), lit(1 << i).as("bit"))
      }: _*)
      val flips = slice(array_sort(margins), 1, nFlip)
      concat(array(base), transform(flips, f => base.bitwiseXOR(f.getField("bit"))))
    }
  }

  /** The (vec_id, vec) frame the sfDir entry points share. */
  private def embFrom(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), asDoubles(col("embedding")).as("vec"))

  /** Approximate top-k cosine neighbors per probe (vec_id % 100 = 0),
    * scored only within the probe's bucket.
    */
  def approxTopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    approxTopKMultiProbe(spark, sfDir, k, nFlip = 0)

  /** approxTopK with multi-probe: each probe also scores the nFlip
    * lowest-margin neighboring buckets.
    */
  def approxTopKMultiProbe(spark: SparkSession, sfDir: String, k: Int = 5,
      nFlip: Int = 1): DataFrame =
    approxTopKFrom(embFrom(spark, sfDir), k, nFlip)

  /** DataFrame-core form: `emb` is (vec_id, array<double> vec); probes
    * are the rows with vec_id % probeModulus = 0. All scale knobs
    * exposed — ScalePathSpec drives this directly for its recall
    * gates.
    */
  def approxTopKFrom(emb: DataFrame, k: Int = 5, nFlip: Int = 1,
      probeModulus: Int = 100, dim: Int = Dim,
      numPlanes: Int = NumPlanes): DataFrame = {
    val bucketed = emb.withColumn("bucket", bucket(col("vec"), dim, numPlanes))
    val probes = emb
      .filter(col("vec_id") % probeModulus === 0)
      .select(col("vec_id").as("probe_id"), col("vec").as("probe_vec"),
        explode(probeBuckets(col("vec"), nFlip, dim, numPlanes)).as("bucket"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // Plain equi-join on bucket — NO broadcast hint. The probe set is
    // corpus/probeModulus rows: it GROWS with the data, so forcing it
    // broadcast is the classic scale-killer (at 100 TB, ~1 TB shipped
    // to every executor). Unhinted, the join shuffles each side once on
    // `bucket` (and AQE may still broadcast a genuinely small probe set
    // at runtime — a size-based decision, not a plan-forced one).
    bucketed.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (round(dot(col("probe_vec"), col("vec")) /
          (l2Norm(col("probe_vec")) * l2Norm(col("vec"))), 6) + lit(0.0)).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .orderBy(asc_nulls_first("probe_id"), col("rank").asc)
  }
}
