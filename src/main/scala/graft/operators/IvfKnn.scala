package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.SimilarityQueries.{asDoubles, dot, l2Norm}

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * second scale path next to LshKnn. The corpus is partitioned into
  * `nLists` Voronoi cells by k-means; each probe scores only vectors in
  * its `nProbe` nearest cells. Recall/cost trades off via nProbe
  * (nProbe = nLists degenerates to exact brute force).
  *
  * The cells come from [[ClusterQueries.lloyd]], the engine's one
  * k-means, fit on a bounded hash sample ([[MaxTrainRows]]). It is
  * exact, so the index is the same whatever the file splits,
  * shuffle-partition count or task retries.
  */
object IvfKnn {

  val NLists = 16
  val NProbe = 4

  /** k-means training set ceiling. Iterative fitting over the full
    * corpus would make the index build the bottleneck at 100 TB; 100k
    * vectors bound the training cost regardless of corpus size while
    * centroid quality saturates far below that for NLists=16. Below the
    * ceiling (all test SFs) the sample IS the corpus, so the index is
    * byte-identical to full-corpus training.
    */
  val MaxTrainRows = 100000L

  /** Lloyd rounds of the cell training: on the sf0.001 base corpus, 3
    * rounds lose top-5 recall that 5 keep; each round is one scan.
    */
  val TrainRounds = 5

  /** (vec_id, vec, cell) — corpus with IVF cell assignment, plus the
    * centroid table (cell, centroid array).
    */
  def buildIndex(spark: SparkSession, sfDir: String,
      nLists: Int = NLists): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), asDoubles(col("embedding")).as("vec"))
    buildIndexFrom(emb, nLists)
  }

  /** DataFrame-core index build: `emb` is (vec_id, array<double> vec).
    * `nLists` is the scale knob: per-probe scan cost is
    * nProbe/nLists of the corpus, so pick nLists ~ sqrt(corpus) for
    * the classic IVF balance.
    */
  def buildIndexFrom(emb: DataFrame, nLists: Int = NLists): (DataFrame, DataFrame) = {
    val q = emb.select(col("vec_id"), col("vec"),
      ClusterQueries.quantize(col("vec")).as("qv"))
    val n = q.count()
    // pinned: each Lloyd round scans the hash sample; re-reading and
    // re-quantizing it per round doubled ann_ivf_topk's time at sf0.1
    val train = (if (n <= MaxTrainRows) q
      else q.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) <
        lit(MaxTrainRows * 1000000L / n)))
      .select("vec_id", "qv").localCheckpoint(false)
    val model = ClusterQueries.lloyd(train, nLists, TrainRounds)
    // the one pass over every vector: centroids inlined as literals, no
    // shuffle of the corpus
    val indexed = ClusterQueries.assignWith(q, model)
      .select(col("vec_id"), col("vec"), col("cluster").as("cell"))
    val centroids = emb.sparkSession
      .createDataFrame(model.map { case (cell, c) => (cell, c.map(_ / 1e6)) })
      .toDF("cell", "centroid")
    (indexed, centroids)
  }

  /** Persist a built index as two parquet tables. The corpus side is
    * REPARTITIONED BY CELL before writing so each cell's vectors are
    * contiguous files and a query's nProbe cell equi-join prunes at
    * the file level (partition-column pushdown) — at 100 TB the index
    * build is one shuffle paid ONCE, and every subsequent query reads
    * only its probed cells. Centroids are nLists rows.
    */
  def saveIndex(indexed: DataFrame, centroids: DataFrame, path: String): Unit = {
    indexed.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/cells")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reload a persisted index. Column types round-trip exactly (vec is
    * array<double>), so queries over a loaded index are bit-identical
    * to queries over the freshly built one — IvfPersistSpec proves it.
    */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val indexed = spark.read.parquet(s"$path/cells")
      .select(col("vec_id"), col("vec"), col("cell").cast("int").as("cell"))
    val centroids = spark.read.parquet(s"$path/centroids")
    (indexed, centroids)
  }

  /** Approximate top-k cosine neighbors per probe (vec_id % 100 = 0),
    * scanning only each probe's nProbe nearest cells.
    */
  def approxTopK(spark: SparkSession, sfDir: String, k: Int = 5,
      nProbe: Int = NProbe): DataFrame = {
    val (indexed, centroids) = buildIndex(spark, sfDir)
    approxTopKFrom(indexed, centroids, k, nProbe)
  }

  /** DataFrame-core query: `indexed`/`centroids` from buildIndexFrom;
    * probes are the rows with vec_id % probeModulus = 0.
    */
  def approxTopKFrom(indexed: DataFrame, centroids: DataFrame, k: Int = 5,
      nProbe: Int = NProbe, probeModulus: Int = 100): DataFrame = {
    val probes = indexed.filter(col("vec_id") % probeModulus === 0)
      .select(col("vec_id").as("probe_id"), col("vec").as("probe_vec"))
    // nProbe nearest centroids per probe by cosine (deterministic tie-break)
    val cellRank = Window.partitionBy("probe_id")
      .orderBy(col("cell_cos").desc, col("cell").asc)
    val probeCells = probes
      .crossJoin(broadcast(centroids))
      .select(col("probe_id"), col("probe_vec"), col("cell"),
        (dot(col("probe_vec"), col("centroid")) /
          (l2Norm(col("probe_vec")) * l2Norm(col("centroid")))).as("cell_cos"))
      .withColumn("crn", row_number().over(cellRank))
      .filter(col("crn") <= nProbe)
      .select("probe_id", "probe_vec", "cell")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    // Plain equi-join on cell — NO broadcast hint on the probe side
    // (probes grow with the corpus; see LshKnn for the failure mode).
    // The `centroids` broadcast above is different and right: nLists
    // rows, independent of corpus size.
    indexed.join(probeCells, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (round(dot(col("probe_vec"), col("vec")) /
          (l2Norm(col("probe_vec")) * l2Norm(col("vec"))), 6) + lit(0.0)).as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .orderBy(asc_nulls_first("probe_id"), col("rank").asc)
  }
}
