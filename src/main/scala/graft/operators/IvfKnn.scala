package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
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
  * Deterministic under any input partitioning: k-means|| seeds its
  * sampling per partition index, so a fixed seed alone would tie the
  * index to the scan's split layout. The training set is therefore
  * keyed by `vec_id` before fitting — a hash sample, then a fixed
  * `nLists`-way hash partitioning sorted within partitions — so the
  * same corpus yields the same index whatever the file splits,
  * shuffle-partition count or task retries.
  * Training SAMPLES the corpus (k-means is iterative); at 100 TB you
  * train on a ~1M-row sample, then a single broadcast-join pass assigns
  * cells — the big side never shuffles for the index build.
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
    val spark = emb.sparkSession
    val featured = emb.withColumn("features", array_to_vector(col("vec")))
    // Fit on a bounded hash sample; the one pass that touches every
    // vector is model.transform below — a narrow map against broadcast
    // centroids, no shuffle of the corpus.
    val n = featured.count()
    val sampled =
      if (n <= MaxTrainRows) featured
      else featured.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) <
        lit(MaxTrainRows * 1000000L / n))
    val train = sampled.repartition(nLists, col("vec_id"))
      .sortWithinPartitions("vec_id")
    val model = new KMeans()
      .setK(nLists).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(train)
    val indexed = model.transform(featured).select(col("vec_id"), col("vec"), col("cell"))
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c: Vector, i: Int) => (i, c.toArray) }
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
