package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's I/O surface, Spark-native:
  *
  * - whole-file text scan (`/root/reference/mr/worker.go:111-123` reads
  *   each input file fully into a string; one map task per file) →
  *   `wholeTextCorpus` via the text source's `wholetext` option — at
  *   scale each file is one row/split exactly like one reference map
  *   task, but scheduling/retry is Spark's.
  * - newline-delimited JSON KV intermediates
  *   (`mr/worker.go:128-150`: `{"Key":…,"Value":…}` per line) →
  *   `writeKvJson`/`readKvJson` on the json source. In the engine these
  *   are a user-facing interchange format; the actual shuffle is
  *   Tungsten binary (free, compressed — the reference's uncompressed
  *   JSON shuffle is its main inefficiency).
  * - text sink `"<key> <value>\n"` (`mr/worker.go:190-207`, format
  *   string at :207) → `writeKvText`, partitioned output files matching
  *   the reference's `mr-out-<R>` sharding.
  *
  * Plus the engine's primary columnar format: parquet via graft.Tables.
  */
object Sources {

  /** One row per file: (path, content) — the reference's map-task input
    * granularity (`MapPlayer`), schema-on-read left to the caller.
    */
  def wholeTextCorpus(spark: SparkSession, globPath: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .text(globPath)
      .select(
        input_file_name().as("path"),
        col("value").as("content"))

  /** The reference's intermediate format: NDJSON {"Key":…,"Value":…}. */
  def writeKvJson(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit =
    df.select(col(keyCol).cast("string").as("Key"),
      col(valueCol).cast("string").as("Value"))
      .write.mode(SaveMode.Overwrite).json(path)

  def readKvJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("Key STRING, Value STRING")
      .json(path)

  /** Compact a directory of many small files into `targetFiles`
    * evenly-sized ones (small files are the classic large-corpus
    * killer: every task, listing and footer read multiplies by file
    * count). Writes to `outPath` — never in place, so a failed
    * compaction leaves the source intact.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int): Unit =
    spark.read.parquet(inPath)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Distributed TOTAL sort to disk: `repartitionByRange` assigns
    * non-overlapping sort-key ranges to `numFiles` partitions (range
    * boundaries from a driver-side sample — no full sort anywhere),
    * each partition sorts locally, and the part files concatenate in
    * filename order to a globally sorted dataset. The scale-safe form
    * of ORDER BY-into-files: a 100 TB sort is numFiles independent
    * local sorts after one range exchange.
    */
  def writeGlobalSorted(df: DataFrame, sortCol: String, path: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Pure shift/mask algebra over built-in
    * functions, so it codegens into the projection — no UDF. 2·bits
    * shift-and-or terms; at the default 9 bits the code is an 18-term
    * OR chain, well inside codegen limits.
    */
  def morton2(a: Column, b: Column, bits: Int = 9): Column = {
    def spread(x: Column, off: Int): Column =
      (0 until bits).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + off)
      }.reduce(_ bitwiseOR _)
    spread(a.cast("long"), 0) bitwiseOR spread(b.cast("long"), 1)
  }

  /** Z-order clustered layout: cluster rows so files are tight in TWO
    * dimensions at once. A single-column sort gives perfect min/max
    * pruning on that column and none on any other; interleaving the
    * two key columns' bits makes each output file cover a small square
    * of the (a, b) grid instead of a full-width stripe, so parquet
    * row-group min/max stats prune files for predicates on EITHER
    * column (or both). This is the layout move for a 100 TB fact table
    * queried by more than one dimension — the same reason Delta/Iceberg
    * expose OPTIMIZE ZORDER BY.
    *
    * Cost is identical to [[writeGlobalSorted]]: one range exchange on
    * the morton key (boundaries from a driver-side sample, no global
    * sort) + local sorts. ZOrderLayoutSpec measures the payoff on the
    * events table: a value-band predicate overlaps every user-sorted
    * file's stats but only a corner of the z-ordered ones.
    */
  def writeZOrdered(df: DataFrame, a: Column, b: Column, path: String,
      numFiles: Int, bits: Int = 9): Unit = {
    val z = morton2(a, b, bits)
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Binary ingestion for multimodal payloads (images/audio/video as
    * opaque bytes): one row per file with (path, modificationTime,
    * length, content). The datasource prunes `content` when only
    * metadata is selected, so listing/filtering a petabyte of media by
    * size or mtime never reads the payloads; pair with
    * graft.multimodal.Multimodal for the decode stage.
    */
  def binaryCorpus(spark: SparkSession, globPath: String): DataFrame =
    spark.read.format("binaryFile").load(globPath)

  /** Hive-style partitioned layout: one directory per value of
    * `partCols` (e.g. `day=2024-01-05/`). THE data-layout primitive at
    * 100 TB — a query filtering on a partition column never lists or
    * reads the other partitions (partition pruning happens at planning,
    * before any file I/O; PartitionedLayoutSpec asserts the pruned scan
    * touches exactly the matching directories).
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite).parquet(path)

  /** Incremental daily rerun: replace ONLY the partitions present in
    * `df`, leaving every other partition untouched (dynamic partition
    * overwrite). This is how a daily pipeline republishes one day out of
    * a 3-year partitioned corpus without rewriting — or even listing —
    * the other ~1000 partitions. Static overwrite (the default) would
    * drop them all; the conf is set per-write here so callers can't
    * inherit the wrong mode from the session.
    */
  def overwritePartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** The reference's output format: one `"<key> <value>"` line per
    * group (`mr/worker.go:207`), sharded into `numShards` files by key
    * hash — the analogue of its fixed nReduce=10 output partitioning.
    */
  def writeKvText(df: DataFrame, keyCol: String, valueCol: String,
      path: String, numShards: Int = 10): Unit =
    df.select(concat_ws(" ",
        col(keyCol).cast("string"), col(valueCol).cast("string")).as("value"),
      col(keyCol).cast("string").as("k"))
      .repartition(numShards, col("k"))
      .sortWithinPartitions("value")
      .select("value")
      .write.mode(SaveMode.Overwrite).text(path)
}
