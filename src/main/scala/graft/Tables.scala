package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

/** Typed loaders for the synthetic star schema at `$sfDir/<name>.parquet`
  * (see FIXTURES.md §2). Always load via these helpers so every query reads
  * through the same parquet datasource: Catalyst then gets predicate
  * pushdown + column pruning on the scan for free, which is the behavior
  * that matters at 100 TB (the reference instead reads whole files into
  * memory — `mr/worker.go:111-123`).
  *
  * Every table is read with its declared schema ([[Schemas]]), so a load
  * starts no schema-inference job. `events.ts` is the one column whose
  * type depends on the fixture generation: the driver reads the ts
  * annotation from the file footer ([[tsIsNanos]]) and declares
  * TIMESTAMP(NANOS) files as BIGINT, anything else as TIMESTAMP.
  */
object Tables {
  /** FIXTURES.md §2 as code, every column nullable. `TablesSchemaSpec`
    * keeps it equal to the schema Spark infers from each fixture file.
    */
  val Schemas: Map[String, StructType] = Map(
    "region"     -> "r_regionkey INT, r_name STRING",
    "nation"     -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer"   -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
                     "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier"   -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part"       -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
                     "p_size INT, p_retailprice DOUBLE"),
    "orders"     -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
                     "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem"   -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
                     "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
                     "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
                     "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events"     -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
                     "value DOUBLE, props STRING"),
    "documents"  -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val declared =
      if (name == "events" && tsIsNanos(spark, path))
        StructType(Schemas(name).map(f => if (f.name == "ts") f.copy(dataType = LongType) else f))
      else Schemas(name)
    spark.read.schema(declared).parquet(path)
  }

  /** Whether `ts` in the single parquet file at `path` is annotated
    * TIMESTAMP(NANOS). Reads its footer on the driver; starts no Spark job.
    */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
    val schema = try reader.getFileMetaData.getSchema finally reader.close()
    schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    }
  }

  /** Timestamp normalization across testdata generations. Older fixtures
    * store `ts` as parquet TIMESTAMP(NANOS), which Spark cannot represent
    * (micros only): [[load]] declares it BIGINT, sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so the column arrives as
    * nanos-since-epoch LONG, and `ts DIV 1000` truncates to micros — the
    * exact same truncation DuckDB applies reading the file, keeping the
    * oracle comparable (integer division only: a double roundtrip would
    * lose precision above 2^53 ns). Newer fixtures store micros with
    * `isAdjustedToUTC=false`, declared TIMESTAMP: the session-UTC
    * TIMESTAMP the whole engine (and the DuckDB oracle, which treats it
    * as naive) already assumes, never TIMESTAMP_NTZ, a type
    * `unix_micros`/`Row.getTimestamp` reject. Declaring BIGINT over
    * micros would return raw micros that the shim then corrupts.
    */
  private def eventsWithMicrosTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }

  /** Spread a freshly-scanned frame across every core when the scan
    * cannot have produced enough splits (guide §2.5 "input skew: one
    * huge unsplittable file — repartition immediately after the read").
    * The fixtures are single-row-group parquet files, so every
    * pre-exchange map chain (tokenize, md5 fingerprints, MinHash
    * signatures, pair explodes) otherwise runs in ONE task regardless
    * of core count. Scale-adaptive, not a local-mode constant: the
    * guard compares the scan's stats size against parallelism ×
    * openCostInBytes — exactly the packing bound under which Spark
    * cannot emit one split per core — so a corpus-sized input (many
    * files / row groups) skips the extra exchange entirely, and the
    * shuffled volume in the small case is by construction under one
    * open-cost unit per core. Hash-keyed (never round-robin), so task
    * retries reproduce the same placement (guide §2.5 rand() caveat).
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    if (underOneOpenCostPerCore(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
    else df

  /** The small-input test shared by [[spread]] and ClusterLedger's
    * pushdown guard: `df`'s stats size is under parallelism ×
    * openCostInBytes, the packing bound under which Spark cannot emit
    * one split per core.
    */
  def underOneOpenCostPerCore(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(spark.sparkContext.defaultParallelism) *
        spark.sessionState.conf.filesOpenCostInBytes
  }

  /** The one capped driver collect: at most `cap` rows of `df`, or None
    * when it has more (one `limit(cap + 1)` action either way). Callers
    * take their distributed path on None.
    */
  def collectBounded(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** Drop a catalog table AND any stale physical location from a
    * previous JVM: the in-memory catalog forgets the table, its
    * warehouse dir persists, and CREATE then fails with
    * LOCATION_ALREADY_EXISTS. Every ledger `init` calls this first.
    */
  def dropWithLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = eventsWithMicrosTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
