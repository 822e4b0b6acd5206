package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact dedup across ingestion runs: a persistent,
  * bucketed ledger of sha256 content hashes already admitted to the
  * corpus. Each new batch dedups within itself, anti-joins the ledger
  * to drop previously-seen content, writes the admitted rows to the
  * run's corpus directory, and appends their hashes — so run N+1
  * never re-processes runs 1..N. At 100 TB this is the only workable
  * shape: the ledger carries 32-byte hashes (not documents), it is
  * bucketed by hash so its side of the anti-join reads co-located
  * with no exchange, and each run's cost is proportional to the
  * BATCH, not the corpus.
  */
object DedupLedger {

  val NBuckets = 16

  /** Create an empty ledger table (bucketed, bucket-sorted by hash)
    * with one catalog DDL statement, which runs no Spark job; robust to
    * a stale warehouse directory (see Tables.dropWithLocation).
    */
  def init(spark: SparkSession, ledgerTable: String): Unit = {
    graft.Tables.dropWithLocation(spark, ledgerTable)
    spark.sql(s"CREATE TABLE $ledgerTable (text_hash STRING) USING parquet " +
      s"CLUSTERED BY (text_hash) SORTED BY (text_hash) INTO $NBuckets BUCKETS")
  }

  /** Admit `batch` rows whose content is new: first occurrence within
    * the batch wins (minimum id), anything already in the ledger
    * drops. Admitted rows are materialized to `runDir` BEFORE the
    * ledger updates — the return value reads that parquet, so it stays
    * valid after the ledger has absorbed this run's hashes (a lazy
    * plan over the ledger would see its own output and evaporate).
    */
  def ingest(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, ledgerTable: String, runDir: String): DataFrame = {
    newRows(spark, batch, textCol, idCol, ledgerTable)
      .write.mode(SaveMode.Overwrite).parquet(runDir)
    val admitted = spark.read.parquet(runDir)
    // insertInto uses the ledger's own bucket spec for the append
    admitted.select("text_hash")
      .write.mode(SaveMode.Append).insertInto(ledgerTable)
    admitted
  }

  /** The pre-write dedup plan ingest materializes: batch rows whose
    * content hash is new, first-in-batch wins. Exposed so tests can
    * audit the plan's scan set — a correct incremental run reads ONLY
    * this batch's files plus the hash ledger, never prior corpora.
    */
  def newRows(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, ledgerTable: String): DataFrame =
    batch
      .withColumn("text_hash", sha2(col(textCol), 256))
      .withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("text_hash").orderBy(col(idCol).asc)))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .join(spark.table(ledgerTable), Seq("text_hash"), "left_anti")
}
