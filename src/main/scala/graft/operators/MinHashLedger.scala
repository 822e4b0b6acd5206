package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental NEAR-dup detection across ingestion runs: a persistent
  * ledger of MinHash band rows — DedupLedger's
  * cost-proportional-to-the-batch contract extended from exact
  * content hashes to the LSH band index.
  *
  * The ledger stores one row per (band, bucket) membership:
  * `(bkh, bkey, doc_id)` with `bkey = band '#' bucket-hash` exactly as
  * `MinHashLsh.candidatePairs` keys its shuffle and `bkh =
  * xxhash64(bkey)` the fixed-width probe key. A new batch:
  *
  *   1. computes its own band rows (one pass over the BATCH only),
  *   2. probes the ledger with a bkey equi-join — new docs meet
  *      previously-ingested docs ONLY inside a shared bucket, the
  *      same inverted-index pruning as the one-shot LSH, so prior
  *      corpora are never re-scanned or re-hashed,
  *   3. emits candidate pairs (new×old ∪ new×new) as `(doc_id_1 <
  *      doc_id_2)`, the columns of `MinHashLsh.candidatePairs`,
  *   4. appends its band rows.
  *
  * [[ingest]] is the one body of that step; every incremental flow
  * calls it.
  *
  * == Probe IO is bounded by the BATCH, not the corpus (r8 fix) ==
  *
  * The r8 layout bucketed the table by bkey, which kept the probe
  * join exchange-free on the ledger side but still READ the whole
  * ledger every ingest (the hot-bucket guard re-aggregated per-bkey
  * counts over all rows, and the pair join scanned every bucket file).
  * The layout is now an LSM-style sorted run set with point-lookup
  * probes instead:
  *
  *   - every write (batch append and compaction) is range-partitioned
  *     and sorted by `bkh`, with small parquet row groups
  *     ([[RowGroupBytes]]) so each row group covers a narrow key range
  *     and carries tight min/max stats;
  *   - a probe collects the batch's `bkh` column (8 bytes/band row,
  *     ≤ [[MaxPushdownKeys]] rows — the index-lookup vs full-scan
  *     planner choice; a batch too large to push is itself
  *     corpus-sized, the regime where a scan is proportional anyway),
  *     dedupes it on the driver and pushes it into the ledger scan as
  *     an In filter. Parquet row-group pruning then reads ONLY the
  *     row groups whose key range contains a probed key: probe IO ≈ batch_keys × row-group size,
  *     FLAT in ledger size — MinHashLedgerSpec asserts the pushed In
  *     filter on every ledger scan of the probe plan.
  *   - `bkh` collisions are harmless: the pushed In-set is a superset
  *     filter, and every later step (guard counts, bucket aggregate)
  *     keys on the exact `bkey` string, so a collision row can never
  *     produce a pair or perturb a batch bucket's count.
  *
  * The hot-bucket guard's per-bkey totals come off the SAME pruned
  * read (a batch bucket's total population over ledger∪batch needs
  * exactly the rows the In filter admits), so no separate count
  * side-table is required — the pruned read subsumes it. Appends stay
  * blind (at-least-once, crash-retry-safe); `compact` periodically
  * folds the accumulated sorted runs into one globally-sorted run,
  * restoring one row per (bkey, doc_id) and the tightest row-group
  * ranges — the standard LSM amortization, run separately so probe
  * cost and maintenance cost are not conflated.
  *
  * Hot-bucket guard semantics, accounted over ledger∪batch: a
  * (band, bucket) whose TOTAL population exceeds `bucketCap` emits no
  * pairs for this batch (boilerplate clusters, not near-dup signal).
  * Pairs already emitted while the bucket was small stay emitted —
  * the incremental cap is append-monotone, the one documented
  * divergence from re-running one-shot LSH on the full corpus with a
  * binding cap.
  *
  * Batch-ingest ≡ full-corpus equivalence (cap non-binding): every
  * pair of the one-shot `MinHashLsh.candidatePairs(allDocs)` shares
  * some bucket; whichever member arrives later finds the earlier one
  * in the ledger (or the same batch) through exactly that bucket —
  * proven pair-for-pair in MinHashLedgerSpec.
  */
object MinHashLedger {

  /** Uncompressed parquet row-group target for ledger writes. Small
    * groups = fine-grained probe pruning (probe IO ≈ keys × this).
    * 256 KB suits the test fixtures; a production deployment would
    * raise it to 4–16 MB, scaling [[MaxPushdownKeys]] with it.
    */
  val RowGroupBytes: Int = 256 * 1024
  val PageBytes: Int = 32 * 1024

  /** Largest batch whose keys are pushed as an In filter, counted in
    * BAND ROWS (the probe collects the batch's `bkh` column, one long
    * per row, 8 MB at the limit, and dedupes it on the driver — no
    * shuffle for a distinct). Beyond this the probe falls back to the
    * plain ledger scan — a batch that large is corpus-scale, where a
    * scan IS proportional to the batch. ClusterLedger's point-lookup
    * patch fold caps its touched-id collect at the same bound.
    */
  val MaxPushdownKeys: Int = 1 << 20

  /** Create the empty band-index ledger with one catalog DDL
    * statement, which runs no Spark job. Its OPTIONS become the table's
    * storage properties, so every append inherits the small row groups
    * (see writeSorted) and `assertLedgerLayout` finds them. Robust to a
    * stale warehouse directory (see Tables.dropWithLocation).
    */
  def init(spark: SparkSession, ledgerTable: String): Unit = {
    graft.Tables.dropWithLocation(spark, ledgerTable)
    spark.sql(s"CREATE TABLE $ledgerTable (bkh BIGINT, bkey STRING, " +
      s"doc_id BIGINT) USING parquet OPTIONS ('parquet.block.size' " +
      s"'$RowGroupBytes', 'parquet.page.size' '$PageBytes')")
  }

  /** The document universe the incremental query-surface flows ingest:
    * a bounded slice (doc_id % 5 == 0) with at least one token, so
    * every admitted doc has a signature.
    */
  private[operators] def incrUniverse(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .filter(size(array_distinct(TextQueries.tokens(col("text")))) > 0)
      .select("doc_id", "text")

  /** The incremental near-dup flow as an ORACLE-CHECKED query: ingest
    * a bounded document universe (doc_id % 5 == 0, ≥1 token) in three
    * modulo batches through a real throwaway ledger and return the
    * union of per-batch candidate pairs. By the append-monotone ledger
    * theorem (MinHashLedgerSpec proves it pair-for-pair) that union IS
    * the one-shot banded-LSH candidate pair set — which the DuckDB
    * oracle computes directly from the same salted-md5 signatures, so
    * the incremental≡one-shot equivalence is hash-checked by the
    * driver, not just spec-asserted. The cap (bucket df ≤ 10000) is
    * encoded on both sides; it never binds at fixture scale. Nothing
    * is written outside the throwaway table (which the finally drops,
    * data included).
    */
  def qDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = incrUniverse(spark, sfDir)
    // unique table per invocation: audit/determinism suites may drive
    // this query concurrently from parallel ScalaTest suites
    val table = "q_dedup_incr_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    init(spark, table)
    try {
      (0 until 3).map { b =>
        ingest(spark, docs.filter(pmod(col("doc_id"), lit(3)) === b), table)
      }.reduce(_ unionAll _)
        .orderBy("doc_id_1", "doc_id_2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** Band rows of a batch: (bkh, bkey, doc_id) — one row per band
    * per doc.
    */
  def bandRows(docs: DataFrame): DataFrame = {
    import MinHashLsh.{Bands, RowsPerBand}
    MinHashLsh.signatures(docs)
      .select(col("doc_id"),
        explode(array((0 until Bands).map(b =>
          concat_ws("#", lit(b.toString),
            concat_ws("|", (0 until RowsPerBand).map(r =>
              element_at(col("sig"), b * RowsPerBand + r + 1)): _*))): _*))
          .as("bkey"))
      .select(xxhash64(col("bkey")).as("bkh"), col("bkey"), col("doc_id"))
  }

  /** Range-sorted small-row-group write — every ledger file is one
    * sorted run over `bkh`, the layout the point-lookup probe prunes.
    * How the parquet sizes reach the writer differs by mode: on CREATE
    * (init's DDL, compact's saveAsTable) the options are persisted into
    * the table's catalog storage properties; on APPEND, Spark 4.1's V1
    * `insertInto` builds an InsertIntoStatement with an EMPTY options
    * map — the DataFrameWriter options are dropped — and the append job
    * instead INHERITS the storage properties saved at create time.
    * Appends only get 256KB row groups because init/compact created
    * the table with them; `assertLedgerLayout` makes that dependency loud rather than
    * a silent revert to 128MB row groups (and degraded probe pruning)
    * if a ledger table is ever created elsewhere without the options.
    * Nothing touches the shared Hadoop configuration — a set/restore
    * window there races concurrent writers (parallel ScalaTest suites
    * drive qDedupIncremental concurrently) into default-128MB ledger
    * runs or 256KB unrelated tables.
    */
  private def writeSorted(df: DataFrame, table: String,
      mode: SaveMode): Unit = {
    val spark = df.sparkSession
    if (mode == SaveMode.Append) assertLedgerLayout(spark, table)
    // NO explicit partition count: with the count unpinned, AQE
    // coalesces the range shuffle to advisory-sized partitions, so a
    // small batch appends ONE file instead of numShufflePartitions
    // near-empty ones (guide §6 — small files hurt twice: the probe
    // re-lists and re-reads every footer per point lookup, measured as
    // the dominant probe cost growth across batches at sf0.1) while a
    // corpus-sized run still fans out. Coalesced partitions are unions
    // of ADJACENT ranges and sortWithinPartitions re-sorts inside each,
    // so every file remains one sorted run over bkh — the layout the
    // point-lookup prune needs.
    val w = df
      .repartitionByRange(col("bkh"))
      .sortWithinPartitions("bkh")
      .write.mode(mode)
      .option("parquet.block.size", RowGroupBytes.toString)
      .option("parquet.page.size", PageBytes.toString)
    if (mode == SaveMode.Append) w.insertInto(table)
    else w.format("parquet").saveAsTable(table)
  }

  /** Append-path guard: the small-row-group layout rides on the table's
    * catalog storage properties (see writeSorted) — verify they exist
    * before appending, so a mis-created ledger fails loudly instead of
    * silently writing 128MB row groups that the point-lookup probe
    * cannot prune. */
  private def assertLedgerLayout(spark: SparkSession, table: String): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val props = spark.sessionState.catalog.getTableMetadata(ident)
      .storage.properties
    require(props.get("parquet.block.size").contains(RowGroupBytes.toString),
      s"ledger table $table lacks parquet.block.size=$RowGroupBytes in its " +
        "catalog storage properties; appends would revert to 128MB row " +
        "groups and probe pruning would degrade — recreate the table via " +
        "init or compact")
  }

  /** Ingest one batch: emit its candidate near-dup pairs against the
    * corpus so far (including itself), then append its band rows. The
    * pairs are an EAGER localCheckpoint computed before the append, so
    * the returned frame stays valid after the ledger has absorbed the
    * batch; a crashed ingest is replayed whole (see [[compact]]).
    *
    * Output: (doc_id_1 < doc_id_2).
    */
  def ingest(spark: SparkSession, batch: DataFrame, ledgerTable: String,
      bucketCap: Int = MinHashLsh.BucketCap): DataFrame = {
    // one signature pass for both the probe and the append
    val bands = bandRows(batch).localCheckpoint(false)
    val pairs = candidatesFromBands(spark, bands, ledgerTable, bucketCap)
      .localCheckpoint(true)
    writeSorted(bands, ledgerTable, SaveMode.Append)
    pairs
  }

  /** Fold the accumulated sorted runs into ONE globally-sorted run
    * without duplicate (bkey, doc_id) rows. A crashed-and-retried
    * batch re-appends its band rows blindly (at-least-once append is
    * the cheap, lock-free contract — pair output stays correct because
    * emission dedupes per pair, duplicates are bit-identical, and the
    * hot-bucket cap counts distinct (bkey, doc_id), so duplicates
    * cannot inflate df past `bucketCap`). What duplicates and
    * accumulated runs DO cost is probe fan-out (a probe reads ≤ keys
    * row groups PER RUN); periodic compaction restores minimality —
    * the LSM amortization, paid separately from probes. The distinct
    * fold materializes to `tmpDir` first — a table cannot be
    * overwritten from a plan that reads it.
    */
  def compact(spark: SparkSession, ledgerTable: String,
      tmpDir: String): Unit = {
    spark.table(ledgerTable)
      .select("bkey", "doc_id").distinct()
      .write.mode(SaveMode.Overwrite).parquet(tmpDir)
    writeSorted(
      spark.read.parquet(tmpDir)
        .select(xxhash64(col("bkey")).as("bkh"), col("bkey"), col("doc_id")),
      ledgerTable, SaveMode.Overwrite)
    // the overwrite replaced every file; refresh here (once per
    // compaction, not per probe) so any OTHER session in this JVM —
    // foreachBatch's cloned sessions included — re-lists instead of
    // scanning dead files (see ClusterLedger.resolvePatch's note)
    spark.catalog.refreshTable(ledgerTable)
  }

  /** The pre-append probe plan ingest materializes — exposed so tests
    * can audit it (and its scan set: this batch plus the pruned band
    * ledger, never prior corpora).
    */
  def candidatePairsAgainst(spark: SparkSession, batch: DataFrame,
      ledgerTable: String,
      bucketCap: Int = MinHashLsh.BucketCap,
      maxPushdownKeys: Int = MaxPushdownKeys): DataFrame =
    candidatesFromBands(spark, bandRows(batch).localCheckpoint(false),
      ledgerTable, bucketCap, maxPushdownKeys)

  private def candidatesFromBands(spark: SparkSession, fresh: DataFrame,
      ledgerTable: String, bucketCap: Int,
      maxPushdownKeys: Int = MaxPushdownKeys): DataFrame = {
    require(bucketCap > 1, "bucketCap must exceed 1")
    val old = prunedLedger(spark, fresh, ledgerTable, maxPushdownKeys)
    // ONE pruned scan feeds everything: ledger rows and batch rows
    // union under an is_new flag, repartition on bkey, and every
    // downstream consumer (the per-(bkey,doc_id) dedupe, the
    // hot-bucket guard, the bucket aggregate) reads THAT exchange, so
    // the point-lookup parquet read and the windows run once per
    // probe.
    val all = old.select(col("bkey"), col("doc_id"), lit(false).as("is_new"))
      .unionAll(fresh.select(col("bkey"), col("doc_id"), lit(true).as("is_new")))
      .repartition(col("bkey"))
    // hot-bucket guard over the POST-append population, counted as
    // DISTINCT DOCS per bucket, not rows: accumulated LSM runs and
    // replayed micro-batches re-append bit-identical band rows (the
    // retry contract), and a row count would let those duplicates
    // push a bucket over `bucketCap` and suppress pairs the first
    // attempt emitted — distinct (bkey, doc_id) makes the cap
    // decision replay-stable and compaction-invariant. The dedupe
    // prefers the batch copy (is_new desc) so a re-ingested doc still
    // probes. Both windows cluster on bkey, so the one repartition
    // above satisfies them and the aggregate below with no further
    // exchange.
    val wDoc = Window.partitionBy("bkey", "doc_id")
      .orderBy(col("is_new").desc)
    val wB = Window.partitionBy("bkey")
    val ok = all
      .withColumn("__dup", row_number().over(wDoc))
      .filter(col("__dup") === 1).drop("__dup")
      .withColumn("df", count(lit(1)).over(wB))
      .withColumn("has_new", max(col("is_new")).over(wB))
      .filter(col("df") > 1 && col("df") <= bucketCap && col("has_new"))
    // one list pair per surviving bucket, each ≤ bucketCap ids (the
    // cap filtered above) — MinHashLsh.candidatePairs' bounded
    // pattern with the batch's docs on one side: every fresh doc meets
    // every other doc of its bucket (new×old ∪ new×new)
    ok.groupBy("bkey")
      .agg(collect_list(when(col("is_new"), col("doc_id"))).as("fresh"),
        collect_list(col("doc_id")).as("docs"))
      .select(explode(col("fresh")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("doc_id_1"),
        greatest(col("a"), col("b")).as("doc_id_2"))
      .distinct()
  }

  /** The ledger, pruned to the batch's touched keys when the batch is
    * small enough to push: collect the batch's `bkh` column (a bounded
    * driver model — one long per band row, capped at
    * [[MaxPushdownKeys]] rows), dedupe it on the driver and push it as
    * an In filter the parquet reader prunes row groups with.
    * Collisions only ADMIT extra rows (superset filter); every
    * consumer keys on the exact `bkey`. Falls back to the full scan
    * when the batch outgrows the cap — at that size the batch is
    * corpus-scale and a scan is proportional to it anyway.
    *
    * How Spark 4 translates the pushed In decides whether this is
    * merely correct or also SAFE. At or under
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10) the
    * In becomes a LEFT-DEEP or-chain of parquet `eq` predicates —
    * whose recursive evaluation overflows a default task stack
    * somewhere past a few thousand keys (observed as
    * StackOverflowError inside the scan's nextBatch at the 10x-scale
    * sweep). ABOVE the threshold Spark 4 builds parquet's NATIVE
    * set-based In predicate (`FilterApi.in`) — no recursion at any
    * set size, and row groups are still pruned through min/max
    * statistics and dictionary checks, which is everything the
    * point-lookup layout needs. So the threshold is deliberately LEFT
    * AT ITS DEFAULT: every real probe (>10 keys) routes onto the
    * stack-safe native path, and no session mutation is needed
    * anywhere. (Raising it, as earlier rounds did for Spark 3.x
    * reasons, re-arms the or-chain stack bomb — do not.)
    */
  private def prunedLedger(spark: SparkSession, fresh: DataFrame,
      ledgerTable: String, maxPushdownKeys: Int): DataFrame = {
    val all = spark.table(ledgerTable)
    graft.Tables.collectBounded(fresh.select("bkh"), maxPushdownKeys) match {
      case Some(rows) => all.filter(col("bkh").isInCollection(rows.map(_.getLong(0)).distinct))
      case None => all
    }
  }
}
