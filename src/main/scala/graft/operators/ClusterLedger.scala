package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained dedup CLUSTERS: the third stage of the
  * incremental curation story (exact hashes → DedupLedger, near-dup
  * candidate pairs → MinHashLedger, pairs → cluster labels → here).
  * A persistent (id, component) table holds the min-label connected
  * components of every pair emitted so far; each batch folds in only
  * its DELTA — the new docs and the pairs its MinHashLedger probe
  * emitted — never re-running components over the accumulated pair
  * graph.
  *
  * The delta fold is the standard super-node collapse: every prior
  * cluster is represented by its label (one vertex per cluster —
  * valid because ALL prior connectivity is inside prior clusters, so
  * any new merge must travel through a delta edge), delta edges map
  * endpoints to their super-nodes, and connected components run on
  * that collapsed graph — whose size is bounded by the DELTA (≤ 2
  * super-nodes per delta edge), not the corpus. Each super-node id is
  * its old cluster's minimum doc id, so the merged component's
  * min-label is the true min over every member doc — the incremental
  * labeling is bit-identical to a full recompute
  * (ClusterLedgerSpec proves it pair-for-pair on the fixture corpus
  * through the real MinHashLedger batch flow).
  *
  * == Patch-append persistence ==
  *
  * ([[initPatch]]/[[ingestPatch]]/[[resolvePatch]]) Per-batch writes
  * are proportional to the DELTA. The base label table is APPEND-ONLY
  * — each batch appends its new docs labeled as of admission — and
  * merges land in a separate, fully-resolved
  * `<table>_patch` map (stale label → current label). Because labels
  * are monotone decreasing and a stale label can never become current
  * again (a cluster's label is its min member id; once remapped to a
  * smaller min, the old min's cluster contains that smaller id
  * forever), the patch map composes by a single substitution pass per
  * batch — no chains survive — and a read resolves with ONE
  * broadcast-join: `coalesce(patch[component], component)`.
  * Per-batch write = |delta| appended labels + the (touched-clusters-
  * sized) patch rewrite, where rewriting the whole label table per
  * batch would write corpus-linear bytes.
  *
  * Retry-safe: MinHashLedger blesses blind re-append for a
  * crashed-then-retried batch, and the composed pipeline forwards
  * the same batch here — so `newIds` is anti-joined against the
  * already-admitted ids before labeling. Without that, a retried doc
  * would emit a SECOND self-labeled row (`coalesce(component, id)`)
  * conflicting with its already-merged label. Retried deltaEdges are
  * harmless either way (their endpoints collapse to the super-nodes
  * they already merged into, a no-op CC).
  */
object ClusterLedger {

  val NBuckets = 16

  /** The delta-sized remap: collapse delta-edge endpoints to their
    * current cluster labels (super-nodes), run CC on that collapsed
    * graph, return (old label → merged min label) rows for every
    * touched super-node. Bounded by the delta (≤ 2 super-nodes per
    * delta edge) — this is the only state a batch's merges produce.
    */
  private def mergeRemap(currentLabels: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val l = currentLabels.select(col("id"), col("component"))
    val superEdges = deltaEdges
      .join(l.select(col("id").as("src"), col("component").as("sc")),
        Seq("src"), "left")
      .join(l.select(col("id").as("dst"), col("component").as("dc")),
        Seq("dst"), "left")
      .select(coalesce(col("sc"), col("src")).as("src"),
        coalesce(col("dc"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    GraphOps.connectedComponents(superEdges)
  }

  /** Create the empty append-only base table (bucketed, bucket-sorted
    * by id) + empty patch map with catalog DDL, which runs no Spark
    * job; robust to stale warehouse directories (see
    * Tables.dropWithLocation).
    */
  def initPatch(spark: SparkSession, ledgerTable: String): Unit = {
    graft.Tables.dropWithLocation(spark, ledgerTable)
    spark.sql(s"CREATE TABLE $ledgerTable (id BIGINT, component BIGINT) " +
      s"USING parquet CLUSTERED BY (id) SORTED BY (id) INTO $NBuckets BUCKETS")
    createEmptyPatch(spark, ledgerTable)
  }

  /** (Re)create the empty patch map with catalog DDL. */
  private def createEmptyPatch(spark: SparkSession, ledgerTable: String): Unit = {
    graft.Tables.dropWithLocation(spark, patchTable(ledgerTable))
    spark.sql(s"CREATE TABLE ${patchTable(ledgerTable)} " +
      "(from_label BIGINT, to_label BIGINT) USING parquet")
  }

  private def patchTable(ledgerTable: String): String = s"${ledgerTable}_patch"

  /** The resolved labels view: base (as-of-admission labels) composed
    * with the fully-resolved patch map in ONE broadcast join. This is
    * the read path patch mode trades its cheap writes for — still a
    * single narrow join, never an iteration (the patch map has no
    * chains by construction, see the class doc).
    *
    * Both tables are refreshed before planning: the patch map is
    * OVERWRITTEN every fold, and a caller whose session did not do
    * the last write — Structured Streaming's foreachBatch runs in a
    * CLONED session per query, so alternating streamed and manual
    * folds is exactly this — can hold a stale cached file listing and
    * die with FILE_NOT_EXIST mid-scan (caught by the
    * compact-interleave replay in StreamingLedgerSpec). The refresh
    * re-lists two delta-sized directories; negligible next to the
    * fold.
    */
  def resolvePatch(spark: SparkSession, ledgerTable: String): DataFrame = {
    spark.catalog.refreshTable(ledgerTable)
    spark.catalog.refreshTable(patchTable(ledgerTable))
    spark.table(ledgerTable)
      .join(broadcast(spark.table(patchTable(ledgerTable))
        .withColumnRenamed("from_label", "component")),
        Seq("component"), "left")
      .select(col("id"),
        coalesce(col("to_label"), col("component")).as("component"))
  }

  /** Fold one batch in patch-append mode — the one body of this step;
    * every incremental flow calls it. Writes: the batch's first-time
    * ids labeled as of admission (APPEND, delta-sized) and the
    * substituted patch map (overwrite of a touched-clusters-sized side
    * table). The corpus-sized base table is never rewritten.
    * Intermediates are eager localCheckpoints, computed before the
    * tables they read are overwritten or appended; a crashed fold is
    * replayed whole (see the class doc's retry note). Returns the
    * resolved labels after the fold.
    */
  def ingestPatch(spark: SparkSession, newIds: DataFrame,
      deltaEdges: DataFrame, ledgerTable: String): DataFrame = {
    // == Point-lookup regime (the MinHashLedger.prunedLedger twin) ==
    // The fold only ever needs base-table rows for THIS BATCH's ids
    // (admitted-or-not) and the delta edges' endpoints (their current
    // labels) — a delta-bounded set. The previous shape instead joined
    // the corpus-sized resolved table against the delta THREE ways
    // (two left joins in mergeRemap + the first-time anti-join), and
    // because the corpus side can never broadcast, each was a full
    // scan + sort-merge exchange of the base table PER BATCH. Collect
    // the touched-id set (capped), push it into the base scan as an In
    // filter — the table is bucketed AND sorted by id, so parquet
    // min/max stats prune to the touched row groups — and every join
    // below broadcasts a delta-bounded side: per-batch base IO and
    // shuffle bytes become delta-proportional. Past the cap the fold
    // falls back to the corpus-proportional joins (a batch that large
    // is corpus-scale, where they are proportional anyway).
    spark.catalog.refreshTable(ledgerTable)
    spark.catalog.refreshTable(patchTable(ledgerTable))
    // Regime guard (Tables.spread's small-input test, inverted): the
    // pushdown spends ~2 extra actions per fold (the touched-id collect
    // and the pruned-slice materialization), which only pays once the
    // base table is big enough that corpus-proportional scans dominate
    // — below parallelism × openCostInBytes a full scan join is cheaper
    // than the collect it would save (A/B at sf0.1: pushdown 13.0 s vs
    // 11.7 s for the whole 3-batch flow on a KB-sized base), so the
    // small regime keeps the plain joins and the pushdown arms exactly
    // where its delta-proportional IO matters.
    if (graft.Tables.underOneOpenCostPerCore(spark.table(ledgerTable)))
      return ingestPatchFallback(spark, newIds, deltaEdges, ledgerTable)
    ingestPatchPushdown(spark, newIds, deltaEdges, ledgerTable)
  }

  /** The point-lookup patch fold — package-visible so ClusterLedgerSpec
    * can drive this regime directly on fixture-sized tables the size
    * guard would route to the fallback. The touched-id collect is
    * capped at MinHashLedger.MaxPushdownKeys (8 MB of longs); past it
    * the fold takes the fallback.
    */
  private[graft] def ingestPatchPushdown(spark: SparkSession,
      newIds: DataFrame, deltaEdges: DataFrame,
      ledgerTable: String): DataFrame = {
    val touched = newIds.select(col("id"))
      .unionAll(deltaEdges.select(col("src").as("id")))
      .unionAll(deltaEdges.select(col("dst").as("id")))
      .distinct()
    val touchedIds =
      graft.Tables.collectBounded(touched, MinHashLedger.MaxPushdownKeys) match {
        case Some(rows) => rows.map(_.getLong(0))
        case None =>
          return ingestPatchFallback(spark, newIds, deltaEdges, ledgerTable)
      }
    // the touched slice of the base table, resolved through the patch
    // map exactly like resolvePatch; materialized because the patch
    // table it reads is overwritten later in this fold
    val epLabels = spark.table(ledgerTable)
      .filter(col("id").isInCollection(touchedIds))
      .join(broadcast(spark.table(patchTable(ledgerTable))
        .withColumnRenamed("from_label", "component")),
        Seq("component"), "left")
      .select(col("id"),
        coalesce(col("to_label"), col("component")).as("component"))
      .localCheckpoint(true)
    // super-node collapse on broadcast endpoint labels (mergeRemap's
    // algebra with the join sides flipped to the delta-bounded frame)
    val superEdges = deltaEdges
      .join(broadcast(epLabels.select(col("id").as("src"),
        col("component").as("sc"))), Seq("src"), "left")
      .join(broadcast(epLabels.select(col("id").as("dst"),
        col("component").as("dc"))), Seq("dst"), "left")
      .select(coalesce(col("sc"), col("src")).as("src"),
        coalesce(col("dc"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val m = GraphOps.connectedComponents(superEdges)
      .select(col("id").as("from_label"), col("component").as("to_label"))
      .filter(col("from_label") =!= col("to_label"))
      .localCheckpoint(true)
    // first-time ids = batch ids with no base row among the touched
    // slice (newIds ⊆ touched, so the slice decides membership)
    val firstTime = newIds.select(col("id"))
      .join(broadcast(epLabels.select("id")), Seq("id"), "left_anti")
    finishPatchFold(spark, m, firstTime, ledgerTable)
  }

  /** The corpus-proportional patch fold — the pre-pushdown shape, kept
    * verbatim as the past-the-cap regime.
    */
  private def ingestPatchFallback(spark: SparkSession, newIds: DataFrame,
      deltaEdges: DataFrame, ledgerTable: String): DataFrame = {
    val resolved = resolvePatch(spark, ledgerTable)
    // materialize the delta remap BEFORE touching the patch table (the
    // resolve plan reads it); delta-sized
    val m = mergeRemap(resolved, deltaEdges)
      .select(col("id").as("from_label"), col("component").as("to_label"))
      .filter(col("from_label") =!= col("to_label"))
      .localCheckpoint(true)
    // the patch map records only OLD cluster labels that moved: a
    // remap entry keyed by one of this batch's first-time ids is
    // served by the base append below (the doc lands already-merged),
    // and keeping it out is what makes the patch grow with TOUCHED
    // CLUSTERS rather than with admitted docs. First-time ids and old
    // labels are disjoint (labels are previously-admitted doc ids), so
    // the anti-join drops nothing a read could ever need.
    val firstTime = newIds.select(col("id"))
      .join(spark.table(ledgerTable).select("id"), Seq("id"), "left_anti")
    finishPatchFold(spark, m, firstTime, ledgerTable)
  }

  /** Shared tail of both patch-fold regimes: compose the patch map,
    * append first-time admissions, return the resolved labels.
    */
  private def finishPatchFold(spark: SparkSession, m: DataFrame,
      firstTime: DataFrame, ledgerTable: String): DataFrame = {
    val mOld = m.join(firstTime.withColumnRenamed("id", "from_label"),
      Seq("from_label"), "left_anti")
    // one substitution pass keeps the map fully resolved: existing
    // entries pointing at a label this batch re-merged follow it to
    // the new min; no chains can survive, so reads stay one join
    spark.table(patchTable(ledgerTable))
      .join(broadcast(mOld.select(col("from_label").as("to_label"),
        col("to_label").as("to2"))),
        Seq("to_label"), "left")
      .select(col("from_label"),
        coalesce(col("to2"), col("to_label")).as("to_label"))
      .unionByName(mOld)
      .localCheckpoint(true)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(patchTable(ledgerTable))
    // first-time admissions, labeled as of NOW (post-merge). A new
    // doc's super-node id IS itself (never previously admitted), so
    // the m join lands its merged min; unpaired docs self-label.
    // Materialized before the append — the plan anti-joins the table
    // it inserts into.
    firstTime
      .join(broadcast(m.withColumnRenamed("from_label", "id")), Seq("id"),
        "left")
      .select(col("id"),
        coalesce(col("to_label"), col("id")).as("component"))
      .localCheckpoint(true)
      .write.mode(SaveMode.Append).insertInto(ledgerTable)
    resolvePatch(spark, ledgerTable)
  }

  /** Fold the patch map into the base table and truncate it — patch
    * mode's LSM amortization, the counterpart of MinHashLedger.compact:
    * per-batch folds keep writes delta-sized, but the read-side
    * contract (ONE broadcast join) only holds while the patch map
    * stays broadcast-small, and it grows with touched clusters across
    * the whole history. A periodic checkpoint rewrites the base with
    * every patch applied (one corpus-sized write, amortized over many
    * delta-sized batches) and empties the map — resolved labels are
    * bit-identical before and after (resolvePatch over an empty map IS
    * the base), proven in ClusterLedgerSpec, which also folds further
    * batches on top of a checkpoint. Maintenance cost is paid
    * separately from per-batch folds, exactly like MinHashLedger's
    * compact vs probe.
    */
  def checkpointPatch(spark: SparkSession, ledgerTable: String,
      tmpDir: String): Unit = {
    // materialize the resolve BEFORE overwriting the tables it reads
    resolvePatch(spark, ledgerTable)
      .write.mode(SaveMode.Overwrite).parquet(tmpDir)
    spark.read.parquet(tmpDir)
      .select("id", "component")
      .write.mode(SaveMode.Overwrite)
      .bucketBy(NBuckets, "id").sortBy("id")
      .saveAsTable(ledgerTable)
    createEmptyPatch(spark, ledgerTable)
  }

  /** The incremental CLUSTER flow as an ORACLE-CHECKED query — the
    * composed pipeline q_dedup_incremental feeds: the same bounded
    * universe (doc_id % 5 == 0, ≥1 token) ingested in the same three
    * modulo batches, each batch's MinHashLedger candidate pairs folded
    * into a patch-append cluster ledger as its delta edges, every
    * admitted doc labeled. The final resolved table is the min-label
    * connected components of the union of per-batch pairs — by the
    * append-monotone theorem, of the ONE-SHOT banded-LSH pair set —
    * which the DuckDB oracle replays directly (same salted-md5
    * signatures, recursive-CTE reachability, unpaired docs
    * self-labeled), so incremental-fold ≡ full-recompute is
    * hash-checked by the driver, not just spec-asserted
    * (ClusterLedgerSpec proves the same equality per batch through
    * the same ingest and ingestPatch calls).
    *
    * Everything ephemeral: band + label + patch tables are throwaway
    * UUIDs dropped in the finally — no caller-owned dirs, nothing
    * leaked.
    */
  def qDedupIncrClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = MinHashLedger.incrUniverse(spark, sfDir)
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "")
    val bandTable = s"q_incr_cl_band_$suffix"
    val labelTable = s"q_incr_cl_lab_$suffix"
    MinHashLedger.init(spark, bandTable)
    initPatch(spark, labelTable)
    try {
      (0 until 3).foreach { b =>
        val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
        val pairs = MinHashLedger.ingest(spark, batch, bandTable)
        ingestPatch(spark,
          batch.select(col("doc_id").as("id")),
          pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")),
          labelTable)
      }
      // materialize the final resolve before the finally drops the
      // tables the lazy plan would otherwise re-read
      resolvePatch(spark, labelTable).orderBy("id").localCheckpoint(true)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $bandTable")
      spark.sql(s"DROP TABLE IF EXISTS $labelTable")
      spark.sql(s"DROP TABLE IF EXISTS ${patchTable(labelTable)}")
    }
  }
}
