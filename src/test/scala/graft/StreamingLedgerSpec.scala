package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ClusterLedger, GraphOps, MinHashLedger, MinHashLsh}
import graft.streaming.LedgerSink

/** The incremental dedup ledgers driven FROM Structured Streaming
  * (LedgerSink.foreachBatch), proven pair- and label-identical to the
  * one-shot batch computation — across a stop/resume boundary, so the
  * checkpointed composition (source offsets + ledger tables) is what's
  * under test, not just three manual ingest calls.
  */
class StreamingLedgerSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("streamed micro-batches reproduce one-shot pairs and cluster labels across a restart") {
    val near = "stream_ledger_near_t"
    val clus = "stream_ledger_labels_t"
    MinHashLedger.init(spark, near)
    ClusterLedger.initPatch(spark, clus)
    val in = Files.createTempDirectory("sledger_in_").toString
    val work = Files.createTempDirectory("sledger_work_").toString
    val ckpt = Files.createTempDirectory("sledger_ckpt_").toString
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      def arrive(b: Int): Unit =
        docs.filter(pmod(col("doc_id"), lit(3)) === b)
          .coalesce(1).write.mode("append").parquet(in)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      def stream() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)

      // two batches arrive; drain 1 stops at the AvailableNow boundary
      // (the simulated crash); the third arrives; drain 2 resumes from
      // the checkpoint and must process ONLY batch 3
      arrive(0); arrive(1)
      LedgerSink.drainAvailable(stream(), near, clus, work, ckpt)
      arrive(2)
      LedgerSink.drainAvailable(stream(), near, clus, work, ckpt)

      // batch-level exactly-once: three micro-batches, each committed once
      val batchDirs = new java.io.File(work).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(batchDirs.sameElements(Array("batch=0", "batch=1", "batch=2")),
        s"expected 3 micro-batches, got ${batchDirs.mkString(",")}")

      // union of streamed per-batch pairs == one-shot banded-LSH pairs
      val streamedPairs = spark.read.parquet(s"$work/batch=*/pairs")
        .select("doc_id_1", "doc_id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShotPairs = MinHashLsh.candidatePairs(docs)
        .select("doc_id_1", "doc_id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedPairs == oneShotPairs,
        s"streamed pair union ${streamedPairs.size} != one-shot ${oneShotPairs.size}")

      // resolved incremental labels == one-shot min-label components on
      // the paired universe; unpaired docs self-label
      val resolved = ClusterLedger.resolvePatch(spark, clus).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShot = GraphOps.connectedComponents(
        MinHashLsh.candidatePairs(docs)
          .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val paired = oneShot.map(_._1)
      assert(resolved.filter(t => paired(t._1)) == oneShot,
        "streamed cluster labels diverge from one-shot components")
      assert(resolved.filterNot(t => paired(t._1)).forall(t => t._1 == t._2),
        "unpaired docs must self-label")
      assert(resolved.map(_._1) ==
        docs.select("doc_id").collect().map(_.getLong(0)).toSet,
        "every streamed doc labeled exactly once")
    } finally {
      Seq(near, clus, s"${clus}_patch")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("compact interleaved with streaming ingest — and after a replayed batch — preserves pairs and labels") {
    val near = "stream_ledger_near_c"
    val clus = "stream_ledger_labels_c"
    MinHashLedger.init(spark, near)
    ClusterLedger.initPatch(spark, clus)
    val in = Files.createTempDirectory("sledgerc_in_").toString
    val work = Files.createTempDirectory("sledgerc_work_").toString
    val ckpt = Files.createTempDirectory("sledgerc_ckpt_").toString
    val tmp = Files.createTempDirectory("sledgerc_tmp_").toString
    try {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      def arrive(b: Int): Unit =
        docs.filter(pmod(col("doc_id"), lit(3)) === b)
          .coalesce(1).write.mode("append").parquet(in)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      def stream() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)

      // batch 0 → LSM maintenance (compact) → batch 1: the probe after
      // compaction runs against a rewritten single-run ledger
      arrive(0)
      LedgerSink.drainAvailable(stream(), near, clus, work, ckpt)
      MinHashLedger.compact(spark, near, s"$tmp/c0")
      arrive(1)
      LedgerSink.drainAvailable(stream(), near, clus, work, ckpt)

      // simulated micro-batch REPLAY: batch 1 runs again against a
      // ledger that already holds its band rows (the at-least-once
      // retry). The distinct-doc hot-bucket cap must make the replay
      // emit EXACTLY the pairs the first attempt committed — a row
      // count would let the duplicate rows push buckets over BucketCap
      // and silently suppress pairs.
      val batch1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      val replayPairs = MinHashLedger.ingest(spark, batch1, near)
      ClusterLedger.ingestPatch(spark,
        batch1.select(col("doc_id").as("id")),
        replayPairs.select(col("doc_id_1").as("src"),
          col("doc_id_2").as("dst")),
        clus)
      val firstAttempt = spark.read.parquet(s"$work/batch=1/pairs")
        .select("doc_id_1", "doc_id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val replayed = replayPairs.select("doc_id_1", "doc_id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(replayed == firstAttempt,
        s"replayed batch emitted ${replayed.size} pairs; " +
          s"first attempt committed ${firstAttempt.size}")

      // compact AFTER the replay (removes the duplicate rows the
      // replay appended), then the final batch probes the result
      MinHashLedger.compact(spark, near, s"$tmp/c1")
      val dup = spark.table(near).groupBy("bkey", "doc_id")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      assert(dup == 0, "compact left duplicate (bkey, doc_id) rows")
      arrive(2)
      LedgerSink.drainAvailable(stream(), near, clus, work, ckpt)

      // end state: pair union and labels still equal the one-shot
      // computation despite two compactions and one replay
      val streamedPairs = spark.read.parquet(s"$work/batch=*/pairs")
        .select("doc_id_1", "doc_id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShotPairs = MinHashLsh.candidatePairs(docs)
        .select("doc_id_1", "doc_id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedPairs == oneShotPairs,
        s"pair union ${streamedPairs.size} != one-shot ${oneShotPairs.size}")
      val resolved = ClusterLedger.resolvePatch(spark, clus).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShot = GraphOps.connectedComponents(
        MinHashLsh.candidatePairs(docs)
          .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val paired = oneShot.map(_._1)
      assert(resolved.filter(t => paired(t._1)) == oneShot,
        "labels diverge from one-shot after compact/replay interleave")
      assert(resolved.filterNot(t => paired(t._1)).forall(t => t._1 == t._2))
    } finally {
      Seq(near, clus, s"${clus}_patch")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
