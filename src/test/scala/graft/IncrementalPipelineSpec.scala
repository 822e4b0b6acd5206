package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupLedger, MinHashLedger}

/** The incremental curation pipeline end-to-end, across ingestion
  * runs: each batch first drops content seen in ANY prior run (exact
  * dedup via the sha256 ledger), then flags near-duplicates of the
  * admitted corpus so far (MinHash band ledger). This is the
  * run-N-costs-batch-N composition a 100 TB crawl pipeline actually
  * executes — both ledgers bucketed, neither rescanning prior
  * corpora.
  */
class IncrementalPipelineSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("exact-then-near incremental dedup composes across runs") {
    val exact = "incr_pipe_exact_t"
    val near = "incr_pipe_near_t"
    DedupLedger.init(spark, exact)
    MinHashLedger.init(spark, near)
    try {
      def runBatch(tag: String, rows: Seq[(Long, String)]) = {
        val admitted = DedupLedger.ingest(spark,
          rows.toDF("doc_id", "text"), "text", "doc_id", exact,
          Files.createTempDirectory(s"incr_${tag}_adm_").toString)
        val pairs = MinHashLedger.ingest(spark, admitted, near)
        (admitted.select("doc_id").as[Long].collect().toSet,
          pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      }

      // run 1: two distinct docs plus an exact dup (dropped pre-LSH)
      val (adm1, p1) = runBatch("r1", Seq(
        (1L, "alpha beta gamma delta"),
        (2L, "epsilon zeta eta theta"),
        (3L, "alpha beta gamma delta")))
      assert(adm1 == Set(1L, 2L) && p1.isEmpty)

      // run 2: an exact dup of run 1 (never reaches the near ledger),
      // a near-dup of doc 1 (flagged against the PRIOR corpus), and a
      // fresh doc
      val (adm2, p2) = runBatch("r2", Seq(
        (10L, "alpha beta gamma delta"),
        (11L, "alpha beta gamma iota"),
        (12L, "kappa lambda mu nu")))
      assert(adm2 == Set(11L, 12L),
        "the exact dup must be dropped by the hash ledger before LSH")
      assert(p2.contains((1L, 11L)),
        "the near-dup must be flagged against the run-1 corpus via the band ledger")
      assert(!p2.exists(t => t._1 == 10L || t._2 == 10L),
        "a dropped exact dup must never appear in near-dup pairs")

      // the near ledger holds band rows ONLY for admitted docs
      val docsInNear = spark.table(near)
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(docsInNear == Set(1L, 2L, 11L, 12L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $exact")
      spark.sql(s"DROP TABLE IF EXISTS $near")
    }
  }
}
