package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ClusterLedger, DedupLedger, MinHashLedger}

/** Cross-run incremental dedup: run 2 must admit only content unseen
  * in run 1, and a re-ingested identical batch admits nothing. Every
  * ledger's `init` also survives a stale warehouse directory.
  */
class DedupLedgerSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("ledger admits each content hash exactly once across runs") {
    val ledger = "dedup_ledger_t"
    DedupLedger.init(spark, ledger)
    try {
      val run1 = Seq(
        (1L, "alpha beta"), (2L, "gamma delta"),
        (3L, "alpha beta")) // in-batch dup of 1
        .toDF("doc_id", "text")
      val out1 = DedupLedger.ingest(spark, run1, "text", "doc_id", ledger,
        Files.createTempDirectory("ledger_run1_").toString)
      assert(out1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
        "run 1 must keep the min-id row per content")

      val run2 = Seq(
        (10L, "alpha beta"),   // seen in run 1 → dropped
        (11L, "epsilon zeta"), // new → admitted
        (12L, "epsilon zeta")) // in-batch dup → dropped
        .toDF("doc_id", "text")
      val out2 = DedupLedger.ingest(spark, run2, "text", "doc_id", ledger,
        Files.createTempDirectory("ledger_run2_").toString)
      assert(out2.select("doc_id").as[Long].collect().toSet == Set(11L))

      // identical re-ingestion is a no-op
      val out3 = DedupLedger.ingest(spark, run2, "text", "doc_id", ledger,
        Files.createTempDirectory("ledger_run3_").toString)
      assert(out3.count() == 0)

      // the ledger holds exactly the 3 distinct hashes, once each
      val hashes = spark.table(ledger).as[String].collect()
      assert(hashes.length == 3 && hashes.toSet.size == 3)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $ledger")
    }
  }

  test("every ledger init replaces a stale warehouse directory") {
    // a previous JVM's table: the in-memory catalog forgot it, its
    // warehouse dir (with data in it) is still on disk
    def plantStale(table: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val dir = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "part-00000-stale"))
      try out.writeBytes("stale") finally out.close()
    }
    val inits: Seq[(Seq[String], String => Unit)] = Seq(
      Seq("dedup_ledger_stale_t") -> (t => DedupLedger.init(spark, t)),
      Seq("minhash_ledger_stale_t") -> (t => MinHashLedger.init(spark, t)),
      Seq("cluster_ledger_stale_t", "cluster_ledger_stale_t_patch") ->
        (t => ClusterLedger.initPatch(spark, t)))
    try inits.foreach { case (tables, init) =>
      tables.foreach(plantStale)
      init(tables.head)
      tables.foreach(t => assert(spark.table(t).count() == 0, s"$t must start empty"))
    } finally inits.flatMap(_._1).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
