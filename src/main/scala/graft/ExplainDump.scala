package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Renders `explain("formatted")` plans to markdown, normalized so two
  * renders of the same code are byte-identical wherever they run.
  *
  * `sbt "runMain graft.ExplainDump <sfDir> <out.md>"` dumps every
  * `SparkEntry.queries` entry (sorted) plus the two ledger plans: diff
  * two such dumps to check that a change is plan-neutral. Trailing
  * names (`ExplainDump <sfDir> <out.md> q1 q2 …`, Verify's convention)
  * dump only those sections. EXPLAINS.md is the render of [[Headline]]
  * plus the ledger plans at sf0.01; `ExplainGoldenSpec` re-renders it
  * and fails on any difference. The session is `local[4]` with 4
  * shuffle partitions on every host.
  */
object ExplainDump {
  /** One plan per README "Design for scale" claim. */
  val Headline = Seq(
    "q_scan_project", "q_filter", "q_wordcount", "q_agg_hash",
    "q_join_broadcast", "q_topk", "q_inverted_index_capped",
    "q_ngram_jaccard", "q_sim_topk", "q_dedup_hamming")

  /** The incremental-ledger operators live outside `SparkEntry.queries`
    * (no oracle, spec-proven), so their plans are rendered against a
    * small seeded ledger: the probe must show the pushed `In` filter on
    * bkh (the point-lookup prune), the patch resolve its single
    * broadcast join.
    */
  val LedgerPlans = Seq("minhash_ledger_probe", "cluster_ledger_patch_resolve")

  /** Ids, lambda-variable suffixes (a JVM-wide counter, so they depend
    * on what ran before), line numbers, Scala objects' identity hashes
    * (a UDAF's `Aggregator`) and the working directory vary from run to
    * run and from host to host; nothing else in a formatted plan does.
    */
  private val Volatile = Seq(
    "#\\d+L?" -> "#n",
    "(lambda \\w+?)_\\d+#" -> "$1_n#",
    "plan_id=\\d+" -> "plan_id=n",
    "RDD\\[\\d+\\]" -> "RDD[n]",
    "\\.scala:\\d+" -> ".scala:n",
    "\\$@[0-9a-f]+" -> "\\$@n",
    "file:\\S*/spark-warehouse/" -> "spark-warehouse/")

  private def normalize(plan: String): String =
    Volatile.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  /** The markdown of `names` (queries or [[LedgerPlans]]), normalized. */
  def render(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("# Query plans (`explain formatted`, AQE initial plan)\n\n")
    sb.append(s"Rendered by `graft.ExplainDump` at $sfDir, normalized.\n")
    def section(name: String, df: DataFrame): Unit = {
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    names.filterNot(LedgerPlans.contains)
      .foreach(name => section(name, SparkEntry.queries(name)(spark, sfDir)))
    val ledger = names.filter(LedgerPlans.contains)
    if (ledger.nonEmpty) {
      import org.apache.spark.sql.functions._
      import graft.operators.{ClusterLedger, MinHashLedger}
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      val seed = docs.filter(col("doc_id") % 2 === 0)
      val probeBatch = docs.filter(col("doc_id") % 40 === 1).limit(25)
      val mh = "explain_minhash_ledger"
      val clp = "explain_cluster_ledger_pa"
      MinHashLedger.init(spark, mh)
      ClusterLedger.initPatch(spark, clp)
      try {
        val pairs = MinHashLedger.ingest(spark, seed, mh)
        val ids = seed.select(col("doc_id").as("id"))
        val edges = pairs
          .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
        ClusterLedger.ingestPatch(spark, ids, edges, clp)
        val plans = Map(
          "minhash_ledger_probe" ->
            MinHashLedger.candidatePairsAgainst(spark, probeBatch, mh),
          "cluster_ledger_patch_resolve" -> ClusterLedger.resolvePatch(spark, clp))
        ledger.foreach(name => section(name, plans(name)))
      } finally Seq(mh, clp, s"${clp}_patch")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    normalize(sb.toString)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <sfDir> <out.md> [name …]")
    val (sfDir, out) = (args(0), args(1))
    val names = args.drop(2).toSeq match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted ++ LedgerPlans
      case named => named
    }
    val unknown = names.filterNot(n =>
      SparkEntry.queries.contains(n) || LedgerPlans.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession("local[4]", 4)
    Files.writeString(Paths.get(out), render(spark, sfDir, names))
    println(s"[explain] wrote $out (${names.size} plans)")
    spark.stop()
  }
}
