package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan/projection, filter, and the reference's flagship MapReduce apps
  * (word count `mrapps/wc.go:21-42`, inverted index
  * `mrapps/indexer.go:21-40`) re-expressed as declarative Spark plans.
  *
  * Scale notes: all three scan queries push their predicates and column
  * pruning into the parquet scan (`PushedFilters`/`ReadSchema` in
  * `.explain`); the wordcount shuffle carries partially-aggregated
  * `(word, count)` pairs (HashAggregate partial → final), not one record
  * per occurrence like the reference's combiner-less shuffle
  * (`mr/worker.go:142-150`).
  */
object CoreQueries {

  /** Select 4 of 11 lineitem columns — the parquet scan must read only
    * those 4 (column pruning), and TakeOrderedAndProject caps the sort at
    * 1000 rows instead of a full global sort.
    */
  def qScanProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      // (l_orderkey, l_linenumber) is not unique in the synthetic data, so
      // sort on all four output columns to make the LIMIT deterministic.
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .limit(1000)

  /** Conjunctive predicates (`between`, `isin`, `>=` on timestamp, `like`
    * prefix) — all pushed to the parquet reader — then count per flag.
    */
  def qFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(
        col("l_quantity").between(10, 20) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= to_timestamp(lit("1995-06-01 00:00:00")) &&
        col("l_linestatus").like("F%"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** Word count over documents.text — the reference's flagship query
    * (`mrapps/wc.go`): tokenize on runs of non-letters, drop empties,
    * count per word. flatMap≙explode(split(...)), shuffle≙HashAggregate
    * exchange, reduce≙count.
    */
  def qWordcount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** The wordcount on a non-Latin corpus — proves the unicode
    * tokenizer (`TextQueries.tokensUnicode`, `[^\p{L}]+` ≙ the
    * reference wc's `!unicode.IsLetter`, `mrapps/wc.go:23`) agrees
    * with the oracle engine's regex on real multi-script text. The
    * fixture corpus is ASCII, so the scripts are manufactured
    * deterministically IN the plan: translate() (same function, same
    * semantics in both engines) maps vowels to Greek/Cyrillic
    * codepoints, giving every token mixed Latin+Greek+Cyrillic
    * letters. An ASCII tokenizer shreds every such token into
    * consonant fragments, so the hash can only match if both engines
    * treat the full \p{L} category — and unicode lowercasing —
    * identically. Plan shape is qWordcount's exactly.
    */
  def qWordcountUnicode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(TextQueries.tokensUnicode(
        translate(lower(col("text")), "aeiou", "αєиωю"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** The wordcount again, but the counting runs through a custom typed
    * `Aggregator` (graft.functions.CountOccurrences) registered as a
    * UDAF — proving the reference's `reducef` plugin surface
    * (`main/mrworker.go:45-49`) on Spark's typed aggregation API. Result
    * is identical to qWordcount, which is exactly the point.
    */
  def udafDemo(spark: SparkSession, sfDir: String): DataFrame = {
    val countWords = udaf(graft.functions.CountOccurrences)
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(countWords(col("word")).as("cnt"))
      .orderBy("word")
  }

  /** Inverted index (`mrapps/indexer.go`): per word, the count of distinct
    * docs containing it plus the sorted comma-joined doc id list. The
    * per-doc distinct (the reference's `map[string]bool`) falls out of
    * `collect_set`.
    */
  def qInvertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(collect_set(col("doc_id").cast("string")).as("ids"))
      .select(
        col("word"),
        size(col("ids")).cast("long").as("n_docs"),
        array_join(sort_array(col("ids")), ",").as("doc_ids"))
      .orderBy("word")

  /** Words appearing in more documents than this keep no posting list
    * in the capped index. Far above any df in the test corpora, so the
    * capped query matches the uncapped one there.
    */
  val IndexDfCap = 1000

  /** The inverted index in its 100 TB form. qInvertedIndex's
    * `collect_set` of every doc per word is the reference indexer's
    * exact contract, but unbounded on stop words — at corpus scale
    * "the"'s posting list IS the corpus, on one reducer. Here the
    * (doc_id, word) pairs dedupe first, then a df pre-count (partial-
    * aggregated, so a hot word costs one long per partition) drops
    * ultra-common words BEFORE any posting list accumulates — the same
    * move search engines make (stop-word elision) and the same shape as
    * qNgramJaccard's shingle cap. One explicit exchange on `word`
    * serves the df count, the cap join and the final collect
    * (ReuseExchange).
    */
  def invertedIndexCapped(docs: DataFrame, dfCap: Int): DataFrame = {
    // df via count-over-window on the word-partitioned stream, not a
    // pre-aggregate joined back: the join form's two consumers re-ran
    // the explode+distinct pipeline twice (two full corpus scans —
    // exchange reuse does not cover it), the window form scans once.
    // The cap filter still runs BEFORE collect_set accumulates, so a
    // hot word's postings spill in the window sorter (bounded memory),
    // get counted, and are dropped without ever building a list.
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
      .repartition(col("word"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("word")))
      .filter(col("df") <= dfCap)
      .groupBy("word")
      .agg(
        count(col("doc_id")).as("n_docs"),
        array_join(sort_array(collect_set(col("doc_id").cast("string"))), ",").as("doc_ids"))
      .orderBy("word")
  }

  def qInvertedIndexCapped(spark: SparkSession, sfDir: String): DataFrame =
    invertedIndexCapped(Tables.documents(spark, sfDir), IndexDfCap)
}
