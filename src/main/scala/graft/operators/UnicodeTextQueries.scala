package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextQueries.tokensUnicode

/** Unicode twins of the pipeline-critical dedup/tf-idf/BPE queries.
  *
  * The flagship text queries tokenize with `TextQueries.tokens`
  * (`[^a-z]+` — ASCII by contract, matching the synthetic corpus and
  * the reference wc's plugin fixture). On a multilingual corpus that
  * contract under-shingles silently: every non-Latin letter splits, so
  * near-dup recall collapses exactly where an LLM-corpus pipeline
  * needs it. These twins run the SAME plans over
  * `TextQueries.tokensUnicode` (`[^\p{L}]+` ≙ the reference wc's
  * `!unicode.IsLetter`, `mrapps/wc.go:23`) and prove the cross-engine
  * agreement with the q_wordcount_unicode recipe: the fixture corpus
  * is ASCII, so multi-script text is manufactured deterministically
  * IN-PLAN — `translate()` (identical semantics in Spark and DuckDB)
  * maps vowels to Greek/Cyrillic codepoints, giving every token mixed
  * Latin+Greek+Cyrillic letters. An ASCII tokenizer shreds those
  * tokens into consonant fragments, so each oracle hash can only match
  * if both engines agree on the full `\p{L}` category, unicode
  * lowercasing, UTF-8 string ordering AND the downstream md5/shingle/
  * merge algebra over multi-byte text.
  *
  * Plan shapes are the ASCII originals' exactly (the tokenizer is one
  * codegen'd regex class swap), so every scale property documented on
  * the originals carries over unchanged.
  */
object UnicodeTextQueries {

  /** The manufactured multi-script view: vowels → Greek/Cyrillic.
    * Same expression on the oracle side —
    * `translate(lower(text), 'aeiou', 'αєиωю')`.
    */
  def scripted(c: Column): Column =
    translate(lower(c), "aeiou", "αєиωю")

  private[graft] def docsU(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("text", scripted(col("text")))

  /** q_dedup_near over unicode tokens of the multi-script view:
    * token-SET signature grouping (order- and multiplicity-blind).
    * The sorted-set join is UTF-8-byte ordered in both engines
    * (UTF8String binary compare ≙ DuckDB varchar memcmp).
    */
  def qDedupNearUnicode(spark: SparkSession, sfDir: String): DataFrame =
    docsU(spark, sfDir)
      .groupBy(array_join(
        sort_array(array_distinct(tokensUnicode(col("text")))), " ")
        .as("signature"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("group_size"))
      .select("canonical_doc_id", "group_size")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** q_dedup_minhash over unicode tokens: 4 salted md5 min-hashes of
    * the distinct token set. md5 hashes the UTF-8 bytes in both
    * engines, so multi-byte tokens hash identically.
    */
  def qDedupMinhashUnicode(spark: SparkSession, sfDir: String): DataFrame = {
    val toksD = array_distinct(tokensUnicode(col("text")))
    val sig = concat_ws("|",
      (1 to 4).map(i =>
        array_min(transform(toksD, t => md5(concat(lit(s"s$i:"), t))))): _*)
    docsU(spark, sfDir)
      .groupBy(sig.as("signature"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("group_size"))
      .select("canonical_doc_id", "group_size")
      .orderBy(asc_nulls_first("canonical_doc_id"))
  }

  /** q_tfidf over unicode tokens: df + idf, top-50 by (df desc, word).
    * The word tie-break exercises cross-engine UTF-8 ordering on
    * multi-byte strings.
    */
  def qTfidfUnicode(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = docsU(spark, sfDir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"), explode(tokensUnicode(col("text"))).as("word"))
      .groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n))
      .select(
        col("word"), col("df"),
        (round(log(col("n_docs").cast("double") / col("df")), 6) + lit(0.0))
          .as("idf"))
      .orderBy(col("df").desc, col("word").asc)
      .limit(50)
  }

  /** q_ngram_jaccard over unicode trigram shingles — the near-dup pair
    * generator that VERDICT r7 flagged as the silent under-shingling
    * risk: same df-capped single-scan shingle join, unicode tokens.
    */
  def qNgramJaccardUnicode(spark: SparkSession, sfDir: String): DataFrame =
    AdvancedTextQueries.ngramJaccardPairs(docsU(spark, sfDir),
      AdvancedTextQueries.ShingleDfCap, tokensUnicode)

  /** q_dedup_simhash over unicode tokens — covers the one hash path
    * the minhash twin doesn't: md5 hex → `conv(…,16,10)` integer bits
    * (Spark) ≙ `('0x'||substr(md5,1,4))::BIGINT` (DuckDB) over
    * multi-byte UTF-8 tokens, then the ±1 bit-vote algebra.
    */
  def qDedupSimhashUnicode(spark: SparkSession, sfDir: String): DataFrame =
    AdvancedTextQueries.simhashSigs(docsU(spark, sfDir), 16, tokensUnicode)
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("group_size"))
      .select("simhash", "canonical_doc_id", "group_size")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** q_bpe_encode over the unicode view: merges trained on (and
    * memoized for) the multi-script corpus, applied to every unicode
    * token occurrence. Per-char spacing (`regexp_replace '(.)'`) and
    * the boundary `replace` both operate on codepoints identically in
    * the two engines for BMP scripts, which the manufactured Greek/
    * Cyrillic text exercises directly.
    */
  def qBpeEncodeUnicode(spark: SparkSession, sfDir: String): DataFrame =
    AdvancedTextQueries.encodeWith(
      docsU(spark, sfDir),
      AdvancedTextQueries.bpeMergeTableFor(spark, sfDir,
        AdvancedTextQueries.BpeMergeRounds, "unicode",
        () => docsU(spark, sfDir), tokensUnicode)
        .map { case (_, l, r, _) => (l, r) },
      tokensUnicode)
}
