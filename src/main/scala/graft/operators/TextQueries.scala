package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-pipeline text operators over the documents corpus:
  * exact/near deduplication, corpus statistics, and TF-IDF document
  * frequencies. The corpus is the engine's analogue of the reference's
  * Gutenberg input set (`/root/reference/main/pg-*.txt`), and the
  * tokenizer is the reference's wc tokenizer (`mrapps/wc.go:21-27`,
  * split on non-letter runs) re-expressed as codegen'd column functions.
  *
  * Scale notes: exact dedup groups by the full text here (oracle-exact);
  * at 100 TB you group by sha2(text, 256) first — same shuffle shape,
  * 32-byte keys instead of document bodies — a variant provided as
  * `dedupExactByHash`. Near-dup's token-set signature is the
  * oracle-checkable stand-in for MinHash-LSH (see MinHashDedup for the
  * scale path); both shuffle once on the signature.
  */
object TextQueries {

  /** Tokens of `text`, lowercased, split on non-letter runs, empties
    * removed — exactly the reference's wc tokenization.
    *
    * ASCII BY CONTRACT: the class is [^a-z]+, so any non-Latin letter
    * splits — on Greek/Cyrillic/CJK/accented text every token shreds
    * to fragments or empties. The analytics queries built on this
    * (dedup, tf-idf, BPE, entropy, lang-id, …) inherit that contract,
    * which matches the synthetic corpus (ASCII by construction). A
    * multilingual corpus must feed [[tokensUnicode]] instead;
    * q_wordcount_unicode proves that form oracle-identical across
    * engines on manufactured multi-script text.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z]+"), t => t =!= "")

  /** Unicode tokens: lowercased, split on runs of non-LETTERS in the
    * full Unicode category sense — `[^\p{L}]+` is exactly the
    * reference wc's `!unicode.IsLetter` split (`mrapps/wc.go:23`,
    * which the MapReduceCompat port already matches). Greek, Cyrillic,
    * CJK and accented Latin letters all survive where [[tokens]]'
    * ASCII class would split them. Same codegen'd split/filter shape —
    * swapping it into any text query changes no plan, only the
    * character class.
    */
  def tokensUnicode(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}]+"), t => t =!= "")

  /** Word n-gram ARRAY (n ≥ 2) of a token array, single-space joined —
    * the map-only shingle builder: no exchange, no per-doc window sort.
    * Built from n aligned `slice`s folded with `zip_with`, so the token
    * expression is evaluated a CONSTANT number of times per ROW (one
    * per slice/size), never per element — the transform(sequence(...))
    * + element_at formulation re-evaluates its operand once per SHINGLE
    * (lambda-bound `element_at` re-inlines the operand; measured 15 s+
    * at sf0.1 in an earlier round), which is the trap this avoids.
    * Docs with fewer than n tokens yield an empty array (greatest(...,
    * 0) guards the slice length), so `explode` drops them — the same
    * rows the lead()-window form's isNotNull filter drops.
    */
  def ngrams(ts: Column, n: Int): Column = {
    val len = greatest(size(ts) - (n - 1), lit(0))
    (2 to n).foldLeft(slice(ts, lit(1), len)) { (acc, k) =>
      zip_with(acc, slice(ts, lit(k), len), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** Exact dedup: one output row per distinct text with the canonical
    * (minimum) doc_id and the duplicate count.
    */
  def qDedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("text")
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_dups"))
      .select("canonical_doc_id", "n_dups")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** Exact dedup keyed on sha2(text) — the shuffle carries 64-hex-char
    * keys, not document bodies. Same result as qDedupExact assuming no
    * sha256 collisions; this is the form to run at 100 TB.
    */
  def dedupExactByHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_dups"))
      .select("canonical_doc_id", "n_dups")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** Canonicalization-keyed dedup — the normalize-then-dedup step every
    * corpus build runs BEFORE fuzzy matching: lowercase, collapse every
    * non-alphanumeric run to one space, trim, then dedup on the md5 of
    * the canonical form. Folds case/punctuation/whitespace variants of
    * the same document into one group that byte-exact dedup misses.
    *
    * Two-level aggregation keeps document bodies out of BOTH shuffles:
    * level 1 groups on (canonical-md5, raw-sha256) — the exchange rows
    * carry two fixed-width hashes and a doc_id, never text — and level 2
    * folds raw variants per canonical key. n_variants counts distinct
    * RAW texts inside the group (how much the normalization folded).
    */
  def qDedupCanonical(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          .as("canon_key"),
        sha2(col("text"), 256).as("raw_key"))
      .agg(min(col("doc_id")).as("min_id"), count(lit(1)).as("n"))
      .groupBy("canon_key")
      .agg(min(col("min_id")).as("canonical_doc_id"),
        sum(col("n")).as("n_dups"),
        count(lit(1)).as("n_variants"))
      .select("canonical_doc_id", "n_dups", "n_variants")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** Near dedup by token-set signature: docs that contain exactly the
    * same distinct token set (ignoring order and multiplicity) form a
    * group; emit the canonical member and group size per group.
    */
  def qDedupNear(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(array_join(sort_array(array_distinct(tokens(col("text")))), " ")
        .as("signature"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("group_size"))
      .select("canonical_doc_id", "group_size")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** Deterministic hash sampling: keep documents whose md5(doc_id)
    * falls in the first `pct` of 100 hash buckets. Seed-free,
    * partition-layout-free and stable across engines and re-runs — the
    * sampling a training pipeline wants (rand()-based sampling changes
    * under retry/repartition; reservoir sampling needs a pass through
    * the driver). Emits per-lang sample counts so the oracle check is
    * aggregate-exact.
    */
  def qSampleHash(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    Tables.documents(spark, sfDir)
      .filter(bucket < 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Stratified deterministic sampling: per-language keep rates (the
    * language-mix rebalancing step of a pretraining pipeline — downsample
    * the dominant language, keep most of the rare ones) applied through
    * the same seed-free md5 bucketing as qSampleHash, so membership is
    * stable under retry, repartitioning, and engine. One narrow pass +
    * one hash agg — the stratification is a codegen'd CASE, never a
    * per-stratum job.
    */
  def qSampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val rate = when(col("lang") === "en", 10)
      .when(col("lang") === "zh", 80)
      .otherwise(30)
    Tables.documents(spark, sfDir)
      .withColumn("sampled", bucket < rate)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        min(when(col("sampled"), col("doc_id"))).as("min_sampled_doc"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Deterministic stratified train/val/test split: every document
    * lands in exactly one of three splits by its seed-free md5 bucket
    * (80/10/10), so the assignment is stable across engines, retries
    * and repartitioning AND disjoint by construction — the property a
    * training pipeline actually needs (a rand()-based split can leak a
    * document into two splits across retried tasks). A salt distinct
    * from the sampling queries' key decorrelates split membership from
    * sample membership. Reports the per-(lang, split) contingency
    * table; one narrow pass + one hash agg, no shuffle of documents.
    */
  def qSplitTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket =
      conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 4),
        16, 10).cast("long") % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    Tables.documents(spark, sfDir)
      .withColumn("split", split)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("split"))
  }

  /** Fixed-size document chunking: split each document into
    * consecutive 32-token chunks (the shape LLM pre-tokenization
    * pipelines feed to packing). Chunk text reassembles in token order
    * via a sorted struct collect — deterministic under any
    * partitioning. The explode is a narrow fan-out; the only shuffle
    * groups (doc_id, chunk_id), whose row count is bounded by token
    * count / 32.
    */
  def qChunk(spark: SparkSession, sfDir: String): DataFrame = {
    val chunkSize = 32
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("chunk_id", (col("pos") / chunkSize).cast("long"))
      .groupBy("doc_id", "chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("t")))),
            s => s.getField("t")), " ").as("chunk_text"))
      .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("chunk_id"))
  }

  /** Benchmark decontamination: drop training documents sharing ANY
    * token-trigram with the held-out probe set (doc_id % 97 = 0 stands
    * in for a benchmark), then count surviving docs per language. The
    * probe shingle set is small by construction (benchmarks are), so
    * it broadcasts: the corpus-side shingle stream is filtered by a
    * broadcast semi-join and NEVER shuffles — at 100 TB the only
    * exchange is the final per-lang count.
    */
  def qDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sh = AdvancedTextQueries.shingleRows(docs)
    val probeSh = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
    val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(probeSh), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("clean_docs"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** One-row corpus card: document/source/language counts, exact token
    * and vocabulary totals, mean document length, byte-exact duplicate
    * rate and the share of singleton (df = 1) vocabulary — the
    * front-page summary a dataset release ships, stitching the
    * headline numbers the specialized reports (q_lexical_richness,
    * q_dedup_exact, q_chao1) break down.
    *
    * Determinism: every count is exact; the three ratios are terminal
    * rounded divisions.
    *
    * Scale: one doc-level pass (counts + distinct text hashes — the
    * sha2 collapses before the exchange so bodies never shuffle) and
    * one token-vocab fold; both map-side combined.
    */
  def qCorpusSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val d = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(sha2(col("text"), 256)).as("n_distinct_texts"))
    val t = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"))
    d.crossJoin(broadcast(t))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_tokens"), col("vocab_size"),
        (round(col("n_tokens").cast("double") / col("n_docs"), 6)
          + lit(0.0)).as("mean_doc_tokens"),
        (round(lit(1.0) - col("n_distinct_texts").cast("double") /
          col("n_docs"), 6) + lit(0.0)).as("exact_dup_rate"),
        (round(col("f1").cast("double") / col("vocab_size"), 6) + lit(0.0))
          .as("hapax_vocab_share"))
  }

  /** Per-source contamination rate under [[qDecontaminate]]'s probe
    * set — WHICH provider ships benchmark text, not just how much is
    * clean overall: the governance cut that decides whether to scrub
    * a source or drop it (q_dedup_survivorship's question, asked of
    * decontamination).
    *
    * Determinism: the probe set and flags are the exact machinery of
    * qDecontaminate (spec-reconciled); counts exact, rate terminal.
    *
    * Scale: the same broadcast semi-join against the probe shingles;
    * the flag join keys on doc_id and folds to |sources| rows.
    */
  def qContaminationBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sh = AdvancedTextQueries.shingleRows(docs)
    val probeSh = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
    val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(probeSh), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("flag", lit(1L))
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flag"), lit(0L))).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        (round(col("n_contaminated").cast("double") / col("n_docs"), 6)
          + lit(0.0)).as("contamination_rate"))
      .orderBy(asc_nulls_first("source"))
  }

  /** Token-budget sequence packing — the "concat and cut at the budget"
    * packing LLM pre-training pipelines run over a cleaned corpus:
    * documents are laid end-to-end in a deterministic order and a new
    * pack starts each time the running token total crosses the budget
    * (documents are not split; a pack may overrun by its last doc).
    *
    * Distribution: packing is sequential by nature, so the corpus is
    * sharded by (source, doc_id % nShards) and each shard packs
    * independently — the exact shape a 1000-executor run uses, where a
    * shard is one task's worth of corpus. The running total is a
    * prefix-sum window per shard: one shuffle on the shard key, no
    * driver state. Shard count scales with the corpus; the per-shard
    * window never holds more than one task's rows.
    */
  def qPack(spark: SparkSession, sfDir: String,
      budget: Int = 512, nShards: Int = 8): DataFrame =
    packTokenBudget(Tables.documents(spark, sfDir), budget, nShards,
      partitionCols = Seq("source"))
      .orderBy(asc_nulls_first("source"), col("shard").asc, col("pack_id").asc)

  /** Core packing form over any (doc_id, text [, partitionCols...])
    * frame — the shape pipeline composition uses (PipelineEndToEndSpec
    * packs the quality-gated survivors directly).
    */
  def packTokenBudget(docs: DataFrame, budget: Int = 512, nShards: Int = 8,
      partitionCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pcols = partitionCols.map(col) :+ col("shard")
    val w = Window.partitionBy(pcols: _*).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(partitionCols.map(col) ++ Seq(
        pmod(col("doc_id"), lit(nShards)).as("shard"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens")): _*)
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", floor(col("cum_before") / budget))
      .groupBy(pcols :+ col("pack_id"): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("pack_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  /** Bloom-filter decontamination — row-identical to qDecontaminate,
    * different scale path (the oracle IS the exact form's SQL).
    *
    * qDecontaminate broadcasts the probe shingle SET, which is right
    * while the held-out benchmark is small. When the held-out suite is
    * itself large (a multi-GB eval corpus), that broadcast becomes the
    * scale-killer. Here the probe shingles are folded into a fixed-size
    * Bloom filter (~1.2 MB per million shingles at 1% fpp — size set by
    * the PROBE count, independent of the 100 TB corpus), shipped once
    * per executor, and the corpus shingle stream is pruned
    * executor-locally with no join at all. Only the surviving ~fpp
    * fraction takes the exact semi-join that removes false positives —
    * Bloom filters have no false negatives, so the final row set is
    * exactly the exact form's. At test scale AQE broadcasts that tiny
    * residual join (correct); at benchmark scale it degrades to a
    * shuffled hash join of two already-small sides.
    *
    * The probe-side `count()` is a driver scalar used only to size the
    * filter; the UDF is justified — Bloom probe has no built-in column
    * function and the sketch must live executor-side as one object.
    */
  def qDecontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val clean = bloomDecontaminate(spark,
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0))
    clean.groupBy("lang")
      .agg(count(lit(1)).as("clean_docs"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Fuzzy benchmark decontamination — the MinHash-band form of the
    * GPT-3-style overlap scrub: a training document is dropped when at
    * least `minBands` of its 4 salted min-hashes over the TRIGRAM
    * SHINGLE set collide with ANY probe document's (doc_id % 97 = 0
    * stands in for the benchmark). Where qDecontaminate drops on ANY
    * shared trigram (high recall, no similarity notion), a band here
    * collides with probability ≈ shingle-Jaccard — a doc substantially
    * overlapping a benchmark item is caught, while one sharing a
    * single boilerplate phrase is (w.h.p.) not. Min-hashing the
    * WHOLE-DOC TOKEN set instead would be useless on a
    * shared-vocabulary corpus: measured here, 472/494 docs collide at
    * the unigram level vs 14/494 at the shingle level. Hash recipe =
    * q_dedup_minhash's (salted-md5 lexicographic min ≙ one permutation
    * per salt), so both engines compute identical bands.
    *
    * Scale: the probe band set is 4 rows per benchmark doc —
    * broadcast; the corpus shingle stream collapses to 4 band rows per
    * doc in ONE doc-keyed exchange (the same window shuffle
    * qDecontaminate's shingler pays), is pruned by a broadcast
    * semi-join, and only the collision survivors reach the per-doc
    * band count. Output: per-lang kept/dropped accounting.
    */
  def qDecontaminateFuzzy(spark: SparkSession, sfDir: String,
      minBands: Int = 1): DataFrame =
    fuzzyDecontaminateFrom(Tables.documents(spark, sfDir), minBands)

  /** Frame-parameterized body of [[qDecontaminateFuzzy]] (docs need
    * doc_id, lang, text).
    */
  def fuzzyDecontaminateFrom(docs: DataFrame, minBands: Int = 1): DataFrame = {
    val sh = AdvancedTextQueries.shingleRows(docs)
    val hMins = (1 to 4).map(i =>
      min(md5(concat(lit(s"s$i:"), col("sh")))).as(s"h$i"))
    val sigs = sh.groupBy("doc_id").agg(hMins.head, hMins.tail: _*)
    val bands = sigs.select(col("doc_id"),
      posexplode(array((1 to 4).map(i => col(s"h$i")): _*))
        .as(Seq("band", "h")))
    val probeBands = bands.filter(col("doc_id") % 97 === 0)
      .select("band", "h").distinct()
    val matched = bands.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(probeBands), Seq("band", "h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBands)
      .select(col("doc_id"), lit(1).as("is_dropped"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(matched, Seq("doc_id"), "left_outer")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped").isNotNull, 1).otherwise(0)).as("n_dropped"),
        sum(when(col("is_dropped").isNull, 1).otherwise(0)).as("n_clean"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Core form: corpus docs minus those sharing any token-trigram with
    * `probeDocs` (both frames need doc_id + text). Exact result; the
    * Bloom stage is a fixed-size executor-local prune of the corpus
    * shingle stream before the exact confirm join.
    */
  def bloomDecontaminate(spark: SparkSession, corpus: DataFrame,
      probeDocs: DataFrame, fpp: Double = 0.01): DataFrame = {
    val probeSh = AdvancedTextQueries.shingleRows(probeDocs)
      .select("sh").distinct()
    // native BloomFilterAggregate/MightContain (BloomPrune): the probe
    // codegens inside the corpus shingle stream's stage, no UDF boundary
    val bf = graft.functions.BloomPrune.bloomBinary(
      probeSh, col("sh"), probeSh.count(), fpp)
    val contaminated = AdvancedTextQueries.shingleRows(corpus)
      .filter(graft.functions.BloomPrune.mightContain(bf, col("sh")))
      .join(probeSh, Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Redact PII-shaped spans: email addresses, long digit runs (7+,
    * phone/account numbers) and 4-part dotted numbers (IPv4-shaped),
    * each replaced by a typed tag. Lookahead-free patterns evaluate
    * identically under Java regex and RE2. Pure projection — codegen'd,
    * no shuffle, safe at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmail, "<EMAIL>"),
        PiiIp, "<IP>"),
      PiiDigits, "<NUMBER>")

  private val PiiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PiiIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val PiiDigits = "\\+?[0-9][0-9 ()+._-]{5,}[0-9]"

  /** The text of q_redact_pii and q_pii_count: each doc plus an email,
    * an IPv4 and a phone number derived from doc_id.
    */
  private def piiAugmented: Column = concat(
    col("text"),
    lit(" contact user"), col("doc_id"), lit("@mail.example.com or 10."),
    col("doc_id") % 200, lit(".0."), col("doc_id") % 250,
    lit(" tel +1 (555) 01"), col("doc_id") % 10, lit("-"),
    col("doc_id") % 9000 + 1000)

  /** Oracle form of redactPii. The corpus text itself is letters-only,
    * so each doc is first augmented with deterministic PII-shaped spans
    * derived from doc_id (an email, an IPv4, a phone number) — the
    * regexes are then exercised for real and the redacted output is
    * exactly reproducible in DuckDB (same augmentation, same patterns,
    * global replace). Pure projection both sides.
    */
  def qRedactPii(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), redactPii(piiAugmented).as("redacted"))
      .orderBy(asc_nulls_first("doc_id"))

  /** PII exposure report — the observability side of [[qRedactPii]]:
    * per pattern class (email, IPv4, free-form number), how many
    * documents are affected and how many total spans exist. Counts run
    * over the SAME progressive redaction order the redactor applies
    * (emails counted on raw text, IPs on email-redacted text, numbers
    * on IP-redacted text), so `n_matches` is exactly the number of
    * replacements qRedactPii performs per class — the two queries
    * reconcile. Same deterministic doc_id-derived augmentation.
    *
    * Scale: narrow scan-only projection of three match counts per doc,
    * collapsed to one row of sums (map-side combine), stack()-pivoted
    * to 3 rows — no shuffle of text.
    */
  def qPiiCount(spark: SparkSession, sfDir: String): DataFrame = {
    val aug = piiAugmented
    val t1 = regexp_replace(aug, PiiEmail, "<EMAIL>")
    val t2 = regexp_replace(t1, PiiIp, "<IP>")
    def cnt(t: Column, p: String): Column =
      size(regexp_extract_all(t, lit(p), lit(0)))
    Tables.documents(spark, sfDir)
      .select(cnt(aug, PiiEmail).as("c_email"), cnt(t1, PiiIp).as("c_ip"),
        cnt(t2, PiiDigits).as("c_num"))
      .agg(
        sum(when(col("c_email") > 0, 1L).otherwise(0L)).as("d_email"),
        sum(col("c_email").cast("long")).as("m_email"),
        sum(when(col("c_ip") > 0, 1L).otherwise(0L)).as("d_ip"),
        sum(col("c_ip").cast("long")).as("m_ip"),
        sum(when(col("c_num") > 0, 1L).otherwise(0L)).as("d_num"),
        sum(col("c_num").cast("long")).as("m_num"))
      .select(expr(
        """stack(3,
          |  'email',  d_email, m_email,
          |  'ipv4',   d_ip,    m_ip,
          |  'number', d_num,   m_num)
          |  AS (pattern, n_docs, n_matches)""".stripMargin))
      .orderBy(asc_nulls_first("pattern"))
  }

  /** Overlapping chunking: `size`-token windows starting every
    * `stride` tokens (stride < size ⇒ consecutive chunks share
    * size − stride tokens — the context-overlap shape LLM tokenizer
    * pipelines use). A token at position p belongs to chunks c with
    * c·stride ≤ p < c·stride + size, a bounded ≤ ⌈size/stride⌉ fan-out
    * per token; the only shuffle groups (doc_id, chunk_id).
    */
  def chunkTokensStrided(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("c_lo",
        greatest(lit(0L),
          ceil((col("pos") - size + 1).cast("double") / stride).cast("long")))
      .withColumn("c_hi", (col("pos") / stride).cast("long"))
      .select(col("doc_id"), col("pos"), col("t"),
        explode(sequence(col("c_lo"), col("c_hi"))).as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("t")))),
            s => s.getField("t")), " ").as("chunk_text"))
      .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("chunk_id"))
  }

  /** Oracle form of chunkTokensStrided: 32-token windows every 24
    * tokens (8-token overlap between consecutive chunks).
    */
  def qChunkStrided(spark: SparkSession, sfDir: String): DataFrame =
    chunkTokensStrided(Tables.documents(spark, sfDir), size = 32, stride = 24)

  /** Per-language corpus stats: doc count, exact char sum, 6-dp average
    * chars/tokens (exact integer sums divided in double), and the
    * per-language distinct vocabulary size. Doc-level and token-level
    * granularities aggregate separately and join on lang.
    */
  def qTextStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        size(tokens(col("text"))).as("n_tokens"))
    val docLevel = docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      sum(col("n_tokens").cast("long")).as("sum_tokens"))
    val vocab = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang")
      .agg(countDistinct(col("word")).as("distinct_tokens"))
    docLevel.join(vocab, Seq("lang"))
      .select(
        col("lang"), col("n_docs"),
        col("sum_chars"),
        (round(col("sum_chars").cast("double") / col("n_docs"), 6) + lit(0.0)).as("avg_chars"),
        (round(col("sum_tokens").cast("double") / col("n_docs"), 6) + lit(0.0)).as("avg_tokens"),
        col("distinct_tokens"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** End-to-end training-data pipeline as ONE declarative plan:
    * exact-dedup to canonical docs → quality gate (≥10 tokens and
    * stopword ratio ≤ 0.5) → per-language corpus stats. This is the
    * composition a 100 TB data-prep job runs; Catalyst sees the whole
    * pipeline and prunes/pushes across the stages.
    */
  def qPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val canonical = docs
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val toks = tokens(col("text"))
    val kept = docs
      .join(canonical, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(toks).as("n_tokens"),
        (size(filter(toks, t => t === "the" || t === "a")).cast("double") /
          size(toks)).as("stop_ratio"))
      .filter(col("n_tokens") >= 10 && col("stop_ratio") <= 0.5)
    kept.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (round(avg(col("stop_ratio")), 6) + lit(0.0)).as("avg_stop_ratio"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Document frequency + inverse document frequency per token, top-50
    * by df (tie-break token). N arrives via a broadcast single-row cross
    * join — no driver-side count baked into the plan.
    */
  def qTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n))
      .select(
        col("word"), col("df"),
        (round(log(col("n_docs").cast("double") / col("df")), 6) + lit(0.0)).as("idf"))
      .orderBy(col("df").desc, col("word").asc)
      .limit(50)
  }

  /** Per-document keyword extraction: top-3 terms per doc ranked
    * (tf desc, df asc, term asc) — frequent in THIS document, rare
    * across the corpus, the tf-idf intent with an ALL-INTEGER ranking:
    * no float score ever decides which terms survive, so the cut is
    * immune to last-ulp cross-engine drift (contrast q_tfidf, which
    * reports the float idf but also ranks by exact df).
    *
    * Scale: two exchanges of the (doc, term) grid — never the corpus
    * text: tf collapses the explode immediately (map-side combine); df
    * is a window over the same grid re-keyed by term; the per-doc
    * top-3 window is bounded by each doc's own vocabulary.
    */
  def qKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("w")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("df").asc, col("w").asc)))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("w").as("term"),
        col("tf"), col("df"))
      .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("rank"))
  }

  /** The fixed retrieval query q_bm25 scores the corpus against. */
  val Bm25Terms: Seq[String] = Seq("query", "join", "stream")

  /** Okapi BM25 (k1 = 1.2, b = 0.75) top-20 documents for the fixed
    * [[Bm25Terms]] query — the standard retrieval score a
    * quality-filtering or RAG-indexing pipeline ranks candidate
    * documents with.
    *
    * Scale: for a FIXED small term set there is no need to explode and
    * shuffle the token stream — per-document term frequencies are
    * `size(filter(tokens, = term))`, pure column algebra inside one
    * codegen'd projection over the scan. Corpus statistics (N, Σdl and
    * the three document frequencies) reduce to ONE map-side-combinable
    * aggregate row that re-enters via a broadcast cross join, so the
    * whole plan is: scan → 1-row agg broadcast → projection →
    * TakeOrderedAndProject. The only exchange at any corpus size is
    * the stats aggregate's single-partition collapse (one partial row
    * per task); document rows never shuffle.
    *
    * Determinism: both engines evaluate the identical IEEE-double
    * expression tree (explicit casts pin every site where DuckDB would
    * otherwise pick DECIMAL arithmetic); the score rounds to 6 dp
    * before ranking, doc_id breaks ties, and the presence filter is
    * the INTEGER tf sum, never a float compare.
    */
  def qBm25(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id") +: size(col("toks")).as("dl") +:
          Bm25Terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("toks"), x => x === lit(t))).as(s"tf$i")
          }: _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("sum_dl") +:
        Bm25Terms.indices.map(i =>
          count(when(col(s"tf$i") > 0, 1)).as(s"df$i")): _*)
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i")
      val idf = log(lit(1.0) +
        ((col("n_docs") - df).cast("double") + lit(0.5)) /
          (df.cast("double") + lit(0.5)))
      idf * ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") / col("avgdl")))))
    }
    base.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .filter(Bm25Terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
      .select(
        col("doc_id"),
        Bm25Terms.indices.map(i => (col(s"tf$i") > 0).cast("int")).reduce(_ + _)
          .as("n_hits"),
        (round(Bm25Terms.indices.map(termScore).reduce(_ + _), 6) + lit(0.0))
          .as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Vocabulary construction with coverage accounting: the top-500
    * corpus tokens by frequency, each with its rank and the CUMULATIVE
    * share of all token occurrences a vocabulary truncated at that rank
    * would cover — the table that answers "how big must the vocab be
    * for 95% coverage". The token counting is a distributed hash agg;
    * only the 500-row vocab itself passes through the ordered cumsum
    * window (a single tiny partition by construction — the top-k limit
    * runs BEFORE the window, via TakeOrdered), and the corpus total
    * re-enters as a scalar broadcast. Integer count sums; one division
    * per row, rounded 6 dp.
    */
  def qVocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(500)
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token").asc)).cast("int"))
      .withColumn("cum_share",
        round(sum(col("cnt")).over(w).cast("double") / col("n_total"), 6) + lit(0.0))
      .select("rank", "token", "cnt", "cum_share")
      .orderBy(asc("rank"))
  }

  /** Doc-id bucket width of q_vocab_growth's curve. */
  val VocabGrowthBucket = 100

  /** Heaps-law vocabulary growth curve: cumulative distinct vocabulary
    * after each bucket of [[VocabGrowthBucket]] doc ids — how fast new
    * tokens keep arriving as the corpus grows, the curve that sizes a
    * tokenizer's vocab budget and predicts dedup'd corpus value.
    * Uses q_cum_distinct's LINEAR rewrite: a token counts exactly at
    * its FIRST document (one groupBy(token) min), so no per-bucket
    * re-scan of history — naive cumulative COUNT(DISTINCT) is
    * quadratic in buckets; this is one pass.
    *
    * Scale: one token exchange to first-seen docs (map-combinable
    * min), one fold to the bucket axis. The bucket axis is
    * corpus/[[VocabGrowthBucket]] rows — it GROWS with the corpus, so
    * the two running sums come from
    * [[graft.operators.ScaleOps.partitionedRank]] (parallel
    * range-partitioned windows + broadcast prefix offsets), never a
    * single ordered partition. Token occupancy per bucket also
    * reported, so the curve reads as "new types per N docs" against
    * "tokens per N docs".
    */
  def qVocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val firstSeen = tok.groupBy("t").agg(min(col("doc_id")).as("first_doc"))
    val newTypes = firstSeen
      .groupBy(expr(s"first_doc div $VocabGrowthBucket").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val occ = tok
      .groupBy(expr(s"doc_id div $VocabGrowthBucket").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val perBucket = occ.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
    ScaleOps.partitionedRank(perBucket, Seq(asc_nulls_first("bucket")),
      sums = Seq("cum_vocab" -> col("n_new_types"),
        "cum_tokens" -> col("n_tokens")))
      .select("bucket", "n_tokens", "n_new_types", "cum_vocab", "cum_tokens")
      .orderBy(asc_nulls_first("bucket"))
  }

  /** N-gram lengths of [[qDecontaminateLadder]], shared with the
    * oracle. 3 is q_decontaminate's production cut; 5/8 show how the
    * flag rate collapses as the match requirement lengthens.
    */
  val DecontaminateLadderNs = Seq(3, 5, 8)

  /** Decontamination THRESHOLD LADDER — the tuning table behind
    * q_decontaminate's fixed n = 3: for each n-gram length, how many
    * corpus documents share at least one n-gram with the held-out
    * probe set (doc_id % 97 — the same probe convention). Short
    * n-grams over-flag (stock phrases), long ones under-flag
    * (paraphrase escapes); a pipeline owner reads this curve to pick
    * n before committing a corpus-wide purge.
    *
    * Scale: ONE token explode feeds all three lengths (seven lead()
    * taps on the same doc-partitioned window — no second scan, no
    * second exchange); each length's probe set stays a broadcast
    * semi-join like the production query; the denominator enters as a
    * declared 1-row broadcast.
    */
  def qDecontaminateLadder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val maxN = DecontaminateLadderNs.max
    val leads = (1 until maxN).foldLeft(
      docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))) {
      case (df, i) => df.withColumn(s"t$i", lead(col("t"), i).over(w))
    }
    val shingles = DecontaminateLadderNs.map { n =>
      leads
        .filter(col(s"t${n - 1}").isNotNull)
        .select(col("doc_id"), lit(n).as("n"),
          concat_ws(" ", col("t") +: (1 until n).map(i => col(s"t$i")): _*)
            .as("sh"))
    }.reduce(_ unionAll _).distinct()
    val probe = shingles.filter(col("doc_id") % 97 === 0)
      .select("n", "sh").distinct()
    val flagged = shingles.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(probe), Seq("n", "sh"), "left_semi")
      .select("n", "doc_id").distinct()
      .groupBy("n").agg(count(lit(1)).as("n_contaminated"))
    val denom = docs.filter(col("doc_id") % 97 =!= 0)
      .agg(count(lit(1)).as("n_docs"))
    val grid = DecontaminateLadderNs.toDF("n")
    broadcast(grid).crossJoin(broadcast(denom))
      .join(flagged, Seq("n"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .select(col("n"), col("n_docs"), col("n_contaminated"),
        (round(col("n_contaminated").cast("double") / col("n_docs"), 6)
          + lit(0.0)).as("flag_rate"))
      .orderBy(asc_nulls_first("n"))
  }
}
