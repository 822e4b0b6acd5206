package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextQueries.tokens

/** The full near-duplicate-detection family plus text-analysis
  * operators a training-data pipeline needs at 100 TB: MinHash
  * signatures, SimHash, n-gram Jaccard, positional fingerprints, quality
  * scores, and a corpus-driven language-ID heuristic. All pure column
  * algebra (codegen'd, no UDFs) so each has an exact DuckDB oracle; the
  * banded-LSH candidate-pair machinery for genuinely huge corpora lives
  * in MinHashLsh (non-oracle, property-tested).
  *
  * Portability note: every hash here is md5 (identical hex output in
  * both engines); Spark converts hex→int via conv(·,16,10), DuckDB via
  * the '0x…'::BIGINT cast — both read the same leading hex chars, so
  * values match exactly.
  */
object AdvancedTextQueries {

  /** First `n` hex chars of md5 of a column, as a long (< 2^(4n)). */
  private def md5Bits(c: Column, n: Int): Column =
    conv(substring(md5(c), 1, n), 16, 10).cast("long")

  /** (band, key) buckets holding more than this many signatures are
    * dropped before pair generation — the analogue of ShingleDfCap for
    * the Hamming index: a bucket of df signatures explodes into df²
    * candidate pairs on one reducer, unbounded if one band value goes
    * hot. Far above any bucket population in the test corpora (max ~60
    * at sf0.1), so oracle results are unchanged there; at a real corpus
    * scale, widen the signature (more band values) AND keep this cap.
    */
  val HammingBucketCap = 10000

  /** MinHash dedup: k=4 salted md5 min-hashes over the distinct token
    * set; docs with identical signatures are near-duplicate candidates.
    * The lexicographic min of salted md5 hex strings is a textbook
    * min-hash (each salt is one random permutation of the token space).
    */
  def qDedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val toksD = array_distinct(tokens(col("text")))
    val sig = concat_ws("|",
      (1 to 4).map(i =>
        array_min(transform(toksD, t => md5(concat(lit(s"s$i:"), t))))): _*)
    Tables.documents(spark, sfDir)
      .groupBy(sig.as("signature"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("group_size"))
      .select("canonical_doc_id", "group_size")
      .orderBy(asc_nulls_first("canonical_doc_id"))
  }

  /** SimHash dedup: 16-bit simhash — per token a 16-bit md5 hash, per
    * bit a +1/−1 majority vote over all token occurrences, vote > 0 sets
    * the bit. Docs sharing the signature group together.
    */
  /** (doc_id, simhash) — the 16-bit signature table both simhash
    * queries build on.
    */
  private[graft] def simhashSigs(docs: DataFrame, width: Int = 16,
      tok: Column => Column = tokens): DataFrame = {
    require(width > 0 && width <= 60,
      "signature width must be in [1, 60] bits (BIGINT-safe)")
    // ceil(width/4) md5 nibbles give >= width bits; only bits 0..width-1
    // feed the per-bit votes below, so no explicit mask is needed.
    val tokd = docs
      .select(col("doc_id"), explode(tok(col("text"))).as("t"))
      .withColumn("h", md5Bits(col("t"), (width + 3) / 4))
    val bitSums = (0 until width).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    tokd.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until width).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
          .as("simhash"))
  }

  def qDedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashSigs(Tables.documents(spark, sfDir))
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("group_size"))
      .select("simhash", "canonical_doc_id", "group_size")
      .orderBy(asc_nulls_first("canonical_doc_id"))

  /** Hamming-distance near-dup pairs (≤ 1 differing bit) over the
    * default 16-bit signature — the oracle entry point for
    * dedupHammingPairs, which its O(n²) scan proves exhaustive.
    */
  def qDedupHamming(spark: SparkSession, sfDir: String): DataFrame =
    dedupHammingPairs(Tables.documents(spark, sfDir),
      width = 16, k = 1, bucketCap = HammingBucketCap)

  /** Hamming-distance near-dup pairs (≤ k differing bits) by banded
    * multi-index over a `width`-bit simhash: the signature splits into
    * k+1 near-equal bit bands, and a pair differing in ≤ k bits leaves
    * at least one band intact (pigeonhole) — so pairs meeting ONLY
    * inside a shared (band, key) bucket is still exhaustive. One
    * exchange on the band key; a pair matching in several bands dedupes
    * before output.
    *
    * Scale controls, both parameterized: `width` sets the number of
    * distinct band values (wider signature → exponentially more, smaller
    * buckets), and `bucketCap` drops pathological hot buckets before
    * their quadratic within-bucket explosion — enforced by a
    * count-over-window on the already-bucket-partitioned rows (one
    * exchange, hot rows dropped before any collect_list builds), the
    * same guard shape as the shingle df cap.
    */
  def dedupHammingPairs(docs: DataFrame, width: Int, k: Int,
      bucketCap: Int): DataFrame = {
    require(k >= 0 && k < width, "need 0 <= k < width")
    require(bucketCap > 1, "bucketCap must exceed 1")
    val bands = k + 1
    val sig = simhashSigs(docs, width)
    // Bits distribute EVENLY across bands (floor boundaries j·width/bands):
    // every band carries ≥1 bit because bands = k+1 ≤ width. A ceil-width
    // split would hand trailing bands an empty range when
    // ceil(width/bands)·(bands-1) ≥ width (e.g. width=9, k=3) — a
    // constant band key, i.e. one corpus-sized bucket that bucketCap then
    // drops, silently breaking the pigeonhole exhaustiveness.
    val bandKeys = (0 until bands).map { j =>
      val lo = j * width / bands
      val hi = (j + 1) * width / bands
      // hi-lo <= width <= 60 today, but guard the 64-bit wrap anyway:
      // Scala shifts mod 64, so (1L << 64) - 1 would be 0 — a constant
      // band key, i.e. the corpus-sized bucket this comment warns about.
      val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1
      concat(lit(s"$j:"), shiftright(col("simhash"), lo).bitwiseAND(mask).cast("string"))
    }
    val banded = sig
      .select(col("doc_id"), col("simhash"), explode(array(bandKeys: _*)).as("bkey"))
      .repartition(col("bkey"))
    banded
      .withColumn("df", count(lit(1)).over(Window.partitionBy("bkey")))
      .filter(col("df") > 1 && col("df") <= bucketCap)
      .groupBy("bkey")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= k)
      .distinct()
      .orderBy(asc_nulls_first("doc_id_1"), asc_nulls_first("doc_id_2"))
  }

  /** Distinct (doc_id, trigram-shingle) rows, built by posexplode +
    * window lead. Two array alternatives were tried and MEASURED SLOWER
    * at sf0.1 this round: transform(sequence)/element_at re-evaluates
    * the tokenizer per SHINGLE (15 s+), and the slice+zip_with form
    * (TextQueries.ngrams, tokenizer bound once, explode_outer to dodge
    * InferFiltersFromGenerate) trades one exchange for interpreted
    * higher-order-function CPU and lost 0.1-0.4 s on every consumer of
    * THIS helper — it only pays where it removes two windows plus a
    * dedup agg (see sharedShingleCounts). Everything here is codegen'd:
    * split runs once per row inside the generator, lead() is one pass
    * over the doc-partition sort.
    */
  def shingleRows(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("t1", lead(col("t"), 1).over(w))
      .withColumn("t2", lead(col("t"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("t"), col("t1"), col("t2")).as("sh"))
      .distinct()
  }

  /** Shingles appearing in more documents than this are dropped before
    * pair generation. A shingle shared by df documents generates df²
    * candidate pairs and its collect_list holds df entries on one
    * reducer — unbounded on a hot shingle ("to be or" at corpus scale).
    * Dropping ultra-common shingles is the same move as stop-word
    * removal and barely affects Jaccard≥0.5 pairs (a shingle in >1000
    * docs carries no near-duplicate signal). The cap is far above any
    * df in the test corpora (max observed 25 at sf0.1), so oracle
    * results are unchanged there.
    */
  val ShingleDfCap = 1000

  /** Near-dup pairs by token-trigram Jaccard ≥ 0.5. The pair space is
    * pruned by the shingle equi-join (only docs sharing a shingle ever
    * meet — the same inverted-index pruning that scales this to 100 TB),
    * then exact |A∩B| / |A|+|B|−|A∪B∩…| on integer counts.
    */
  def qNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, sfDir), ShingleDfCap)

  def ngramJaccardPairs(docs: DataFrame, dfCap: Int,
      tok: Column => Column = tokens): DataFrame =
    sharedShingleCounts(docs, dfCap, tok)
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared")), 6) + lit(0.0))
      .filter(col("jaccard") >= 0.5)
      .select("doc_id_1", "doc_id_2", "jaccard")
      .orderBy(asc_nulls_first("doc_id_1"), asc_nulls_first("doc_id_2"))

  /** Asymmetric near-CONTAINMENT pairs: shared / min(|A|,|B|) ≥ 0.8 —
    * catches the smaller document being mostly INCLUDED in the larger
    * one (quotes, excerpts, doc-in-doc concatenations), which symmetric
    * Jaccard misses whenever the size ratio is large (a 10-shingle doc
    * fully contained in a 1000-shingle doc has Jaccard ≈ 0.01 but
    * containment 1.0). Same single-scan shingle-join machinery and
    * df cap as the Jaccard pairs — only the denominator differs.
    */
  def qContainment(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(Tables.documents(spark, sfDir), ShingleDfCap)

  def containmentPairs(docs: DataFrame, dfCap: Int,
      threshold: Double = 0.8): DataFrame =
    sharedShingleCounts(docs, dfCap)
      .withColumn("containment",
        round(col("shared").cast("double") /
          least(col("n1"), col("n2")), 6) + lit(0.0))
      .filter(col("containment") >= threshold)
      .select("doc_id_1", "doc_id_2", "containment")
      .orderBy(asc_nulls_first("doc_id_1"), asc_nulls_first("doc_id_2"))

  /** (doc_id_1 < doc_id_2, shared, n1, n2) for every doc pair sharing
    * at least one ≤dfCap-frequency trigram shingle — the common core of
    * the Jaccard and containment pair generators.
    */
  private def sharedShingleCounts(docs: DataFrame, dfCap: Int,
      tok: Column => Column = tokens): DataFrame = {
    // SINGLE-SCAN plan. The earlier formulation derived per-doc
    // shingle counts as a separate aggregate joined onto the pairs
    // twice — exchange reuse does NOT cover a three-consumer shape, so
    // the executed plan re-ran the whole corpus→shingle pipeline three
    // times (3 parquet scans, 4 window sorts; measured 22 s on a 16x
    // replicated corpus vs 8 s once the recomputation was eliminated).
    // Instead each shingle row CARRIES its doc's distinct-shingle
    // count n: the dedup groupBy and the n-window both run on the
    // doc_id partitioning the lead-window already established (their
    // clustering is satisfied by hash(doc_id) — no exchange), so the
    // full chain is scan → Ex(doc_id) → lead window + dedup + n-window
    // → Ex(sh) → df window + pair explode → Ex(pair) → Jaccard.
    // MAP-ONLY shingle build: distinct trigrams and their per-doc count
    // come straight from array algebra (TextQueries.ngrams — slice +
    // zip_with, constant re-evals per row), so the scan → Ex(doc_id) →
    // lead window + dedup + n-window prefix of the old plan collapses
    // to scan → project → explode with NO exchange and NO sort before
    // the shingle repartition (one exchange removed from every query
    // in the ngram-Jaccard family; measured at sf0.1: q_ngram_jaccard
    // 2.26 → 1.99 s, q_dedup_clusters 3.23 → 2.28 s, q_dedup_keep_best
    // 3.72 → 2.25 s, q_dup_by_source 3.67 → 2.50 s).
    // The two-projection split + explode_OUTER are both load-bearing:
    // CollapseProject keeps a non-cheap alias referenced more than once
    // (__ts feeds six slice/size sites, shs feeds size + explode), so
    // the tokenizer runs ONCE per row — and a plain explode would have
    // InferFiltersFromGenerate push `size(shs) > 0 AND isnotnull(shs)`
    // past both projections into the scan, re-inlining ~12 tokenizer
    // evaluations per row (observed in the probe plan); the outer
    // generate infers nothing, and the post-generate isNotNull drops
    // the same <3-token docs the old lead-window form dropped.
    val shingled = graft.Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), tok(col("text")).as("__ts"))
      .select(col("doc_id"),
        array_distinct(TextQueries.ngrams(col("__ts"), 3)).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n"),
        explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    // Pair generation via group-by-shingle + within-group explosion
    // rather than a self-join: one exchange on the shingle instead of
    // two. The df pre-count keeps hot shingles out of collect_list
    // BEFORE it accumulates (df > dfCap dropped, df == 1 dropped —
    // singleton shingles, the vast majority, never reach the collect).
    // df comes from a count-over-window on the already-sh-partitioned
    // rows: ONE sort of the shingle stream, versus the
    // aggregate-then-join formulation's two (measured 3.7x faster on a
    // 16x corpus). A hot shingle's rows spill in the sorter (bounded
    // memory), get counted, and are dropped before any list builds.
    val withDf = shingled.repartition(col("sh")).withColumn("df",
      count(lit(1)).over(Window.partitionBy("sh")))
    withDf
      .filter(col("df") > 1 && col("df") <= dfCap)
      .groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("docs"))
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      // n is constant per doc, so max() just reads it through the agg
      .agg(count(lit(1)).as("shared"),
        max(col("a.n")).as("n1"), max(col("b.n")).as("n2"))
  }

  /** Near-dup pairs → clusters: connected components over the
    * q_ngram_jaccard pair graph (min-label canonicalization — every
    * member of a near-dup cluster maps to the cluster's minimum
    * doc_id). The canonical step after ANY pair generator; min-label
    * propagation is deterministic, so the DuckDB oracle reproduces it
    * with a recursive reachability CTE.
    */
  def qDedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = ngramJaccardPairs(Tables.documents(spark, sfDir), ShingleDfCap)
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
    GraphOps.connectedComponents(pairs)
      .orderBy(asc_nulls_first("id"))
  }

  /** Duplicate exposure per source — WHICH crawl/feed contributes the
    * near-dup mass: per source, docs total, docs in some near-dup
    * cluster, distinct clusters touched, and the dup fraction. The
    * question a corpus owner asks right after q_cluster_sizes says
    * dedup is worth running. Reuses the connected-component labels
    * (docs absent from every pair are clean by construction — left
    * join, not dropped).
    */
  def qDupBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = qDedupClusters(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .join(comp, col("doc_id") === col("id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("id").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        countDistinct(col("component")).as("n_clusters"))
      .select(col("source"), col("n_docs"), col("n_dup"), col("n_clusters"),
        (round(col("n_dup").cast("double") / col("n_docs"), 6) + lit(0.0))
          .as("dup_frac"))
      .orderBy(asc_nulls_first("source"))
  }

  /** Duplicate-cluster size distribution — the governance summary of a
    * dedup run: how many clusters of each size the corpus contains,
    * INCLUDING the singleton row (docs in no cluster), which is where
    * most of a healthy corpus lives. The number a corpus owner reads to
    * decide whether near-dup thresholds are tuned right.
    *
    * Plan: the component labels come from the same CC the dedup run
    * already computes; the histogram is two tiny aggs over |clustered
    * docs| rows, and the singleton count enters as the difference of
    * two 1-row aggregates joined as a scalar broadcast (declared in
    * SurfaceSweepSpec) — the corpus itself is scanned once, for its count.
    */
  def qClusterSizes(spark: SparkSession, sfDir: String): DataFrame = {
    val cc = qDedupClusters(spark, sfDir)
    val hist = cc.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val singles = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(cc.agg(count(lit(1)).as("n_clustered"))))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_clustered")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    hist.unionByName(singles)
      .groupBy("cluster_size")
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .orderBy(asc_nulls_first("cluster_size"))
  }

  /** Rounded composite quality score of a text column — shared by
    * qTextQuality (reporting) and qDedupKeepBest (ranking) so the two
    * can never diverge. Ratios of exact integer counts, one fixed IEEE
    * double formula, rounded to 6dp (with the +0.0 −0.0 normalization)
    * so both engines compare identical values.
    */
  private[graft] def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio =
      size(filter(toks, t => t === "the" || t === "a")).cast("double") / nTok
    val avgLen = length(array_join(toks, "")).cast("double") / nTok
    round(lit(0.4) * ttr + lit(0.4) * (lit(1.0) - stopRatio) +
      lit(0.2) * least(avgLen / lit(10.0), lit(1.0)), 6) + lit(0.0)
  }

  /** The production dedup OUTPUT: which document to keep from each
    * near-dup cluster. Clusters come from the trigram-Jaccard pair
    * graph via connected components (exactly q_dedup_clusters);
    * singleton documents form their own cluster. The kept member is
    * the one with the highest quality score (ties → smallest doc_id) —
    * what a real corpus pipeline does, rather than blindly keeping the
    * minimum id. One row per cluster: representative, its quality, and
    * how many near-dups were dropped.
    *
    * Scale shape: quality is pure column algebra on the same scan the
    * pair generator reads; the only additions over q_dedup_clusters
    * are one equi-join of (doc_id → component) against the scored docs
    * and one window over `component` — a single extra exchange, and
    * cluster partitions are near-dup groups (bounded), never hot.
    */
  def qDedupKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    keepBestFrom(Tables.documents(spark, sfDir))

  /** DataFrame-core form over any (doc_id, text) frame. */
  def keepBestFrom(docs: DataFrame): DataFrame = {
    val pairs = ngramJaccardPairs(docs, ShingleDfCap)
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
    val comp = GraphOps.connectedComponents(pairs)
    val labeled = docs
      .select(col("doc_id"), qualityScore(col("text")).as("keep_quality"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        col("keep_quality"))
    val byBest = Window.partitionBy("component")
      .orderBy(col("keep_quality").desc, col("doc_id").asc)
    val bySize = Window.partitionBy("component")
    labeled
      .withColumn("rn", row_number().over(byBest))
      .withColumn("cluster_size", count(lit(1)).over(bySize))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keep_doc_id"),
        col("keep_quality"), col("cluster_size"),
        (col("cluster_size") - 1).as("dropped"))
      .orderBy(asc_nulls_first("component"))
  }

  /** Fuzzy (edit-distance) matching — the near-dup family member for
    * SHORT strings where token shingles are useless: part-name pairs at
    * Levenshtein ≤ 2 (exact dups and near-typos) within a
    * record-linkage block. Blocked, never all-pairs: candidates must
    * share (brand, container) — the categorical blocking key — AND sit
    * in adjacent length bands (band width = threshold + 1;
    * |len(a) − len(b)| > threshold forces distance > threshold, so the
    * banding loses nothing — the pigeonhole argument the Hamming index
    * uses, applied to string length). Only the left side fans out
    * (3 bands); a qualifying pair meets exactly once. The distance
    * itself uses Spark's THRESHOLDED levenshtein — a banded O(len·k) DP
    * with early exit rather than the full O(len²) matrix (the oracle
    * computes the full distance and filters; values agree wherever
    * dist ≤ k).
    */
  def qFuzzyMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val maxDist = 2
    val parts = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_name"),
        floor(length(col("p_name")) / (maxDist + 1)).as("band"))
    val probe = parts.select(col("p_partkey").as("a_key"),
      col("p_brand").as("brand"), col("p_type").as("ptype"),
      col("p_name").as("a_name"),
      explode(array(col("band") - 1, col("band"), col("band") + 1)).as("a_band"))
    probe.join(parts,
      col("brand") === col("p_brand") && col("ptype") === col("p_type") &&
        col("a_band") === col("band") && col("a_key") < col("p_partkey"))
      .filter(abs(length(col("a_name")) - length(col("p_name"))) <= maxDist)
      .select(col("brand"),
        levenshtein(col("a_name"), col("p_name"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .groupBy("brand")
      .agg(count(lit(1)).as("n_close_pairs"), min(col("dist")).as("min_dist"))
      .orderBy(asc_nulls_first("brand"))
  }

  /** Position-sensitive document fingerprint: a weighted polynomial
    * hash — Σ md5_32(token) · w(pos) mod p with w(pos) =
    * (pos·2654435761) mod 1000003 — so permuted documents fingerprint
    * differently while all arithmetic stays below 2^53 (exact in BIGINT
    * in both engines).
    */
  def qFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val P = 1000000007L
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("term",
        (md5Bits(col("t"), 8) *
          (((col("pos") + 1) * lit(2654435761L)) % lit(1000003L))) % lit(P))
      .groupBy("doc_id")
      .agg((sum(col("term")) % lit(P)).as("fingerprint"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Unigram language-model surprisal per document — the
    * perplexity-style quality signal of a pretraining pipeline (docs
    * whose tokens are improbable under their own language's unigram
    * model are noise candidates), without an external model: the
    * corpus itself is the model.
    *
    * Determinism across engines: a double SUM of log-probs is
    * partition-order-dependent, so each token's surprisal
    * -ln(count_in_lang / lang_total) is first ROUNDED to integer
    * micro-nats (one IEEE div+log+mul from exact integer counts —
    * identical in both engines; a flip needs ln() to land within an
    * ulp of a 0.5 micro-nat boundary, ~1e-10 per distinct token) and
    * the per-doc total is then an EXACT integer sum. The reported
    * average divides two exact integers once.
    *
    * Scale: the model is a (lang × vocab) aggregate — bounded by
    * vocabulary, not corpus; scoring joins the model back to the token
    * stream on (lang, token) — the tfidf family shape: one token
    * exchange, map-side-combinable aggregates, no driver state.
    */
  def qLmScore(spark: SparkSession, sfDir: String): DataFrame =
    lmScoreFrom(Tables.documents(spark, sfDir))

  /** DataFrame-core form over any (doc_id, lang, text) frame. */
  def lmScoreFrom(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
    // lang totals fold from the (lang × vocab) aggregate via a window
    // (Σ n_t per lang ≡ token count) — a sum over vocabulary-bounded
    // rows, NOT another scan of the token stream; a second aggregate
    // joined back would re-run the tokenize pipeline (exchange reuse
    // does not cover multi-consumer shapes — see ngramJaccardPairs)
    val model = toks.groupBy("lang", "t").agg(count(lit(1)).as("n_t"))
      .withColumn("n_lang", sum(col("n_t")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .withColumn("su_micronats",
        round(-log(col("n_t").cast("double") / col("n_lang")) * 1000000.0, 0)
          .cast("long"))
    toks.join(model, Seq("lang", "t"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"), sum(col("su_micronats")).as("total_su"))
      .withColumn("avg_surprisal",
        round6(col("total_su").cast("double") / col("n_tokens") / 1000000.0))
      .select("doc_id", "lang", "n_tokens", "avg_surprisal")
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Token counting two ways per document: whitespace tokens and a
    * BPE-style sub-word regex (letter runs | digit runs | single other
    * non-space). The pattern avoids lookahead so Java (Spark) and RE2
    * (DuckDB) agree. Per-lang totals keep the output compact and
    * aggregate-exact.
    */
  def qTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = split(col("text"), "\\s+")
    val bpe = regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(filter(ws, t => t =!= "")).as("n_ws"),
        size(bpe).as("n_bpe"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws").cast("long")).as("ws_tokens"),
        sum(col("n_bpe").cast("long")).as("bpe_tokens"),
        (round(sum(col("n_bpe").cast("long")).cast("double") /
          sum(col("n_ws").cast("long")), 6) + lit(0.0)).as("bpe_per_ws"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** PMI-ranked bigram collocations — the phrase-mining step that
    * promotes "new york"-style adjacent pairs into vocabulary units:
    * top-50 bigrams by count (n_ab ≥ 5, deterministic (count desc,
    * words asc) tie-break), scored PMI = ln(n_ab·N/(n_a·n_b)) in
    * micro-nats (q_drift_psi's rounding recipe). Ranking is by exact
    * integer counts — the float PMI never decides which rows survive,
    * so no last-ulp divergence can flip the cut.
    *
    * Scale: ONE doc-position exchange feeds both the bigram lead() and
    * the unigram counts; the corpus total re-enters as a 1-row scalar
    * broadcast over the post-limit 50 rows (q_tfidf's declared shape);
    * unigram joins attach to the 50 survivors, not the vocabulary.
    */
  def qCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val pos = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val byPos = Window.partitionBy("doc_id").orderBy(col("pos").asc)
    val bi = pos.withColumn("w2", lead(col("w"), 1).over(byPos))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val uni = pos.groupBy(col("w").as("u")).agg(count(lit(1)).as("n_u"))
    // N = Σ unigram counts — read off the vocab-sized frame instead of
    // a third corpus scan+explode
    val tot = uni.agg(sum(col("n_u")).as("n_tokens"))
    val top = bi.filter(col("n_ab") >= 5)
      .orderBy(col("n_ab").desc, col("w1").asc, col("w2").asc).limit(50)
    top
      .join(uni.select(col("u").as("w1"), col("n_u").as("n_a")), "w1")
      .join(uni.select(col("u").as("w2"), col("n_u").as("n_b")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        round(log(col("n_ab").cast("double") * col("n_tokens") /
          (col("n_a").cast("double") * col("n_b"))) * 1000000, 0)
          .cast("long").as("pmi_micro"))
      .orderBy(col("n_ab").desc, asc_nulls_first("w1"), asc_nulls_first("w2"))
  }

  /** Per-document Flesch reading-ease score — the readability signal
    * next to q_text_quality's ratio features: 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/words). Sentences are letter-bearing
    * `[.!?]+` segments (floored at 1); syllables use the standard
    * vowel-group heuristic, counted EXACTLY as regex matches —
    * `[aeiouy]+` runs over the whole lowered text (runs cannot span a
    * word boundary, a non-letter, so the text-wide count equals the
    * per-word sum) plus one for each vowel-less word (the ≥1-syllable
    * floor). All counts are integers; the final formula is one double
    * expression, identical in both engines.
    *
    * Scale: a narrow scan-only projection — no explode, no shuffle
    * beyond the output sort; every count is codegen'd column algebra
    * on the doc's own text.
    */
  def qReadability(spark: SparkSession, sfDir: String): DataFrame = {
    val low = lower(col("text"))
    val toks = tokens(col("text"))
    val nWords = size(toks)
    val nSent = greatest(lit(1),
      size(filter(split(low, "[.!?]+"), s => s.rlike("[a-z]"))))
    val runs = size(regexp_extract_all(low, lit("[aeiouy]+"), lit(0)))
    val noVowel = size(filter(toks, w => not(w.rlike("[aeiouy]"))))
    val nSyll = runs + noVowel
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        nWords.as("n_words"), nSent.as("n_sentences"),
        nSyll.as("n_syllables"),
        (round(lit(206.835)
          - lit(1.015) * (nWords.cast("double") / nSent)
          - lit(84.6) * (nSyll.cast("double") / nWords), 6) + lit(0.0))
          .as("flesch"))
      .filter(col("n_words") > 0)
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Per-document quality score from type-token ratio, stopword ratio
    * and average token length — all ratios of exact integer counts, so
    * both engines divide identical values.
    */
  def qTextQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => t === "the" || t === "a")).cast("double")
    // Σ length(token) == length of the empty-separator join — identical
    // integer value, but array_join+length are codegen'd while an
    // aggregate(transform(...)) fold evaluates interpreted per token
    val sumLen = length(array_join(toks, "")).cast("double")
    val ttr = nDistinct / nTok
    val stopRatio = nStop / nTok
    val avgLen = sumLen / nTok
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        (round(ttr, 6) + lit(0.0)).as("type_token_ratio"),
        (round(stopRatio, 6) + lit(0.0)).as("stopword_ratio"),
        (round(avgLen, 6) + lit(0.0)).as("avg_token_len"),
        qualityScore(col("text")).as("quality_score"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Language-ID heuristic: build a 5-token frequency profile per
    * language from the corpus itself, guess each doc's language as the
    * profile with the largest distinct-token overlap (ties → lexically
    * smaller lang), and report the lang × guess confusion matrix.
    */
  def qLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(tokens(col("text")))).as("word"))
    val allTok = docs.select(col("lang"), explode(tokens(col("text"))).as("word"))
    // Two-phase top-K: a window partitioned by lang alone would give one
    // reducer per language, each sorting its ENTIRE vocabulary (5
    // partitions total at any scale). Phase 1 takes a local top-5 per
    // (lang, word-hash bucket) — 32 parallel partitions per language,
    // each sorting 1/32 of the vocab; phase 2 re-ranks the ≤ 160
    // survivors per language. Same deterministic (cnt desc, word asc)
    // order both phases, so the final top-5 is identical.
    val langBkt = pmod(hash(col("word")), lit(32))
    val profiles = allTok.groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("lang"), langBkt)
          .orderBy(col("cnt").desc, col("word").asc)))
      .filter(col("prn") <= 5)
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("word").asc)))
      .filter(col("rn") <= 5)
      .select(col("lang").as("profile_lang"), col("word"))
    val overlap = tok
      .join(broadcast(profiles), "word")
      .groupBy(col("doc_id"), col("lang"), col("profile_lang"))
      .agg(count(lit(1)).as("overlap"))
    val guessed = overlap
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("overlap").desc, col("profile_lang").asc)))
      .filter(col("rn") === 1)
    guessed.groupBy(col("lang"), col("profile_lang").as("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("guess"))
  }

  /** Within-document repetition metrics — the Gopher-style repetition
    * quality filter: per document, the fraction of token bigrams taken
    * by the single most frequent bigram, and the fraction of trigram
    * occurrences whose trigram appears more than once. Docs are flagged
    * heavy by integer cross-multiplication (max_bi·5 > n_bi ⇔ top-bigram
    * share > 20%; dup_tri·2 > n_tri ⇔ duplicate-trigram share > 50%) so
    * thresholding never touches a float; only the reported max fraction
    * divides (single IEEE division, rounded 6 dp). N-grams come from
    * lead() over a per-doc position window — one exchange on doc_id,
    * reused by both gram sizes — then two hash aggs whose shuffled width
    * is one row per distinct gram. Docs under 3 tokens have no trigrams
    * and drop from the (inner) metric join, mirrored by the oracle.
    */
  def qRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("t2", lead(col("t"), 1).over(w))
      .withColumn("t3", lead(col("t"), 2).over(w))
    val bi = grams.filter(col("t2").isNotNull)
      .groupBy(col("doc_id"), col("lang"),
        concat_ws(" ", col("t"), col("t2")).as("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "lang")
      .agg(max(col("cnt")).as("max_bi"), sum(col("cnt")).as("n_bi"))
    val tri = grams.filter(col("t3").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("t"), col("t2"), col("t3")).as("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_tri"),
        sum(col("cnt")).as("n_tri"))
    bi.join(tri, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("max_bi") * 5 > col("n_bi"), 1L).otherwise(0L))
          .as("n_top_bigram_heavy"),
        sum(when(col("dup_tri") * 2 > col("n_tri"), 1L).otherwise(0L))
          .as("n_dup_trigram_heavy"),
        (round(max(col("max_bi").cast("double") / col("n_bi")), 6) + lit(0.0))
          .as("max_top_bigram_frac"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Character k-gram length for substring fingerprinting: long enough
    * that a match is a verbatim copied RUN (not shared vocabulary, which
    * the token-shingle pipelines already cover), short enough that
    * near-identical docs share many of them.
    */
  val SubstrK = 24

  /** 1-in-p fingerprint selection (Manber '94 "finding similar files"):
    * a k-gram is a fingerprint iff hash % p == 0. Chosen over
    * window-min winnowing deliberately: selection is a PER-ROW filter —
    * no per-doc position window, so the fan-out stage stays a single
    * codegen'd scan→explode→filter with no exchange, and the 1/p
    * survivor stream is the only thing that ever shuffles. Winnowing's
    * gap guarantee costs a per-doc sort at 100 TB and buys nothing
    * here: expected gap is p and dense repeats are exactly the runs we
    * want multiple hits on.
    */
  val SubstrModP = 8

  /** Fingerprints shared by more than this many docs are boilerplate
    * (headers, license text) — dropped before pair generation, same
    * rationale as ShingleDfCap: a df-doc fingerprint makes df² pairs.
    */
  val SubstrDfCap = 200

  /** Cross-document VERBATIM-substring near-dups: doc pairs sharing ≥ 2
    * selected k-gram fingerprints, i.e. ≥ 2 copied 24-char runs. This is
    * the exact-substring dedup a training corpus runs to catch copied
    * passages that token-set measures (minhash/jaccard) dilute below
    * threshold when the surrounding text differs.
    */
  def qDedupSubstring(spark: SparkSession, sfDir: String): DataFrame =
    substringFingerprintPairs(Tables.documents(spark, sfDir),
      SubstrK, SubstrModP, SubstrDfCap, minShared = 2)

  /** Per-doc token (Shannon) ENTROPY in nats — the distributional
    * quality signal: low entropy = repetitive/templated text, high =
    * diverse vocabulary; used alongside q_text_quality's ratio features
    * and q_repetition's gram features as a filter input. Computed as
    * H = ln(n) − (Σ cᵢ·ln cᵢ)/n over per-doc token counts — one explode
    * + two hash aggs, both keyed by doc_id after the first, so the
    * second agg needs no exchange. Docs with zero tokens have no
    * distribution and drop (mirrored by the oracle). Cross-engine note:
    * ln may differ by 1 ulp between libm and the JVM; with ≤ a few
    * hundred terms the 6-dp rounding absorbs it (same argument as
    * q_lm_score, proven green over the corpus).
    */
  def qEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("clogc"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        (round(log(col("n").cast("double")) - col("clogc") / col("n"), 6)
          + lit(0.0)).as("entropy"))
      .orderBy(asc_nulls_first("doc_id"))

  /** (doc_id_1 < doc_id_2, shared) for docs sharing ≥ minShared
    * mod-p-selected k-gram fingerprints. Plan: scan → explode positions
    * → hash+filter (keeps 1/p, ALL pre-shuffle in one codegen stage) →
    * distinct (doc_id,h) → df-cap window on h → self-equi-join on h →
    * pair count. The explode is O(chars) but pipelined — nothing wider
    * than (doc_id, long) ever reaches an exchange.
    */
  def substringFingerprintPairs(docs: DataFrame, k: Int, modP: Int,
      dfCap: Int, minShared: Int): DataFrame = {
    val nGrams = length(col("text")) - (k - 1)
    val fp = graft.Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("text"),
        explode(when(nGrams >= 1, sequence(lit(1), nGrams))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("doc_id"),
        md5Bits(col("text").substr(col("pos"), lit(k)), 15).as("h"))
      .filter(col("h") % modP === 0)
      .distinct()
    val capped = fp
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("df") <= dfCap)
      .drop("df")
    capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(asc_nulls_first("doc_id_1"), asc_nulls_first("doc_id_2"))
  }

  /** First BPE merge step at corpus scale — the pair-frequency count a
    * tokenizer trainer runs each round: for every adjacent character
    * pair inside a word, total occurrences (weighted by word frequency)
    * and the number of distinct words containing it; top 20 pairs.
    *
    * The load-bearing shape is AGGREGATE-BEFORE-EXPLODE: the corpus
    * collapses to (word, count) first — one shuffle keyed by word, the
    * same wordcount exchange q_wordcount runs — and pair enumeration
    * then explodes only the DISTINCT vocabulary (Heaps'-law sized,
    * ~corpus^0.5, with bounded per-word fan-out). Exploding pairs from
    * raw text would shuffle ~5x the corpus; this shuffles the corpus
    * once and then works on data that fits in one executor's cache no
    * matter how big the input. Pure column algebra (sequence +
    * substring), fully codegen'd.
    */
  def qBpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
    vocab
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word").substr(col("i"), lit(2)).as("pair"),
        col("word"), col("cnt"))
      .groupBy("pair")
      .agg(sum(col("cnt")).as("pair_count"),
        countDistinct(col("word")).as("n_words"))
      .orderBy(desc("pair_count"), asc_nulls_first("pair"))
      .limit(20)
  }

  /** Merge rounds q_bpe_merges trains. Small enough that the unrolled
    * oracle CTE chain stays readable; ≥3 so the loop demonstrably
    * re-pairs over merged symbols (later rounds merge multi-char
    * symbols earlier rounds created).
    */
  val BpeMergeRounds = 6

  /** Iterative BPE training — the k-round merge loop qBpePairs is one
    * step of: each round counts adjacent-symbol pairs over the vocab
    * (weighted by word frequency), merges the most frequent pair
    * everywhere, and re-pairs over the merged symbols. Output: one row
    * per round — the merge table a tokenizer trainer persists.
    *
    * Scale design mirrors qBpePairs: AGGREGATE-BEFORE-EXPLODE. The
    * corpus collapses once to (word, count) — the only corpus-sized
    * shuffle — and every round's pair count + merge runs over the
    * DISTINCT vocabulary (Heaps'-law sized), lazily checkpointed per
    * round like GraphOps.pageRank so plans don't grow with k. Each
    * round takes ONE driver action fetching ONE row (the argmax pair —
    * the same bounded-collect pattern as q_heavy_hitters' sketch); the
    * merge itself is a codegen'd literal replace, never a regex.
    *
    * Merge semantics: symbols live in a space-delimited string
    * (" h e l l o "); merging (x, y) is TWO leftmost-non-overlapping
    * literal replaces of " x y " with " xy " (two passes because
    * adjacent occurrences share a boundary space; two always reach the
    * fixpoint). This coincides with textbook greedy left-to-right BPE
    * except inside self-overlapping runs of a doubled symbol
    * ("aaaaa" tokenizes (aa)(a)(aa) instead of (aa)(aa)(a)) — an
    * explicitly-chosen deterministic variant, because `replace` has
    * IDENTICAL semantics in Spark and DuckDB, which is what makes the
    * k-round loop oracle-checkable at all (no SQL engine can express
    * the stateful left-to-right scan).
    */
  def qBpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    mergeTableDf(spark, bpeMergeTable(spark, sfDir, BpeMergeRounds))

  /** Per-JVM memo of trained merge tables keyed by (corpus dir, k,
    * tokenizer tag, fixture stamp): q_bpe_merges and q_bpe_encode
    * share ONE training run per corpus instead of each re-running the
    * k driver-action rounds (the bench previously paid the full train
    * inside every q_bpe_encode rep). The model itself is O(k) driver
    * state — exactly what a tokenizer trainer would persist.
    *
    * The fixture stamp (file count + max mtime + total bytes of the
    * documents parquet) guards against a same-JVM regeneration of the
    * corpus at `sfDir` silently serving a stale model (ADVICE r8); a
    * cheap directory listing, no content hash. Bench methodology: the
    * memo means min-of-N reps of q_bpe_merges/q_bpe_encode price
    * encode/apply only — graft.Bench measures and reports the cold
    * (first-run, memo-empty) training cost separately.
    */
  private val bpeModelMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String, String), Seq[(Int, String, String, Long)]]()

  private def fixtureStamp(sfDir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(s"$sfDir/documents.parquet"))
    s"${files.size}:${files.map(_.lastModified).foldLeft(0L)(math.max)}:" +
      s"${files.map(_.length).sum}"
  }

  private def bpeMergeTable(spark: SparkSession, sfDir: String,
      k: Int): Seq[(Int, String, String, Long)] =
    bpeMergeTableFor(spark, sfDir, k, "ascii",
      () => Tables.documents(spark, sfDir), tokens)

  /** Tokenizer-tagged variant — the unicode twin memoizes its own
    * table under a distinct tag so the two corpora views never share
    * a model.
    */
  private[operators] def bpeMergeTableFor(spark: SparkSession, sfDir: String,
      k: Int, tag: String, docs: () => DataFrame,
      tok: Column => Column): Seq[(Int, String, String, Long)] =
    bpeModelMemo.computeIfAbsent((sfDir, k, tag, fixtureStamp(sfDir)),
      _ => trainBpeMerges(spark, docs(), k, tok))

  private def mergeTableDf(spark: SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("step", "left_sym", "right_sym", "pair_count")
      .select(col("step").cast("int").as("step"), col("left_sym"),
        col("right_sym"), concat(col("left_sym"), col("right_sym")).as("merged"),
        col("pair_count"))
      .orderBy("step")
  }

  /** Frame-parameterized body of [[qBpeMerges]] (spec entry point —
    * un-memoized, trains on whatever frame it is handed). */
  def bpeMergesFrom(spark: SparkSession, docs: DataFrame, k: Int): DataFrame =
    mergeTableDf(spark, trainBpeMerges(spark, docs, k))

  /** The k-round trainer; returns the merge table as driver state. */
  private[graft] def trainBpeMerges(spark: SparkSession, docs: DataFrame,
      k: Int, tok: Column => Column = tokens): Seq[(Int, String, String, Long)] = {
    var v = docs
      .select(explode(tok(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // " h e l l o " — every symbol surrounded by spaces so a merge
      // is a literal substring replace
      .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("s"),
        col("cnt"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to k) {
      val best = v
        .select(col("cnt"), filter(split(col("s"), " "), x => x =!= "").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), col("syms"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("i"))
        .select(element_at(col("syms"), col("i")).as("left_sym"),
          element_at(col("syms"), col("i") + 1).as("right_sym"), col("cnt"))
        .groupBy("left_sym", "right_sym")
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(desc("pair_count"), asc("left_sym"), asc("right_sym"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, rr, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, l, rr, c))
        val pat = lit(s" $l $rr ")
        val rep = lit(s" $l$rr ")
        v = v.select(replace(replace(col("s"), pat, rep), pat, rep).as("s"),
            col("cnt"))
          .localCheckpoint(false)
      }
    }
    merges.result()
  }

  /** Tokenizer APPLY — the encode half of the BPE story q_bpe_merges
    * trains: recall the per-JVM memoized merge table (trained once per
    * corpus, shared with q_bpe_merges) and apply it (in training
    * order, same two-pass boundary replace) to every token occurrence,
    * reporting per-document symbol counts.
    * n_bpe_tokens / n_words is the compression the learned vocab buys —
    * the number a tokenizer-budget planner actually needs per corpus
    * slice.
    *
    * Scale: the merge table is O(k) driver state (it IS the model);
    * encoding inlines it as k·2 literal replaces — a pure codegen'd
    * projection over the exploded token stream, NO join and NO extra
    * exchange (the only shuffle is the per-doc count, the wordcount
    * exchange). The alternative — encode the distinct vocab once and
    * join back — trades those replace CPU cycles for a corpus-sized
    * shuffle; at 100 TB the projection wins unless k grows to
    * real-tokenizer size (30k merges), where the vocab join becomes
    * the right plan.
    */
  def qBpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    encodeWith(Tables.documents(spark, sfDir),
      bpeMergeTable(spark, sfDir, BpeMergeRounds)
        .map { case (_, l, r, _) => (l, r) })

  /** Frame-parameterized body of [[qBpeEncode]] (spec entry point —
    * trains on the handed frame, no memo). */
  def bpeEncodeFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    encodeWith(docs, trainBpeMerges(spark, docs, BpeMergeRounds)
      .map { case (_, l, r, _) => (l, r) })

  /** Encode-only half: apply a trained merge table in training order. */
  private[graft] def encodeWith(docs: DataFrame,
      merges: Seq[(String, String)],
      tok: Column => Column = tokens): DataFrame = {
    val spaced = concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
    val encoded = merges.foldLeft(spaced) { case (c, (l, r)) =>
      val pat = lit(s" $l $r ")
      val rep = lit(s" $l$r ")
      replace(replace(c, pat, rep), pat, rep)
    }
    docs
      .select(col("doc_id"), col("lang"),
        explode(tok(col("text"))).as("word"))
      .select(col("doc_id"), col("lang"), col("word"),
        size(filter(split(encoded, " "), x => x =!= ""))
          .cast("long").as("n_sym"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        (round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
          + lit(0.0)).as("bpe_per_word"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Cross-source shingle overlap matrix — corpus governance: for each
    * pair of sources, the Jaccard similarity of their token-trigram
    * shingle SETS. Tells a corpus owner which sources duplicate which
    * (mirrors, scrapes of scrapes) before any doc-level dedup runs.
    *
    * Scale: the shingle stream collapses to distinct (source, shingle)
    * rows first; the self-join on the shingle key then fans out at most
    * |sources|²/2 rows PER DISTINCT SHINGLE — bounded by the source
    * count, not by how hot the shingle is (a boilerplate trigram in
    * every doc of every source still yields ≤10 rows here). Per-source
    * set sizes re-enter as a broadcast to finish the union algebra
    * |A∪B| = |A|+|B|−|A∩B| without a second pass.
    */
  def qSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val srcSh = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("t1", lead(col("t"), 1).over(w))
      .withColumn("t2", lead(col("t"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("source"), concat_ws(" ", col("t"), col("t1"), col("t2")).as("sh"))
      .distinct()
      // pinned: three consumers (the size fold, both self-join sides)
      .localCheckpoint()
    val sizes = srcSh.groupBy(col("source").as("sz_source"))
      .agg(count(lit(1)).as("n_sh"))
    srcSh.as("a").join(srcSh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_1"), col("b.source").as("source_2"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes), col("source_1") === col("sz_source"))
      .withColumnRenamed("n_sh", "n_1").drop("sz_source")
      .join(broadcast(sizes), col("source_2") === col("sz_source"))
      .withColumnRenamed("n_sh", "n_2").drop("sz_source")
      .select(col("source_1"), col("source_2"), col("n_common"),
        (col("n_1") + col("n_2") - col("n_common")).as("n_union"),
        (round(col("n_common").cast("double") /
          (col("n_1") + col("n_2") - col("n_common")), 6) + lit(0.0))
          .as("jaccard"))
      .orderBy(asc_nulls_first("source_1"), asc_nulls_first("source_2"))
  }

  /** Cross-document duplicated-5-gram fraction — the Gopher-family
    * "duplicate n-gram" quality signal at CORPUS granularity: per
    * document, the fraction of its 5-gram positions whose 5-gram also
    * occurs in at least one OTHER document. Exact duplicates score 1.0,
    * template/boilerplate-heavy docs score high, organic text low —
    * the per-doc number a curation pipeline thresholds on (the within-
    * doc complement is qRepetition).
    *
    * Determinism: counts are exact integers; the fraction is one
    * rounded division.
    *
    * Scale: the tfidf shape — aggregate the position stream to
    * (5-gram, doc-frequency) first (vocabulary-bounded, map-side
    * combinable via the distinct-docs pre-fold), then join the model
    * back to the position stream on the 5-gram key. One token-stream
    * exchange; at 100 TB key the join on sha2(ngram) so shuffles carry
    * 32-byte keys, never 5-word strings (q_dedup_exact_hash's recipe).
    */
  def qDupNgramFrac(spark: SparkSession, sfDir: String): DataFrame =
    dupNgramFracFrom(Tables.documents(spark, sfDir))

  /** Frame-parameterized body of [[qDupNgramFrac]]. */
  def dupNgramFracFrom(docs: DataFrame): DataFrame = {
    // ONE pass over the corpus. The previous shape built the 5-gram
    // position stream TWICE — once into the distinct+count doc-freq
    // aggregate, once as the join's probe side — so the scan, the
    // tokenizer (the text family's hot expression), and the shingle
    // explode all ran double (guide §2.4: two operations keyed the
    // same way share one exchange). Now the stream is built once with
    // the map-only slice+zip_with builder (TextQueries.ngrams — the
    // short-doc filter folds into the builder's empty-array guard;
    // explode_outer + isNotNull keeps InferFiltersFromGenerate from
    // re-inlining the tokenizer into the scan, the sharedShingleCounts
    // move) and shuffled on the 5-gram once; the doc-frequency is a
    // windowed distinct-doc count on that same exchange: rows of one
    // (ng, doc) flag their first occurrence via row_number, df sums
    // the flags over the ng partition — both windows cluster on ng,
    // one sort serves both.
    val grams = graft.Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), TextQueries.ngrams(col("__ts"), 5).as("ngs"))
      .select(col("doc_id"), explode_outer(col("ngs")).as("ng"))
      .filter(col("ng").isNotNull)
    val wDoc = Window.partitionBy("ng", "doc_id").orderBy(col("doc_id"))
    val wNg = Window.partitionBy("ng")
    grams.repartition(col("ng"))
      .withColumn("__first",
        when(row_number().over(wDoc) === 1, 1L).otherwise(0L))
      .withColumn("df", sum(col("__first")).over(wNg))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
        (round(col("n_dup").cast("double") / col("n_ngrams"), 6) + lit(0.0))
          .as("dup_frac"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Per-document 5-gram NOVELTY against the doc_id-ordered corpus
    * prefix: the fraction of a doc's 5-gram positions whose 5-gram
    * first appears in THIS doc (first_doc = doc_id) rather than any
    * earlier one — the marginal-information curve a corpus owner reads
    * to decide when additional crawl stops adding content
    * (qDupNgramFrac's order-aware companion: that one asks "duplicated
    * anywhere", this one "already seen before me").
    *
    * Determinism: first_doc is an exact integer min; the fraction is
    * one rounded division.
    *
    * Scale: same tfidf shape as qDupNgramFrac — the (5-gram → min
    * doc_id) model is vocabulary-bounded and map-side combinable
    * (min combines), joined back to the position stream once.
    */
  def qNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    // same one-pass rewrite as [[dupNgramFracFrom]]: the stream is
    // built once, and first_doc is a min window over the ng partition
    // on the stream's own exchange instead of an aggregate joined back
    // to a second copy of the stream (min needs no dedup pre-fold)
    val grams = graft.Tables.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("__ts"))
      .select(col("doc_id"), TextQueries.ngrams(col("__ts"), 5).as("ngs"))
      .select(col("doc_id"), explode_outer(col("ngs")).as("ng"))
      .filter(col("ng").isNotNull)
    val wNg = Window.partitionBy("ng")
    grams.repartition(col("ng"))
      .withColumn("first_doc", min(col("doc_id")).over(wNg))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_ngrams"), col("n_seen"),
        (round((col("n_ngrams") - col("n_seen")).cast("double") / col("n_ngrams"), 6)
          + lit(0.0)).as("novelty_frac"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Per-document average bigram surprisal under an add-one-smoothed
    * per-language bigram LM estimated from the corpus itself — the
    * next-order refinement of [[qLmScore]]'s unigram model and the
    * fluency signal a perplexity-filtered corpus build uses:
    * P(w2 | w1) = (c(w1,w2) + 1) / (ctx(w1) + V), with ctx(w1) the
    * bigram-context count and V the language's unigram vocabulary, so
    * the smoothed distribution sums to 1 over seen + unseen
    * continuations.
    *
    * Determinism: qLmScore's micro-nat recipe — each bigram's
    * -ln(p) is rounded to integer micro-nats (one IEEE log/div/mul
    * from exact integer counts, identical across engines), the per-doc
    * total is an exact integer sum, and the average divides two exact
    * integers once.
    *
    * Scale: the model is a (lang × bigram-vocab) aggregate — bounded by
    * vocabulary, not corpus; V and ctx re-enter by joining model-sized
    * frames; scoring joins the model to the bigram stream on
    * (lang, bigram). One bigram-stream exchange, no driver state.
    */
  def qBigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val bigrams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // lang vocab V from the unigram view of the same stream (plus each
    // doc's final token, which never opens a bigram — counting distinct
    // w1 ∪ w2 types keeps V the full unigram vocabulary)
    val vocab = bigrams.select(col("lang"), col("w1").as("w"))
      .union(bigrams.select(col("lang"), col("w2").as("w")))
      .distinct()
      .groupBy("lang").agg(count(lit(1)).as("v"))
    val ctx = bigrams.groupBy("lang", "w1").agg(count(lit(1)).as("n_ctx"))
    val model = bigrams.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n_bg"))
      .join(ctx, Seq("lang", "w1"))
      .join(broadcast(vocab), "lang")
      .withColumn("su_micronats",
        round(-log((col("n_bg") + lit(1)).cast("double") /
          (col("n_ctx") + col("v"))) * 1000000.0, 0).cast("long"))
    bigrams.join(model, Seq("lang", "w1", "w2"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("su_micronats")).as("total_su"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        round6(col("total_su").cast("double") / col("n_bigrams") / 1000000.0)
          .as("avg_surprisal"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Zipf exponent of the corpus: OLS slope of ln(count) on ln(rank)
    * over the top-500 tokens — natural language sits near −1; a
    * synthetic/templated corpus (like this fixture) flattens toward 0,
    * so the slope is a one-number "does this read like language"
    * fingerprint next to q_entropy and q_repetition.
    *
    * Determinism: each point's ln(rank)/ln(count) rounds to EXACT
    * micro-nat longs first (q_lm_score's recipe — one IEEE log from an
    * exact integer, then a grid snap), the five OLS moments sum as
    * DECIMAL(38,0) (q_regression's convention), and two rounded
    * divisions end it.
    *
    * Scale: the corpus folds to its Heaps-law vocabulary in one
    * map-combinable agg; the top-500 cut is a two-phase TakeOrdered and
    * everything after runs on ≤ 500 rows.
    */
  /** Token-length histogram in power-of-two buckets: how many docs
    * carry 2^b..2^(b+1)−1 tokens, with token mass per bucket — the
    * length-distribution read behind chunking/packing decisions
    * (q_pack's input profile). The bucket index is length(bin(n))−1:
    * the binary bit length, EXACT integer arithmetic in both engines —
    * no floor(log2(n)) float that could sit on a power-of-two ulp
    * boundary.
    */
  def qLengthBuckets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(size(tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("n_tokens"),
        (length(bin(col("n_tokens"))) - 1).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .select(col("bucket"),
        expr("CAST(shiftleft(1L, CAST(bucket AS INT)) AS BIGINT)")
          .as("bucket_lo"),
        col("n_docs"), col("total_tokens"), col("min_tokens"),
        col("max_tokens"))
      .orderBy(asc_nulls_first("bucket"))

  /** Character-class composition per language: letters / digits /
    * whitespace / other counts and shares — the char-level hygiene
    * profile (mojibake, markup bleed, number dumps) that token-level
    * quality scores can't see. Counts are string-length differences
    * after class-targeted regexp_replace — exact integers, same regex
    * class semantics in Java and RE2.
    */
  def qCharClasses(spark: SparkSession, sfDir: String): DataFrame = {
    def classCount(c: Column, cls: String): Column =
      (length(c) - length(regexp_replace(c, cls, ""))).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("lang"), length(col("text")).cast("long").as("n_chars"),
        classCount(col("text"), "[a-zA-Z]").as("letters"),
        classCount(col("text"), "[0-9]").as("digits"),
        classCount(col("text"), "[ \\t\\n]").as("spaces"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("letters")).as("letters"),
        sum(col("digits")).as("digits"),
        sum(col("spaces")).as("spaces"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("letters"), col("digits"), col("spaces"),
        (col("total_chars") - col("letters") - col("digits") -
          col("spaces")).as("other"),
        (round(col("letters").cast("double") / col("total_chars"), 6)
          + lit(0.0)).as("letter_share"),
        (round(col("spaces").cast("double") / col("total_chars"), 6)
          + lit(0.0)).as("space_share"))
      .orderBy(asc_nulls_first("lang"))
  }

  def qZipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(500)
    val pts = counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("word").asc)))
      .select(
        round(log(col("rank").cast("double")) * 1000000.0, 0)
          .cast("decimal(38,0)").as("x"),
        round(log(col("cnt").cast("double")) * 1000000.0, 0)
          .cast("decimal(38,0)").as("y"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    pts.agg(
      count(lit(1)).cast("decimal(38,0)").as("nd"),
      sum(col("x")).as("sxd"), sum(col("y")).as("syd"),
      sum(col("x") * col("y")).as("sxyd"),
      sum(col("x") * col("x")).as("sxxd"),
      sum(col("y") * col("y")).as("syyd"))
      .select(col("nd").cast("double").as("n"),
        col("sxd").cast("double").as("sx"), col("syd").cast("double").as("sy"),
        col("sxyd").cast("double").as("sxy"),
        col("sxxd").cast("double").as("sxx"),
        col("syyd").cast("double").as("syy"))
      .select(
        col("n").cast("long").as("n_tokens"),
        (round(num / den, 6) + lit(0.0)).as("zipf_slope"),
        (round((col("sy") - num / den * col("sx")) /
          col("n") / 1000000.0, 6) + lit(0.0)).as("ln_c_intercept"),
        (round(num * num /
          (den * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          + lit(0.0)).as("r2"))
  }

  /** Estimator hash count for [[qMinhashCalibration]], shared with the
    * oracle. 16 independent seed-free md5 min-hashes: enough that the
    * agree/16 estimate has visible resolution while the per-doc cost
    * stays one transform per hash.
    */
  val CalibrationHashes = 16

  /** MinHash CALIBRATION report — the measurement a dedup operator
    * owner reads before trusting the sketch: for every pair the 4-band
    * signature grouping (q_dedup_minhash's exact construction) puts in
    * the same bucket, the 16-hash similarity ESTIMATE (agreeing
    * min-hashes / 16) next to the TRUE token-set Jaccard and the
    * absolute error. MinHash theory says E[agree/H] = J; this query
    * makes that testable per pair on the corpus itself (PropertySpec
    * asserts the mean gap), with the exact integers (agree, shared,
    * set sizes) emitted so the floats never carry information.
    *
    * Determinism: estimator seeds c1..c16 are independent of the
    * banding seeds s1..s4; all counts exact (the codegen'd
    * [[graft.functions.SortedOverlapCount]] two-pointer merge computes
    * `shared` on the sorted distinct-token arrays); est/true/err are
    * one rounded double expression each.
    *
    * Scale: pairs are STAR-shaped — every bucket member against the
    * bucket's minimum-id canonical, never the full clique (a hot
    * bucket of g docs yields g−1 calibration rows, not g²/2; at
    * sf0.01 the densest bucket alone would otherwise emit 36k pairs).
    * Output is therefore bounded by corpus size. Signatures are 16
    * md5-min folds per doc computed once (eager checkpoint feeds all
    * three join sides).
    */
  def qMinhashCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val toksD = array_sort(array_distinct(tokens(col("text"))))
    // spread: 20 min-hash folds per doc on a one-split scan otherwise
    // run single-core (guide §2.5)
    val base = Tables.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), toksD.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("sig4", concat_ws("|",
        (1 to 4).map(i => array_min(transform(col("toks"),
          t => md5(concat(lit(s"s$i:"), t))))): _*))
      .withColumn("sig16", array(
        (1 to CalibrationHashes).map(i => array_min(transform(col("toks"),
          t => md5(concat(lit(s"c$i:"), t))))): _*))
      .localCheckpoint(true)
    val minDoc = base.groupBy("sig4").agg(min(col("doc_id")).as("doc_id_1"))
    val b = base.join(minDoc, Seq("sig4"))
      .filter(col("doc_id") > col("doc_id_1"))
      .select(col("doc_id_1"), col("doc_id").as("doc_id_2"),
        col("toks").as("t2"), col("n").as("n2"), col("sig16").as("g2"))
    val a = base.select(col("doc_id").as("doc_id_1"),
      col("toks").as("t1"), col("n").as("n1"), col("sig16").as("g1"))
    b.join(a, Seq("doc_id_1"))
      .withColumn("shared",
        graft.functions.SetFunctions.sortedOverlap(col("t1"), col("t2")))
      .withColumn("agree",
        size(filter(zip_with(col("g1"), col("g2"), (x, y) => x === y),
          p => p)).cast("long"))
      .select(col("doc_id_1"), col("doc_id_2"), col("agree"), col("shared"),
        col("n1"), col("n2"),
        (round(col("agree") / lit(16.0), 6) + lit(0.0)).as("est_sim"),
        (round(col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared")), 6) + lit(0.0))
          .as("true_jaccard"),
        (round(abs(col("agree") / lit(16.0) - col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared"))), 6) + lit(0.0))
          .as("abs_err"))
      .orderBy(asc_nulls_first("doc_id_1"), asc_nulls_first("doc_id_2"))
  }

  /** Per-source SURVIVORSHIP under the keep-best near-dup dedup
    * ([[keepBestFrom]]'s exact clusters and quality ranking): how much
    * of each source survives canonicalization — the governance number
    * behind "is the dedup pass silently erasing one provider?", the
    * per-source refinement of q_cluster_sizes' global histogram and
    * q_dup_by_source's raw exposure counts.
    *
    * Scale: everything heavy is the shared keep-best machinery
    * (bounded shingle join + CC); the survivor set joins back on
    * doc_id and folds to \|sources\| rows.
    */
  def qDedupSurvivorship(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val kept = keepBestFrom(docs)
      .select(col("keep_doc_id").as("doc_id"), lit(1L).as("kept"))
    docs.select(col("doc_id"), col("source"))
      .join(kept, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("kept"), lit(0L))).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        (round(col("n_kept").cast("double") / col("n_docs"), 6) + lit(0.0))
          .as("kept_rate"))
      .orderBy(asc_nulls_first("source"))
  }

  /** Chao1 vocabulary-richness estimate + Good–Turing unseen mass over
    * the whole corpus (Chao 1984; Good 1953 — public literature): from
    * the token frequency-of-frequencies, the bias-corrected
    * Chao1 = D + f1·(f1−1)/(2·(f2+1)) estimates how many types the
    * corpus WOULD show at infinite size, and p₀ = f1/N estimates the
    * probability the next token is a never-seen type. The
    * have-we-sampled-enough gauge a corpus curator reads next to
    * q_vocab_growth's empirical Heaps curve — growth says how fast
    * vocabulary accrues, Chao1 says how far it has to go.
    *
    * Determinism: D, f1, f2, N are exact integer counts; the two
    * estimates are terminal rounded divisions of integer products
    * (f1·(f1−1) stays well under 2^63 for any vocabulary < 3e9 types).
    *
    * Scale: explode folds immediately to the vocabulary (one token
    * exchange, map-side combined), and the frequency-of-frequencies
    * fold is a 1-row aggregate — the corpus itself never reaches a
    * second shuffle. Same scan shape as q_zipf_slope.
    */
  def qChao1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t")
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("vocab_size"), col("f1"), col("f2"),
        (round(col("vocab_size").cast("double") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            ((col("f2") + 1) * 2).cast("double"), 6) + lit(0.0))
          .as("chao1"),
        (round(col("f1").cast("double") / col("n_tokens").cast("double"), 6)
          + lit(0.0)).as("unseen_mass"))

  /** Token-length distribution (whitespace-token chars) with share and
    * longest-first cumulative share — the input a subword-tokenizer
    * design reads before fixing max piece length, next to q_bpe_pairs'
    * merge stats: how much of the corpus is long-tail long tokens?
    *
    * Determinism: all integer counts; shares are terminal rounded
    * divisions; the cumulative window runs over the ≤max-token-length
    * histogram rows.
    *
    * Scale: explode folds straight to the length histogram key (one
    * exchange of (len, count) partials — not even the vocabulary
    * survives); the windows run on the tiny grid.
    */
  def qTokenLenDist(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy(length(col("t")).as("token_len"))
      .agg(count(lit(1)).as("n_tokens"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("token_len").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("cum", sum(col("n_tokens")).over(wCum))
      .select(col("token_len"), col("n_tokens"),
        (round(col("n_tokens").cast("double") / col("total"), 6) + lit(0.0))
          .as("share"),
        (round(col("cum").cast("double") / col("total"), 6) + lit(0.0))
          .as("cum_share_longest"))
      .orderBy(col("token_len").desc)
  }

  /** Per-source character-level entropy (nats and bits per char,
    * spaces included) — the compressibility proxy of a corpus-quality
    * audit: machine-generated or repetitive sources sit well below
    * natural text (~4.1 bits/char for English letters+space), binary
    * junk saturates toward log₂|alphabet|. Complements the TOKEN-level
    * q_entropy (per-doc) with the sub-token view q_char_classes only
    * counts, not weighs.
    *
    * Determinism: character counts are exact; each character VALUE's
    * −c·ln(c/n) term is one IEEE expression integerized to micro-nats
    * before the per-source sum (q_lm_score's recipe); bits divide the
    * same integer sum by the ln 2 constant.
    *
    * Scale: the char explode folds immediately to the (source, char)
    * grid — |sources|×|alphabet| rows at any corpus size — with
    * map-side combine doing the heavy lifting; nothing data-sized
    * crosses the exchange.
    */
  def qCharEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("source", "ch")
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
      .select(col("source"), col("c"), col("n"),
        round(-log(col("c").cast("double") / col("n")) * col("c")
          * 1000000.0 / col("n"), 0).cast("long").as("term_micro"))
      .groupBy("source")
      .agg(max(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("term_micro")).as("su"))
      .select(col("source"), col("n_chars"), col("n_distinct_chars"),
        (round(col("su").cast("double") / 1000000.0, 6) + lit(0.0))
          .as("entropy_nats"),
        (round(col("su").cast("double") / 1000000.0 /
          log(lit(2.0)), 6) + lit(0.0)).as("bits_per_char"))
      .orderBy(asc_nulls_first("source"))

  /** Near-dup threshold sweep: pair counts and flagged-doc counts at
    * Jaccard cutoffs 0.5 / 0.7 / 0.9 off ONE shared shingle-pair pass —
    * the cost/aggressiveness table a dedup owner reads before fixing
    * q_ngram_jaccard's 0.5 (q_decontaminate_ladder's shape, for
    * similarity instead of n-gram length). Flagged docs are the
    * would-drop side (the larger doc_id of each qualifying pair,
    * matching min-canonical keep rules).
    *
    * Determinism: thresholds compare the 6-dp-rounded Jaccard both
    * engines compute identically; counts are exact.
    *
    * Scale: the single sharedShingleCounts pass (df-capped shingle
    * equi-join) feeds one 1-row aggregate with three conditional
    * sums — the sweep costs ONE pair materialization, not three.
    */
  def qDedupSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = sharedShingleCounts(
      Tables.documents(spark, sfDir), ShingleDfCap)
      .withColumn("j",
        round(col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared")), 6) + lit(0.0))
    def nPairs(t: Double) = sum(when(col("j") >= t, 1L).otherwise(0L))
    def nDocs(t: Double) = countDistinct(when(col("j") >= t, col("doc_id_2")))
    pairs.agg(
        nPairs(0.5).as("p50"), nDocs(0.5).as("d50"),
        nPairs(0.7).as("p70"), nDocs(0.7).as("d70"),
        nPairs(0.9).as("p90"), nDocs(0.9).as("d90"))
      .select(expr(
        "stack(3, 0.5D, p50, d50, 0.7D, p70, d70, 0.9D, p90, d90)" +
          " AS (threshold, n_pairs, n_docs_flagged)"))
      .orderBy(col("threshold").asc)
  }

  /** Bigram concentration curve: what share of the corpus bigram
    * stream do the top-10/25/50/100 bigrams cover? High concentration
    * = template/boilerplate-heavy corpus (the n-gram view of
    * q_repetition's within-doc signal); the curve also sizes the
    * phrase-table cut for q_collocations' PMI mining.
    *
    * Determinism: ranking is by exact (count DESC, bigram ASC); the
    * cumulative sums run over the post-limit 100-row frame; shares
    * divide by the exact stream total carried as a declared 1-row
    * broadcast.
    *
    * Scale: bigrams fold to the vocabulary immediately (one lead
    * window on the doc exchange, then a map-combinable count);
    * TakeOrdered(100) is per-partition top-k + driver merge — no
    * global sort, and the window runs post-limit.
    */
  def qBigramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val bg = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("t1", lead(col("t"), 1).over(wDoc))
      .filter(col("t1").isNotNull)
      .select(concat_ws(" ", col("t"), col("t1")).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c"))
    val tot = bg.agg(sum(col("c")).as("total"))
    val top = bg.orderBy(col("c").desc, col("bg").asc).limit(100)
    val wCum = Window.orderBy(col("c").desc, col("bg").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("bg").asc)))
      .withColumn("cum", sum(col("c")).over(wCum))
      .filter(col("rank").isin(10, 25, 50, 100))
      .crossJoin(broadcast(tot))
      .select(col("rank").cast("int").as("rank"),
        col("cum").as("cum_count"), col("total").as("total_bigrams"),
        (round(col("cum").cast("double") / col("total"), 6) + lit(0.0))
          .as("coverage"))
      .orderBy(col("rank").asc)
  }
}
