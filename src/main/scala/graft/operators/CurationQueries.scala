package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond dedup/decontamination: the
  * CCNet-style corpus-common chunk scrub (Wenzek et al., "CCNet:
  * Extracting High Quality Monolingual Datasets from Web Crawl Data",
  * LREC 2020 — public literature — dedups repeated PARAGRAPHS across
  * the corpus, not whole documents), a lexicon blocklist filter, a
  * class-balanced downsampler, and per-class feature standardization.
  * The reference has no curation surface at all (its pipeline is
  * wordcount/index over `/root/reference/main/pg-*.txt`); these are the
  * pre-training data ops the brief names as first-class.
  */
object CurationQueries {

  import TextQueries.tokens

  /** Fixed-width token chunks per doc: (doc_id, i, chunk_text) with
    * 1-based chunk index i, width `w`, last chunk possibly short.
    */
  private def chunked(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 1)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), floor((size(col("ts")) - 1) / w).cast("int")),
          i => struct((i + 1).as("i"),
            concat_ws(" ", slice(col("ts"), i * w + 1, lit(w))).as("chunk"))))
          .as("c"))
      .select(col("doc_id"), col("c.i").as("i"), col("c.chunk").as("chunk"))

  /** Corpus-common chunk scrub: split every document into 4-token
    * chunks, count each chunk text's document frequency across the
    * corpus, DROP chunks seen in >= 2 documents, and reassemble the
    * surviving chunks in order as the cleaned text. This removes
    * repeated boilerplate at sub-document granularity — the piece
    * exact/near dedup can't touch, because the documents differ
    * overall while sharing paragraphs.
    *
    * Output keeps every input doc (even fully-scrubbed ones, with
    * clean_text = '') so the operator composes as a map over the
    * corpus, not a filter.
    *
    * Scale: chunk df is a vocabulary-bounded aggregate over (doc,
    * chunk)-distinct rows (chunks shuffle once for the df count and
    * once for the per-doc regroup — both keyed exchanges, no
    * broadcast of anything corpus-sized, no driver state). Reassembly
    * sorts each doc's own chunk structs inside the row — no window.
    */
  def qScrubCommon(spark: SparkSession, sfDir: String): DataFrame =
    scrubCommonFrom(Tables.documents(spark, sfDir), w = 4, minDf = 2)

  /** DataFrame-core form over any (doc_id, text) frame. */
  def scrubCommonFrom(docs: DataFrame, w: Int, minDf: Int): DataFrame = {
    val ch = chunked(docs, w)
    // df counts documents, not occurrences: a chunk repeated inside
    // ONE doc is that doc's own style, not corpus boilerplate.
    val dfreq = ch.select(col("doc_id"), col("chunk")).distinct()
      .groupBy("chunk").agg(count(lit(1)).as("df"))
    ch.join(dfreq, "chunk")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", expr(
          // keep survivors in chunk order; filter AFTER the sort so
          // the struct sort key is the original index
          s"transform(filter(sort_array(collect_list(struct(i, chunk, df))), " +
            s"p -> p.df < $minDf), p -> p.chunk)"))
          .as("clean_text"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Lexicon blocklist filter: per document, how many tokens hit a
    * (tiny, broadcast-free — it's a literal in the plan) blocklist,
    * how many distinct blocked terms appear, and the keep/drop verdict
    * at a 5% hit-rate threshold. The standard lexicon pre-filter a
    * pretraining pipeline runs before the expensive quality model.
    *
    * Scale: scan-only — the hit test is an array filter against an
    * inline literal set inside whole-stage codegen; no join, no
    * shuffle beyond the final sort. The threshold compare is exact
    * integer cross-multiplication (20*hits > n), never a float ratio.
    */
  def qBlocklistHits(spark: SparkSession, sfDir: String): DataFrame = {
    val terms: Seq[String] = Seq("slow", "big", "legacy", "error")
    val hits = filter(tokens(col("text")),
      t => t.isInCollection(terms))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ts"), hits.as("hs"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(col("hs")).cast("long").as("n_hits"),
        size(array_distinct(col("hs"))).cast("long").as("n_terms"),
        (round(size(col("hs")).cast("double") /
          greatest(size(col("ts")), lit(1)).cast("double"), 6) + lit(0.0))
          .as("hit_frac"),
        when(size(col("hs")) * 20 > size(col("ts")), "drop").otherwise("keep")
          .as("action"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** Class-balanced downsample: keep exactly min-class-size documents
    * PER language, chosen by a deterministic seed-free hash order
    * (md5(doc_id), doc_id) — the downsampling that equalizes class
    * priors before training. Every engine and every retry picks the
    * same rows.
    *
    * Scale: one aggregate for class sizes (5 rows — a 1-row scalar
    * broadcast after the min), one hash-ordered rank per class. The
    * per-class window is class-count-bounded parallelism — acceptable
    * because a CLASS-BALANCED sample is definitionally bounded by the
    * smallest class; for huge classes the ScaleOps salting recipe
    * (rank within salted subgroups, then re-rank the survivors) caps
    * any single partition's sort.
    */
  def qSampleBalanced(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val m = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("m_min"))
    val ranked = docs
      .select(col("doc_id"), col("lang"),
        row_number().over(Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .as("rk"))
    ranked.join(broadcast(m), ranked("rk") <= m("m_min"))
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("rk"))
  }

  /** Per-class z-score standardization of three lineitem measures —
    * the feature-scaling pass an ML pipeline runs before distance-based
    * models. Means/stds come from EXACT integer cent sums (population
    * std), so the statistics are bit-identical across engines and
    * partitionings; each row then gets one rounded double division.
    *
    * Scale: one map-side-combinable aggregate (5 groups), broadcast of
    * the 5-row stats table back onto the scan, zero data-sized
    * shuffles. sum(x^2) of 1e6-cent values wraps long past ~9e6 rows
    * per flag, so the squares are summed as DECIMAL(38,0) — explicit
    * overflow, not silent wrap (q_gini's convention).
    */
  def qFeatureScale(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        cents(col("l_quantity")).as("xq"),
        cents(col("l_extendedprice")).as("xp"),
        cents(col("l_discount")).as("xd"))
    // z = (x - S/n) / (sqrt(n*SS - S^2)/n) = (n*x - S)/sqrt(n*SS - S^2)
    // (population std): numerator exact integer, one sqrt + one
    // division + one round at the very end. The DENOMINATOR is
    // per-group constant, so the decimal(38,0) products and the sqrt
    // fold into the |flags|-row stats aggregate ONCE instead of
    // re-evaluating per row x 3 columns (the decimal multiply was the
    // per-row hot path; the double value is bit-identical because the
    // same sqrt of the same decimal difference is computed, just once).
    def denom(s: Column, ss: Column): Column =
      sqrt((col("n").cast("decimal(38,0)") * ss -
        s.cast("decimal(38,0)") * s).cast("double"))
    val stats = li.groupBy(col("l_returnflag").as("s_flag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xq")).as("sq"), sum(col("xq").cast("decimal(38,0)") * col("xq")).as("sqq"),
        sum(col("xp")).as("sp"), sum(col("xp").cast("decimal(38,0)") * col("xp")).as("spp"),
        sum(col("xd")).as("sd"), sum(col("xd").cast("decimal(38,0)") * col("xd")).as("sdd"))
      .select(col("s_flag"), col("n"), col("sq"), col("sp"), col("sd"),
        denom(col("sq"), col("sqq")).as("dq"),
        denom(col("sp"), col("spp")).as("dp"),
        denom(col("sd"), col("sdd")).as("dd"))
    def z(x: Column, s: Column, d: Column): Column =
      round((col("n") * x - s).cast("double") / d, 6) + lit(0.0)
    li.join(broadcast(stats), col("l_returnflag") === col("s_flag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        z(col("xq"), col("sq"), col("dq")).as("z_qty"),
        z(col("xp"), col("sp"), col("dp")).as("z_price"),
        z(col("xd"), col("sd"), col("dd")).as("z_disc"))
      .orderBy(asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"))
  }

  /** Jensen–Shannon divergence between every pair of sources' unigram
    * distributions — the corpus-mix distance a pre-training pipeline
    * uses to decide whether two crawls/dumps are near-duplicates at
    * the DISTRIBUTION level (q_source_overlap answers the same
    * question at the shingle-SET level). JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M),
    * M = (P+Q)/2; symmetric, bounded by ln 2.
    *
    * Determinism: with p = c₁/T₁ and q = c₂/T₂, each KL term is
    * (c₁/T₁)·ln(2·c₁·T₂ / (c₁·T₂ + c₂·T₁)) — the log's argument is a
    * ratio of EXACT integer products (counts × totals, < 2^53 until
    * ~1e8-token sources meet 1e8-token vocabularies), so both engines
    * divide and log the same bits; the per-pair sum over vocab terms
    * is order-sensitive only at the ulp level, absorbed by the 6-dp
    * round (q_entropy's proven argument). Zero-count terms contribute
    * exactly 0 to their side's KL and are skipped by construction.
    *
    * Scale: one token explode + one (source, token) count — the same
    * vocabulary-bounded fold as q_tfidf — then each source's vocab
    * grid-joins the |sources| list (broadcast) and equi-joins the
    * counts once. Everything after the first agg is vocab-sized, not
    * corpus-sized; the final fold is |sources|² rows.
    */
  def qJsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t")
      .agg(count(lit(1)).as("c"))
      // pinned: three consumers (the totals fold, both KL join sides)
      .localCheckpoint()
    val totals = counts.groupBy("source")
      .agg(sum(col("c")).as("tot"))
    val sources = totals.select(col("source").as("s2"),
      col("tot").as("tot2"))
    // every (token of s1) × (other source s2), with s2's count for the
    // same token (0 when absent) — KL(P1 ‖ M) summed per ordered pair
    val kl = counts
      .join(broadcast(totals), Seq("source"))
      .join(broadcast(sources), col("source") =!= col("s2"))
      .join(counts.select(col("source").as("s2"), col("t"),
        col("c").as("c2")), Seq("s2", "t"), "left")
      .select(col("source"), col("s2"),
        ((col("c").cast("double") / col("tot").cast("double")) *
          log(lit(2.0) * col("c").cast("double") * col("tot2").cast("double") /
            (col("c").cast("double") * col("tot2").cast("double") +
              coalesce(col("c2"), lit(0L)).cast("double") *
                col("tot").cast("double")))).as("term"))
      .groupBy("source", "s2")
      .agg(sum(col("term")).as("kl"))
    kl.as("f")
      .join(kl.as("r"),
        col("f.source") === col("r.s2") && col("f.s2") === col("r.source") &&
          col("f.source") < col("f.s2"))
      .select(col("f.source").as("source_1"), col("f.s2").as("source_2"),
        (round((col("f.kl") + col("r.kl")) / 2.0, 6) + lit(0.0))
          .as("js_div"))
      .orderBy(asc_nulls_first("source_1"), asc_nulls_first("source_2"))
  }

  /** Per-stratum systematic sample: every 10th document per lang in
    * seed-free md5 order — the equal-SPACING 1/k design that completes
    * the sampling family (q_sample_hash is Bernoulli 1/k with binomial
    * stratum variance; systematic pins each stratum's kept count to
    * ⌈n/k⌉ exactly). Deterministic, retry/partition-stable.
    *
    * Scale: same per-stratum rank window as q_sample_balanced (window
    * parallelism is stratum-bounded; the md5 order key pushes no data
    * movement beyond the per-lang exchange the rank needs anyway).
    */
  def qSampleSystematic(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        row_number().over(Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .as("rk"))
      .filter((col("rk") % 10) === 1)
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("rk"))

  /** Lexical-richness profile per source — the vocabulary-health
    * metrics a corpus audit reads next to q_text_quality's per-doc
    * scores: token count, type (distinct-token) count, hapax-legomena
    * count (types seen exactly once — Heaps-law tail mass), type-token
    * ratio, and hapax share of the vocabulary.
    *
    * Determinism: all five inputs are exact integers; TTR and hapax
    * share are terminal rounded divisions.
    *
    * Scale: one vocabulary-bounded (source, token) fold (the q_tfidf
    * shape), then a |sources|-row aggregate — the corpus never reaches
    * the second shuffle.
    */
  def qLexicalRichness(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (round(col("n_types").cast("double") / col("n_tokens").cast("double"),
          6) + lit(0.0)).as("ttr"),
        (round(col("n_hapax").cast("double") / col("n_types").cast("double"),
          6) + lit(0.0)).as("hapax_share"))
      .orderBy(asc_nulls_first("source"))

  /** Top-10 keywords per source by Dunning's log-likelihood keyness
    * (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    * and Coincidence" — public literature): G² = 2·(a·ln(a/Eₐ) +
    * b·ln(b/E_b)) comparing each token's in-source count a against its
    * rest-of-corpus count b, with expectations from the marginals —
    * the standard what-makes-this-source-different extraction.
    *
    * Determinism: candidate SELECTION never touches a float — rows
    * rank by the integer over-representation excess a·N − rowT·col
    * (> 0 ⟺ a/rowT > col/N), tie-broken by token; G² is reporting
    * only. Its log arguments a·N/(rowT·col) and b·N/((N−rowT)·col)
    * are exact-integer ratios (products < 2^53 until ~1e8-token
    * sources meet 1e8-token corpora), so both engines log identical
    * bits; one 6-dp round ends it.
    *
    * Scale: the same vocabulary-bounded (source, token) fold as
    * q_js_divergence, corpus totals re-entering as two broadcast
    * scalars, and a per-source rank window over the vocab-sized frame.
    */
  def qKeyness(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy("source", "t")
      .agg(count(lit(1)).as("a"))
    val rowTot = counts.groupBy("source").agg(sum(col("a")).as("row_t"))
    val colTot = counts.groupBy("t").agg(sum(col("a")).as("col_t"))
    val nTot = counts.agg(sum(col("a")).as("n_tot"))
    val scored = counts
      .join(broadcast(rowTot), Seq("source"))
      .join(colTot, Seq("t"))
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("t"), col("a"), col("row_t"),
        col("col_t"), col("n_tot"),
        (col("a") * col("n_tot") - col("row_t") * col("col_t"))
          .as("excess"))
      .filter(col("excess") > 0)
    val w = Window.partitionBy("source")
      .orderBy(desc("excess"), asc("t"))
    val aD = col("a").cast("double")
    val bD = (col("col_t") - col("a")).cast("double")
    val g2 = lit(2.0) * (
      aD * log(col("a").cast("double") * col("n_tot").cast("double") /
        (col("row_t").cast("double") * col("col_t").cast("double"))) +
        when(col("col_t") === col("a"), lit(0.0)).otherwise(
          bD * log(bD * col("n_tot").cast("double") /
            ((col("n_tot") - col("row_t")).cast("double") *
              col("col_t").cast("double")))))
    scored
      .select(col("source"), col("t").as("token"), col("a").as("n_source"),
        col("col_t").as("n_corpus"),
        (round(g2, 6) + lit(0.0)).as("g2"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 10)
      .orderBy(asc_nulls_first("source"), asc_nulls_first("rank"))
  }

  /** Per-source sqrt cap — the soft per-domain quota of web-corpus
    * curation (hard caps starve small sources; no cap lets one crawl
    * dominate): source s with n docs keeps ceil(√n) of them, chosen
    * by seed-free md5 rank. Output is the kept set with its rank and
    * the source size, so downstream mix queries can weight by both.
    *
    * Determinism: the keep rule is the INTEGER comparison
    * (rk−1)² < n  ⟺  rk ≤ ceil(√n) — no float sqrt anywhere; ranks
    * come from the md5(doc_id) order with doc_id tie-break
    * (retry/partition-stable, q_sample_hash's convention).
    *
    * Scale: one per-source count (map-side combinable) broadcast back
    * onto the scan, one per-source rank window — the window's
    * partitions are per-source and the kept set is Σ√n_s ≪ corpus.
    */
  def qSourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
    val ranked = docs
      .select(col("doc_id"), col("source"),
        row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .as("rk"))
    ranked.join(broadcast(sizes), Seq("source"))
      .filter((col("rk") - 1) * (col("rk") - 1) < col("n_source"))
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"),
        col("n_source"))
      .orderBy(asc_nulls_first("source"), asc_nulls_first("rk"))
  }

  /** Document-length profile per language: doc count, exact mean and
    * nearest-rank median/p90 token counts — the per-language sizing
    * table a context-window budget or per-language pack budget reads
    * (q_length_buckets gives the global histogram; this is the
    * language cut with exact order statistics).
    *
    * Determinism: per-doc token counts are exact integers; percentile
    * rows are row_number selections under a (len, doc_id) total
    * order; the mean is one terminal division.
    *
    * Scale: one narrow size() projection (no explode — token counts
    * come from size(split(...)) per row), one per-lang rank window
    * (GK at 100 TB per q_anomaly_mad's note), |langs| output rows.
    */
  def qLenByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("len"))
    val wRank = Window.partitionBy("lang")
      .orderBy(col("len").asc, col("doc_id").asc)
    val wAll = Window.partitionBy("lang")
    d.withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("len")).over(wAll))
      .filter(col("rn") === expr("(n + 1) DIV 2") ||
        col("rn") === expr("(9 * n + 9) DIV 10"))
      .groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        (round(max(col("s")).cast("double") / max(col("n")), 6) + lit(0.0))
          .as("mean_tokens"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("len")))
          .as("median_tokens"),
        max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("len")))
          .as("p90_tokens"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Unique-content share per source: documents carrying at least one
    * hapax token (corpus df = 1) — the doc-level complement of
    * q_lexical_richness's type-level hapax count: a source whose docs
    * rarely contain ANY unique token is template/recombination
    * content, prime dedup/scrub territory even when byte-exact dedup
    * finds nothing.
    *
    * Determinism: df and flags are exact integers off the (token)
    * fold; the share is terminal.
    *
    * Scale: one (doc, token) dedup + one token-keyed df window (the
    * q_tfidf exchange), then doc and source folds — the corpus
    * shuffles twice as (id, token) pairs, never as text.
    */
  def qHapaxDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("source"), col("t")).agg(lit(1))
      .select("doc_id", "source", "t")
    val withDf = dt.withColumn("df",
      count(lit(1)).over(Window.partitionBy("t")))
    withDf
      .groupBy("doc_id", "source")
      .agg(max(when(col("df") === 1, 1L).otherwise(0L)).as("has_hapax"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_hapax")).as("n_hapax_docs"))
      .select(col("source"), col("n_docs"), col("n_hapax_docs"),
        (round(col("n_hapax_docs").cast("double") / col("n_docs"), 6)
          + lit(0.0)).as("hapax_doc_share"))
      .orderBy(asc_nulls_first("source"))
  }

  /** Temperature-scaled source sampling plan (the α-sampling of
    * multilingual LLM corpora — Xue et al., mT5, 2021, public
    * literature; τ = 0.7): per source, the raw document share, the
    * tempered share p_s ∝ n_s^0.7, and the effective up/down-sampling
    * factor — flattening that lifts small sources without letting the
    * biggest one dominate. The plan a weighted sampler (q_mix_budget,
    * q_weighted_sample) consumes as its target mix.
    *
    * Determinism: n^0.7 is computed as exp(0.7·ln n) — one IEEE
    * ln/mul/exp chain from an exact integer — and integerized to
    * micro-units BEFORE the cross-source normalizer sum
    * (q_drift_psi's recipe); shares and factors are terminal rounded
    * divisions.
    *
    * Scale: one map-combinable fold to |sources| rows; the
    * normalizer rides a tiny-grid window.
    */
  def qSampleTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        round(exp(log(col("n_docs").cast("double")) * 0.7) * 1000000.0, 0)
          .cast("long"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("n_total", sum(col("n_docs")).over(wAll))
      .withColumn("w_total", sum(col("w_micro")).over(wAll))
      .select(col("source"), col("n_docs"),
        (round(col("n_docs").cast("double") / col("n_total"), 6) + lit(0.0))
          .as("raw_share"),
        (round(col("w_micro").cast("double") / col("w_total"), 6)
          + lit(0.0)).as("temp_share"),
        (round((col("w_micro").cast("double") / col("w_total")) /
          (col("n_docs").cast("double") / col("n_total")), 6) + lit(0.0))
          .as("upsample_factor"))
      .orderBy(asc_nulls_first("source"))
  }
}
